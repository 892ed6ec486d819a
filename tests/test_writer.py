import os

from nba_data_pipeline_spark.sinks.writer import (
    read_table,
    upsert_table,
    write_table,
)


def test_partitioned_write_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [("a-1", "2024-25", "Regular Season", 1.0), ("b-1", "2023-24", "Playoffs", 2.0)],
        "id string, SEASON string, SEASON_TYPE string, v double",
    )
    path = str(tmp_path / "t")
    write_table(df, path, partition_by=["SEASON", "SEASON_TYPE"])
    assert os.path.isdir(os.path.join(path, "SEASON=2024-25"))
    back = read_table(spark, path)
    assert back.count() == 2
    # partition filter prunes to one directory's worth of rows
    assert back.filter("SEASON = '2024-25'").count() == 1


def test_upsert_create_update_idempotent(spark, tmp_path):
    path = str(tmp_path / "u")
    v1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "id string, v double")
    upsert_table(spark, v1, path, "id")  # create-on-first-write
    v2 = spark.createDataFrame([("b", 20.0), ("c", 3.0)], "id string, v double")
    upsert_table(spark, v2, path, "id")
    got = {r.id: r.v for r in read_table(spark, path).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 3.0}
    upsert_table(spark, v2, path, "id")  # idempotent re-run
    got = {r.id: r.v for r in read_table(spark, path).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 3.0}


def test_insert_ignore_table(spark, tmp_path):
    """ON CONFLICT DO NOTHING through the store: existing keys keep
    their values, new keys land."""
    from nba_data_pipeline_spark.sinks.store import insert_ignore_store, read_store

    path = str(tmp_path / "i")
    insert_ignore_store(spark, spark.createDataFrame([("a", 1.0)], "id string, v double"), path, "id")
    insert_ignore_store(
        spark, spark.createDataFrame([("a", 99.0), ("b", 2.0)], "id string, v double"), path, "id"
    )
    got = {r.id: r.v for r in read_store(spark, path).collect()}
    assert got == {"a": 1.0, "b": 2.0}


def test_partition_scoped_upsert_touches_only_affected_dirs(spark, tmp_path):
    """Partitioned upsert must rewrite ONLY partitions receiving source
    rows (the dynamic-partition-overwrite shape the module docstring
    promises) and be idempotent under re-runs."""
    path = str(tmp_path / "ps")
    base = spark.createDataFrame(
        [("a-1", "2024-25", "Regular Season", 1.0),
         ("a-2", "2024-25", "Regular Season", 2.0),
         ("b-1", "2023-24", "Playoffs", 3.0)],
        "id string, SEASON string, SEASON_TYPE string, v double",
    )
    upsert_table(spark, base, path, "id", partition_by=["SEASON", "SEASON_TYPE"])
    untouched_dir = os.path.join(path, "SEASON=2023-24", "SEASON_TYPE=Playoffs")
    before_files = sorted(os.listdir(untouched_dir))
    before_mtimes = {f: os.path.getmtime(os.path.join(untouched_dir, f)) for f in before_files}

    src = spark.createDataFrame(
        [("a-2", "2024-25", "Regular Season", 20.0),   # update in-place
         ("c-1", "2025-26", "Regular Season", 9.0)],   # brand-new partition
        "id string, SEASON string, SEASON_TYPE string, v double",
    )
    upsert_table(spark, src, path, "id", partition_by=["SEASON", "SEASON_TYPE"])

    back = read_table(spark, path)
    got = {r.id: r.v for r in back.collect()}
    assert got == {"a-1": 1.0, "a-2": 20.0, "b-1": 3.0, "c-1": 9.0}
    # the 2023-24 partition's files are bit-untouched (same names, mtimes)
    after_files = sorted(os.listdir(untouched_dir))
    assert after_files == before_files
    assert all(
        os.path.getmtime(os.path.join(untouched_dir, f)) == before_mtimes[f]
        for f in after_files
    )

    # idempotency: re-running the same merge changes nothing
    upsert_table(spark, src, path, "id", partition_by=["SEASON", "SEASON_TYPE"])
    again = {r.id: r.v for r in read_table(spark, path).collect()}
    assert again == got


def test_partition_scoped_insert_ignore(spark, tmp_path):
    """Insert-ignore into a key-sorted snapshot table rewrites only the
    file whose key range the batch touches; the other season's file is
    carried by reference."""
    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.sinks.store import insert_ignore_store, read_store

    path = str(tmp_path / "pi")
    base = spark.createDataFrame(
        [("a-1", "2024-25", "Regular Season", 1.0),
         ("b-1", "2023-24", "Regular Season", 5.0)],
        "id string, SEASON string, SEASON_TYPE string, v double",
    )
    S.write_snapshot(spark, base, path, key="id", target_files=2)
    v1 = {f["path"] for f in S._load_manifest(path, 1)["files"]}
    src = spark.createDataFrame(
        [("a-1", "2024-25", "Regular Season", 99.0),  # conflict -> ignored
         ("a-3", "2024-25", "Regular Season", 3.0)],  # new row
        "id string, SEASON string, SEASON_TYPE string, v double",
    )
    insert_ignore_store(spark, src, path, "id")
    got = {r.id: r.v for r in read_store(spark, path).collect()}
    assert got == {"a-1": 1.0, "a-3": 3.0, "b-1": 5.0}
    v2 = {f["path"] for f in S._load_manifest(path, S.current_version(path))["files"]}
    assert len(v1) == 2 and len(v1 & v2) == 1


def test_compact_table_unpartitioned(spark, tmp_path):
    """Small-file compaction (OPTIMIZE) of a fragmented snapshot table
    to ceil(rows / target) files, rows unchanged."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S

    path = str(tmp_path / "flat")
    S.write_snapshot(spark, spark.range(300).withColumnRenamed("id", "k"), path,
                     key="k", target_files=30)
    assert len(S._load_manifest(path, 1)["files"]) == 30
    S.compact_snapshot(spark, path, target_rows_per_file=150)
    after = S._load_manifest(path, S.current_version(path))
    assert after["op"] == "compact" and len(after["files"]) == 2
    assert S.read_snapshot(spark, path).agg(F.sum("k")).collect()[0][0] == sum(range(300))


def test_upsert_schema_evolution(spark, tmp_path):
    """New source column -> ADD COLUMN with NULL backfill; dropped
    source column -> NULL on new rows; type conflict -> loud error."""
    import pytest
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks.writer import upsert_table

    path = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    upsert_table(spark, v1, path, key="id")
    # source gains a column
    v2 = spark.createDataFrame([(2, "B", 9.5), (3, "c", 7.0)],
                               "id long, name string, score double")
    upsert_table(spark, v2, path, key="id")
    back = {r.id: (r.name, r.score) for r in spark.read.parquet(path).collect()}
    assert back == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 7.0)}
    # source drops a column: existing values survive, new rows get NULL
    v3 = spark.createDataFrame([(4, "d")], "id long, name string")
    upsert_table(spark, v3, path, key="id")
    back = {r.id: (r.name, r.score) for r in spark.read.parquet(path).collect()}
    assert back[4] == ("d", None) and back[2] == ("B", 9.5)
    # type conflict is refused, not silently cast
    bad = spark.createDataFrame([(5, "e", "high")],
                                "id long, name string, score string")
    with pytest.raises(ValueError, match="schema conflict"):
        upsert_table(spark, bad, path, key="id")


def test_upsert_schema_evolution_partitioned(spark, tmp_path):
    from nba_data_pipeline_spark.sinks.writer import upsert_table

    path = str(tmp_path / "evolvep")
    v1 = spark.createDataFrame(
        [(1, "x", "2024"), (2, "y", "2024"), (3, "z", "2025")],
        "id long, v string, season string",
    )
    upsert_table(spark, v1, path, key="id", partition_by=("season",))
    v2 = spark.createDataFrame(
        [(2, "Y", "2024", 42)], "id long, v string, season string, extra int"
    )
    upsert_table(spark, v2, path, key="id", partition_by=("season",))
    # heterogeneous table: 2025 partition still has the old file
    # schema, so the read-back NEEDS mergeSchema (a plain read infers
    # from one arbitrary footer and may not see 'extra' at all)
    back = {
        r.id: (r.v, r.extra)
        for r in spark.read.option("mergeSchema", True).parquet(path).collect()
    }
    assert back[2] == ("Y", 42) and back[1] == ("x", None)
    assert back[3] == ("z", None)


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """Compacting a schema-evolved snapshot table must not drop the
    evolved column from rewritten files (the manifest schema, not one
    file's footer, drives the rewrite)."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S

    root = str(tmp_path / "evc")
    v1 = spark.createDataFrame(
        [(i, "x", "a") for i in range(100)] + [(i, "y", "b") for i in range(100, 200)],
        "id long, v string, part string",
    )
    S.write_snapshot(spark, v1, root, key="id", target_files=4)
    # evolve half of part a with an extra column, fragmenting the table
    for lo in (0, 25):
        v2 = spark.createDataFrame(
            [(i, "x2", "a", i * 1.0) for i in range(lo, lo + 25)],
            "id long, v string, part string, score double",
        )
        S.upsert_snapshot(spark, v2, root, "id")
    assert S.read_snapshot(spark, root).filter("score is not null").count() == 50
    S.compact_snapshot(spark, root, target_rows_per_file=1000)
    assert S._load_manifest(root, S.current_version(root))["op"] == "compact"
    back = S.read_snapshot(spark, root)
    assert back.count() == 200
    assert back.filter("score is not null").count() == 50
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(200))


def test_write_training_shards_deterministic_and_balanced(spark, tmp_path):
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks.writer import write_training_shards

    df = spark.range(0, 2000).withColumn("payload", F.col("id") * 3)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    stats = write_training_shards(df, p1, 8, ["id"], seed=42)
    assert stats == {"rows": 2000, "shards": 8}
    # re-run (different path, even different input partitioning) -> identical shards
    write_training_shards(df.repartition(3), p2, 8, ["id"], seed=42)
    a = spark.read.parquet(p1).select("shard", "id", "_shuffle_key").collect()
    b = spark.read.parquet(p2).select("shard", "id", "_shuffle_key").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every shard dir exists; sizes balanced (hash split over 2000 rows)
    sizes = {r.shard: r.n for r in spark.read.parquet(p1).groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) < 2 * min(sizes.values())
    # a different seed produces a different placement
    p3 = str(tmp_path / "s3")
    write_training_shards(df, p3, 8, ["id"], seed=7)
    c = {(r.id): r.shard for r in spark.read.parquet(p3).select("id", "shard").collect()}
    amap = {(r.id): r.shard for r in a}
    assert any(amap[k] != c[k] for k in amap)
    # no rows lost, keys unique per row id
    assert len({r.id for r in a}) == 2000


def test_write_training_shards_validates_args(spark, tmp_path):
    import pytest

    from nba_data_pipeline_spark.sinks.writer import write_training_shards

    df = spark.range(5)
    with pytest.raises(ValueError, match="n_shards"):
        write_training_shards(df, str(tmp_path / "x"), 0, ["id"])
    with pytest.raises(ValueError, match="key_cols"):
        write_training_shards(df, str(tmp_path / "x"), 2, [])


def test_hive_partition_cols_skips_staging_dirs(spark, tmp_path):
    """ADVICE r12 #2: an orphaned ``.swap-old-bucket=N`` staging dir
    contains '=' and sorts before 'bucket=...' — layout inference must
    skip dot/underscore-prefixed names or every subsequent merge raises
    a layout mismatch (table bricked until manual cleanup)."""
    import shutil

    from nba_data_pipeline_spark.sinks.writer import (
        check_partition_layout,
        hive_partition_cols,
        upsert_table,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(4)).alias("bucket"),
    )
    upsert_table(spark, df, path, "k", partition_by=["bucket"], buckets=4)
    # orphan stages from a crash-after-commit window
    shutil.copytree(
        os.path.join(path, "bucket=0"), os.path.join(path, ".swap-old-bucket=0")
    )
    os.makedirs(os.path.join(path, "_staging=x"))
    assert hive_partition_cols(path) == ["bucket"]
    # check heals (removes the orphan) and passes
    check_partition_layout(path, ["bucket"], 4)
    assert not os.path.exists(os.path.join(path, ".swap-old-bucket=0"))
    # the table still merges normally afterwards
    upsert_table(
        spark,
        df.withColumn("k", F.col("k") + 100),
        path,
        "k",
        partition_by=["bucket"],
        buckets=4,
    )
    assert spark.read.parquet(path).count() == 80


def test_heal_rolls_interrupted_leaf_swap_forward(spark, tmp_path):
    """ADVICE r12 #1 unit: a leaf caught between the two renames (live
    dir moved aside, replacement staged) is rolled FORWARD by the heal
    — .swap-new holds the complete merge output — and the pre-merge
    copy in .swap-old is discarded only after the leaf is live again."""
    import shutil

    from nba_data_pipeline_spark.sinks.writer import (
        heal_partition_swaps,
        write_table,
    )
    from pyspark.sql import functions as F

    path, v2 = str(tmp_path / "t"), str(tmp_path / "v2")
    old = spark.createDataFrame([(1, "old", 0), (2, "old", 1)], "k long, v string, bucket int")
    new = spark.createDataFrame([(1, "new", 0), (9, "new", 0)], "k long, v string, bucket int")
    write_table(old, path, partition_by=["bucket"])
    write_table(new, v2, partition_by=["bucket"])
    # simulate the crash window: bucket=0 mid-swap, bucket=1 untouched
    os.rename(os.path.join(path, "bucket=0"), os.path.join(path, ".swap-old-bucket=0"))
    shutil.copytree(os.path.join(v2, "bucket=0"), os.path.join(path, ".swap-new-bucket=0"))
    heal_partition_swaps(path)
    got = {(r.k, r.v, r.bucket) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "new", 0), (9, "new", 0), (2, "old", 1)}
    assert not any(n.startswith(".swap") for n in os.listdir(path))


def test_heal_rolls_back_when_only_old_stage_remains(spark, tmp_path):
    from nba_data_pipeline_spark.sinks.writer import (
        heal_partition_swaps,
        write_table,
    )

    path = str(tmp_path / "t")
    old = spark.createDataFrame([(1, 0), (2, 1)], "k long, bucket int")
    write_table(old, path, partition_by=["bucket"])
    os.rename(os.path.join(path, "bucket=1"), os.path.join(path, ".swap-old-bucket=1"))
    heal_partition_swaps(path)
    assert {r.k for r in spark.read.parquet(path).collect()} == {1, 2}


def test_heal_whole_table_stages(spark, tmp_path):
    """The unpartitioned ``_rewrite`` stages the whole table beside its
    path; heal rolls forward (.swap-new = complete merge output) or
    back (.swap-old only), and a stage beside an intact live table is
    an orphan."""
    from nba_data_pipeline_spark.sinks.writer import (
        heal_partition_swaps,
        write_table,
    )

    # roll forward
    path = str(tmp_path / "a")
    write_table(spark.createDataFrame([(1,)], "k long"), path + ".swap-new")
    write_table(spark.createDataFrame([(0,)], "k long"), path + ".swap-old")
    heal_partition_swaps(path)
    assert {r.k for r in spark.read.parquet(path).collect()} == {1}
    assert not os.path.exists(path + ".swap-new") and not os.path.exists(path + ".swap-old")
    # roll back
    path2 = str(tmp_path / "b")
    write_table(spark.createDataFrame([(7,)], "k long"), path2 + ".swap-old")
    heal_partition_swaps(path2)
    assert {r.k for r in spark.read.parquet(path2).collect()} == {7}
    # orphan beside intact live table is removed, live untouched
    path3 = str(tmp_path / "c")
    write_table(spark.createDataFrame([(3,)], "k long"), path3)
    write_table(spark.createDataFrame([(4,)], "k long"), path3 + ".swap-new")
    heal_partition_swaps(path3)
    assert {r.k for r in spark.read.parquet(path3).collect()} == {3}
    assert not os.path.exists(path3 + ".swap-new")


def test_unpartitioned_rewrite_crash_between_renames_recovers(spark, tmp_path):
    """Crash probe for the staged whole-table swap: kill os.rename at
    each window of an unpartitioned upsert; the table must remain
    recoverable (old or fully-merged state after heal — never absent,
    never partial) and a replayed merge must converge."""
    import pytest

    from nba_data_pipeline_spark.sinks import writer as writer_mod
    from nba_data_pipeline_spark.sinks.writer import upsert_table

    class Boom(RuntimeError):
        pass

    orig_rename = os.rename
    v1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "id string, v double")
    v2 = spark.createDataFrame([("b", 20.0), ("c", 3.0)], "id string, v double")
    want = {("a", 1.0), ("b", 20.0), ("c", 3.0)}
    for crash_at in (1, 2, 3):
        path = str(tmp_path / f"u{crash_at}")
        upsert_table(spark, v1, path, "id")
        calls = {"n": 0}

        def crashing_rename(src, dst, *a, _c=crash_at, _calls=calls, **kw):
            _calls["n"] += 1
            if _calls["n"] >= _c:
                raise Boom(f"injected crash at rename #{_calls['n']}")
            return orig_rename(src, dst, *a, **kw)

        writer_mod.os.rename = crashing_rename
        try:
            with pytest.raises(Boom):
                upsert_table(spark, v2, path, "id")
        finally:
            writer_mod.os.rename = orig_rename
        # replay (heals first, then merges) converges to the full merge
        upsert_table(spark, v2, path, "id")
        got = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
        assert got == want, (crash_at, got)
