import pytest

from nba_data_pipeline_spark.operators.incremental import (
    assert_unique_key,
    delta_filter,
    insert_ignore,
    merge_upsert,
)


def test_delta_filter_single_and_composite_keys(spark):
    work = spark.createDataFrame(
        [("g1", 1, "a"), ("g2", 1, "b"), ("g2", 2, "c")], "g string, p long, v string"
    )
    existing = spark.createDataFrame([("g1", 1), ("g9", 9)], "g string, p long")
    assert delta_filter(work, existing, ["g"]).count() == 2  # g2 rows survive
    out = delta_filter(work, existing, ["g", "p"])
    assert sorted(r.v for r in out.collect()) == ["b", "c"]


def test_merge_upsert_source_wins_and_idempotent(spark):
    target = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "id string, v double")
    source = spark.createDataFrame([("b", 20.0), ("c", 3.0)], "id string, v double")
    merged = merge_upsert(target, source, "id")
    assert {r.id: r.v for r in merged.collect()} == {"a": 1.0, "b": 20.0, "c": 3.0}
    again = merge_upsert(merged, source, "id")
    assert {r.id: r.v for r in again.collect()} == {"a": 1.0, "b": 20.0, "c": 3.0}


def test_insert_ignore_keeps_target(spark):
    target = spark.createDataFrame([("a", 1.0)], "id string, v double")
    source = spark.createDataFrame([("a", 99.0), ("b", 2.0)], "id string, v double")
    out = insert_ignore(target, source, "id")
    assert {r.id: r.v for r in out.collect()} == {"a": 1.0, "b": 2.0}


def test_assert_unique_key(spark):
    ok = spark.createDataFrame([("a",), ("b",)], "id string")
    assert_unique_key(ok, "id")
    bad = spark.createDataFrame([("a",), ("a",)], "id string")
    with pytest.raises(ValueError, match="duplicate key"):
        assert_unique_key(bad, "id")


def test_table_diff_classifies_all_four_states(spark):
    from nba_data_pipeline_spark.operators.incremental import table_diff, table_diff_summary

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),        # unchanged
         (2, "B", 2.0),        # changed
         (3, "c", None),       # unchanged, incl. NULL-safe compare
         (5, "e", 5.0)],       # added; 4 removed
        "k long, s string, v double",
    )
    out = {r.k: r.diff_status for r in table_diff(old, new, ["k"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "removed", 5: "added"}
    summary = {r.diff_status: r.n for r in table_diff_summary(old, new, ["k"]).collect()}
    assert summary == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}
    # compare_cols restriction: v-only diff sees key 2 as unchanged
    out2 = {r.k: r.diff_status for r in table_diff(old, new, ["k"], ["v"]).collect()}
    assert out2[2] == "unchanged"
    # NULL vs value flips to changed (NULL marker is not a real value)
    new2 = spark.createDataFrame([(3, "c", 9.0)], "k long, s string, v double")
    assert {r.k: r.diff_status for r in table_diff(old.filter("k=3"), new2, ["k"]).collect()} == {3: "changed"}


def test_fold_aggregate_state_matches_full_recompute(spark):
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.incremental import fold_aggregate_state

    rows = [(i % 7, float(i * 3 % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, v double")
    specs = {
        "n": ("count", "*"),
        "s": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }
    # fold in three uneven batches (including one with brand-new keys)
    b1 = df.filter(F.col("v") < 30)
    b2 = df.filter((F.col("v") >= 30) & (F.col("v") < 31))  # near-empty batch
    b3 = df.filter(F.col("v") >= 31)
    state = fold_aggregate_state(None, b1, ["k"], specs)
    state = fold_aggregate_state(state, b2, ["k"], specs)
    state = fold_aggregate_state(state, b3, ["k"], specs)
    full = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
    )
    got = {r.k: (r.n, round(r.s, 6), r.lo, r.hi) for r in state.collect()}
    want = {r.k: (r.n, round(r.s, 6), r.lo, r.hi) for r in full.collect()}
    assert got == want


def test_fold_aggregate_state_rejects_non_decomposable(spark):
    from nba_data_pipeline_spark.operators.incremental import fold_aggregate_state

    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="unsupported incremental aggregate"):
        fold_aggregate_state(None, df, ["k"], {"a": ("avg", "v")})


def test_cdc_apply_latest_wins_delete_insert(spark):
    from nba_data_pipeline_spark.operators.incremental import cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            (1, "U", 1, "a", 11.0),
            (1, "U", 2, "a", 12.0),   # later seq wins
            (2, "D", 1, "b", 0.0),    # delete
            (4, "I", 1, "d", 40.0),   # brand-new key
        ],
        "id long, op string, seq int, name string, bal double",
    )
    out = cdc_apply(snap, changes, ["id"], "seq")
    got = {r.id: (r.name, r.bal) for r in out.collect()}
    assert got == {1: ("a", 12.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # delete-then-reinsert at a later seq resurrects the key
    changes2 = spark.createDataFrame(
        [(3, "D", 1, "c", 0.0), (3, "I", 2, "c2", 33.0)],
        "id long, op string, seq int, name string, bal double",
    )
    out2 = cdc_apply(out, changes2, ["id"], "seq")
    got2 = {r.id: (r.name, r.bal) for r in out2.collect()}
    assert got2[3] == ("c2", 33.0)


def test_cdc_apply_deterministic_on_malformed_ties(spark):
    from nba_data_pipeline_spark.operators.incremental import cdc_apply

    snap = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, bal double")
    # two changes with the SAME (key, seq): op tie-break (U > D) must
    # pick the update deterministically regardless of partitioning
    changes = spark.createDataFrame(
        [(1, "D", 5, "a", 0.0), (1, "U", 5, "a", 9.0)],
        "id long, op string, seq int, name string, bal double",
    )
    outs = [
        {r.id: r.bal for r in cdc_apply(snap, changes.repartition(k), ["id"], "seq").collect()}
        for k in (1, 7)
    ]
    assert outs[0] == outs[1] == {1: 9.0}


def test_fold_aggregate_state_table_bucketed(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.incremental import (
        fold_aggregate_state_table,
    )

    path = str(tmp_path / "state")
    rows = [(i % 50, float(i % 13)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, v double")
    specs = {"n": ("count", "*"), "s": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")}
    # three uneven batches into the persisted bucketed state
    for m in range(3):
        fold_aggregate_state_table(
            spark, df.filter(F.col("v") % 3 == m), path, ["k"], specs,
            n_buckets=16,
        )
    got = {r.k: (r.n, round(r.s, 6), r.lo, r.hi)
           for r in spark.read.parquet(path).collect()}
    want = {r.k: (r.n, round(r.s, 6), r.lo, r.hi)
            for r in df.groupBy("k").agg(
                F.count("*").alias("n"), F.sum("v").alias("s"),
                F.min("v").alias("lo"), F.max("v").alias("hi")).collect()}
    assert got == want
    # layout: hive bucket dirs exist; state round-trips through them
    assert any(d.startswith("bucket=") for d in os.listdir(path))


def test_fold_aggregate_state_table_prunes_untouched_buckets(spark, tmp_path):
    import os
    import time

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.incremental import (
        fold_aggregate_state_table,
    )

    path = str(tmp_path / "state")
    full = spark.createDataFrame(
        [(k, 1.0) for k in range(200)], "k long, v double"
    )
    specs = {"n": ("count", "*")}
    fold_aggregate_state_table(spark, full, path, ["k"], specs, n_buckets=8)
    mtimes = {d: os.path.getmtime(os.path.join(path, d))
              for d in os.listdir(path) if d.startswith("bucket=")}
    assert len(mtimes) == 8
    time.sleep(1.1)
    # a single-key trickle batch must rewrite exactly ONE bucket dir
    fold_aggregate_state_table(
        spark, full.filter(F.col("k") == 7), path, ["k"], specs, n_buckets=8
    )
    changed = [d for d, m in mtimes.items()
               if os.path.getmtime(os.path.join(path, d)) != m]
    assert len(changed) == 1
    got = {r.k: r.n for r in spark.read.parquet(path).collect()}
    assert got[7] == 2 and got[6] == 1 and len(got) == 200


def _cdc_changes(spark, rows):
    return spark.createDataFrame(
        rows, "id long, op string, seq int, name string, bal double"
    )


def test_cdc_apply_table_out_of_order_and_tombstones(spark, tmp_path):
    """CDC applied batch by batch into a snapshot table
    (``snapshot.cdc_apply_snapshot``): latest seq wins under
    out-of-order delivery, deletes persist as tombstones that fence
    late lower-seq updates, and a higher-seq insert resurrects."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks.snapshot import cdc_apply_snapshot, read_cdc_state

    path = str(tmp_path / "snap")
    # batch 1: inserts + an update at seq 5
    cdc_apply_snapshot(
        spark,
        _cdc_changes(spark, [(1, "I", 1, "a", 1.0), (2, "I", 1, "b", 2.0),
                             (1, "U", 5, "a", 5.0)]),
        path, ["id"], "seq",
    )
    got = {r.id: r.bal for r in read_cdc_state(spark, path).collect()}
    assert got == {1: 5.0, 2: 2.0}
    # batch 2 arrives LATE with a LOWER seq for key 1 -> must lose;
    # and deletes key 2 at seq 9
    cdc_apply_snapshot(
        spark,
        _cdc_changes(spark, [(1, "U", 3, "a", 3.0), (2, "D", 9, "b", 0.0)]),
        path, ["id"], "seq",
    )
    got = {r.id: r.bal for r in read_cdc_state(spark, path).collect()}
    assert got == {1: 5.0}
    # batch 3: a late update for the DELETED key with seq < 9 loses to
    # the tombstone; a later insert (seq 12) resurrects it
    cdc_apply_snapshot(
        spark, _cdc_changes(spark, [(2, "U", 7, "b", 7.0)]), path, ["id"], "seq"
    )
    assert read_cdc_state(spark, path).filter(F.col("id") == 2).count() == 0
    cdc_apply_snapshot(
        spark, _cdc_changes(spark, [(2, "I", 12, "b2", 12.0)]), path, ["id"], "seq"
    )
    got = {r.id: (r.name, r.bal) for r in read_cdc_state(spark, path).collect()}
    assert got[2] == ("b2", 12.0)


def test_cdc_apply_table_redelivery_idempotent(spark, tmp_path):
    from nba_data_pipeline_spark.sinks.snapshot import cdc_apply_snapshot, read_snapshot

    path = str(tmp_path / "snap")
    b1 = [(k, "I", 1, f"n{k}", float(k)) for k in range(40)]
    b2 = [(3, "U", 2, "n3", 33.0), (4, "D", 2, "n4", 0.0)]
    cdc_apply_snapshot(spark, _cdc_changes(spark, b1), path, ["id"], "seq")
    cdc_apply_snapshot(spark, _cdc_changes(spark, b2), path, ["id"], "seq")
    before = sorted(map(tuple, read_snapshot(spark, path).collect()))
    # crash-replay of batch 2: the state rows (tombstones and _seq
    # included) do not move
    cdc_apply_snapshot(spark, _cdc_changes(spark, b2), path, ["id"], "seq")
    after = sorted(map(tuple, read_snapshot(spark, path).collect()))
    assert after == before


def test_cdc_apply_table_prunes_untouched_buckets(spark, tmp_path):
    """Bucket-led CDC state (key = (bucket, id), eight key-sorted
    files): a one-key batch rewrites only files holding its bucket;
    every other file is carried by reference."""
    import os

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S

    path = str(tmp_path / "snap")
    bucket = F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("bucket")
    state = spark.range(200).select(
        bucket, F.col("id"), F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        F.col("id").cast("double").alias("bal"),
        F.lit(1).cast("long").alias("_seq"), F.lit(False).alias("_deleted"),
    )
    S.write_snapshot(spark, state, path, key=["bucket", "id"], target_files=8)
    v1 = {f["path"] for f in S._load_manifest(path, 1)["files"]}
    assert len(v1) > 1
    batch = _cdc_changes(spark, [(7, "U", 2, "n7", 77.0)]).select(
        bucket, "id", "op", "seq", "name", "bal"
    )
    S.cdc_apply_snapshot(spark, batch, path, ["bucket", "id"], "seq")
    v2 = {f["path"] for f in S._load_manifest(path, 2)["files"]}
    b7 = batch.first().bucket
    holding = {
        f for f in v1
        if spark.read.parquet(os.path.join(path, f)).filter(F.col("bucket") == b7).count()
    }
    assert v1 - v2 and v1 - v2 <= holding and len(holding) <= 2
    assert S.read_cdc_state(spark, path).filter("id = 7").collect()[0].bal == 77.0


def test_stream_cdc_apply_end_to_end(spark, tmp_path):
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.sinks.snapshot import read_cdc_state
    from nba_data_pipeline_spark.streaming.ops import stream_cdc_apply

    src, path, ckpt = (str(tmp_path / d) for d in ("src", "snap", "ckpt"))
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("op", T.StringType()),
        T.StructField("seq", T.IntegerType()), T.StructField("name", T.StringType()),
        T.StructField("bal", T.DoubleType()),
    ])
    _cdc_changes(spark, [(1, "I", 1, "a", 1.0), (2, "I", 1, "b", 2.0)]) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_cdc_apply(stream, path, ["id"], "seq",
                     checkpoint_dir=ckpt).awaitTermination()
    _cdc_changes(spark, [(2, "D", 2, "b", 0.0), (3, "I", 2, "c", 3.0)]) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_cdc_apply(stream, path, ["id"], "seq",
                     checkpoint_dir=ckpt).awaitTermination()
    got = {r.id: r.bal for r in read_cdc_state(spark, path).collect()}
    assert got == {1: 1.0, 3: 3.0}
