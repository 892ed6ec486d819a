"""Storage facade (sinks/store.py): every keyed write commits a
snapshot table, a fresh root always becomes one, and a legacy swap
table is refused before any Spark job but still reads and migrates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.sinks import snapshot as snap
from nba_data_pipeline_spark.sinks import writer
from nba_data_pipeline_spark.sinks.store import (
    detect_format,
    insert_ignore_store,
    is_snapshot_table,
    read_store,
    store_exists,
    txn_applied,
    upsert_store,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
DEDUP_KW = dict(num_perm=32, bands=16, threshold=0.3)


def _entry_points(spark, tmp_path, root):
    """One keyed write per entry point into the table ``root``: the
    store upsert and insert-ignore, bucketed un-fenced near-dedup state,
    component state, the streaming upsert and CDC sinks, and the CLI
    ``corpus`` pipeline. Streaming calls return their query."""
    from nba_data_pipeline_spark import cli
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        stream_cdc_apply,
        update_component_state,
    )
    from nba_data_pipeline_spark.streaming.sink import stream_upsert

    src = str(tmp_path / "src")
    if not (tmp_path / "src").exists():
        _df(spark, [(1, 1), (2, 2)]).coalesce(1).write.parquet(src)
        spark.createDataFrame(
            [(1, "I", 1, 1.0), (2, "I", 1, 2.0), (2, "D", 2, 0.0)],
            "id long, op string, seq int, bal double",
        ).coalesce(1).write.parquet(str(tmp_path / "log"))
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog while the keen "
                 "red hen walks under a tall green tree near the old wall")],
            "doc_id long, text string",
        ).write.parquet(str(tmp_path / "docs"))
        spark.createDataFrame(
            [(100, "unrelated benchmark prompt")], "doc_id long, text string"
        ).write.parquet(str(tmp_path / "bench"))
    docs = spark.createDataFrame([(1, BASE), (2, BASE)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    return {
        "upsert_store": lambda: upsert_store(spark, _df(spark, [(1, 1)]), root, "k"),
        "insert_ignore_store": lambda: insert_ignore_store(
            spark, _df(spark, [(1, 1)]), root, "k"
        ),
        "near_dedup_batch": lambda: near_dedup_batch(
            docs, root, str(tmp_path / f"pairs_{os.path.basename(root)}"),
            state_buckets=4, **DEDUP_KW,
        ),
        "update_component_state": lambda: update_component_state(pairs, root),
        "stream_upsert": lambda: stream_upsert(
            spark.readStream.schema("k long, v long").parquet(src), root, "k",
            checkpoint_dir=str(tmp_path / f"ck_up_{os.path.basename(root)}"),
        ),
        "stream_cdc_apply": lambda: stream_cdc_apply(
            spark.readStream.schema("id long, op string, seq int, bal double")
            .parquet(str(tmp_path / "log")),
            root, ["id"], "seq",
            checkpoint_dir=str(tmp_path / f"ck_cdc_{os.path.basename(root)}"),
        ),
        "cli corpus": lambda: cli.run(
            ["corpus", "--input", str(tmp_path / "docs"), "--benchmark",
             str(tmp_path / "bench"), "--output", root, "--pack_capacity", "64",
             "--shards", "4"],
            spark,
        ),
    }


def test_fresh_root_becomes_snapshot_for_every_entry_point(spark, tmp_path):
    for name in _entry_points(spark, tmp_path, str(tmp_path / "probe")):
        root = str(tmp_path / name.replace(" ", "_"))
        out = _entry_points(spark, tmp_path, root)[name]()
        if out is not None:  # a streaming query
            out.awaitTermination()
        assert detect_format(root) == "snapshot", name
        assert is_snapshot_table(root) and read_store(spark, root).count() > 0, name


def test_legacy_swap_table_raises_before_any_spark_job(spark, tmp_path):
    """A keyed write into an on-disk swap table names migrate_to_snapshot
    and fails before any Spark job; the table still reads and migrates."""
    legacy = str(tmp_path / "legacy")
    writer.write_table(_df(spark, [(1, 1), (2, 2)]), legacy)
    assert detect_format(legacy) == "swap"
    calls = _entry_points(spark, tmp_path, legacy)
    sc = spark.sparkContext
    sc.setJobGroup("legacy-swap-write", "no job expected")
    try:
        for name, call in calls.items():
            with pytest.raises(ValueError, match="migrate_to_snapshot"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("legacy-swap-write")) == []
    assert sorted(tuple(r) for r in read_store(spark, legacy).collect()) == [(1, 1), (2, 2)]
    from nba_data_pipeline_spark.sinks.store import migrate_to_snapshot

    dst = str(tmp_path / "migrated")
    assert migrate_to_snapshot(spark, legacy, dst, key="k") == 1
    upsert_store(spark, _df(spark, [(2, 9)]), dst, "k")
    assert sorted(tuple(r) for r in read_store(spark, dst).collect()) == [(1, 1), (2, 9)]


def test_swap_format_requests_raise(spark, tmp_path):
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    p = str(tmp_path / "t")
    for kw in ({"default": "swap"}, {"fmt": "swap"}):
        with pytest.raises(ValueError, match="unknown table format 'swap'"):
            upsert_store(spark, _df(spark, [(1, 1)]), p, "k", **kw)
        with pytest.raises(ValueError, match="unknown table format 'swap'"):
            insert_ignore_store(spark, _df(spark, [(1, 1)]), p, "k", **kw)
    docs = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    for buckets in (None, 4):
        with pytest.raises(ValueError, match="unknown table format 'swap'"):
            near_dedup_batch(
                docs, p, str(tmp_path / "pairs"), state_buckets=buckets,
                state_format="swap", **DEDUP_KW,
            )
    assert not store_exists(p)
    # the explicit spellings of the one backend still work (lakebench
    # passes default="snapshot")
    upsert_store(spark, _df(spark, [(1, 1)]), p, "k", fmt="snapshot", default="snapshot")
    assert detect_format(p) == "snapshot"


def test_first_write_respects_default_and_fmt(spark, tmp_path):
    """Every spelling of the one backend creates a snapshot table."""
    a, b, c = (str(tmp_path / n) for n in "abc")
    upsert_store(spark, _df(spark, [(1, 1)]), a, "k")
    upsert_store(spark, _df(spark, [(1, 1)]), b, "k", default="snapshot")
    upsert_store(spark, _df(spark, [(1, 1)]), c, "k", fmt="snapshot")
    for p in (a, b, c):
        assert detect_format(p) == "snapshot" and is_snapshot_table(p)


def test_on_disk_format_sticky_and_mismatch_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_store(spark, _df(spark, [(1, 1)]), p, "k")
    upsert_store(spark, _df(spark, [(1, 2), (2, 2)]), p, "k", default="snapshot")
    assert detect_format(p) == "snapshot"
    got = {(r.k, r.v) for r in read_store(spark, p).collect()}
    assert got == {(1, 2), (2, 2)}
    q = str(tmp_path / "u")
    writer.write_table(_df(spark, [(1, 1)]), q)  # legacy swap table
    with pytest.raises(ValueError, match="legacy swap table"):
        upsert_store(spark, _df(spark, [(2, 2)]), q, "k", fmt="snapshot")
    assert detect_format(q) == "swap"


def test_merge_semantics_match_across_backends(spark, tmp_path):
    """The snapshot table's upsert and insert-ignore give the rows of
    the in-memory MERGE operators they persist."""
    from nba_data_pipeline_spark.operators.incremental import insert_ignore, merge_upsert

    base = _df(spark, [(1, 10), (2, 20), (3, 30)])
    batch = _df(spark, [(2, 99), (4, 40)])
    late = _df(spark, [(1, 777), (5, 50)])
    p = str(tmp_path / "m")
    upsert_store(spark, base, p, "k")
    upsert_store(spark, batch, p, "k")
    insert_ignore_store(spark, late, p, "k")
    want = insert_ignore(merge_upsert(base, batch, "k"), late, "k")
    rows = sorted(tuple(r) for r in read_store(spark, p).collect())
    assert rows == sorted(tuple(r) for r in want.collect()) == [
        (1, 10), (2, 99), (3, 30), (4, 40), (5, 50)
    ]


def test_txn_fence_snapshot_only(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_store(spark, _df(spark, [(1, 1)]), p, "k", fmt="snapshot",
                 txn=("app", 1))
    # replayed txn is a visible no-op even with a poisoned payload
    upsert_store(spark, _df(spark, [(1, 666)]), p, "k", txn=("app", 1))
    assert read_store(spark, p).collect()[0].v == 1


def test_txn_applied_reads_the_watermark(spark, tmp_path):
    p = str(tmp_path / "t")
    assert not txn_applied(p, ("app", 1))  # absent table
    upsert_store(spark, _df(spark, [(1, 1)]), p, "k", fmt="snapshot",
                 txn=("app", 2))
    assert txn_applied(p, ("app", 2)) and txn_applied(p, ("app", 1))
    assert not txn_applied(p, ("app", 3))
    assert not txn_applied(p, ("other", 1))
    assert not txn_applied(p, None)
    q = str(tmp_path / "u")
    writer.write_table(_df(spark, [(1, 1)]), q)
    assert not txn_applied(q, ("app", 1))  # legacy swap: no watermark


def test_store_exists_and_crashed_snapshot_is_absent(spark, tmp_path):
    p = tmp_path / "t"
    assert not store_exists(str(p))
    # a _manifests dir with no committed version (crashed first writer)
    (p / "_manifests").mkdir(parents=True)
    assert not is_snapshot_table(str(p)) and not store_exists(str(p))
    upsert_store(spark, _df(spark, [(1, 1)]), str(p), "k", fmt="snapshot")
    assert store_exists(str(p))


def test_cli_snapshot_output_gets_time_travel(spark, tmp_path, team_game_log_df):
    """The benefit the default buys: a reference pipeline table written
    through the CLI supports version reads out of the box."""
    from nba_data_pipeline_spark.cli import run

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    args = ["team_game_log", "--season", "2024-25", "--season_type",
            "Regular Season", "--input", raw, "--output", out]
    run(args, spark=spark)
    run(args, spark=spark)  # full (non-delta) re-run: idempotent upsert
    assert read_store(spark, out).count() == 2
    v1 = snap.read_snapshot(spark, out, version=1)
    assert v1.count() == 2  # history retained
    hist = snap.snapshot_history(out)
    assert [h["version"] for h in hist] == [1, 2]


def test_cli_format_swap_override(spark, tmp_path, team_game_log_df):
    """``--format`` is not a CLI option: a swap override is an argument
    error, and the run writes a snapshot table."""
    from nba_data_pipeline_spark.cli import run

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    args = ["team_game_log", "--season", "2024-25", "--season_type",
            "Regular Season", "--input", raw, "--output", out]
    with pytest.raises(SystemExit):
        run(args + ["--format", "swap"], spark=spark)
    assert not store_exists(out)
    run(args, spark=spark)
    assert detect_format(out) == "snapshot"
    back = read_store(spark, out)
    assert back.filter(F.col("SEASON") == "2024-25").count() == 2


def test_migrate_to_snapshot(spark, tmp_path):
    src = str(tmp_path / "swap")
    dst = str(tmp_path / "snap")
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("part"),
        (F.col("id") * 3).alias("v"),
    )
    writer.upsert_table(spark, df, src, "k", partition_by=("part",))
    from nba_data_pipeline_spark.sinks.store import migrate_to_snapshot

    v = migrate_to_snapshot(spark, src, dst, key="k")
    assert v == 1 and detect_format(dst) == "snapshot"
    got = read_store(spark, dst)
    assert got.count() == 5000
    assert set(got.columns) == {"k", "part", "v"}  # hive col materialized
    # original untouched, destination collision refused
    assert detect_format(src) == "swap"
    with pytest.raises(ValueError, match="already holds"):
        migrate_to_snapshot(spark, src, dst, key="k")
    with pytest.raises(ValueError, match="expected a swap"):
        migrate_to_snapshot(spark, dst, str(tmp_path / "x"), key="k")
    # migrated table takes snapshot merges immediately
    upsert_store(spark, spark.createDataFrame([(1, 1, -1)], "k long, part long, v long"), dst, "k")
    assert read_store(spark, dst).filter("k = 1").collect()[0].v == -1
