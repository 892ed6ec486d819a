"""Format-dispatching storage facade (sinks/store.py): the CLI's
pipeline tables land in the snapshot format by default, the swap format
stays available, and the two can never silently mix under one path."""

from __future__ import annotations

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


def test_first_write_respects_default_and_fmt(spark, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    upsert_store(spark, _df(spark, [(1, 1)]), a, "k")  # default swap
    assert detect_format(a) == "swap"
    upsert_store(spark, _df(spark, [(1, 1)]), b, "k", default="snapshot")
    assert detect_format(b) == "snapshot" and is_snapshot_table(b)
    upsert_store(spark, _df(spark, [(1, 1)]), c, "k", fmt="snapshot")
    assert detect_format(c) == "snapshot"


def test_on_disk_format_sticky_and_mismatch_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_store(spark, _df(spark, [(1, 1)]), p, "k", fmt="snapshot")
    # explicit default swap is overridden by the on-disk format
    upsert_store(spark, _df(spark, [(1, 2), (2, 2)]), p, "k", default="swap")
    assert detect_format(p) == "snapshot"
    got = {(r.k, r.v) for r in read_store(spark, p).collect()}
    assert got == {(1, 2), (2, 2)}
    with pytest.raises(ValueError, match="on-disk format"):
        upsert_store(spark, _df(spark, [(3, 3)]), p, "k", fmt="swap")
    q = str(tmp_path / "u")
    upsert_store(spark, _df(spark, [(1, 1)]), q, "k")  # swap
    with pytest.raises(ValueError, match="on-disk format"):
        upsert_store(spark, _df(spark, [(2, 2)]), q, "k", fmt="snapshot")


def test_merge_semantics_match_across_backends(spark, tmp_path):
    base = _df(spark, [(1, 10), (2, 20), (3, 30)])
    batch = _df(spark, [(2, 99), (4, 40)])
    outs = {}
    for fmt in ("swap", "snapshot"):
        p = str(tmp_path / f"m_{fmt}")
        upsert_store(spark, base, p, "k", fmt=fmt)
        upsert_store(spark, batch, p, "k")
        insert_ignore_store(spark, _df(spark, [(1, 777), (5, 50)]), p, "k")
        outs[fmt] = sorted(tuple(r) for r in read_store(spark, p).collect())
    assert outs["swap"] == outs["snapshot"] == [
        (1, 10), (2, 99), (3, 30), (4, 40), (5, 50)
    ]


def test_txn_fence_snapshot_only(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_store(spark, _df(spark, [(1, 1)]), p, "k", fmt="snapshot",
                 txn=("app", 1))
    # replayed txn is a visible no-op even with a poisoned payload
    upsert_store(spark, _df(spark, [(1, 666)]), p, "k", txn=("app", 1))
    assert read_store(spark, p).collect()[0].v == 1
    q = str(tmp_path / "u")
    with pytest.raises(ValueError, match="txn"):
        upsert_store(spark, _df(spark, [(1, 1)]), q, "k", fmt="swap",
                     txn=("app", 1))


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
    upsert_store(spark, _df(spark, [(1, 1)]), q, "k", fmt="swap")
    assert not txn_applied(q, ("app", 1))  # swap: no watermark


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
    from nba_data_pipeline_spark.cli import run

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    run(["team_game_log", "--season", "2024-25", "--season_type",
         "Regular Season", "--input", raw, "--output", out,
         "--format", "swap"], spark=spark)
    assert detect_format(out) == "swap"
    # swap keeps the hive SEASON/SEASON_TYPE layout
    back = writer.read_table(spark, out)
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
