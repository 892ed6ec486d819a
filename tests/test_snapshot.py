"""Manifest-committed snapshot tables (sinks/snapshot.py): commit
atomicity (link-CAS), copy-on-write file pruning, time travel,
rollback, compaction, vacuum, optimistic concurrency, and the
crash-probe matrix (every window of stage + commit)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.operators.incremental import merge_upsert
from nba_data_pipeline_spark.sinks import snapshot as S


def _table(spark, n=5000):
    return spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# basic lifecycle
# ---------------------------------------------------------------------------

def test_create_read_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _table(spark)
    assert S.write_snapshot(spark, df, root, key="k") == 1
    assert S.current_version(root) == 1
    assert _rows(S.read_snapshot(spark, root)) == _rows(df)
    (h,) = S.snapshot_history(root)
    assert h["op"] == "create" and h["rows"] == 5000 and h["version"] == 1


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(S.SnapshotVersionError):
        S.read_snapshot(spark, str(tmp_path / "absent"))


def test_upsert_matches_dataframe_merge(spark, tmp_path):
    root = str(tmp_path / "t")
    target = _table(spark)
    source = spark.range(100, 300).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    ).union(
        spark.range(9000, 9100).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        )
    )
    S.write_snapshot(spark, target, root, key="k")
    S.upsert_snapshot(spark, source, root, "k")
    want = merge_upsert(target, source, "k")
    assert _rows(S.read_snapshot(spark, root)) == _rows(want)


def test_upsert_creates_on_first_write(spark, tmp_path):
    root = str(tmp_path / "t")
    S.upsert_snapshot(spark, _table(spark, 100), root, "k")
    assert S.current_version(root) == 1
    assert S.read_snapshot(spark, root).count() == 100


def test_insert_ignore_snapshot(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    src = spark.range(50, 150).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.insert_ignore_snapshot(spark, src, root, "k")
    got = S.read_snapshot(spark, root)
    assert got.count() == 150
    # existing keys kept their old values
    assert got.filter((F.col("k") < 100) & (F.col("v") == -1)).count() == 0
    assert got.filter(F.col("k") >= 100).agg(F.min("v")).collect()[0][0] == -1


# ---------------------------------------------------------------------------
# copy-on-write pruning
# ---------------------------------------------------------------------------

def test_straggler_batch_prunes_untouched_files(spark, tmp_path):
    """One low + one high key must NOT force a full-table rewrite: the
    exact (join-based) pruning keeps every non-hit file carried by
    reference — same path, same inode, zero data movement."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100000), root, key="k", target_files=8)
    m1 = S._load_manifest(root, 1)
    assert len(m1["files"]) >= 3  # need middle files to prove pruning
    inodes1 = {
        f["path"]: os.stat(os.path.join(root, f["path"])).st_ino
        for f in m1["files"]
    }
    src = spark.createDataFrame([(5, -1), (99990, -1), (500000, 7)], "k long, v long")
    S.upsert_snapshot(spark, src, root, "k")
    m2 = S._load_manifest(root, 2)
    carried = [f for f in m2["files"] if f["path"] in inodes1]
    assert len(carried) == len(m1["files"]) - 2  # only first+last rewritten
    for f in carried:  # carried by reference, not rewritten in place
        assert os.stat(os.path.join(root, f["path"])).st_ino == inodes1[f["path"]]
    got = S.read_snapshot(spark, root)
    assert got.count() == 100001
    assert _rows(got.filter(F.col("v") == -1).select("k")) == [(5,), (99990,)]


def test_composite_key_prunes_on_either_column(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(0, 10000).select(
        (F.col("id") % 100).alias("a"), F.col("id").alias("b"),
        F.lit(0).cast("long").alias("v"),
    )
    S.write_snapshot(spark, df, root, key=["a", "b"], sort_by=["b"])
    src = spark.createDataFrame([(1, 1, -1)], "a long, b long, v long")
    S.upsert_snapshot(spark, src, root, ["a", "b"])
    m2 = S._load_manifest(root, 2)
    m1 = S._load_manifest(root, 1)
    v1paths = {f["path"] for f in m1["files"]}
    carried = sum(1 for f in m2["files"] if f["path"] in v1paths)
    # b=1 lives in exactly one b-sorted file; the rest are disjoint on b
    assert carried == len(m1["files"]) - 1
    got = S.read_snapshot(spark, root)
    assert got.filter("v = -1").count() == 1 and got.count() == 10000


def test_key_between_read_prunes_and_matches_filter(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 50000), root, key="k", target_files=8)
    m = S._load_manifest(root, 1)
    survivors = [f for f in m["files"] if S._overlaps(f["stats"].get("k"), 100, 120)]
    assert len(survivors) < len(m["files"])  # manifest stats actually prune
    got = S.read_snapshot(spark, root, key_between=("k", 100, 120))
    want = S.read_snapshot(spark, root).filter(F.col("k").between(100, 120))
    assert _rows(got) == _rows(want)
    assert got.count() == 21


# ---------------------------------------------------------------------------
# delete / takedown
# ---------------------------------------------------------------------------

def test_delete_rows_and_full_takedown(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")
    S.delete_snapshot(spark, spark.range(0, 200).select(F.col("id").alias("k")), root, "k")
    assert S.read_snapshot(spark, root).count() == 800
    assert S.read_snapshot(spark, root).filter("k < 200").count() == 0
    # total takedown: empty current version stays readable with schema
    S.delete_snapshot(spark, spark.range(0, 1000).select(F.col("id").alias("k")), root, "k")
    got = S.read_snapshot(spark, root)
    assert got.count() == 0 and got.columns == ["k", "v"]
    # history intact: pre-delete versions still readable
    assert S.read_snapshot(spark, root, version=1).count() == 1000


def test_delete_on_missing_table_raises(spark, tmp_path):
    with pytest.raises(S.SnapshotVersionError):
        S.delete_snapshot(
            spark, spark.range(1).select(F.col("id").alias("k")),
            str(tmp_path / "absent"), "k",
        )


# ---------------------------------------------------------------------------
# time travel / rollback / compaction / vacuum
# ---------------------------------------------------------------------------

def test_time_travel_and_rollback_preserve_history(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    src = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, src, root, "k")
    assert S.read_snapshot(spark, root).filter("v = -1").count() == 100
    assert S.read_snapshot(spark, root, version=1).filter("v = -1").count() == 0
    v3 = S.rollback_snapshot(root, 1)
    assert v3 == 3
    assert _rows(S.read_snapshot(spark, root)) == _rows(_table(spark, 100))
    # RESTORE, not reset: the rolled-over version is still readable
    assert S.read_snapshot(spark, root, version=2).filter("v = -1").count() == 100
    assert [h["op"] for h in S.snapshot_history(root)] == [
        "create", "upsert", "rollback",
    ]


def test_rollback_restores_target_metadata_and_feeds_lazily(spark, tmp_path):
    """A rollback carries the TARGET version's renames/cdf_enabled
    (not the rolled-away parent's, which _commit would otherwise
    inherit) and records a lazy mode=file_diff CDF block, so a feed
    spanning it stays on the fast chain: rolling v2's upsert back
    nets the inverse changes, and a window that starts and ends at
    identical content nets to zero rows."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k", cdf=False)
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, src, root, "k")                     # v2
    S.rename_snapshot_column(root, "v", "val")                   # v3
    v4 = S.rollback_snapshot(root, 2)                            # v4: pre-rename
    m4 = S._load_manifest(root, v4)
    assert m4.get("renames", {}) == {}        # target v2 had no renames
    assert m4.get("cdf_enabled") is False     # property restored, not default
    assert m4["cdf"]["mode"] == "file_diff"
    assert "v" in S.read_snapshot(spark, root).columns
    # feed across the rollback (3 -> 4) = the inverse of the rename's
    # nothing + ... use 2 -> 4 (rename is metadata-only, rollback to 2
    # restores identical content): nets to ZERO rows on the fast chain
    assert S.snapshot_changes(spark, root, 2, 4).count() == 0
    # feed 1 -> 4: exactly v2's upsert changes (rollback target == v2)
    feed = S.snapshot_changes(spark, root, 1, 4)
    byt = {r["_change_type"] for r in feed.select("_change_type").collect()}
    assert feed.count() == 20 and byt == {"update_preimage", "update_postimage"}
    # rolling back ACROSS the upsert inverts it: feed 2 -> 5 restores v1
    v5 = S.rollback_snapshot(root, 1)
    inv = S.snapshot_changes(spark, root, 2, v5)
    assert inv.filter("_change_type = 'update_postimage'").filter("v = -1").count() == 0
    assert inv.filter("_change_type = 'update_preimage'").filter("v = -1").count() == 10


def test_delete_range_feed_vs_vacuum_lifetimes(spark, tmp_path):
    """The lazy delete_range block's refs live exactly as long as they
    are reachable: while the superseded manifest is retained the feed
    crosses the delete on the fast chain; once vacuum takes it, a
    window STARTING there raises the documented endpoint error and a
    window starting at the delete commit itself never consults the
    block."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k", target_files=8)
    S.delete_where_range(spark, root, "k", 0, 249)               # v2 (lazy block)
    src = spark.range(250, 260).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, src, root, "k")                     # v3
    feed = S.snapshot_changes(spark, root, 1, 3)
    assert feed.filter("_change_type = 'delete'").count() == 250
    S.vacuum_snapshot(root, keep_last=2, min_age_seconds=0)      # drops v1
    # the delete commit's own window still answers (block unconsulted)
    assert S.snapshot_changes(spark, root, 2, 3).count() == 20
    # a window whose FROM endpoint was vacuumed raises cleanly
    with pytest.raises(S.SnapshotVersionError):
        S.snapshot_changes(spark, root, 1, 3).count()


def test_compact_preserves_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k", target_files=6)
    for lo in (0, 10, 20):  # accrete small commits
        src = spark.range(lo, lo + 5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        )
        S.upsert_snapshot(spark, src, root, "k")
    before = S._load_manifest(root, S.current_version(root))
    S.compact_snapshot(spark, root, target_rows_per_file=1000)
    after = S._load_manifest(root, S.current_version(root))
    assert after["op"] == "compact"
    assert len(after["files"]) < len(before["files"])
    assert after["rows"] == before["rows"] == 1000
    got = S.read_snapshot(spark, root)
    assert got.count() == 1000 and got.filter("v = -1").count() == 15


def test_compact_heals_degenerate_granularity(spark, tmp_path):
    """Legacy escape hatch: a table bootstrapped as one-row files (the
    pre-AQE-staging layout, here pinned via target_files) makes every
    merge inherit 1 row/file and emit batch-rows files; one
    compact_snapshot resets the granularity and later merges emit
    sanely few files again."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 64), root, key="k", target_files=64)
    assert len(S._load_manifest(root, 1)["files"]) >= 32  # degenerate
    S.upsert_snapshot(
        spark, spark.range(1000, 1032).selectExpr("id as k", "id as v"),
        root, "k",
    )
    degenerate_emit = len(S._load_manifest(root, 2)["files"]) - len(
        S._load_manifest(root, 1)["files"]
    )
    assert degenerate_emit >= 16  # inherits ~1 row/file
    S.compact_snapshot(spark, root, target_rows_per_file=1000)
    n_compacted = len(S._load_manifest(root, S.current_version(root))["files"])
    assert n_compacted <= 2
    S.upsert_snapshot(
        spark, spark.range(2000, 2032).selectExpr("id as k", "id as v"),
        root, "k",
    )
    m = S._load_manifest(root, S.current_version(root))
    assert len(m["files"]) <= n_compacted + 2  # healed granularity
    assert S.read_snapshot(spark, root).count() == 128


def test_vacuum_reclaims_and_expires(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 500), root, key="k")
    for lo in (0, 100):
        src = spark.range(lo, lo + 50).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        )
        S.upsert_snapshot(spark, src, root, "k")
    stats = S.vacuum_snapshot(root, keep_last=1, min_age_seconds=0)
    assert stats["manifests_removed"] == 2
    assert stats["data_files_removed"] > 0
    # current unaffected; expired versions fail cleanly
    assert S.read_snapshot(spark, root).count() == 500
    with pytest.raises(S.SnapshotVersionError):
        S.read_snapshot(spark, root, version=1)
    # on-disk data files == exactly the referenced set (data + the
    # retained version's CDF sidecars)
    m = S._load_manifest(root, S.current_version(root))
    on_disk = set(os.listdir(os.path.join(root, "data")))
    referenced = {os.path.basename(f["path"]) for f in m["files"]}
    referenced |= {os.path.basename(f["path"])
                   for f in m.get("cdf", {}).get("files", [])}
    assert on_disk == referenced


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------

def test_schema_evolution_add_column(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    src = spark.range(50, 150).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"),
        F.lit("new").alias("tag"),
    )
    S.upsert_snapshot(spark, src, root, "k")
    got = S.read_snapshot(spark, root)
    assert set(got.columns) == {"k", "v", "tag"}
    # pre-evolution rows read back NULL for the new column, including
    # rows living in CARRIED (never rewritten) v1 files
    assert got.filter(F.col("tag").isNull()).count() == 50
    assert got.filter(F.col("tag") == "new").count() == 100


def test_schema_type_conflict_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("oops").alias("v")
    )
    with pytest.raises(ValueError, match="schema conflict"):
        S.upsert_snapshot(spark, src, root, "k")


# ---------------------------------------------------------------------------
# optimistic concurrency
# ---------------------------------------------------------------------------

def test_stale_expected_version_conflicts(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    S.write_snapshot(spark, _table(spark, 200), root, key="k")  # moves to v2
    with pytest.raises(S.SnapshotConflict):
        S.write_snapshot(spark, _table(spark, 300), root, key="k", expected_version=1)
    assert S.read_snapshot(spark, root).count() == 200


def test_commit_race_exactly_one_winner(spark, tmp_path):
    """Two writers race for the same version slot: the link-CAS lets
    exactly one through; the loser raises without half-committing."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 10), root, key="k")
    m = S._load_manifest(root, 1)
    base = S.current_version(root)
    S._commit(root, dict(m, op="overwrite"), base)  # writer A wins v2
    with pytest.raises(S.SnapshotConflict):
        S._commit(root, dict(m, op="overwrite"), base)  # writer B loses
    assert S.current_version(root) == 2
    # no tmp litter from the loser
    assert not [
        n for n in os.listdir(S._manifest_dir(root)) if n.startswith(".tmp-")
    ]


def test_upsert_retries_through_conflict(spark, tmp_path, monkeypatch):
    """An interleaved foreign commit between read and commit forces a
    recompute against the NEW current — the retry must apply the batch
    on top of the interloper's rows, not its own stale base."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    real_commit = S._commit
    state = {"interleaved": False}

    def commit_with_interloper(r, manifest, expected_parent):
        if not state["interleaved"] and manifest.get("op") == "upsert":
            state["interleaved"] = True
            foreign = spark.range(1000, 1010).select(
                F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
            )
            monkeypatch.setattr(S, "_commit", real_commit)
            S.upsert_snapshot(spark, foreign, r, "k")
            monkeypatch.setattr(S, "_commit", commit_with_interloper)
        return real_commit(r, manifest, expected_parent)

    monkeypatch.setattr(S, "_commit", commit_with_interloper)
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, src, root, "k")
    monkeypatch.setattr(S, "_commit", real_commit)
    got = S.read_snapshot(spark, root)
    assert got.count() == 110  # 100 base + 10 foreign
    assert got.filter("v = -1").count() == 10    # our batch applied
    assert got.filter("v = 99").count() == 10    # interloper's rows kept


# ---------------------------------------------------------------------------
# crash probes: every window leaves the table readable and replayable
# ---------------------------------------------------------------------------

class _Boom(Exception):
    pass


def test_crash_during_staging_leaves_table_untouched(spark, tmp_path, monkeypatch):
    """Kill mid-stage (some data files already moved into data/): the
    manifest never commits, readers see the old version, vacuum sweeps
    the orphans, and a replay converges."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100000), root, key="k")
    want_before = S.read_snapshot(spark, root).count()
    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(a, b):
        calls["n"] += 1
        if calls["n"] == 2:  # after the first data file landed
            raise _Boom("injected crash mid-staging")
        return real_rename(a, b)

    monkeypatch.setattr(S.os, "rename", crashing_rename)
    src = spark.createDataFrame([(5, -1), (99990, -1)], "k long, v long")
    with pytest.raises(_Boom):
        S.upsert_snapshot(spark, src, root, "k")
    monkeypatch.setattr(S.os, "rename", real_rename)
    assert S.current_version(root) == 1
    assert S.read_snapshot(spark, root).count() == want_before
    orphans_removed = S.vacuum_snapshot(root, keep_last=5, min_age_seconds=0)["data_files_removed"]
    assert orphans_removed >= 1
    S.upsert_snapshot(spark, src, root, "k")  # replay
    got = S.read_snapshot(spark, root)
    assert got.filter("v = -1").count() == 2 and got.count() == want_before


def test_crash_before_link_commits_nothing(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")

    def crashing_link(a, b):
        raise _Boom("injected crash before manifest link")

    monkeypatch.setattr(S.os, "link", crashing_link)
    src = spark.createDataFrame([(5, -1)], "k long, v long")
    with pytest.raises(_Boom):
        S.upsert_snapshot(spark, src, root, "k", retries=0)
    monkeypatch.undo()
    assert S.current_version(root) == 1
    assert S.read_snapshot(spark, root).filter("v = -1").count() == 0
    S.upsert_snapshot(spark, src, root, "k")  # replay
    assert S.read_snapshot(spark, root).filter("v = -1").count() == 1


def test_crash_after_link_is_committed_and_replay_idempotent(
    spark, tmp_path, monkeypatch
):
    """A kill between the link and the tmp cleanup: the commit IS
    durable (the caller sees an error but the version landed) and the
    replayed merge converges to the identical state."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")
    real_unlink = os.unlink
    state = {"armed": True}

    def crashing_unlink(p, *args, **kwargs):
        if (
            state["armed"]
            and isinstance(p, str)
            and os.path.basename(p).startswith(".tmp-")
        ):
            state["armed"] = False
            raise _Boom("injected crash after manifest link")
        return real_unlink(p, *args, **kwargs)

    monkeypatch.setattr(S.os, "unlink", crashing_unlink)
    src = spark.createDataFrame([(5, -1)], "k long, v long")
    with pytest.raises(_Boom):
        S.upsert_snapshot(spark, src, root, "k", retries=0)
    monkeypatch.undo()
    assert S.current_version(root) == 2  # the commit landed
    assert S.read_snapshot(spark, root).filter("v = -1").count() == 1
    S.upsert_snapshot(spark, src, root, "k")  # replay on top: idempotent
    got = S.read_snapshot(spark, root)
    assert got.count() == 1000 and got.filter("v = -1").count() == 1
    S.vacuum_snapshot(root, keep_last=2, min_age_seconds=0)  # sweeps the orphaned tmp
    assert not [
        n for n in os.listdir(S._manifest_dir(root)) if n.startswith(".tmp-")
    ]


# ---------------------------------------------------------------------------
# transactional idempotence (txnAppId/txnVersion) + streaming sink
# ---------------------------------------------------------------------------

def test_txn_fence_skips_replayed_version(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    v = S.upsert_snapshot(spark, src, root, "k", txn=("appA", 3))
    assert v == 2 and S.txn_version(root, "appA") == 3
    # replay of the same (app, version): NO new commit, even with
    # different content — the fence is the protocol, not row identity
    other = spark.range(50, 60).select(
        F.col("id").alias("k"), F.lit(77).cast("long").alias("v")
    )
    assert S.upsert_snapshot(spark, other, root, "k", txn=("appA", 3)) == 2
    assert S.current_version(root) == 2
    assert S.read_snapshot(spark, root).filter("v = 77").count() == 0
    # a LOWER version from the same app is also fenced (late replay)
    assert S.upsert_snapshot(spark, other, root, "k", txn=("appA", 2)) == 2
    # a higher version applies; other apps are independent
    assert S.upsert_snapshot(spark, other, root, "k", txn=("appA", 4)) == 3
    assert S.upsert_snapshot(spark, src, root, "k", txn=("appB", 0)) == 4
    assert S.txn_version(root, "appA") == 4 and S.txn_version(root, "appB") == 0


def test_txn_watermark_survives_unrelated_commits(spark, tmp_path):
    """Compaction / foreign commits between the write and its replay
    must not reset the fence: the watermark map carries forward on
    every commit."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, src, root, "k", txn=("app", 1))
    S.compact_snapshot(spark, root, target_rows_per_file=1000)
    foreign = spark.range(5000, 5010).select(
        F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, foreign, root, "k")  # txn-less commit
    assert S.txn_version(root, "app") == 1
    before = S.current_version(root)
    assert S.upsert_snapshot(spark, src, root, "k", txn=("app", 1)) == before
    assert S.current_version(root) == before


def test_stream_upsert_snapshot_exactly_once(spark, tmp_path):
    """End-to-end foreachBatch sink: drain a landing dir, then simulate
    the at-least-once failure mode (checkpoint lost, identical epochs
    redelivered) — the txn fence must make the rerun a no-op."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.streaming.sink import stream_upsert_snapshot

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    src = str(tmp_path / "landing")
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_upsert_snapshot(stream, root, "id", "job1", checkpoint_dir=ckpt).awaitTermination()
    assert {r.id: r.v for r in S.read_snapshot(spark, root).collect()} == {1: 1.0, 2: 2.0}
    v_after_first = S.current_version(root)

    # checkpoint lost -> the SAME source replays from epoch 0 with the
    # same app_id: every epoch is fenced, the table does not move
    import shutil as _sh

    _sh.rmtree(ckpt)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_upsert_snapshot(
        stream, root, "id", "job1", checkpoint_dir=str(tmp_path / "ckpt2")
    ).awaitTermination()
    assert S.current_version(root) == v_after_first
    assert {r.id: r.v for r in S.read_snapshot(spark, root).collect()} == {1: 1.0, 2: 2.0}

    # new data lands; the LIVE checkpoint continues at epoch 1, which is
    # above the fence and applies. (A lost checkpoint restarts epochs at
    # 0 — resume such a job with a fresh app_id, or seed the stream from
    # txn_version(root, app_id); the fence prioritizes no-double-apply.)
    spark.createDataFrame([(2, 20.0), (3, 3.0)], schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_upsert_snapshot(
        stream, root, "id", "job1", checkpoint_dir=str(tmp_path / "ckpt2")
    ).awaitTermination()
    got = {r.id: r.v for r in S.read_snapshot(spark, root).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}
    assert S.txn_version(root, "job1") == 1


# ---------------------------------------------------------------------------
# database-level manifests: atomic multi-table commits
# ---------------------------------------------------------------------------

def test_db_commit_atomic_multi_table_view(spark, tmp_path):
    db = str(tmp_path / "db")
    docs = _table(spark, 100)
    stats = spark.createDataFrame([(0, 100)], "part int, n long")
    v_docs = S.write_snapshot(spark, docs, f"{db}/docs", key="k")
    v_stats = S.write_snapshot(spark, stats, f"{db}/stats", key="part")
    S.db_commit(db, {"docs": v_docs, "stats": v_stats})
    assert S.db_read(spark, db, "docs").count() == 100
    assert S.db_read(spark, db, "stats").collect()[0]["n"] == 100

    # table "docs" advances but the db transaction never completes
    # (crash before db_commit): db readers still see the CONSISTENT pair
    src = spark.range(200, 260).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    v_docs2 = S.upsert_snapshot(spark, src, f"{db}/docs", "k", txn=("ing", 1))
    assert S.db_read(spark, db, "docs").count() == 100  # pinned at v1
    assert S.read_snapshot(spark, f"{db}/docs").count() == 160  # direct read moved

    # replay converges through the table txn fence; stats catches up;
    # ONE db commit makes both visible together
    v_docs3 = S.upsert_snapshot(spark, src, f"{db}/docs", "k", txn=("ing", 1))
    assert v_docs3 == v_docs2
    v_stats2 = S.upsert_snapshot(
        spark, spark.createDataFrame([(0, 160)], "part int, n long"),
        f"{db}/stats", "part", txn=("ing", 1),
    )
    S.db_commit(db, {"docs": v_docs3, "stats": v_stats2})
    assert S.db_read(spark, db, "docs").count() == 160
    assert S.db_read(spark, db, "stats").collect()[0]["n"] == 160

    # cross-table time travel: db v1 pins BOTH tables' old versions
    assert S.db_read(spark, db, "docs", db_version=1).count() == 100
    assert S.db_read(spark, db, "stats", db_version=1).collect()[0]["n"] == 100
    hist = S.db_history(db)
    assert [h["version"] for h in hist] == [1, 2]


def test_db_commit_cas_and_carry_forward(spark, tmp_path):
    db = str(tmp_path / "db")
    S.write_snapshot(spark, _table(spark, 10), f"{db}/a", key="k")
    S.write_snapshot(spark, _table(spark, 20), f"{db}/b", key="k")
    S.db_commit(db, {"a": 1, "b": 1})
    # partial update carries the unmentioned table forward
    S.write_snapshot(spark, _table(spark, 30), f"{db}/a", key="k")
    S.db_commit(db, {"a": 2})
    assert S.db_current(db) == {"a": 2, "b": 1}
    assert S.db_read(spark, db, "a").count() == 30
    assert S.db_read(spark, db, "b").count() == 20
    # stale CAS rejected
    with pytest.raises(S.SnapshotConflict):
        S.db_commit(db, {"a": 1}, expected_version=1)
    with pytest.raises(S.SnapshotVersionError):
        S.db_read(spark, db, "missing")


# ---------------------------------------------------------------------------
# change data feed
# ---------------------------------------------------------------------------

def test_snapshot_changes_classifies_ops(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")
    src = spark.range(10, 20).select(  # updates
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    ).union(
        spark.range(5000, 5005).select(  # inserts
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        )
    )
    S.upsert_snapshot(spark, src, root, "k")
    S.delete_snapshot(spark, spark.range(0, 5).select(F.col("id").alias("k")), root, "k")
    cdf = S.snapshot_changes(spark, root, 1).localCheckpoint()
    by_type = {r["_change_type"]: r["n"] for r in
               cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert by_type == {
        "insert": 5, "update_postimage": 10, "update_preimage": 10, "delete": 5,
    }
    # postimages carry the new values, preimages the old
    assert _rows(cdf.filter("_change_type = 'update_postimage'").select("v").distinct()) == [(-1,)]
    assert cdf.filter("_change_type = 'update_preimage'").filter("v = -1").count() == 0
    assert _rows(cdf.filter("_change_type = 'delete'").select("k")) == [
        (0,), (1,), (2,), (3,), (4,),
    ]
    # applying the feed to the old snapshot reproduces the new one
    old = S.read_snapshot(spark, root, version=1)
    applied = (
        old.join(cdf.filter(F.col("_change_type").isin("update_preimage", "delete"))
                 .select("k"), "k", "left_anti")
        .unionByName(cdf.filter(F.col("_change_type").isin("insert", "update_postimage"))
                     .drop("_change_type"))
    )
    assert _rows(applied) == _rows(S.read_snapshot(spark, root))


def test_snapshot_changes_compaction_invisible(spark, tmp_path):
    """Physical rewrites are not logical changes: a compaction between
    the two versions contributes ZERO rows to the feed."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 2000), root, key="k")
    S.compact_snapshot(spark, root, target_rows_per_file=2000)
    assert S.snapshot_changes(spark, root, 1).count() == 0
    # and a real change after the compaction is still fully reported
    src = spark.createDataFrame([(3, -1)], "k long, v long")
    S.upsert_snapshot(spark, src, root, "k")
    cdf = S.snapshot_changes(spark, root, 1)
    got = {r["_change_type"] for r in cdf.select("_change_type").distinct().collect()}
    assert got == {"update_preimage", "update_postimage"}
    assert cdf.count() == 2


def test_stat_cols_zone_map_on_non_key_column(spark, tmp_path):
    """A time-sorted table keyed by id still skips files on the ts
    zone map (stat_cols), and merges/compactions preserve it."""
    root = str(tmp_path / "t")
    df = spark.range(0, 40000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts"),
        F.lit(0).cast("long").alias("v"),
    )
    S.write_snapshot(spark, df, root, key="k", sort_by=["ts"], stat_cols=["ts"],
                     target_files=8)
    m = S._load_manifest(root, 1)
    assert m["stat_cols"] == ["ts"]
    pruned = [f for f in m["files"] if S._overlaps(f["stats"].get("ts"), 0, 5000)]
    assert len(pruned) < len(m["files"])
    got = S.read_snapshot(spark, root, key_between=("ts", 0, 5000))
    assert got.count() == 501
    # a merge rewrite keeps producing ts stats in the new files
    S.upsert_snapshot(spark, spark.createDataFrame([(1, 10, -1)], "k long, ts long, v long"), root, "k")
    m2 = S._load_manifest(root, 2)
    assert m2["stat_cols"] == ["ts"]
    assert all(f["stats"].get("ts") is not None for f in m2["files"])


# ---------------------------------------------------------------------------
# incremental replication via the change feed
# ---------------------------------------------------------------------------

def test_mirror_snapshot_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.write_snapshot(spark, _table(spark, 1000), src, key="k")
    # bootstrap: full copy, watermark = source version
    S.mirror_snapshot(spark, src, dst)
    assert _rows(S.read_snapshot(spark, dst)) == _rows(S.read_snapshot(spark, src))
    assert S.txn_version(dst, "mirror") == 1

    # source moves: updates + inserts + deletes across two versions
    S.upsert_snapshot(spark, spark.createDataFrame(
        [(10, -1), (5000, 7)], "k long, v long"), src, "k")
    S.delete_snapshot(spark, spark.range(0, 5).select(F.col("id").alias("k")), src, "k")
    S.mirror_snapshot(spark, src, dst)
    assert _rows(S.read_snapshot(spark, dst)) == _rows(S.read_snapshot(spark, src))
    assert S.txn_version(dst, "mirror") == 3

    # redelivery: a second mirror call is a pure no-op (same version)
    before = S.current_version(dst)
    S.mirror_snapshot(spark, src, dst)
    assert S.current_version(dst) == before

    # source compaction: empty feed, watermark-only advance, replica
    # content untouched
    S.compact_snapshot(spark, src, target_rows_per_file=1000)
    S.mirror_snapshot(spark, src, dst)
    assert S.txn_version(dst, "mirror") == 4
    assert _rows(S.read_snapshot(spark, dst)) == _rows(S.read_snapshot(spark, src))


def test_mirror_snapshot_crash_replay_exactly_once(spark, tmp_path, monkeypatch):
    """A crash AFTER the mirror's commit but before the caller observes
    it (the at-least-once failure mode) must not double-apply: the
    re-run sees the watermark and no-ops."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.write_snapshot(spark, _table(spark, 500), src, key="k")
    S.mirror_snapshot(spark, src, dst)
    S.upsert_snapshot(spark, spark.createDataFrame(
        [(7, -1)], "k long, v long"), src, "k")
    S.mirror_snapshot(spark, src, dst)
    want = _rows(S.read_snapshot(spark, dst))
    # replayed mirror of the already-applied delta
    S.mirror_snapshot(spark, src, dst)
    S.mirror_snapshot(spark, src, dst)
    assert _rows(S.read_snapshot(spark, dst)) == want
    assert S.read_snapshot(spark, dst).filter("v = -1").count() == 1


def test_upsert_after_full_takedown_resizes_sanely(spark, tmp_path):
    """An emptied table (0 files) has no rows-per-file granularity to
    inherit — the next merge must not degenerate into one file per
    batch row."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")
    S.delete_snapshot(spark, spark.range(0, 1000).select(F.col("id").alias("k")), root, "k")
    assert S._load_manifest(root, 2)["files"] == []
    S.upsert_snapshot(spark, _table(spark, 5000), root, "k")
    m = S._load_manifest(root, 3)
    assert 1 <= len(m["files"]) <= 64
    assert S.read_snapshot(spark, root).count() == 5000


def test_concurrent_create_race_merges_instead_of_overwriting(
    spark, tmp_path, monkeypatch
):
    """Two writers race to create the same table: the loser must RETRY
    AS A MERGE on the winner's rows, never overwrite them."""
    root = str(tmp_path / "t")
    real_commit = S._commit
    state = {"done": False}

    def commit_with_interloper(r, manifest, expected_parent):
        if not state["done"]:
            state["done"] = True
            monkeypatch.setattr(S, "_commit", real_commit)
            S.upsert_snapshot(  # the winner creates first
                spark,
                spark.createDataFrame([(1000, 99)], "k long, v long"),
                r, "k",
            )
            monkeypatch.setattr(S, "_commit", commit_with_interloper)
        return real_commit(r, manifest, expected_parent)

    monkeypatch.setattr(S, "_commit", commit_with_interloper)
    S.upsert_snapshot(spark, _table(spark, 10), root, "k")
    monkeypatch.setattr(S, "_commit", real_commit)
    got = S.read_snapshot(spark, root)
    assert got.count() == 11  # winner's row survived the loser's create
    assert got.filter("k = 1000 and v = 99").count() == 1


# ---------------------------------------------------------------------------
# snapshot-backed aggregate fold
# ---------------------------------------------------------------------------

def test_fold_snapshot_state_equals_single_pass(spark, tmp_path):
    root = str(tmp_path / "t")
    ev = spark.range(0, 10000).select(
        (F.col("id") % 300).alias("g"), (F.col("id") % 997).cast("double").alias("v")
    )
    specs = {"n": ("count", "*"), "s": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")}
    for m in range(3):
        S.fold_snapshot_state(
            spark, ev.filter(F.col("id") % 3 == m), root, "g", specs,
            txn=("fold", m),
        )
    # poisoned replay of the last batch: fenced, state unmoved
    before = S.current_version(root)
    S.fold_snapshot_state(
        spark, ev.limit(50).withColumn("v", F.lit(1e9)), root, "g", specs,
        txn=("fold", 2),
    )
    assert S.current_version(root) == before
    got = S.read_snapshot(spark, root).select(
        "g", "n", F.round("s", 6).alias("s"), "lo", "hi"
    )
    want = ev.groupBy("g").agg(
        F.count("*").alias("n"), F.round(F.sum("v"), 6).alias("s"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
    )
    assert _rows(got) == _rows(want)
    # time travel: the rollup AFTER batch 0 is still readable
    v1 = S.read_snapshot(spark, root, version=1)
    b0 = ev.filter(F.col("id") % 3 == 0)
    assert v1.agg(F.sum("n")).collect()[0][0] == b0.count()


def test_fold_snapshot_state_prunes_untouched_keys(spark, tmp_path):
    """A single-key trickle batch must rewrite only the file holding
    that key's row; every other rollup file carries by reference."""
    root = str(tmp_path / "t")
    ev = spark.range(0, 100000).select(
        (F.col("id") % 5000).alias("g"), F.lit(1.0).alias("v")
    )
    specs = {"n": ("count", "*"), "s": ("sum", "v")}
    S.fold_snapshot_state(spark, ev, root, "g", specs)
    m1 = S._load_manifest(root, 1)
    trickle = spark.createDataFrame([(42, 1.0)], "g long, v double")
    S.fold_snapshot_state(spark, trickle, root, "g", specs)
    m2 = S._load_manifest(root, 2)
    v1paths = {f["path"] for f in m1["files"]}
    carried = sum(1 for f in m2["files"] if f["path"] in v1paths)
    assert carried == len(m1["files"]) - 1
    got = S.read_snapshot(spark, root)
    assert got.filter("g = 42").collect()[0]["n"] == 21  # 20 + trickle
    assert got.filter("g = 41").collect()[0]["n"] == 20  # untouched


# ---------------------------------------------------------------------------
# retention delete + z-order compaction
# ---------------------------------------------------------------------------

def test_delete_where_range_drops_whole_files_without_reading(
    spark, tmp_path, monkeypatch
):
    """Files entirely inside the doomed range leave the manifest with
    ZERO data IO: only boundary files are read and rewritten."""
    root = str(tmp_path / "t")
    df = spark.range(0, 100000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts"),
        F.lit(0).cast("long").alias("v"),
    )
    S.write_snapshot(spark, df, root, key="k", sort_by=["ts"], stat_cols=["ts"],
                     target_files=8)
    m1 = S._load_manifest(root, 1)
    n_files = len(m1["files"])
    assert n_files >= 4
    # doom the oldest ~half: interior files drop, one boundary rewrites
    read_paths = []
    real = S._read_files

    def spy(spark_, root_, schema_, rels, renames=None):
        read_paths.extend(rels)
        return real(spark_, root_, schema_, rels, renames)

    monkeypatch.setattr(S, "_read_files", spy)
    S.delete_where_range(spark, root, "ts", 0, 450_000)
    monkeypatch.undo()
    assert len(read_paths) <= 2  # boundary file(s) only, never the table
    got = S.read_snapshot(spark, root)
    assert got.count() == 100000 - 45001
    assert got.agg(F.min("ts")).collect()[0][0] == 450_010
    m2 = S._load_manifest(root, 2)
    v1paths = {f["path"] for f in m1["files"]}
    carried = sum(1 for f in m2["files"] if f["path"] in v1paths)
    assert carried >= 1  # the young half carried by reference
    # idempotent redelivery via txn
    before = S.current_version(root)
    S.delete_where_range(spark, root, "ts", 0, 450_000, txn=("ret", 1))
    S.delete_where_range(spark, root, "ts", 0, 450_000, txn=("ret", 1))
    assert S.current_version(root) == before + 1


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    from nba_data_pipeline_spark.operators.layout import zorder_key

    root = str(tmp_path / "t")
    df = spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y"),
        F.col("id").alias("k"),
    )
    S.write_snapshot(spark, df, root, key="k")
    S.compact_snapshot(
        spark, root, target_rows_per_file=4096,
        order_by=[zorder_key("x", "y", bits=8)], extra_stat_cols=["x", "y"],
    )
    m = S._load_manifest(root, S.current_version(root))
    assert len(m["files"]) >= 8
    # Morton clustering: a narrow slice on EITHER dimension prunes files
    for col in ("x", "y"):
        hit = [f for f in m["files"] if S._overlaps(f["stats"].get(col), 10, 20)]
        assert len(hit) < len(m["files"]), col
    got = S.read_snapshot(spark, root, key_between=("x", 10, 20))
    assert got.count() == 11 * 256
    got = S.read_snapshot(spark, root, key_between=("y", 10, 20))
    assert got.count() == 11 * 256


# ---------------------------------------------------------------------------
# SQL surface + true concurrency
# ---------------------------------------------------------------------------

def test_register_db_views_consistent_sql(spark, tmp_path):
    db = str(tmp_path / "db")
    S.write_snapshot(spark, _table(spark, 100), f"{db}/docs", key="k")
    S.write_snapshot(
        spark, spark.createDataFrame([(0, 100)], "part int, n long"),
        f"{db}/stats", key="part",
    )
    S.db_commit(db, {"docs": 1, "stats": 1})
    # tables move individually but are NOT db-committed
    S.upsert_snapshot(spark, _table(spark, 500), f"{db}/docs", "k")
    pinned = S.register_db_views(spark, db, prefix="snap_")
    assert pinned == {"docs": 1, "stats": 1}
    row = spark.sql(
        "SELECT count(*) AS c, max(n) AS n FROM snap_docs CROSS JOIN snap_stats"
    ).collect()[0]
    assert row["c"] == 100 and row["n"] == 100  # consistent pinned pair
    with pytest.raises(S.SnapshotVersionError):
        S.register_db_views(spark, str(tmp_path / "nodb"))


def test_concurrent_writers_all_commit(spark, tmp_path):
    """Four real threads upsert disjoint key ranges concurrently: the
    link-CAS serializes them, retries absorb the conflicts, and every
    batch lands exactly once."""
    import threading

    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    errors = []

    def writer(i):
        try:
            src = spark.range(1000 * (i + 1), 1000 * (i + 1) + 50).select(
                F.col("id").alias("k"), F.lit(1000 + i).cast("long").alias("v")
            )
            S.upsert_snapshot(spark, src, root, "k", retries=10)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = S.read_snapshot(spark, root)
    assert got.count() == 100 + 4 * 50
    for i in range(4):
        assert got.filter(f"v = {1000 + i}").count() == 50
    assert S.current_version(root) == 5  # serialized: one commit each


def test_retention_flows_through_cdf_and_mirror(spark, tmp_path):
    """delete_where_range participates in the CDC contract: expired
    rows appear as deletes in the feed, and a mirror replicates the
    expiry."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts"),
        F.lit(0).cast("long").alias("v"),
    )
    S.write_snapshot(spark, df, src, key="k", sort_by=["ts"], stat_cols=["ts"])
    S.mirror_snapshot(spark, src, dst)
    S.delete_where_range(spark, src, "ts", 0, 9990)
    cdf = S.snapshot_changes(spark, src, 1)
    assert {r["_change_type"] for r in cdf.select("_change_type").distinct().collect()} == {"delete"}
    assert cdf.count() == 1000
    S.mirror_snapshot(spark, src, dst)
    assert _rows(S.read_snapshot(spark, dst)) == _rows(S.read_snapshot(spark, src))
    assert S.read_snapshot(spark, dst).count() == 4000


def test_vacuum_grace_period_spares_young_orphans(spark, tmp_path):
    """An unreferenced data file younger than the grace period may
    belong to a live writer mid-commit — default vacuum must NOT
    delete it; min_age_seconds=0 may."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    orphan = os.path.join(root, "data", "deadbeef-00000.parquet")
    m = S._load_manifest(root, 1)
    import shutil as _sh

    _sh.copy(os.path.join(root, m["files"][0]["path"]), orphan)
    stats = S.vacuum_snapshot(root, keep_last=1)  # default grace
    assert stats["data_files_removed"] == 0 and os.path.exists(orphan)
    stats = S.vacuum_snapshot(root, keep_last=1, min_age_seconds=0)
    assert stats["data_files_removed"] == 1 and not os.path.exists(orphan)


# ---------------------------------------------------------------------------
# review regressions: non-encodable key types, datetime pruning
# ---------------------------------------------------------------------------

def test_boolean_key_upsert_and_delete_correct(spark, tmp_path):
    """Keys whose values cannot be stat-encoded (bool) must disable
    pruning, not silently carry colliding files (which duplicated
    keys on read)."""
    root = str(tmp_path / "t")
    S.write_snapshot(
        spark, spark.createDataFrame([(True, 1), (False, 2)], "k boolean, v long"),
        root, key="k",
    )
    S.upsert_snapshot(
        spark, spark.createDataFrame([(True, 99)], "k boolean, v long"), root, "k"
    )
    got = S.read_snapshot(spark, root)
    assert got.count() == 2
    assert {(r.k, r.v) for r in got.collect()} == {(True, 99), (False, 2)}
    S.delete_snapshot(
        spark, spark.createDataFrame([(True,)], "k boolean"), root, "k"
    )
    assert _rows(S.read_snapshot(spark, root)) == [(False, 2)]


def test_decimal_key_table_writes_without_stats(spark, tmp_path):
    """pyarrow cannot extract stats for some types (decimal) — that is
    a stats gap (no pruning), never a write crash."""
    root = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").cast("decimal(10,0)").alias("k"), F.col("id").alias("v")
    )
    S.write_snapshot(spark, df, root, key="k")
    src = spark.range(0, 5).select(
        F.col("id").cast("decimal(10,0)").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    S.upsert_snapshot(spark, src, root, "k")
    got = S.read_snapshot(spark, root)
    assert got.count() == 100 and got.filter("v = -1").count() == 5


def test_keyless_mirror_full_refresh(spark, tmp_path):
    """A keyless source cannot mirror by delta — the second pull must
    fall back to an atomic full refresh, not crash."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.write_snapshot(spark, _table(spark, 100).select("v"), src)
    S.mirror_snapshot(spark, src, dst)
    S.write_snapshot(spark, _table(spark, 300).select("v"), src)
    S.mirror_snapshot(spark, src, dst)
    assert S.read_snapshot(spark, dst).count() == 300
    assert S.txn_version(dst, "mirror") == 2


def test_datetime_key_between_actually_prunes(spark, tmp_path):
    """Zone-map stats for timestamps are isoformat strings — a raw
    datetime bound must be encoded the same way, or pruning silently
    degrades to a full-manifest scan."""
    import datetime as dt

    root = str(tmp_path / "t")
    df = spark.range(0, 40000).select(
        F.col("id").alias("k"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id"))).alias("ts"),
    )
    S.write_snapshot(spark, df, root, key="k", sort_by=["ts"], stat_cols=["ts"],
                     target_files=8)
    m = S._load_manifest(root, 1)
    lo = dt.datetime(2024, 1, 1, 0, 10, 0)
    hi = dt.datetime(2024, 1, 1, 0, 20, 0)
    survivors = [
        f for f in m["files"]
        if S._overlaps(f["stats"].get("ts"), S._stat_value(lo), S._stat_value(hi))
    ]
    assert len(survivors) < len(m["files"])  # stats CAN prune this
    got = S.read_snapshot(spark, root, key_between=("ts", lo, hi))
    assert got.count() == 601


# ---------------------------------------------------------------------------
# ADVICE r13 regressions
# ---------------------------------------------------------------------------

def test_timestamp_stats_naive_and_boundary_equality(spark, tmp_path):
    """ADVICE r13 (high): pyarrow footer stats are tz-aware while
    caller/Spark bounds are naive; at wall-clock equality the string
    compare spuriously pruned boundary files. Stats must encode naive
    UTC, and key_between with hi == a file's min ts must keep that
    file's matching rows."""
    import datetime as dt

    root = str(tmp_path / "t")
    df = spark.range(0, 40000).select(
        F.col("id").alias("k"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id"))).alias("ts"),
    )
    S.write_snapshot(spark, df, root, key="k", sort_by=["ts"], stat_cols=["ts"],
                     target_files=8)
    m = S._load_manifest(root, 1)
    assert len(m["files"]) > 1
    for f in m["files"]:
        st = f["stats"]["ts"]
        assert "+" not in st["min"] and "+" not in st["max"]
    # hi exactly equal to the SECOND file's min timestamp: the buggy
    # encoding pruned that file, dropping the row equal to hi
    boundary = sorted(f["stats"]["ts"]["min"] for f in m["files"])[1]
    hi = dt.datetime.fromisoformat(boundary)
    lo = dt.datetime(2024, 1, 1, 0, 0, 0)
    got = S.read_snapshot(spark, root, key_between=("ts", lo, hi)).count()
    want = df.filter(F.col("ts").between(F.lit(lo), F.lit(hi))).count()
    assert got == want
    # retention at an exact horizon: delete ts <= boundary must drop
    # exactly the rows the full-scan filter says, incl. the boundary row
    S.delete_where_range(spark, root, "ts", lo, hi)
    left = S.read_snapshot(spark, root)
    assert left.count() == 40000 - want
    assert left.filter(F.col("ts") <= F.lit(hi)).count() == 0


def test_timestamp_keyed_upsert_boundary_no_duplicates(spark, tmp_path):
    """Boundary-equality in _split_by_overlap: a batch whose key equals
    a file's min/max timestamp must rewrite that file, not carry it
    (carrying => duplicate keys after the merge)."""
    import datetime as dt

    root = str(tmp_path / "t")
    base = spark.range(0, 20000).select(
        (F.lit("2024-03-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id"))).alias("ts"),
        F.lit(1).alias("v"),
    )
    S.write_snapshot(spark, base, root, key="ts", sort_by=["ts"], target_files=8)
    m = S._load_manifest(root, 1)
    boundary = sorted(f["stats"]["ts"]["min"] for f in m["files"])[1]
    hit = dt.datetime.fromisoformat(boundary)
    batch = spark.createDataFrame([(hit, 99)], "ts timestamp, v int")
    S.upsert_snapshot(spark, batch, root, key="ts")
    got = S.read_snapshot(spark, root)
    assert got.count() == 20000  # no duplicate key
    assert got.filter(F.col("ts") == F.lit(hit)).collect()[0]["v"] == 99


def test_stream_upsert_snapshot_requires_checkpoint(spark, tmp_path):
    """ADVICE r13 (medium): a temp checkpoint restarts epoch_id at 0 and
    the prior run's (app_id, epoch) fence silently drops every batch —
    reject checkpoint_dir=None up front."""
    from nba_data_pipeline_spark.streaming.sink import stream_upsert_snapshot

    src = str(tmp_path / "src")
    _table(spark, 10).write.parquet(src)
    stream = spark.readStream.schema("k bigint, v bigint").parquet(src)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        stream_upsert_snapshot(stream, str(tmp_path / "t"), "k", "app1")


def test_vacuum_respects_db_manifest_pins(spark, tmp_path):
    """ADVICE r13 (low): vacuum with db_root keeps table versions a
    retained db manifest still pins, so db-level time travel survives
    member-table vacuum."""
    db = str(tmp_path / "db")
    root = os.path.join(db, "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")          # t v1
    S.db_commit(db, {"t": 1})                                           # db v1
    for i in range(2, 6):                                               # t v2..v5
        S.upsert_snapshot(
            spark,
            spark.createDataFrame([(1, 100 + i)], "k bigint, v bigint"),
            root, key="k",
        )
    S.db_commit(db, {"t": 5})                                           # db v2
    stats = S.vacuum_snapshot(root, keep_last=1, min_age_seconds=0, db_root=db)
    assert stats["manifests_removed"] > 0
    # db v1 pins t v1 — must still be readable through the db layer
    assert S.db_read(spark, db, "t", db_version=1).count() == 100
    assert S.db_read(spark, db, "t").count() == 100
    # versions pinned by NO retained db manifest are gone
    with pytest.raises(S.SnapshotVersionError):
        S.read_snapshot(spark, root, version=3)


def test_micros_conf_bracket_refcounts(spark):
    """ADVICE r13 (low): overlapping staging writes share one
    set/restore pair — the conf holds MICROS while any bracket is
    open and restores the pre-existing value only at depth zero."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        with S._micros_timestamps(spark):
            assert spark.conf.get(key) == "TIMESTAMP_MICROS"
            with S._micros_timestamps(spark):
                assert spark.conf.get(key) == "TIMESTAMP_MICROS"
            # inner exit must NOT restore while the outer is in flight
            assert spark.conf.get(key) == "TIMESTAMP_MICROS"
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------------------
# write-time CDF sidecars (VERDICT r13 task #3)
# ---------------------------------------------------------------------------

def _strip_cdf(root):
    """Remove every manifest's write-time cdf info so snapshot_changes
    is forced onto the endpoint-diff fallback (pre-upgrade manifests)."""
    import json as _json

    mdir = os.path.join(root, "_manifests")
    for name in os.listdir(mdir):
        if not name.endswith(".json"):
            continue
        p = os.path.join(mdir, name)
        with open(p) as fh:
            m = _json.load(fh)
        m.pop("cdf", None)
        with open(p, "w") as fh:
            _json.dump(m, fh)


def _feed_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cdf_fast_path_matches_fallback_on_spread_merge(spark, tmp_path):
    """A spread merge (every file touched) records its changes at write
    time; the fast-path feed must equal the endpoint-diff fallback
    row-for-row."""
    import shutil as _sh

    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 20000), root, key="k")
    spread = spark.range(0, 20000, 7).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )  # every 7th key: overlaps every file
    S.upsert_snapshot(spark, spread, root, key="k")
    S.delete_snapshot(
        spark, spark.range(0, 20000, 13).select(F.col("id").alias("k")),
        root, "k",
    )
    m = S._load_manifest(root, 2)
    assert m["cdf"]["mode"] == "files" and m["cdf"]["files"]
    fast = _feed_rows(S.snapshot_changes(spark, root, 1))
    # clone the table and strip cdf info -> same API takes the fallback
    clone = str(tmp_path / "clone")
    _sh.copytree(root, clone)
    _strip_cdf(clone)
    slow = _feed_rows(S.snapshot_changes(spark, clone, 1))
    assert fast == slow and len(fast) > 0


def test_cdf_multi_step_nets_intermediate_states(spark, tmp_path):
    """updated-then-reverted and inserted-then-deleted keys must vanish
    from a feed spanning both commits; updated-then-deleted must report
    ONE delete with the ORIGINAL value."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    S.write_snapshot(spark, base, root, key="k")
    # v2: update k=1 -> 99, k=2 -> 99, insert k=4
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, 99), (2, 99), (4, 40)], "k long, v long"),
        root, "k",
    )
    # v3: revert k=1 to 10, delete k=2 and k=4
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, 10)], "k long, v long"), root, "k"
    )
    S.delete_snapshot(
        spark, spark.createDataFrame([(2,), (4,)], "k long"), root, "k"
    )
    feed = _feed_rows(S.snapshot_changes(spark, root, 1))
    # k=1 reverted -> absent; k=4 insert+delete -> absent;
    # k=2 updated then deleted -> one delete with the v1 value
    assert feed == [(2, 20, "delete")]


def test_cdf_compaction_commit_reads_nothing(spark, tmp_path):
    """A feed spanning only physical rewrites must return empty WITHOUT
    scanning any data file (the recorded empty change set is trusted)."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 10000), root, key="k")
    S.compact_snapshot(spark, root, target_rows_per_file=2500)
    reads = []
    orig = S._read_files

    def spy(spark_, root_, schema_, rels_, renames=None):
        reads.append(list(rels_))
        return orig(spark_, root_, schema_, rels_, renames)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(S, "_read_files", spy)
        feed = S.snapshot_changes(spark, root, 1, 2)
        assert feed.count() == 0
    finally:
        mp.undo()
    assert reads == []  # fast path never touched a data file


def test_cdf_sidecars_survive_vacuum_and_are_invisible_to_reads(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 5000), root, key="k")
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1), (2, -2)], "k long, v long"),
        root, "k",
    )
    assert S.read_snapshot(spark, root).count() == 5000  # cdf files not scanned
    S.vacuum_snapshot(root, keep_last=2, min_age_seconds=0)
    feed = S.snapshot_changes(spark, root, 1, 2)
    got = {(r.k, r.v, r._change_type) for r in feed.collect()}
    assert got == {(1, 1 * 2, "update_preimage"), (2, 4, "update_preimage"),
                   (1, -1, "update_postimage"), (2, -2, "update_postimage")}
    # vacuum past the horizon removes the cdf files with their version
    S.upsert_snapshot(
        spark, spark.createDataFrame([(3, -3)], "k long, v long"), root, "k"
    )
    S.vacuum_snapshot(root, keep_last=1, min_age_seconds=0)
    leftover = [f for f in os.listdir(os.path.join(root, "data"))
                if f.startswith("cdf-")]
    m = S._load_manifest(root, S.current_version(root))
    kept = {os.path.basename(e["path"]) for e in m["cdf"]["files"]}
    assert set(leftover) == kept


def test_cdf_chain_with_range_delete_falls_back_correctly(spark, tmp_path):
    """delete_where_range records no write-time CDF (it never reads the
    dropped files); a feed spanning it must take the endpoint diff and
    still be exact."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 8000), root, key="k", sort_by=["k"])
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1)], "k long, v long"), root, "k"
    )
    S.delete_where_range(spark, root, "k", 4000, 7999)
    feed = S.snapshot_changes(spark, root, 1)
    got = {(r.k, r.v, r._change_type) for r in feed.collect()}
    want = {(1, 2, "update_preimage"), (1, -1, "update_postimage")}
    want |= {(k, k * 2, "delete") for k in range(4000, 8000)}
    assert got == want


def test_cdf_disabled_table_skips_sidecars_and_falls_back(spark, tmp_path):
    """cdf=False at create: merges stage no change files (no write
    amplification), the property inherits across commits, and
    snapshot_changes still answers exactly via the endpoint diff."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 5000), root, key="k", cdf=False)
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1)], "k long, v long"), root, "k"
    )
    S.delete_snapshot(spark, spark.createDataFrame([(2,)], "k long"), root, "k")
    for v in (2, 3):
        m = S._load_manifest(root, v)
        assert "cdf" not in m and m["cdf_enabled"] is False
    assert not any(
        f.startswith("cdf-") for f in os.listdir(os.path.join(root, "data"))
    )
    feed = {(r.k, r.v, r._change_type)
            for r in S.snapshot_changes(spark, root, 1).collect()}
    assert feed == {(1, 2, "update_preimage"), (1, -1, "update_postimage"),
                    (2, 4, "delete")}


# ---------------------------------------------------------------------------
# schema evolution beyond ADD COLUMN (VERDICT r13 task #6)
# ---------------------------------------------------------------------------

def test_type_widening_on_merge(spark, tmp_path):
    """A source typed wider than the table (int->long here in both
    directions, float->double) widens the table schema; old narrow
    files read back through the parquet reader's promotion."""
    root = str(tmp_path / "t")
    narrow = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).cast("float").alias("v"),
    )
    S.write_snapshot(spark, narrow, root, key="k")
    wide_batch = spark.createDataFrame(
        [(5_000_000_000, 1.5), (1, -1.0)], "k long, v double"
    )
    S.upsert_snapshot(spark, wide_batch, root, "k")
    got = S.read_snapshot(spark, root)
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema.fields) == {
        "k": "bigint", "v": "double"
    }
    assert got.count() == 1001
    assert got.filter(F.col("k") == 5_000_000_000).count() == 1
    assert got.filter(F.col("k") == 1).collect()[0].v == -1.0
    # a NARROW source into the widened table upcasts silently (lossless)
    S.upsert_snapshot(
        spark,
        spark.createDataFrame([(2, 7.0)], "k int, v float"),
        root, "k",
    )
    assert S.read_snapshot(spark, root).filter("k = 2").collect()[0].v == 7.0
    # incompatible change (string into numeric) still raises
    with pytest.raises(ValueError, match="schema conflict"):
        S.upsert_snapshot(
            spark, spark.createDataFrame([(3, "x")], "k long, v string"), root, "k"
        )


def test_rename_column_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 20000), root, key="k")
    files_before = {f["path"] for f in S._load_manifest(root, 1)["files"]}
    S.rename_snapshot_column(root, "v", "value")
    m = S._load_manifest(root, 2)
    assert {f["path"] for f in m["files"]} == files_before  # no data touched
    got = S.read_snapshot(spark, root)
    assert got.columns == ["k", "value"]
    assert got.filter("value = 20").collect()[0].k == 10
    # merges keep working across the rename boundary; new files carry
    # the new physical name, old files coalesce through the alias
    S.upsert_snapshot(
        spark, spark.createDataFrame([(10, -1), (30000, 1)], "k long, value long"),
        root, "k",
    )
    got = S.read_snapshot(spark, root)
    assert got.count() == 20001
    assert got.filter("k = 10").collect()[0].value == -1
    assert got.filter("k = 11").collect()[0].value == 22
    # renaming a KEY column updates the key + pruning keeps working
    S.rename_snapshot_column(root, "k", "pk")
    m = S._load_manifest(root, S.current_version(root))
    assert m["key"] == ["pk"]
    assert S.read_snapshot(
        spark, root, key_between=("pk", 100, 110)
    ).count() == 11
    # time travel to the pre-rename version still serves old names
    assert S.read_snapshot(spark, root, version=1).columns == ["k", "v"]


def test_rename_collision_and_retired_name_guards(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    with pytest.raises(ValueError, match="live column"):
        S.rename_snapshot_column(root, "v", "k")
    S.rename_snapshot_column(root, "v", "value")
    with pytest.raises(ValueError, match="not a column"):
        S.rename_snapshot_column(root, "v", "w")
    with pytest.raises(ValueError, match="retired"):
        S.rename_snapshot_column(root, "value", "v")  # old name retired
    # a merge reintroducing the retired physical name is rejected
    with pytest.raises(ValueError, match="retired"):
        S.upsert_snapshot(
            spark,
            spark.createDataFrame([(1, 1, 9)], "k long, value long, v long"),
            root, "k",
        )
    # compaction rewrites every file with current names -> name frees up
    S.compact_snapshot(spark, root, target_rows_per_file=1000)
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, 1, 9)], "k long, value long, v long"),
        root, "k",
    )
    got = S.read_snapshot(spark, root)
    assert got.filter("k = 1").collect()[0].v == 9
    assert got.filter("k = 2").collect()[0].v is None


def test_drop_column_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _table(spark, 5000).withColumn("extra", F.col("k") + 100)
    S.write_snapshot(spark, df, root, key="k")
    files_before = {f["path"] for f in S._load_manifest(root, 1)["files"]}
    S.drop_snapshot_column(root, "extra")
    m = S._load_manifest(root, 2)
    assert {f["path"] for f in m["files"]} == files_before
    got = S.read_snapshot(spark, root)
    assert got.columns == ["k", "v"]
    with pytest.raises(ValueError, match="key column"):
        S.drop_snapshot_column(root, "k")
    # stale physical values cannot resurface under the dropped name
    with pytest.raises(ValueError, match="retired"):
        S.upsert_snapshot(
            spark,
            spark.createDataFrame([(1, 1, 1)], "k long, v long, extra long"),
            root, "k",
        )
    # time travel still sees the dropped column
    assert "extra" in S.read_snapshot(spark, root, version=1).columns


def test_rename_then_cdf_feed_uses_current_names(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 1000), root, key="k")
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1)], "k long, v long"), root, "k"
    )
    S.rename_snapshot_column(root, "v", "value")
    S.upsert_snapshot(
        spark, spark.createDataFrame([(2, -2)], "k long, value long"), root, "k"
    )
    feed = S.snapshot_changes(spark, root, 1)
    assert set(feed.columns) == {"k", "value", "_change_type"}
    got = {(r.k, r.value, r._change_type) for r in feed.collect()}
    assert got == {(1, 2, "update_preimage"), (1, -1, "update_postimage"),
                   (2, 4, "update_preimage"), (2, -2, "update_postimage")}


def test_append_then_rename_cdf_feed_uses_current_names(spark, tmp_path):
    """ADVICE r14 (medium): an add_only commit (NEW keys only) followed
    by a rename inside the feed window must read those appended files
    with the ENDPOINT's renames map — step i's map lacks the alias, so
    the renamed column read back NULL for exactly the insert rows."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    # pure append of brand-new keys -> cdf mode=add_only
    S.upsert_snapshot(
        spark,
        spark.createDataFrame([(5001, 7), (5002, 8)], "k long, v long"),
        root, "k",
    )
    assert S._load_manifest(root, 2)["cdf"] == {"mode": "add_only"}
    S.rename_snapshot_column(root, "v", "value")
    feed = S.snapshot_changes(spark, root, 1)
    got = {(r.k, r.value, r._change_type) for r in feed.collect()}
    assert got == {(5001, 7, "insert"), (5002, 8, "insert")}
    # and the maintainers built on the feed see the value too
    assert None not in {r.value for r in feed.collect()}


def test_cdf_feed_survives_vacuumed_intermediate_manifest(spark, tmp_path):
    """ADVICE r14 (low): db-pinned vacuum can retain non-contiguous
    versions. A feed between two retained endpoints must fall back to
    the endpoint diff when an intermediate manifest is gone, not raise
    SnapshotVersionError out of the fast-path chain load."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 200), root, key="k")
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1)], "k long, v long"), root, "k"
    )
    S.upsert_snapshot(
        spark, spark.createDataFrame([(2, -2)], "k long, v long"), root, "k"
    )
    # simulate the pinned-endpoints retention shape: v2's manifest gone
    os.remove(S._manifest_path(root, 2))
    feed = S.snapshot_changes(spark, root, 1, 3)
    got = {(r.k, r.v, r._change_type) for r in feed.collect()}
    assert got == {(1, 2, "update_preimage"), (1, -1, "update_postimage"),
                   (2, 4, "update_preimage"), (2, -2, "update_postimage")}


def test_cdf_across_overwrite_pins_endpoint_diff(spark, tmp_path):
    """VERDICT r14 task #7 (pinned behavior): an overwrite records
    mode=full_rewrite — a feed spanning it materializes old-vs-new via
    the endpoint diff (correct keyed deltas, intermediates invisible)
    instead of trusting absent write-time info."""
    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")          # v1
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1)], "k long, v long"), root, "k"
    )                                                                    # v2 (sidecar)
    # overwrite: drop k=0..9, re-value k=10..99, add k=500
    new = (
        spark.range(10, 100).selectExpr("id as k", "id * 3 as v")
        .unionByName(spark.createDataFrame([(500, 9)], "k long, v long"))
    )
    S.write_snapshot(spark, new, root, key="k")                          # v3
    assert S._load_manifest(root, 3)["cdf"] == {"mode": "full_rewrite"}
    S.upsert_snapshot(
        spark, spark.createDataFrame([(500, 10)], "k long, v long"), root, "k"
    )                                                                    # v4
    feed = S.snapshot_changes(spark, root, 1, 4)
    got = {(r.k, r.v, r._change_type) for r in feed.collect()}
    # endpoint semantics: v1 -> v4 keyed diff (k=1's v2 value -1 and
    # k=500's intermediate value 9 are invisible)
    assert (0, 0, "delete") in got and (1, 2, "delete") in got
    assert (1, -1, "delete") not in got  # intermediate state invisible
    assert (20, 40, "update_preimage") in got
    assert (20, 60, "update_postimage") in got
    assert (500, 10, "insert") in got and (500, 9, "insert") not in got
    deletes = {k for (k, _, t) in got if t == "delete"}
    assert deletes == set(range(10))


def test_non_utc_session_timestamp_stats_fail_loud(spark, tmp_path):
    """ADVICE r14 (low): naive-vs-footer timestamp bound comparisons
    are only sound on a UTC session; staging stats under another zone
    must raise instead of silently mis-pruning."""
    import datetime as _dt

    root = str(tmp_path / "t")
    rows = [(_dt.datetime(2024, 1, 1, 12, 0, i), i) for i in range(5)]
    df = spark.createDataFrame(rows, "ts timestamp, v long")
    S.upsert_snapshot(spark, df, root, "ts")  # create path: footer stats only
    batch = spark.createDataFrame(
        [(_dt.datetime(2024, 1, 1, 12, 0, 1), -1)], "ts timestamp, v long"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # merge path collects naive batch bounds -> must refuse to
        # compare them against the UTC footer stats
        with pytest.raises(RuntimeError, match="timeZone"):
            S.upsert_snapshot(spark, batch, root, "ts")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # UTC session: same merge goes through, and key_between reads prune
    S.upsert_snapshot(spark, batch, root, "ts")
    got = S.read_snapshot(
        spark, root,
        key_between=("ts", _dt.datetime(2024, 1, 1, 12, 0, 1),
                     _dt.datetime(2024, 1, 1, 12, 0, 2)),
    )
    assert got.count() == 2
    # non-UTC read with datetime bounds also fails loud
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="timeZone"):
            S.read_snapshot(
                spark, root,
                key_between=("ts", _dt.datetime(2024, 1, 1), _dt.datetime(2024, 1, 2)),
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# ---------------------------------------------------------------------------
# multi-PROCESS concurrency (VERDICT r13 task #4)
# ---------------------------------------------------------------------------

def _mp_db_writer(args):
    """Child-process body: advance one table's pin M times through
    db_commit's CAS+retry loop. Pure filesystem — no Spark needed."""
    db, table, rounds = args
    import sys

    sys.path.insert(0, "/root/repo")
    from nba_data_pipeline_spark.sinks import snapshot as SS

    for v in range(1, rounds + 1):
        for attempt in range(200):
            try:
                SS.db_commit(db, {table: v})
                break
            except SS.SnapshotConflict:
                continue
        else:
            return f"{table} v{v}: starved"
    return None


def test_db_commit_multiprocess_no_lost_pins(spark, tmp_path):
    """The link-CAS is fs-atomic, so fully independent PROCESSES (not
    just threads) racing db commits must never roll back each other's
    pins: after 6 writers x 8 rounds every table pin reads its final
    version and the db version count equals the total commit count."""
    import multiprocessing as mp

    db = str(tmp_path / "db")
    os.makedirs(db)
    tables = [f"t{i}" for i in range(6)]
    rounds = 8
    with mp.get_context("spawn").Pool(6) as pool:
        errs = [e for e in pool.map(
            _mp_db_writer, [(db, t, rounds) for t in tables]
        ) if e]
    assert errs == []
    pinned = S.db_current(db)
    assert pinned == {t: rounds for t in tables}
    # every commit won a distinct version: nothing was silently absorbed
    assert S.current_version(db) == len(tables) * rounds
    # carry-forward held at every step: each table's pin is monotone
    hist = S.db_history(db)
    last = {}
    for h in hist:
        for t, v in h["tables"].items():
            assert v >= last.get(t, 0), (t, h)
            last[t] = v


def test_mirror_converges_while_source_commits(spark, tmp_path):
    """A replica pulling WHILE the source commits must never error or
    apply a torn delta: every mirror pass lands on SOME committed
    source version (fenced by (mirror_id, src_v)), and a final pass
    after the writer stops converges replica == source."""
    import threading

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.write_snapshot(spark, _table(spark, 2000), src, key="k")
    stop = threading.Event()
    errs = []

    def writer():
        try:
            for i in range(1, 9):
                batch = spark.createDataFrame(
                    [(int(k), -i) for k in range(i * 10, i * 10 + 5)],
                    "k long, v long",
                )
                S.upsert_snapshot(spark, batch, src, "k")
        except Exception as e:  # noqa: BLE001
            errs.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=writer)
    t.start()
    try:
        while not stop.is_set():
            S.mirror_snapshot(spark, src, dst)
    finally:
        t.join()
    assert errs == []
    S.mirror_snapshot(spark, src, dst)  # final catch-up
    assert _rows(S.read_snapshot(spark, dst)) == _rows(S.read_snapshot(spark, src))


# ---------------------------------------------------------------------------
# incremental materialized aggregate view (refresh_agg_view)
# ---------------------------------------------------------------------------

def _view_rows(spark, dst):
    df = S.read_snapshot(spark, dst)
    pub = [c for c in df.columns if not c.startswith("_")]
    return _rows(df.select(*pub))


def _direct_agg(src_df):
    return _rows(
        src_df.groupBy("g").agg(
            F.sum("x").alias("sx"),
            F.count("x").alias("cx"),
            F.count("*").alias("n"),
        )
    )


def test_refresh_agg_view_tracks_source_through_mutations(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("g"),
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.col("id")).alias("x"),
    )
    S.write_snapshot(spark, base, src, key="k")
    specs = {"sx": ("sum", "x"), "cx": ("count", "x"), "n": ("count_rows", "*")}
    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert _view_rows(spark, dst) == _direct_agg(S.read_snapshot(spark, src))
    # updates (move rows between groups implicitly via x change), inserts,
    # deletes — including wiping group g=6 entirely
    S.upsert_snapshot(
        spark,
        spark.createDataFrame([(1, 1, 999), (9000, 3, 50)], "k long, g long, x long"),
        src, "k",
    )
    S.delete_snapshot(
        spark, spark.range(0, 3000).filter(F.col("id") % 7 == 6)
        .select(F.col("id").alias("k")), src, "k",
    )
    S.refresh_agg_view(spark, src, dst, "g", specs)
    want = _direct_agg(S.read_snapshot(spark, src))
    assert _view_rows(spark, dst) == want
    assert not any(r[0] == 6 for r in _view_rows(spark, dst))  # group gone
    # replayed refresh (same source version): visible no-op
    v = S.current_version(dst)
    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert S.current_version(dst) == v
    assert _view_rows(spark, dst) == want


def test_refresh_agg_view_across_retention_delete(spark, tmp_path):
    """An agg view refreshed across a delete_where_range on its source:
    the range-delete's lazy mode=delete_range feed keeps the refresh on
    the fast chain, its synthesized delete pre-images retract sums and
    counts, and a min/max whose extreme was in the doomed range goes
    through the dirty-group recompute — the view lands exactly where a
    from-scratch aggregation of the surviving source does."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        F.col("id").alias("x"),
    )
    S.write_snapshot(spark, base, src, key="k")
    specs = {
        "sx": ("sum", "x"), "n": ("count_rows", "*"),
        "mn": ("min", "x"), "mx": ("max", "x"),
    }
    S.refresh_agg_view(spark, src, dst, "g", specs)
    # retention: drop k in [1500, 1999] — every group loses its max
    S.delete_where_range(spark, src, "k", 1500, 1999)
    assert S._load_manifest(src, 2)["cdf"]["mode"] == "delete_range"
    S.refresh_agg_view(spark, src, dst, "g", specs)
    want = _rows(
        S.read_snapshot(spark, src).groupBy("g").agg(
            F.sum("x").alias("sx"), F.count("*").alias("n"),
            F.min("x").alias("mn"), F.max("x").alias("mx"),
        )
    )
    assert _view_rows(spark, dst) == want


def test_refresh_agg_view_sum_retracts_to_null(spark, tmp_path):
    """When every non-null contribution of a group's sum retracts, the
    stored sum must return to NULL (SUM over no rows), not 0."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.write_snapshot(
        spark,
        spark.createDataFrame(
            [(1, 10, 5), (2, 10, None), (3, 20, 7)], "k long, g long, x long"
        ),
        src, key="k",
    )
    specs = {"sx": ("sum", "x"), "n": ("count_rows", "*")}
    S.refresh_agg_view(spark, src, dst, "g", specs)
    # retract the only non-null x of group 10 (k=1); k=2 (null x) stays
    S.delete_snapshot(spark, spark.createDataFrame([(1,)], "k long"), src, "k")
    S.refresh_agg_view(spark, src, dst, "g", specs)
    got = {r.g: (r.sx, r.n) for r in S.read_snapshot(spark, dst).collect()}
    assert got == {10: (None, 1), 20: (7, 1)}


def test_refresh_agg_view_rejects_unknown_kind(spark, tmp_path):
    with pytest.raises(ValueError, match="not\\s+supported"):
        S.refresh_agg_view(
            spark, str(tmp_path / "s"), str(tmp_path / "d"), "g",
            {"m": ("avg", "x")},
        )


def test_refresh_agg_view_min_max_touched_group_recompute(spark, tmp_path):
    """min/max maintenance (VERDICT r14 task #5): inserts fold
    monotonically; a retraction hitting a group's current extreme
    recomputes ONLY that group from the source. Waves: insert-only
    (pure fold), delete-of-min (recompute), delete-of-tied-min (value
    survives), update moving the max, group wipe, NULL column values."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    rows = [
        # g=1: x in {1, 1, 5} (tied min); g=2: {10, 20}; g=3: {None, 7}
        (1, 1, 1), (2, 1, 1), (3, 1, 5),
        (4, 2, 10), (5, 2, 20),
        (6, 3, None), (7, 3, 7),
    ]
    S.write_snapshot(
        spark, spark.createDataFrame(rows, "k long, g long, x long"), src, key="k"
    )
    specs = {
        "mn": ("min", "x"), "mx": ("max", "x"),
        "sx": ("sum", "x"), "n": ("count_rows", "*"),
    }

    def want():
        return _rows(
            S.read_snapshot(spark, src).groupBy("g").agg(
                F.min("x").alias("mn"), F.max("x").alias("mx"),
                F.sum("x").alias("sx"), F.count("*").alias("n"),
            )
        )

    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert _view_rows(spark, dst) == want()
    # wave 1: insert-only — the fold path, no recompute needed
    S.upsert_snapshot(
        spark, spark.createDataFrame([(8, 2, 5), (9, 4, 42)], "k long, g long, x long"),
        src, "k",
    )
    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert _view_rows(spark, dst) == want()
    # wave 2: delete one of g=1's tied minima (min must SURVIVE via the
    # recompute), delete g=2's max (max must drop to 10 vs the new 5)
    S.delete_snapshot(
        spark, spark.createDataFrame([(1,), (5,)], "k long"), src, "k"
    )
    S.refresh_agg_view(spark, src, dst, "g", specs)
    got = {r[0]: r for r in _view_rows(spark, dst)}
    assert got[1][1] == 1  # tied min survives the retraction
    assert got[2][2] == 10  # max recomputed past the deleted 20
    assert _view_rows(spark, dst) == want()
    # wave 3: update that moves a max (preimage retracted + postimage)
    S.upsert_snapshot(
        spark, spark.createDataFrame([(3, 1, 2)], "k long, g long, x long"),
        src, "k",
    )
    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert _view_rows(spark, dst) == want()
    # wave 4: wipe a whole group + retract the non-null x of g=3
    S.delete_snapshot(
        spark, spark.createDataFrame([(9,), (7,)], "k long"), src, "k"
    )
    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert _view_rows(spark, dst) == want()
    got = {r[0]: r for r in _view_rows(spark, dst)}
    assert 4 not in got                      # wiped group left the view
    assert got[3][1] is None and got[3][2] is None  # all-NULL extremes
    # replay: visible no-op
    v = S.current_version(dst)
    S.refresh_agg_view(spark, src, dst, "g", specs)
    assert S.current_version(dst) == v


# ---------------------------------------------------------------------------
# row-wise derived table maintenance (refresh_derived_snapshot)
# ---------------------------------------------------------------------------

def test_refresh_derived_snapshot_filter_project(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")

    def tf(df):
        return df.filter(F.col("v") % 2 == 0).select(
            "k", "v", (F.col("v") * 10).alias("v10")
        )

    S.write_snapshot(spark, _table(spark, 2000), src, key="k")  # v = 2k, all even
    S.refresh_derived_snapshot(spark, src, dst, tf)
    assert S.read_snapshot(spark, dst).count() == 2000
    # update k=1 to odd (leaves the filter), k=2 stays even with new
    # value, insert k=9000 odd (never enters), k=9001 even (enters),
    # delete k=3
    S.upsert_snapshot(
        spark,
        spark.createDataFrame(
            [(1, 7), (2, 100), (9000, 5), (9001, 8)], "k long, v long"
        ),
        src, "k",
    )
    S.delete_snapshot(spark, spark.createDataFrame([(3,)], "k long"), src, "k")
    S.refresh_derived_snapshot(spark, src, dst, tf)
    want = _rows(tf(S.read_snapshot(spark, src)))
    got = _rows(S.read_snapshot(spark, dst))
    assert got == want
    gotmap = {r[0]: r for r in got}
    assert 1 not in gotmap and 3 not in gotmap and 9000 not in gotmap
    assert gotmap[2] == (2, 100, 1000) and gotmap[9001] == (9001, 8, 80)
    # replayed refresh: visible no-op
    v = S.current_version(dst)
    S.refresh_derived_snapshot(spark, src, dst, tf)
    assert S.current_version(dst) == v


def test_refresh_derived_snapshot_guards(spark, tmp_path):
    src = str(tmp_path / "src")
    S.write_snapshot(spark, _table(spark, 10), src, key="k")
    with pytest.raises(ValueError, match="key column"):
        S.refresh_derived_snapshot(
            spark, src, str(tmp_path / "d1"), lambda df: df.select("v")
        )
    keyless = str(tmp_path / "kless")
    S.write_snapshot(spark, _table(spark, 10), keyless)
    with pytest.raises(ValueError, match="KEYED source"):
        S.refresh_derived_snapshot(
            spark, keyless, str(tmp_path / "d2"), lambda df: df
        )


# ---------------------------------------------------------------------------
# CDC materialization on the snapshot format (cdc_apply_snapshot)
# ---------------------------------------------------------------------------

def test_cdc_apply_snapshot_out_of_order_and_replay(spark, tmp_path):
    root = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, op string, seq long, v long"
    )
    # bootstrap state via the first batch (create-on-first-write)
    S.cdc_apply_snapshot(
        spark, mk([(1, "I", 1, 10), (2, "I", 1, 20), (3, "I", 1, 30)]),
        root, "k", "seq",
    )
    # batch with LATER changes arrives first: update k=1, delete k=2
    b_late = mk([(1, "U", 5, 111), (2, "D", 5, 0)])
    S.cdc_apply_snapshot(spark, b_late, root, "k", "seq")
    # out-of-order batch with LOWER seqs: must ALL lose (including the
    # resurrection attempt against the tombstone)
    S.cdc_apply_snapshot(
        spark, mk([(1, "U", 3, 999), (2, "U", 4, 888), (4, "I", 2, 40)]),
        root, "k", "seq",
    )
    got = {(r.k, r.v) for r in S.read_cdc_state(spark, root).collect()}
    assert got == {(1, 111), (3, 30), (4, 40)}
    # replayed batch: same seqs tie into the same values — no-op
    v = S.current_version(root)
    S.cdc_apply_snapshot(spark, b_late, root, "k", "seq")
    got2 = {(r.k, r.v) for r in S.read_cdc_state(spark, root).collect()}
    assert got2 == got
    # tombstone is still fenced at seq 5; time travel sees old state
    assert S.read_cdc_state(spark, root, version=1).count() == 3
    assert S.read_snapshot(spark, root).filter("k = 2").collect()[0]._deleted
    assert v == S.current_version(root) - 1  # replay committed one version


def test_cdc_apply_snapshot_matches_bucketed_variant(spark, tmp_path):
    """Same log through both CDC state backends -> identical live view."""
    from nba_data_pipeline_spark.operators.incremental import (
        cdc_apply_table,
        read_cdc_snapshot,
    )

    log1 = spark.range(0, 500).select(
        F.col("id").alias("k"), F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("seq"), (F.col("id") * 2).alias("v"),
    )
    log2 = spark.range(0, 500, 3).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 6 == 0, "D").otherwise("U").alias("op"),
        F.lit(2).cast("long").alias("seq"), F.lit(-1).cast("long").alias("v"),
    )
    snap_root = str(tmp_path / "snap")
    swap_root = str(tmp_path / "swap")
    for log in (log1, log2):
        S.cdc_apply_snapshot(spark, log, snap_root, "k", "seq")
        cdc_apply_table(spark, log, swap_root, ["k"], "seq", n_buckets=8)
    a = _rows(S.read_cdc_state(spark, snap_root))
    b = _rows(read_cdc_snapshot(spark, swap_root).select("k", "v"))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# db-level replication (mirror_db)
# ---------------------------------------------------------------------------

def test_mirror_db_replicates_consistent_pins(spark, tmp_path):
    """mirror_db copies every member table AT the source db manifest's
    pinned version — a member advanced past its pin must NOT leak into
    the replica — and the replica's db view is committed atomically."""
    src_db = str(tmp_path / "src")
    dst_db = str(tmp_path / "dst")
    S.write_snapshot(spark, _table(spark, 100), f"{src_db}/a", key="k")
    S.write_snapshot(spark, _table(spark, 200), f"{src_db}/b", key="k")
    S.db_commit(src_db, {"a": 1, "b": 1})
    # member 'a' advances PAST the db pin (uncommitted at db level)
    S.upsert_snapshot(
        spark, spark.createDataFrame([(1, -1)], "k long, v long"),
        f"{src_db}/a", "k",
    )
    pins = S.mirror_db(spark, src_db, dst_db)
    assert set(pins) == {"a", "b"}
    assert S.db_read(spark, dst_db, "a").filter("v = -1").count() == 0  # pin!
    assert S.db_read(spark, dst_db, "b").count() == 200
    # advance the db, mirror incrementally: only the delta moves
    S.db_commit(src_db, {"a": 2})
    S.mirror_db(spark, src_db, dst_db)
    assert S.db_read(spark, dst_db, "a").filter("v = -1").count() == 1
    assert _rows(S.db_read(spark, dst_db, "a")) == _rows(
        S.db_read(spark, src_db, "a")
    )
    # replayed db mirror: member fences no-op, pins unchanged, and NO
    # new db version is committed (no churn on a cron-driven mirror)
    before = S.db_current(dst_db)
    before_v = S.current_version(dst_db)
    S.mirror_db(spark, src_db, dst_db)
    assert S.db_current(dst_db) == before
    assert S.current_version(dst_db) == before_v


def _mp_table_writer(args):
    """Child-process body: its own SparkSession, N upserts on an
    assigned key stripe through the optimistic-CAS merge loop."""
    root, stripe, rounds = args
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "2"
    from nba_data_pipeline_spark.core.session import get_session
    from nba_data_pipeline_spark.sinks import snapshot as SS

    spark = get_session(f"mp_writer_{stripe}")
    try:
        for i in range(rounds):
            batch = spark.createDataFrame(
                [((stripe + 1) * 1000 + j, (i + 1) * 100 + stripe)
                 for j in range(20)],
                "k long, v long",
            )
            SS.upsert_snapshot(
                spark, batch, root, "k", retries=30,
                txn=(f"w{stripe}", i + 1),
            )
        return None
    except Exception as e:  # noqa: BLE001
        return f"writer{stripe}: {e}"
    finally:
        spark.stop()


@pytest.mark.slow  # r17: >18s; deselected by the default profile (driver budget), still run via -m slow at round close
def test_multiprocess_table_writers_all_commit(spark, tmp_path):
    """Fully independent PROCESSES (each with its OWN SparkSession)
    racing copy-on-write merges on one snapshot table: the link-CAS +
    retry loop must serialize them with no lost batches — every
    stripe's final values present, txn watermarks all at their final
    round, row count exact."""
    import multiprocessing as mp

    root = str(tmp_path / "t")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    stripes, rounds = 3, 3
    with mp.get_context("spawn").Pool(stripes) as pool:
        errs = [e for e in pool.map(
            _mp_table_writer, [(root, s, rounds) for s in range(stripes)]
        ) if e]
    assert errs == []
    got = S.read_snapshot(spark, root)
    assert got.count() == 100 + stripes * 20
    for s in range(stripes):
        vals = {r.v for r in got.filter(
            (F.col("k") >= (s + 1) * 1000) & (F.col("k") < (s + 1) * 1000 + 20)
        ).collect()}
        assert vals == {rounds * 100 + s}  # last round's values, none lost
        assert S.txn_version(root, f"w{s}") == rounds
    # every commit won a distinct version (1 create + stripes*rounds merges)
    assert S.current_version(root) == 1 + stripes * rounds


def test_empty_batch_fast_path_fires_across_schema_drift(spark, tmp_path, monkeypatch):
    """r17: the empty-batch fast path must fire even though a merged
    table's manifest schema is all-nullable and key-first while a fresh
    pipeline batch carries non-null fields in pipeline order — the r16
    strict StructType equality never matched after the first real
    merge, so every idempotent replay staged an empty parquet dir."""
    import nba_data_pipeline_spark.sinks.snapshot as snap
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    base = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    snap.write_snapshot(spark, base, root, key=["id"])
    # one real merge: manifest schema becomes the combined frame's
    extra = spark.range(10, 14).select(F.col("id"), (F.col("id") * 2).alias("v"))
    snap.upsert_snapshot(spark, extra, root, key="id")
    v_before = snap.current_version(root)
    files_before = snap._load_manifest(root, v_before)["files"]

    staged = []
    orig_stage = snap._stage_files
    monkeypatch.setattr(
        snap, "_stage_files", lambda *a, **k: staged.append(1) or orig_stage(*a, **k)
    )
    # empty batch, pipeline-style schema: non-null id (range output),
    # different column order than the manifest's
    empty = (
        spark.range(0).select((F.col("id") * 2).alias("v"), F.col("id"))
        .select("v", "id")
    )
    v_after = snap.upsert_snapshot(spark, empty, root, key="id")
    assert staged == [], "empty replay staged files — fast path did not fire"
    assert v_after == v_before + 1
    man = snap._load_manifest(root, v_after)
    assert man["files"] == files_before  # carried verbatim
    got = sorted(map(tuple, snap.read_snapshot(spark, root).collect()))
    assert got == [(i, i * 2) for i in range(14)]


def test_empty_batch_schema_drift_still_blocks_real_evolution(spark, tmp_path, monkeypatch):
    """A zero-row batch with a NEW column must still take the general
    path (schema evolution is real even with no rows)."""
    import nba_data_pipeline_spark.sinks.snapshot as snap
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    snap.write_snapshot(
        spark, spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root, key=["id"],
    )
    empty_extra = spark.range(0).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("x").alias("w")
    )
    snap.upsert_snapshot(spark, empty_extra, root, key="id")
    assert "w" in snap.read_snapshot(spark, root).columns


# ---------------------------------------------------------------------------
# exact-prune key typing and fenced replays
# ---------------------------------------------------------------------------

def _two_file_table(spark, root, rows, ddl):
    S.write_snapshot(spark, spark.createDataFrame(rows, ddl), root, key="k", target_files=2)
    assert len(S._load_manifest(root, 1)["files"]) == 2


def test_int_batch_into_bigint_table_refines_with_table_key_type(spark, tmp_path):
    """The exact file prune types its range table with the TABLE's key
    type: a bigint file range beyond the int domain cannot be held in
    the batch's int type (it raised VALUE_OUT_OF_BOUNDS), and the merge
    must widen the batch instead."""
    root = str(tmp_path / "t")
    big = [(1, 0), (2, 0), (2_000_000_000, 0), (6_000_000_000, 0)]
    _two_file_table(spark, root, big, "k bigint, v int")
    batch = spark.createDataFrame([(1, 9), (2_147_483_647, 9)], "k int, v int")
    S.upsert_snapshot(spark, batch, root, "k")
    got = S.read_snapshot(spark, root)
    assert dict(got.dtypes)["k"] == "bigint"
    assert _rows(got) == [
        (1, 9), (2, 0), (2_000_000_000, 0), (2_147_483_647, 9), (6_000_000_000, 0)
    ]


def test_non_widening_key_type_conflict_still_raises(spark, tmp_path):
    """A key typed outside the table's widening family skips the exact
    prune and reaches the schema alignment, which rejects it."""
    root = str(tmp_path / "t")
    _two_file_table(spark, root, [("a", 0), ("b", 0), ("y", 0), ("z", 0)], "k string, v int")
    batch = spark.createDataFrame([(1, 9), (2, 9)], "k int, v int")
    with pytest.raises(ValueError, match="upsert schema conflict"):
        S.upsert_snapshot(spark, batch, root, "k")
    assert S.current_version(root) == 1


def test_fenced_replays_run_no_spark_jobs(spark, tmp_path):
    """An already-applied txn is fenced before anything is
    materialized: replays of every fenced entry point launch 0 jobs."""
    import uuid

    root, dst = str(tmp_path / "t"), str(tmp_path / "m")
    S.write_snapshot(spark, _table(spark, 100), root, key="k")
    batch = spark.createDataFrame([(1, -1)], "k long, v long")
    doomed = spark.createDataFrame([(2,)], "k long")
    S.upsert_snapshot(spark, batch, root, "k", txn=("app", 1))
    S.delete_snapshot(spark, doomed, root, "k", txn=("app", 2))
    S.delete_where_range(spark, root, "k", 50, 59, txn=("app", 3))
    S.mirror_snapshot(spark, root, dst)
    v_src, v_dst = S.current_version(root), S.current_version(dst)

    sc = spark.sparkContext
    group = f"fenced-replay-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fenced replays")
    try:
        assert S.upsert_snapshot(spark, batch, root, "k", txn=("app", 1)) == v_src
        assert S.delete_snapshot(spark, doomed, root, "k", txn=("app", 2)) == v_src
        assert S.delete_where_range(spark, root, "k", 50, 59, txn=("app", 3)) == v_src
        assert S.mirror_snapshot(spark, root, dst) == v_dst
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert S.current_version(root) == v_src and S.current_version(dst) == v_dst
