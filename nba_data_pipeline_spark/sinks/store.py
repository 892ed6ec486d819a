"""Format-dispatching storage facade: one upsert/read/exists surface
over the two table backends — swap-protocol hive tables
(``sinks/writer.py``) and manifest-committed snapshot tables
(``sinks/snapshot.py``).

The reference's pipelines treat Postgres as the system of record: every
table gets transactional upserts, consistent reads, and survives a
crashed loader (``database/db_client.py:37-92`` ON CONFLICT upserts
inside one connection). The snapshot format is this engine's equivalent
guarantee set (atomic link-CAS commits, snapshot-isolated readers, time
travel, CDF), so the CLI defaults the six reference pipeline tables to
it; the swap format remains for bucketed ingest state where per-bucket
layout beats manifest bookkeeping.

Format resolution is STICKY: an existing table's on-disk format always
wins (a snapshot table is recognizable by its ``_manifests/`` version
files), and asking for the OTHER format on an existing table raises
instead of silently forking two tables under one path — the failure
mode this facade exists to prevent.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from . import snapshot as snap
from . import writer

FORMATS = ("swap", "snapshot")


def is_snapshot_table(path: str) -> bool:
    """True iff ``path`` holds at least one committed snapshot manifest.
    A bare ``_manifests`` dir (crashed writer that never linked v1) is
    NOT a snapshot table — nothing was ever committed."""
    return snap.current_version(path) > 0


def detect_format(path: str) -> str | None:
    """On-disk format of the table at ``path``: ``"snapshot"``,
    ``"swap"``, or None when nothing committed/written exists yet."""
    if is_snapshot_table(path):
        return "snapshot"
    if writer.table_exists(path):
        return "swap"
    return None


def _resolve(path: str, fmt: str | None, default: str) -> str:
    if fmt is not None and fmt not in FORMATS:
        raise ValueError(f"unknown table format {fmt!r}; expected one of {FORMATS}")
    on_disk = detect_format(path)
    if on_disk is None:
        return fmt or default
    if fmt is not None and fmt != on_disk:
        raise ValueError(
            f"table at {path} is on-disk format {on_disk!r} but "
            f"format={fmt!r} was requested; formats cannot be mixed "
            "under one path (migrate_to_snapshot copies a swap table "
            "into a new snapshot root)"
        )
    return on_disk


def store_exists(path: str) -> bool:
    return detect_format(path) is not None


def txn_applied(path: str, txn: tuple[str, int] | None) -> bool:
    """True iff the table at ``path`` already committed ``txn`` (or a
    later version of its app): a write under it would be a no-op.
    Reads only the manifest, so a caller can skip a replayed batch
    before any Spark job. False for ``txn=None`` and for swap or
    absent tables, which have no transaction watermark."""
    return snap._txn_already_applied(path, txn)


def read_store(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Read a table regardless of backend. Snapshot reads are always at
    the current committed version (manifest schema covers evolution, so
    ``merge_schema`` only applies to the swap backend)."""
    if is_snapshot_table(path):
        return snap.read_snapshot(spark, path)
    return writer.read_table(spark, path, merge_schema=merge_schema)


def upsert_store(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    partition_by: Sequence[str] = (),
    fmt: str | None = None,
    default: str = "swap",
    txn: tuple[str, int] | None = None,
    cdf: bool = True,
) -> None:
    """MERGE through whichever backend owns ``path`` (create on first
    write in ``fmt`` or ``default``). The snapshot backend sorts new
    files by the key so footer-stat pruning keeps later point merges
    O(touched files); ``partition_by`` is a swap-layout concept and is
    ignored there (zone maps replace hive dirs as the pruning
    structure). ``txn`` (app_id, version) rides through to the snapshot
    commit for idempotent replays; the swap backend has no fence and
    rejects it loudly rather than silently dropping the guarantee.
    ``cdf`` sets the snapshot write-time change-file property when THIS
    call creates the table (existing tables keep theirs)."""
    _dispatch(
        snap.upsert_snapshot, writer.upsert_table,
        spark, source, path, key, partition_by, fmt, default, txn, cdf,
    )


def migrate_to_snapshot(
    spark: SparkSession,
    swap_path: str,
    snapshot_root: str,
    key: str | Sequence[str],
    sort_by: Sequence[str] = (),
    stat_cols: Sequence[str] = (),
    cdf: bool = False,
) -> int:
    """One-shot swap -> snapshot migration: heal any crashed partition
    swaps, read the hive table, and commit it as version 1 of a fresh
    key-sorted snapshot table (the original is left untouched; point
    writers at the new root when ready). Refuses to overwrite an
    existing table at the destination — a migration must never
    silently replace live data.

    ``cdf`` defaults OFF (VERDICT r14 task #4): a v1 bootstrap has no
    delta consumers yet, and the write-time sidecar is a measured
    ~1.7x merge tax (4.2s vs 2.5s per sf0.1 merge) that bulk backfill
    merges right after a migration would pay for change files nobody
    reads. Flip it on once consumers exist: one overwrite commit with
    ``write_snapshot(..., cdf=True)`` resets the property."""
    src_fmt = detect_format(swap_path)
    if src_fmt != "swap":
        raise ValueError(
            f"migrate_to_snapshot source {swap_path} is "
            f"{src_fmt or 'absent'}, expected a swap table"
        )
    if detect_format(snapshot_root) is not None:
        raise ValueError(
            f"migration destination {snapshot_root} already holds a "
            f"{detect_format(snapshot_root)} table; pick a fresh root"
        )
    writer.heal_partition_swaps(swap_path)
    df = writer.read_table(spark, swap_path, merge_schema=True)
    # hive partition columns materialize as data columns in the
    # snapshot (zone maps take over the pruning job)
    return snap.write_snapshot(
        spark, df, snapshot_root, key=key, sort_by=sort_by,
        stat_cols=stat_cols, cdf=cdf,
    )


def insert_ignore_store(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    partition_by: Sequence[str] = (),
    fmt: str | None = None,
    default: str = "swap",
    txn: tuple[str, int] | None = None,
    cdf: bool = True,
) -> None:
    """ON CONFLICT DO NOTHING through whichever backend owns ``path``."""
    _dispatch(
        snap.insert_ignore_snapshot, writer.insert_ignore_table,
        spark, source, path, key, partition_by, fmt, default, txn, cdf,
    )


def _dispatch(
    snapshot_op, swap_op, spark, source, path, key, partition_by, fmt, default, txn, cdf,
) -> None:
    """Resolve the backend of ``path`` and run the write there. The
    swap backend has no transaction watermark, so it rejects ``txn``
    loudly rather than silently dropping the guarantee."""
    if _resolve(path, fmt, default) == "snapshot":
        keys = [key] if isinstance(key, str) else list(key)
        snapshot_op(spark, source, path, keys, txn=txn, cdf=cdf)
        return
    if txn is not None:
        raise ValueError(
            "txn fencing requires format='snapshot'; the swap backend "
            "has no transaction watermark"
        )
    swap_op(spark, source, path, key, partition_by)
