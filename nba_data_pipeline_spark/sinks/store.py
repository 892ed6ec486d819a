"""Storage facade for keyed writes: one upsert/insert-ignore/read/exists
surface whose only write backend is the manifest-committed snapshot
table (``sinks/snapshot.py``).

The reference's pipelines treat Postgres as the system of record: every
table gets transactional upserts, consistent reads, and survives a
crashed loader (``database/db_client.py:37-92`` ON CONFLICT upserts
inside one connection). The snapshot format is this engine's equivalent
guarantee set (atomic link-CAS commits, snapshot-isolated readers, time
travel, CDF, the ``txn`` replay fence), so every keyed MERGE — the CLI's
pipeline tables, the streaming state writer, CDC apply, the streaming
upsert sink — commits through it, and a fresh root always becomes a
snapshot table.

Legacy swap-protocol hive tables (``sinks/writer.py``) stay READABLE
(``read_store``, ``detect_format``, ``store_exists``) and migratable
(``migrate_to_snapshot``), but a keyed write into one raises before any
Spark job instead of forking a second format under one path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from . import snapshot as snap
from . import writer

def is_snapshot_table(path: str) -> bool:
    """True iff ``path`` holds at least one committed snapshot manifest.
    A bare ``_manifests`` dir (crashed writer that never linked v1) is
    NOT a snapshot table — nothing was ever committed."""
    return snap.current_version(path) > 0


def _is_swap_table(path: str) -> bool:
    return not is_snapshot_table(path) and writer.table_exists(path)


def detect_format(path: str) -> str | None:
    """On-disk format of the table at ``path``: ``"snapshot"``, the
    legacy swap writer's ``writer.FORMAT``, or None when nothing
    committed/written exists yet."""
    if is_snapshot_table(path):
        return "snapshot"
    if writer.table_exists(path):
        return writer.FORMAT
    return None


def require_snapshot(path: str, *fmts: str | None) -> None:
    """Refuse a keyed write that would not commit a snapshot table:
    a requested format other than None/``"snapshot"``, or a legacy
    swap table already at ``path``. Filesystem probes only, so every
    writer calls it before its first Spark job."""
    for fmt in fmts:
        if fmt not in (None, "snapshot"):
            raise ValueError(
                f"unknown table format {fmt!r}; keyed writes commit only "
                "snapshot tables (pass None or 'snapshot')"
            )
    if _is_swap_table(path):
        raise ValueError(
            f"table at {path} is a legacy swap table; keyed writes commit "
            "only snapshot tables — migrate_to_snapshot it into a fresh "
            "root and point the writer there"
        )


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
    ``merge_schema`` only applies to legacy swap tables)."""
    if is_snapshot_table(path):
        return snap.read_snapshot(spark, path)
    return writer.read_table(spark, path, merge_schema=merge_schema)


def upsert_store(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    fmt: str | None = None,
    default: str | None = None,
    txn: tuple[str, int] | None = None,
    cdf: bool = True,
) -> None:
    """MERGE ``source`` into the snapshot table at ``path`` (created on
    first write). New files are sorted by the key so footer-stat
    pruning keeps later point merges O(touched files). ``fmt`` and
    ``default`` accept only None/``"snapshot"``: the snapshot table is
    the one backend. ``txn`` (app_id, version) rides through to the
    commit for idempotent replays. ``cdf`` sets the write-time
    change-file property when THIS call creates the table (existing
    tables keep theirs)."""
    _write(snap.upsert_snapshot, spark, source, path, key, fmt, default, txn, cdf)


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
    if not _is_swap_table(swap_path):
        raise ValueError(
            f"migrate_to_snapshot source {swap_path} is "
            f"{detect_format(swap_path) or 'absent'}, expected a swap table"
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
    fmt: str | None = None,
    default: str | None = None,
    txn: tuple[str, int] | None = None,
    cdf: bool = True,
) -> None:
    """ON CONFLICT DO NOTHING into the snapshot table at ``path``."""
    _write(
        snap.insert_ignore_snapshot, spark, source, path, key, fmt, default, txn, cdf
    )


def _write(op, spark, source, path, key, fmt, default, txn, cdf) -> None:
    require_snapshot(path, fmt, default)
    keys = [key] if isinstance(key, str) else list(key)
    op(spark, source, path, keys, txn=txn, cdf=cdf)
