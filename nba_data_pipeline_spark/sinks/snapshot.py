"""Manifest-committed snapshot tables: atomic multi-file commits,
time travel, file-granular copy-on-write merges.

The swap-protocol state tables (``sinks/writer.py``) mutate partition
directories in place, which forced three rounds of crash-window
engineering (heal, WAL journal, staged renames). This module is the
lakehouse answer to the same problem — the public Delta Lake /
Iceberg commit design re-expressed over plain parquet + JSON:

* **Data files are immutable.** Every write lands new uniquely-named
  parquet files under ``data/``; nothing is ever renamed or rewritten
  in place.
* **A snapshot is a manifest**, ``_manifests/v%08d.json``: the list of
  live data files plus per-file row counts and key-column min/max
  stats harvested from the parquet footers.
* **Commit is one atomic ``os.link``** of a fully-written temp file to
  the next version slot. ``link`` fails with ``EEXIST`` if the slot is
  taken, so it doubles as the optimistic-concurrency CAS: exactly one
  writer wins a version; losers see ``SnapshotConflict`` and recompute
  against the new current (Delta's commit protocol, retried merge).
  There is NO crash window: before the link nothing is visible, after
  it the commit is complete. Readers never need a heal pass.
* **Merges are copy-on-write at file granularity.** An upsert/delete
  rewrites only the data files whose key-range stats overlap the
  batch; every other file is carried into the new manifest by
  reference — zero data movement for untouched files, and the table
  stays readable at the PREVIOUS version throughout (snapshot
  isolation: a long-running reader pinned to v7 is unaffected by the
  v8 commit).
* **Time travel / rollback / vacuum**: any retained version is
  readable; ``rollback_snapshot`` commits a new version that restores
  an old file list (history preserved, like Delta RESTORE);
  ``vacuum_snapshot`` drops expired manifests and unreferenced data
  files (including orphans from crashed writes).

Every retried commit runs through one loop, ``_commit_loop``: txn
fence (an already-applied ``(app_id, version)`` returns at once) →
read the base version → ``build(base, manifest)`` stages files and
returns the new manifest (always via ``_manifest``) → CAS ``_commit``
against the base → on ``SnapshotConflict`` recompute from the new base,
up to ``retries`` times. Staged files of a lost attempt are orphans
that vacuum reclaims.

Scale notes (the 100 TB story): a manifest holds one small dict per
data file — O(file count), not O(rows) — and commit cost is O(1)
regardless of table size, vs the swap protocol's O(touched
directories) rename loop. File-stat pruning gives the same skipping a
Delta reader gets from its transaction log: ``read_snapshot``'s
``key_between`` drops non-overlapping files BEFORE Spark plans the
scan, so a point/range lookup on a key-sorted table reads O(1) files.
At very large file counts the JSON manifest itself would graduate to
parquet (Iceberg's avro manifest lists); the format keeps that
evolution open by storing only relative paths.

When to choose which backend: the swap tables win when readers can
tolerate eventual layout (single-writer pipelines, hash-bucketed
state with huge file counts per bucket); snapshot tables win when
concurrent readers, audit/time-travel, or multi-table atomicity
matter. Reference parity: the reference's sqlite writer gets
snapshot isolation for free from sqlite's WAL (database/db_client.py);
this module is that guarantee rebuilt for a distributed object store.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import secrets
import shutil
import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..core.data import empty_frame, local_frame
from ..operators.incremental import insert_ignore, merge_upsert
from .writer import _align_schemas

_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")


class SnapshotConflict(RuntimeError):
    """Another writer committed the version this writer raced for."""


class SnapshotVersionError(KeyError):
    """Requested version does not exist (never committed, or vacuumed)."""


# ---------------------------------------------------------------------------
# manifest plumbing
# ---------------------------------------------------------------------------

def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_manifest_dir(root), f"v{version:08d}.json")


def _list_versions(root: str) -> list[int]:
    d = _manifest_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _load_manifest(root: str, version: int) -> dict:
    try:
        with open(_manifest_path(root, version)) as fh:
            m = json.load(fh)
    except FileNotFoundError:
        raise SnapshotVersionError(
            f"snapshot v{version} does not exist at {root} (never committed or vacuumed)"
        ) from None
    # normalize file stats to CURRENT column names (rename evolution is
    # metadata-only, so files written pre-rename keep their physical
    # name in the footer stats; rewriting the keys here — in memory,
    # never on disk — keeps every pruning site rename-oblivious)
    renames = m.get("renames")
    if renames:
        for f in m["files"]:
            stats = f.get("stats") or {}
            for cur, alts in renames.items():
                if cur not in stats:
                    for a in alts:
                        if a in stats:
                            # copy, don't move: a rollback to a
                            # pre-rename file list may still prune
                            # under the historical name
                            stats[cur] = stats[a]
                            break
    return m


def current_version(root: str) -> int:
    """Highest committed version; 0 means the table does not exist yet.
    A manifest is complete the instant it appears (the link happens
    after the temp file is fully written + fsynced), so max() IS the
    committed state — no pointer file, no heal."""
    versions = _list_versions(root)
    return versions[-1] if versions else 0


def txn_version(root: str, app_id: str) -> int | None:
    """Highest transaction version committed for ``app_id`` (None if the
    app never wrote). A restarted writer resumes from here instead of
    trusting an external checkpoint."""
    cur = current_version(root)
    if cur == 0:
        return None
    return _load_manifest(root, cur).get("txns", {}).get(app_id)


def _txn_already_applied(root: str, txn: tuple[str, int] | None) -> bool:
    """True iff this (app_id, version) — or a later one — already
    committed: the replayed micro-batch must be a visible no-op. The
    check re-runs inside the CAS retry loop, so a racing writer cannot
    double-apply."""
    if txn is None:
        return False
    app_id, version = txn
    last = txn_version(root, app_id)
    return last is not None and last >= version


def snapshot_history(root: str) -> list[dict]:
    """One row per retained version: version, parent, op, files, rows."""
    out = []
    for v in _list_versions(root):
        m = _load_manifest(root, v)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "op": m["op"],
                "n_files": len(m["files"]),
                "rows": m["rows"],
            }
        )
    return out


def _commit(root: str, manifest: dict, expected_parent: int | None) -> int:
    """Atomically commit ``manifest`` as the next version.

    CAS protocol: write the full JSON to a temp name, fsync, then
    ``os.link`` it to ``v{N+1}.json``. link(2) is atomic and fails
    with EEXIST when the slot is taken — the loser never half-commits.
    ``expected_parent`` (when given) additionally rejects a commit
    whose base snapshot is stale even if the version slot happens to
    be free (the ABA case after a vacuum)."""
    cur = current_version(root)
    if expected_parent is not None and cur != expected_parent:
        raise SnapshotConflict(
            f"snapshot at {root} moved to v{cur} (writer based on v{expected_parent})"
        )
    version = cur + 1
    # carry the per-application transaction watermarks forward (Delta's
    # txnAppId/txnVersion idempotent-writes design): every commit
    # inherits its parent's map and overlays its own txn, so the fence
    # survives unrelated commits, compaction, and rollback
    parent = _load_manifest(root, cur) if cur else {}
    txns = {**parent.get("txns", {}), **manifest.get("txns", {})}
    manifest = dict(manifest, version=version, parent=cur, txns=txns)
    # table properties inherit from the parent unless the commit sets
    # them (cdf_enabled: whether merges stage write-time change files;
    # renames/dropped: the schema-evolution name history)
    for prop in ("cdf_enabled", "renames", "dropped"):
        if prop not in manifest and prop in parent:
            manifest[prop] = parent[prop]
    mdir = _manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{secrets.token_hex(8)}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _manifest_path(root, version))
    except FileExistsError:
        raise SnapshotConflict(
            f"lost commit race for v{version} at {root}"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def _manifest(
    base: dict, op: str, files: list[dict], txn: tuple[str, int] | None = None,
    **fields,
) -> dict:
    """The one manifest shape: ``key``, ``stat_cols`` and ``schema``
    inherit from ``base`` unless ``fields`` override them, ``rows`` is
    summed from ``files``, and ``txn`` becomes this commit's ``txns``
    entry (``_commit`` overlays it on the parent's watermarks)."""
    m = {
        "op": op,
        "key": base.get("key") or [],
        "stat_cols": base.get("stat_cols", []),
        "schema": base.get("schema"),
        **fields,
        "files": files,
        "rows": sum(f["rows"] for f in files),
    }
    if txn is not None:
        m["txns"] = {txn[0]: txn[1]}
    return m


def _carry_forward(base: dict, op: str, txn: tuple[str, int] | None = None, **fields) -> dict:
    """A commit that changes no rows: every file carries by reference
    and only the watermark (and ``op``) moves. Records an empty change
    set on CDF tables, so a feed across it skips the commit."""
    if base.get("cdf_enabled", True):
        fields.setdefault("cdf", {"mode": "files", "files": []})
    return _manifest(base, op, base["files"], txn=txn, **fields)


def _commit_loop(root: str, build, txn: tuple[str, int] | None = None, retries: int = 2) -> int:
    """The commit protocol, once: txn fence → base version → ``build(base,
    base_manifest)`` (``{}`` when the table does not exist) → CAS
    ``_commit`` against the base → on ``SnapshotConflict`` recompute
    from the new base, raising after ``retries`` retries. ``build`` may
    raise to abort; a lost attempt's staged files are vacuum orphans."""
    for attempt in range(retries + 1):
        if _txn_already_applied(root, txn):
            return current_version(root)
        base = current_version(root)
        manifest = build(base, _load_manifest(root, base) if base else {})
        try:
            return _commit(root, manifest, base)
        except SnapshotConflict:
            if attempt == retries:
                raise
    raise AssertionError("unreachable")


# ---------------------------------------------------------------------------
# data-file staging + footer stats
# ---------------------------------------------------------------------------

_TS_CONF_LOCK = threading.Lock()
_TS_CONF_STATE: dict[int, list] = {}  # id(session) -> [depth, prev_value]


@contextlib.contextmanager
def _micros_timestamps(sess: SparkSession):
    """Hold spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS for
    the duration, refcounted per session: overlapping brackets from
    concurrent writers share one set/restore pair, so a restore can
    never interleave into another writer's in-flight stage write."""
    key = "spark.sql.parquet.outputTimestampType"
    sid = id(sess)
    with _TS_CONF_LOCK:
        st = _TS_CONF_STATE.get(sid)
        if st is None:
            try:
                prev = sess.conf.get(key)
            except Exception:  # noqa: BLE001
                prev = None
            sess.conf.set(key, "TIMESTAMP_MICROS")
            _TS_CONF_STATE[sid] = [1, prev]
        else:
            st[0] += 1
    try:
        yield
    finally:
        with _TS_CONF_LOCK:
            st = _TS_CONF_STATE[sid]
            st[0] -= 1
            if st[0] == 0:
                del _TS_CONF_STATE[sid]
                prev = st[1]
                if prev is None:
                    sess.conf.unset(key)
                elif prev != "TIMESTAMP_MICROS":
                    sess.conf.set(key, prev)


_UTC_ZONES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00"})


def _require_utc_session(spark: SparkSession) -> None:
    """Timestamp zone-map stats are only sound on a UTC session.
    ``_stat_value`` normalizes tz-aware parquet-footer bounds to naive
    UTC, while Spark renders collected naive datetimes in
    ``spark.sql.session.timeZone`` — the two are comparable only when
    that zone IS UTC (the project session factory pins it,
    core/session.py). Any other zone would skew min/max comparisons
    and silently mis-prune files (row loss through key_between /
    merge pruning), so fail loud at stat-staging time instead
    (ADVICE r14, low)."""
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz not in _UTC_ZONES:
        raise RuntimeError(
            "snapshot timestamp stats require spark.sql.session.timeZone="
            f"UTC (got {tz!r}): naive-vs-footer bound comparisons would "
            "mis-prune files. Use core.session.get_spark() or pin the "
            "session timezone to UTC."
        )


def _stat_value(v):
    """JSON-safe, order-preserving stat encoding. Types whose encoding
    would not preserve ordering (Decimal, bytes) return None — the
    file simply never prunes, which is always safe.

    Timestamps are normalized to NAIVE UTC before isoformat: pyarrow
    footer stats come back tz-aware ('…+00:00') while Spark-collected
    batch bounds and caller-supplied bounds are naive ('…'). Mixing the
    two makes the string compare spuriously unequal at wall-clock
    equality, so boundary files were wrongly pruned/carried (ADVICE
    r13, high). One encoding for both sides restores total order."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    tz = getattr(v, "tzinfo", None)
    if tz is not None:
        from datetime import timezone

        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    try:  # datetime/date: isoformat strings sort like the values
        return v.isoformat()
    except AttributeError:
        return None


def _footer_stats(file_path: str, stat_cols: Sequence[str]) -> tuple[int, dict]:
    """(row_count, {col: {"min","max","has_nulls"} | None}) from the
    parquet footer — file-local, no Spark job. A column with any
    row group missing min/max gets None (never pruned)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(file_path)
    md = pf.metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats: dict[str, dict | None] = {}
    for col in stat_cols:
        idx = names.get(col)
        if idx is None:
            stats[col] = None
            continue
        lo = hi = None
        has_nulls = False
        ok = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx).statistics
            try:
                # .min/.max themselves raise for types pyarrow cannot
                # extract (e.g. decimal) — a stats gap, not a write error
                if s is None or not s.has_min_max:
                    ok = False
                    break
                mn, mx = _stat_value(s.min), _stat_value(s.max)
            except Exception:  # noqa: BLE001 — ArrowNotImplementedError etc.
                ok = False
                break
            if s.null_count is None or s.null_count > 0:
                has_nulls = True
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        stats[col] = {"min": lo, "max": hi, "has_nulls": has_nulls} if ok else None
    return md.num_rows, stats


def _stage_files(
    df: DataFrame,
    root: str,
    stat_cols: Sequence[str],
    sort_by: Sequence[str] = (),
    target_files: int | None = None,
    prefix: str = "",
) -> list[dict]:
    """Write ``df`` as new immutable files ``data/<prefix><token>-*``
    and return their manifest entries. Files are INVISIBLE until a
    manifest references them — a crash here leaves only orphans for
    vacuum. Change files stage here too (``prefix="cdf-"``, no stat
    columns), referenced from the manifest's ``cdf`` block, which table
    readers never scan.

    ``sort_by`` range-partitions + sorts so file key-ranges come out
    disjoint — what makes stat pruning effective (a key-sorted table
    answers a point merge by rewriting O(1) files)."""
    token = secrets.token_hex(8)
    stage = os.path.join(root, f".stage-{token}")
    if sort_by:
        if target_files == 1:
            # single-file output: a range partitioner over one
            # partition is the identity, but repartitionByRange still
            # pays a full sampling pass over the input to compute
            # boundaries it won't use — an extra evaluation of the
            # merge per stage write. A plain 1-partition shuffle +
            # in-partition sort writes the identical sorted file with
            # one evaluation (point merges hit this constantly).
            df = df.repartition(1).sortWithinPartitions(*sort_by)
        elif target_files:
            df = df.repartitionByRange(
                max(1, target_files), *sort_by
            ).sortWithinPartitions(*sort_by)
        else:
            # no explicit width (the create path): let AQE size the
            # range shuffle by VOLUME instead of pinning
            # defaultParallelism partitions. Pinning wrote a 10-row
            # bootstrap as 10 one-row files, and the merge's
            # self-tuning granularity (rows/files) then inherited
            # 1 row/file FOREVER — every later batch emitted
            # batch_rows files and the manifest grew linearly with
            # epochs (measured: 30 ingest epochs -> 300 files, merge
            # latency 5s -> 16s). AQE coalesces the same shuffle to
            # size-appropriate partitions at every scale — which means
            # the fix DEPENDS on AQE coalescing: with it disabled the
            # bare repartitionByRange falls back to
            # spark.sql.shuffle.partitions and silently reproduces the
            # degenerate bootstrap granularity, so assert the session
            # conf here like the UTC guard
            sess = df.sparkSession
            aqe_on = all(
                sess.conf.get(c, "true").lower() == "true"
                for c in (
                    "spark.sql.adaptive.enabled",
                    "spark.sql.adaptive.coalescePartitions.enabled",
                )
            )
            if not aqe_on:
                raise RuntimeError(
                    "snapshot create-path file sizing requires AQE "
                    "partition coalescing (spark.sql.adaptive.enabled "
                    "and spark.sql.adaptive.coalescePartitions.enabled)"
                    "; enable them or pass target_files= explicitly"
                )
            df = df.repartitionByRange(*sort_by).sortWithinPartitions(*sort_by)
    elif target_files:
        df = df.repartition(target_files)
    # Spark's default INT96 timestamps carry NO parquet min/max stats —
    # zone maps on an event-time column would silently never prune.
    # Stage with INT64 micros (stats-capable, the modern parquet type).
    # DataFrameWriter has no per-write outputTimestampType option
    # (verified: the option is ignored, files stay INT96), so this must
    # be a session-conf bracket — refcounted so two concurrent stage
    # writers in one session can't interleave set/restore and silently
    # stage INT96: the conf stays MICROS while ANY stage write is in
    # flight; the last one out restores.
    with _micros_timestamps(df.sparkSession):
        df.write.mode("overwrite").parquet(stage)
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    entries = []
    try:
        parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
        for i, part in enumerate(parts):
            src = os.path.join(stage, part)
            rows, stats = _footer_stats(src, stat_cols)
            if rows == 0:
                continue  # Spark writes empty parts for empty partitions
            rel = os.path.join("data", f"{prefix}{token}-{i:05d}.parquet")
            os.rename(src, os.path.join(root, rel))
            entries.append({"path": rel, "rows": rows, "stats": stats})
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return entries


def _schema_of(manifest: dict) -> StructType:
    return StructType.fromJson(json.loads(manifest["schema"]))


def _read_files(
    spark: SparkSession,
    root: str,
    schema: StructType,
    rels: list[str],
    renames: dict | None = None,
) -> DataFrame:
    """Read ``rels`` (paths under ``root``) with ``schema``; ``renames``
    coalesces historical column names. No files yields ``empty_frame``:
    an append merge (every file carried) then plans ``combine`` over a
    target the optimizer knows is empty, so its anti-join, dedup
    aggregate and union fold away and the merge pays only its write."""
    if not rels:
        return empty_frame(spark, schema)
    paths = [os.path.join(root, r) for r in rels]
    # explicit schema: files written before a column was added read it
    # back as NULL (ADD COLUMN evolution without a mergeSchema footer
    # sweep over every file). Widened types (int->long, float->double)
    # read directly: the Spark 4 parquet reader promotes narrow
    # physical types to the declared schema type.
    if not renames:
        return spark.read.schema(schema).parquet(*paths)
    # RENAME evolution: old files carry the column under its historical
    # physical name. Read with the current schema AUGMENTED by one
    # typed alias column per historical name (absent names read NULL),
    # then coalesce alias chains into the current name — no per-file
    # bookkeeping, one scan. A guard at merge time keeps retired names
    # from ever being reintroduced, so at most one alias is non-NULL.
    aug = list(schema.fields)
    alias_of: dict[str, list[str]] = {}
    current = {f.name for f in schema.fields}
    for f in schema.fields:
        for a in renames.get(f.name, []):
            if a in current:
                continue  # paranoia: never shadow a live column
            aug.append(StructField(a, f.dataType, True))
            alias_of.setdefault(f.name, []).append(a)
    if not alias_of:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.schema(StructType(aug)).parquet(*paths)
    cols = [
        F.coalesce(f.name, *alias_of[f.name]).alias(f.name)
        if f.name in alias_of
        else F.col(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key: str | Sequence[str] = (),
    sort_by: Sequence[str] = (),
    expected_version: int | None = None,
    txn: tuple[str, int] | None = None,
    stat_cols: Sequence[str] = (),
    cdf: bool | None = None,
    target_files: int | None = None,
) -> int:
    """Create the table or replace its contents (op=``overwrite``).
    ``key`` columns get footer stats in the manifest so later merges
    can prune; ``sort_by`` lays files out with disjoint key ranges.
    ``stat_cols`` adds zone-map stats for NON-key columns (e.g. an
    event-time column on a time-sorted table), so ``read_snapshot``'s
    ``key_between`` can skip files on those too. ``target_files``
    pins the file count; default lets AQE size the key-sorted write
    by volume (a tiny bootstrap lands in one file instead of
    defaultParallelism one-row files — the degenerate granularity
    that made every later merge emit batch-rows files).

    ``cdf`` is the write-time change-data-files table property
    (Delta's enableChangeDataFeed): on (default), every keyed merge
    stages its logical changes as sidecar files so a later
    ``snapshot_changes`` reads O(changed rows) — at the cost of one
    extra diff+write per merge (~1.5-2x a point merge's wall time at
    small sizes, amortizing at scale where the rewrite dominates).
    Off, merges skip the sidecar and the feed falls back to the
    endpoint-diff (O(changed files) read at CDF time). The property
    INHERITS across commits — an overwrite with ``cdf`` unset keeps
    the parent manifest's setting (a plain overwrite on a
    ``cdf=False`` table must not silently re-enable the ~1.7x merge
    sidecar tax); pass an explicit True/False to flip it. A
    create with ``cdf`` unset defaults on."""
    if _txn_already_applied(root, txn):
        return current_version(root)
    base = current_version(root)
    manifest = _write_manifest(
        df, root, base, _load_manifest(root, base) if base else {}, key,
        sort_by, stat_cols, cdf, target_files, txn,
    )
    return _commit(root, manifest, expected_version)


def _write_manifest(
    df: DataFrame, root: str, base: int, base_m: dict, key, sort_by,
    stat_cols, cdf: bool | None, target_files: int | None, txn,
) -> dict:
    """Stage ``df`` as the table's whole contents and build the
    create/overwrite manifest (``write_snapshot`` and a merge into an
    absent table)."""
    if cdf is None:
        cdf = base_m.get("cdf_enabled", True)
    keys = [key] if isinstance(key, str) else list(key)
    entries = _stage_files(
        df, root, list(dict.fromkeys(keys + list(stat_cols))),
        sort_by=list(sort_by) or keys, target_files=target_files,
    )
    return _manifest(
        base_m, "create" if base == 0 else "overwrite", entries, txn=txn,
        key=keys, stat_cols=list(stat_cols), schema=df.schema.json(),
        cdf_enabled=bool(cdf),
        # a create/overwrite rewrites every live file with current
        # names — the rename/drop name history resets
        renames={}, dropped=[],
        # a create is all inserts; an overwrite's logical delta vs the
        # prior contents is unknown without reading them, so a change
        # feed spanning it always takes the endpoint diff
        cdf={"mode": "add_only" if base == 0 else "full_rewrite"},
    )


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    key_between: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Read a snapshot (default: current). ``key_between=(col, lo,
    hi)`` prunes non-overlapping files from the manifest BEFORE Spark
    plans the scan — manifest-level data skipping on top of the
    row-group skipping the parquet reader already does — and applies
    the exact filter on what survives."""
    v = current_version(root) if version is None else version
    if v == 0:
        raise SnapshotVersionError(f"no snapshot committed at {root}")
    manifest = _load_manifest(root, v)
    schema = _schema_of(manifest)
    files = manifest["files"]
    if key_between is not None:
        col, lo, hi = key_between
        # stats are stat-encoded (datetime -> isoformat), so encode the
        # caller's bounds the same way before comparing — raw datetime
        # vs string once TypeError'd into "keep every file"
        if isinstance(lo, datetime.datetime) and lo.tzinfo is None:
            _require_utc_session(spark)
        lo_s, hi_s = _stat_value(lo), _stat_value(hi)
        if lo_s is not None and hi_s is not None:
            files = [f for f in files if _overlaps(f["stats"].get(col), lo_s, hi_s)]
    df = _read_files(
        spark, root, schema, [f["path"] for f in files], manifest.get("renames")
    )
    if key_between is not None:
        col, lo, hi = key_between
        df = df.filter(F.col(col).between(lo, hi))
    return df


def _overlaps(stat: dict | None, lo, hi) -> bool:
    """True unless the file's stat range PROVABLY misses [lo, hi].
    Missing stats or null-bearing files always overlap (safe)."""
    if stat is None or stat["has_nulls"]:
        return True
    try:
        return not (stat["max"] < lo or stat["min"] > hi)
    except TypeError:  # cross-type comparison — never prune
        return True


def _split_by_overlap(
    files: list[dict], keys: Sequence[str], bounds: dict[str, tuple]
) -> tuple[list[dict], list[dict]]:
    """(touched, carried): a file is carried iff its stats PROVE it
    shares no key tuple with the batch — key equality needs every key
    column equal, so disjointness on ANY key column suffices."""
    touched, carried = [], []
    for f in files:
        hit = True
        for k in keys:
            lo, hi, all_null = bounds[k]
            if all_null:  # batch col genuinely all-NULL: = can't match
                hit = False
                break
            if lo is None:
                continue  # non-null but not stat-encodable (bool,
                # decimal, ...): cannot prune on this column — a bare
                # None here once silently CARRIED colliding files and
                # duplicated keys on read
            if not _overlaps(f["stats"].get(k), lo, hi):
                hit = False
                break
        (touched if hit else carried).append(f)
    return touched, carried


def _batch_bounds(
    source: DataFrame, keys: Sequence[str]
) -> tuple[dict[str, tuple], int]:
    """({key: (lo, hi, all_null)}, batch_row_count). lo/hi are
    stat-encoded (None when the type is not encodable — caller must
    NOT prune on that column); ``all_null`` distinguishes the one case
    where skipping every file is sound."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for k in keys:
        aggs += [
            F.min(k).alias(f"_lo_{k}"),
            F.max(k).alias(f"_hi_{k}"),
            F.count(k).alias(f"_nn_{k}"),
        ]
    row = source.agg(*aggs).collect()[0]  # 3k+1 scalars — driver-side by design
    bounds = {
        k: (
            _stat_value(row[f"_lo_{k}"]),
            _stat_value(row[f"_hi_{k}"]),
            row[f"_nn_{k}"] == 0,
        )
        for k in keys
    }
    if any(
        isinstance(row[f"_lo_{k}"], datetime.datetime)
        and row[f"_lo_{k}"].tzinfo is None
        for k in keys
    ):
        _require_utc_session(source.sparkSession)
    return bounds, row["_n"]


_PLAIN_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double", "string"}


def _refine_touched(
    source: DataFrame, keys: Sequence[str], touched: list[dict], schema: StructType
) -> tuple[list[dict], list[dict]]:
    """Exact file pruning: the coarse bounds check touches every file a
    [batch_min, batch_max] envelope overlaps, so ONE straggler key
    (late data, a backfill row) degrades a point merge into an
    O(table) rewrite. This pass broadcasts the candidate files'
    key-range boxes and runs one aggregation over the batch to find
    the files an actual batch row lands in — cost O(batch) with a
    broadcast join (file count is manifest-sized), result O(files).
    Only plain-typed key columns (int/float/string — JSON stats
    round-trip losslessly and compare natively) participate; a file
    with no refinable stats keeps its coarse verdict.

    The range columns take the TABLE's key type (``schema``, the base
    manifest's): file stats hold table values, which a narrower batch
    type cannot represent (a bigint table merged with an int batch).
    A key whose batch and table types are not in one widening family
    is left to the coarse verdict — ``_align_evolve`` rejects it."""
    src_types = {f.name: f.dataType for f in source.schema.fields}
    tbl_types = {f.name: f.dataType for f in schema.fields}

    def _same_family(k):
        a = src_types[k].simpleString() if k in src_types else None
        b = tbl_types[k].simpleString() if k in tbl_types else None
        return a in _PLAIN_TYPES and b in _PLAIN_TYPES and (
            a == b or any(a in c and b in c for c in (_INT_WIDEN, _FLOAT_WIDEN))
        )

    refinable = [k for k in keys if _same_family(k)]
    if not refinable or len(touched) <= 1:
        return touched, []
    spark = source.sparkSession
    rows = []
    for i, f in enumerate(touched):
        row = [i]
        for k in refinable:
            st = f["stats"].get(k)
            plain = (
                st is not None
                and not st["has_nulls"]
                and isinstance(st["min"], (int, float, str))
                and not isinstance(st["min"], bool)
            )
            row += [st["min"] if plain else None, st["max"] if plain else None]
        rows.append(tuple(row))
    from pyspark.sql.types import LongType

    fields = [StructField("_file_idx", LongType(), False)]
    for k in refinable:
        fields += [
            StructField(f"_lo_{k}", tbl_types[k], True),
            StructField(f"_hi_{k}", tbl_types[k], True),
        ]
    ranges = local_frame(spark, rows, StructType(fields))
    cond = None
    src = source.select(*refinable).dropDuplicates(refinable)
    for k in refinable:
        c = (
            F.col(f"_lo_{k}").isNull() | (src[k] >= F.col(f"_lo_{k}"))
        ) & (F.col(f"_hi_{k}").isNull() | (src[k] <= F.col(f"_hi_{k}")))
        cond = c if cond is None else (cond & c)
    hit = (
        src.join(F.broadcast(ranges), cond, "inner")
        .select("_file_idx")
        .distinct()
        .collect()
    )
    hit_idx = {r["_file_idx"] for r in hit}
    still = [f for i, f in enumerate(touched) if i in hit_idx]
    freed = [f for i, f in enumerate(touched) if i not in hit_idx]
    return still, freed


_INT_WIDEN = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_WIDEN = {"float": 0, "double": 1}


def _align_evolve(target: DataFrame, source: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Snapshot-merge schema alignment: TYPE WIDENING on top of
    ``_align_schemas``'s ADD-COLUMN semantics. A column typed
    differently on the two sides resolves to the WIDER type when both
    are in the same safe-promotion chain (tinyint<smallint<int<bigint;
    float<double — the Iceberg/Delta type-widening set): both sides
    cast up, the merged schema records the wide type, and old data
    files read back through the Spark 4 parquet reader's built-in
    narrow-to-wide promotion. Any other mismatch still raises via
    ``_align_schemas`` — silent lossy casts are how a table rots."""
    t_types = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    s_types = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    for c, st in s_types.items():
        tt = t_types.get(c)
        if tt is None or tt == st:
            continue
        for chain in (_INT_WIDEN, _FLOAT_WIDEN):
            if tt in chain and st in chain:
                wide = tt if chain[tt] >= chain[st] else st
                if tt != wide:
                    target = target.withColumn(c, F.col(c).cast(wide))
                if st != wide:
                    source = source.withColumn(c, F.col(c).cast(wide))
                break
    return _align_schemas(target, source)


def _guard_retired_names(source: DataFrame, manifest: dict) -> None:
    """Reject a merge that reintroduces a column name retired by a
    rename or drop: live data files still carry values under the old
    physical name, so a same-named new column would silently resurrect
    them on read. Compact (rewriting every file) and overwrite reset
    the retired set."""
    current = {f["name"] for f in json.loads(manifest["schema"])["fields"]}
    retired = set(manifest.get("dropped", []))
    for alts in manifest.get("renames", {}).values():
        retired.update(alts)
    clash = [c for c in source.columns if c in retired and c not in current]
    if clash:
        raise ValueError(
            f"column name(s) {clash} were retired by a rename/drop on the "
            f"snapshot table; live files still hold values under those "
            "physical names, so reintroducing them would resurrect stale "
            "data. compact_snapshot (which rewrites every file with "
            "current names) or an overwrite resets the retired set."
        )


def _merge_commit(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    key: str | Sequence[str],
    op: str,
    combine,
    retries: int = 2,
    txn: tuple[str, int] | None = None,
    materialize: bool = True,
    cdf: bool = True,
    key_local: bool = False,
) -> int:
    """Shared copy-on-write merge: prune → rewrite touched files →
    commit carried+new through ``_commit_loop`` (a conflict recomputes
    against the new current, bounded retries).
    ``txn=(app_id, version)`` makes the merge idempotent across
    redelivery: a version at or below the app's committed watermark is
    skipped entirely (the exactly-once contract a foreachBatch sink
    needs under Structured Streaming's at-least-once replays).
    ``materialize=False`` is for callers whose source is already
    checkpointed (mirror's CDF) — skips the redundant second write.
    ``key_local=True`` declares that ``combine`` only changes rows
    whose key tuple appears in the batch (upsert/insert-ignore/delete
    all qualify); the write-time CDF diff then runs over the batch-key
    slice only instead of a full old-vs-new table diff — identical
    change rows, O(batch) cost. Leave False for combines that can
    touch rows outside the batch's keys (aggregating folds that drop
    groups, view refreshes)."""
    keys = [key] if isinstance(key, str) else list(key)
    # fence BEFORE materializing: a replayed batch must be a visible
    # no-op, and the cheap version of that skips even the one O(batch)
    # source evaluation the checkpoint would pay
    if _txn_already_applied(root, txn):
        return current_version(root)
    # materialize the batch ONCE: the merge evaluates it three times
    # (bounds, exact prune, rewrite) and a non-deterministic source
    # recomputed between the prune and the rewrite could change keys
    # after the prune decided which files can be carried — the same
    # reason Delta materializes MERGE sources. Lazy, which saves the
    # eager checkpoint's own job, but not free at call time: under AQE
    # the checkpoint builds its RDD from the final adaptive plan, so
    # every shuffle stage of the source runs HERE (a pairs upsert runs
    # most of its jobs before _batch_bounds). The bounds collect then
    # computes the checkpoint's blocks from those shuffle outputs.
    if materialize:
        source = source.localCheckpoint(eager=False)

    def build(base: int, manifest: dict) -> dict:
        if base == 0:
            if op == "delete":
                raise SnapshotVersionError(f"no snapshot committed at {root}")
            # CAS-guarded create: if another writer creates the table
            # first, the retry runs as a real merge on the winner's rows
            return _write_manifest(source, root, 0, manifest, keys, (), (), cdf, None, txn)
        schema = _schema_of(manifest)
        _guard_retired_names(source, manifest)
        renames = manifest.get("renames")
        bounds, batch_rows = _batch_bounds(source, keys)
        # an empty batch that cannot evolve the schema changes nothing:
        # carry the manifest forward instead of staging and re-reading
        # an empty parquet dir. Columns compare as name->type sets, not
        # StructTypes: a merged manifest's schema is all-nullable and
        # key-first while a fresh pipeline batch is neither, and zero
        # rows can neither add/retype columns nor violate nullability.
        if batch_rows == 0 and op != "delete" and _col_types(source.schema) == _col_types(schema):
            return _carry_forward(manifest, op, txn, key=keys)
        touched, carried = _split_by_overlap(manifest["files"], keys, bounds)
        touched, freed = _refine_touched(source, keys, touched, schema)
        if not touched and op == "delete":
            return _carry_forward(manifest, op, txn, key=keys)
        carried = carried + freed
        # size the rewrite to the table's established file granularity
        # (self-tuning: a point merge emits ~len(touched) files, a bulk
        # merge scales with its volume; compaction fixes any accretion).
        # An emptied table has no granularity to inherit — fall back to
        # the session's parallelism instead of rows/0-files degeneracy
        if manifest["files"]:
            avg_rows = max(1, manifest["rows"] // len(manifest["files"]))
            est_rows = sum(f["rows"] for f in touched) + batch_rows
            n_out = max(1, round(est_rows / avg_rows))
        else:
            n_out = None
        target = _read_files(spark, root, schema, [f["path"] for f in touched], renames)
        if op == "delete":
            # doomed may be keys-only; never let align graft its
            # columns (or column order) onto the table schema
            src = source
        else:
            target, src = _align_evolve(target, source)
        merged = combine(target, src, keys)
        out_schema = merged.schema
        entries = _stage_files(
            merged, root, list(dict.fromkeys(keys + manifest.get("stat_cols", []))),
            sort_by=keys if manifest.get("key") == keys else [], target_files=n_out,
        )
        # write-time CDF (Delta's change-data files): the merge already
        # read every touched file, so diffing old vs staged-new here is
        # O(touched) — and it makes a LATER snapshot_changes read
        # O(changed rows) instead of re-scanning the rewritten files.
        # Pure appends skip the sidecar: the added data files ARE the
        # feed. Tables created with cdf=False skip it and their feeds
        # use the endpoint-diff fallback. (Never rebind ``cdf`` here: a
        # retry's create path reads it as the table property.)
        cdf_block = {}
        if not touched:
            cdf_block["cdf"] = {"mode": "add_only"}
        elif manifest.get("cdf_enabled", True):
            if key_local:
                # the combine is KEY-LOCAL: rows whose key tuple is
                # absent from the batch pass through unchanged and
                # cancel in the old-vs-new diff, so diff only the
                # batch-key slice — old side = touched rows matching a
                # batch key (broadcast semi join), new side = the
                # combine replayed over that slice. O(batch + matched
                # rows) instead of re-reading the staged AND touched
                # files for a full-width diff. NULL batch keys: joins
                # never match NULLs, so a NULL-keyed target row is
                # untouched by a key-local combine (cancels, both
                # formulations) while NULL-keyed source rows enter the
                # new side via the replayed combine exactly as they
                # entered the merge.
                src_keys = src.select(*keys).dropDuplicates(keys)
                old_local = target.join(F.broadcast(src_keys), on=keys, how="left_semi")
                out_cols = [f.name for f in out_schema.fields]
                if op == "delete":
                    # every matched row is a delete: no diff needed
                    changes = old_local.select(*out_cols).withColumn(
                        "_change_type", F.lit("delete")
                    )
                else:
                    # upsert: combine(old_local, src) = src exactly
                    # (every old_local key is a batch key) — skip it
                    new_local = src if op == "upsert" else combine(old_local, src, keys)
                    changes = _diff_changes(
                        old_local.select(*out_cols), new_local.select(*out_cols), keys
                    )
            else:
                new_df = _read_files(spark, root, out_schema, [e["path"] for e in entries])
                old_df = _read_files(
                    spark, root, out_schema, [f["path"] for f in touched], renames
                )
                changes = _diff_changes(old_df, new_df, keys)
            cdf_block["cdf"] = {
                "mode": "files", "files": _stage_files(changes, root, (), prefix="cdf-"),
            }
        return _manifest(
            manifest, op, carried + entries, txn=txn, key=keys,
            schema=out_schema.json(), **cdf_block,
        )

    return _commit_loop(root, build, txn, retries)


def _col_types(schema: StructType) -> list[tuple[str, str]]:
    return sorted((f.name, f.dataType.simpleString()) for f in schema.fields)


def upsert_snapshot(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    key: str | Sequence[str],
    retries: int = 2,
    txn: tuple[str, int] | None = None,
    cdf: bool = True,
) -> int:
    """MERGE (source wins on key collision) as a copy-on-write commit:
    only data files whose footer key-stats overlap the batch are
    rewritten; the rest carry over by reference. First write creates
    the table. Same row semantics as ``sinks.writer.upsert_table`` —
    cross-checked in tests — with O(1) atomic commit instead of the
    per-directory swap loop. ``txn=(app_id, version)`` fences
    redelivery: an already-committed version no-ops. ``cdf`` applies
    only when THIS call creates the table (the write-time change-file
    property, see ``write_snapshot``); an existing table keeps its
    property."""
    return _merge_commit(
        spark, source, root, key, "upsert", merge_upsert, retries, txn=txn,
        cdf=cdf, key_local=True,
    )


def insert_ignore_snapshot(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    key: str | Sequence[str],
    retries: int = 2,
    txn: tuple[str, int] | None = None,
    cdf: bool = True,
) -> int:
    """ON CONFLICT DO NOTHING over the snapshot format. ``cdf`` as in
    ``upsert_snapshot`` (create-time only)."""
    return _merge_commit(
        spark, source, root, key, "insert_ignore", insert_ignore, retries,
        txn=txn, cdf=cdf, key_local=True,
    )


def delete_snapshot(
    spark: SparkSession,
    doomed: DataFrame,
    root: str,
    key: str | Sequence[str],
    retries: int = 2,
    txn: tuple[str, int] | None = None,
) -> int:
    """Takedown: drop every row whose key tuple appears in ``doomed``.
    Prunes to overlapping files; survivors rewrite, the rest carry."""
    def combine(target, src, keys):
        return target.join(src.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")

    return _merge_commit(
        spark, doomed, root, key, "delete", combine, retries, txn=txn,
        key_local=True,
    )


def delete_where_range(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    retries: int = 2,
    txn: tuple[str, int] | None = None,
) -> int:
    """Range takedown — the retention operation (drop everything with
    ``lo <= col <= hi``, e.g. events older than the horizon on a
    time-sorted table). The manifest does the heavy lifting: a file
    whose stat range lies ENTIRELY inside the doomed range is dropped
    from the new manifest without reading a byte (at 100 TB, expiring
    a day from a time-sorted table is O(boundary files), the rest is
    manifest bookkeeping); a file that straddles the boundary rewrites
    with the filter; a file provably outside carries by reference.
    Files without stats on ``col`` rewrite (safe). The superseded
    version stays readable until vacuum — retention is reversible
    until then. Range deletes record a LAZY write-time CDF
    (``mode=delete_range``: the doomed bounds + the dropped and
    rewritten file lists — pure manifest metadata, the doomed files
    are still never read at commit time, preserving the
    O(boundary-files) property); a change feed spanning the commit
    synthesizes the delete pre-images FROM those references at feed
    time — every row of a dropped file, plus the in-range rows of the
    rewritten ones — cost O(dropped + boundary files), read exactly
    when a consumer asks. The referenced files
    belong to the superseded version, so they live exactly as long as
    it does; once vacuum takes it, the chain falls back to the
    endpoint diff like any other vacuumed intermediate."""
    lo_s, hi_s = _stat_value(lo), _stat_value(hi)
    stats_usable = lo_s is not None and hi_s is not None

    def build(base: int, manifest: dict) -> dict:
        if base == 0:
            raise SnapshotVersionError(f"no snapshot committed at {root}")
        dropped, straddling, carried = [], [], []
        for f in manifest["files"]:
            st = f["stats"].get(col)
            if not stats_usable or st is None or st["has_nulls"]:
                straddling.append(f)  # unknown contents: must rewrite
            elif not _overlaps(st, lo_s, hi_s):
                carried.append(f)  # provably outside: keep as-is
            else:
                try:
                    inside = st["min"] >= lo_s and st["max"] <= hi_s
                except TypeError:
                    inside = False
                (dropped if inside else straddling).append(f)
        entries = []
        if straddling:
            keep = _read_files(
                spark, root, _schema_of(manifest), [f["path"] for f in straddling],
                manifest.get("renames"),
            ).filter(~F.col(col).between(lo, hi) | F.col(col).isNull())
            keys = manifest.get("key") or []
            entries = _stage_files(
                keep, root, list(dict.fromkeys(keys + manifest.get("stat_cols", []))),
                sort_by=keys, target_files=max(1, len(straddling)),
            )
        # lazy CDF: record WHAT was deleted (bounds + superseded file
        # refs), not the rows — the feed reads them on demand
        lazy = {"cdf": {
            "mode": "delete_range", "col": col, "lo": lo_s, "hi": hi_s,
            "dropped": [f["path"] for f in dropped],
            "rewritten": [f["path"] for f in straddling],
        }} if stats_usable else {}
        return _manifest(manifest, "delete_range", carried + entries, txn=txn, **lazy)

    return _commit_loop(root, build, txn, retries)


def rename_snapshot_column(root: str, old: str, new: str) -> int:
    """METADATA-ONLY column rename (Iceberg-style evolution, name-
    mapped instead of id-mapped): commits a new manifest whose schema,
    key list and stat_cols carry the new name plus a ``renames`` map
    binding it to every historical physical name. No data file is
    touched; reads coalesce the alias chain (``_read_files``), prune
    sites see normalized stats (``_load_manifest``), and merges refuse
    to ever reintroduce a retired name (``_guard_retired_names``).
    Raises if ``new`` collides with a live column or a retired name."""
    base = current_version(root)
    if base == 0:
        raise SnapshotVersionError(f"no snapshot committed at {root}")
    # load RAW (no stats normalization — this manifest is re-committed)
    with open(_manifest_path(root, base)) as fh:
        m = json.load(fh)
    schema = _schema_of(m)
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"cannot rename {old!r}: not a column ({names})")
    renames = {k: list(v) for k, v in m.get("renames", {}).items()}
    retired = set(m.get("dropped", []))
    for alts in renames.values():
        retired.update(alts)
    if new in names or new in retired:
        raise ValueError(
            f"cannot rename {old!r} -> {new!r}: the target name is a live "
            "column or was retired by an earlier rename/drop"
        )
    fields = [
        StructField(new, f.dataType, f.nullable) if f.name == old else f
        for f in schema.fields
    ]
    renames[new] = [old] + renames.pop(old, [])
    manifest = _manifest(
        m, "rename_column", m["files"],
        key=[new if k == old else k for k in (m.get("key") or [])],
        stat_cols=[new if c == old else c for c in m.get("stat_cols", [])],
        schema=StructType(fields).json(),
        renames=renames,
        # metadata-only: no logical row changes under the new schema's
        # projection — a CDF chain crossing this commit skips it
        cdf={"mode": "files", "files": []},
    )
    return _commit(root, manifest, base)


def drop_snapshot_column(root: str, col: str) -> int:
    """METADATA-ONLY column drop: the schema loses the field, every
    data file carries by reference (readers simply stop selecting the
    physical column), and the name — with its whole rename history —
    joins the retired set so a later merge cannot resurrect the stale
    values still sitting in live files. Key columns cannot drop."""
    base = current_version(root)
    if base == 0:
        raise SnapshotVersionError(f"no snapshot committed at {root}")
    with open(_manifest_path(root, base)) as fh:
        m = json.load(fh)
    schema = _schema_of(m)
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"cannot drop {col!r}: not a column ({names})")
    if col in (m.get("key") or []):
        raise ValueError(f"cannot drop key column {col!r}")
    renames = {k: list(v) for k, v in m.get("renames", {}).items()}
    dropped = list(m.get("dropped", [])) + [col] + renames.pop(col, [])
    manifest = _manifest(
        m, "drop_column", m["files"],
        stat_cols=[c for c in m.get("stat_cols", []) if c != col],
        schema=StructType([f for f in schema.fields if f.name != col]).json(),
        renames=renames,
        dropped=dropped,
        cdf={"mode": "files", "files": []},  # metadata-only (see rename)
    )
    return _commit(root, manifest, base)


def rollback_snapshot(root: str, to_version: int) -> int:
    """RESTORE: commit a NEW version whose file list is ``to_version``'s
    — history is preserved (the bad versions stay readable until
    vacuum), unlike a destructive reset. The restored version carries
    the TARGET's read metadata explicitly (``renames`` alias map,
    ``dropped`` set, ``cdf_enabled``): ``_commit``'s property
    inheritance pulls from the PARENT — the version being rolled
    AWAY FROM — whose name history and CDF property are exactly what
    the rollback should discard.

    Change feed: the commit records a lazy ``mode=file_diff`` block —
    the file paths entering and leaving the table, a pure set diff over
    the two manifests — so a feed spanning the rollback materializes
    its logical delta from exactly the changed files at read time
    instead of dropping the whole chain to the endpoint diff."""
    base = current_version(root)
    manifest = _load_manifest(root, to_version)
    props = {"cdf_enabled": manifest["cdf_enabled"]} if "cdf_enabled" in manifest else {}
    if base > 0:
        pre_paths = {f["path"] for f in _load_manifest(root, base)["files"]}
        to_paths = {f["path"] for f in manifest["files"]}
        props["cdf"] = {
            "mode": "file_diff",
            "removed": sorted(pre_paths - to_paths),
            "added": sorted(to_paths - pre_paths),
        }
    new_manifest = _manifest(
        manifest, "rollback", manifest["files"],
        renames=manifest.get("renames", {}),
        dropped=manifest.get("dropped", []),
        **props,
    )
    return _commit(root, new_manifest, None)


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_rows_per_file: int,
    retries: int = 2,
    order_by=None,
    extra_stat_cols: Sequence[str] = (),
) -> int:
    """OPTIMIZE: rewrite the current file set into ceil(rows/target)
    key-sorted files (row content identical — op=``compact``). Small
    incremental commits accrete small files; compaction restores the
    scan-efficient layout, and the pre-compaction version stays
    readable until vacuum.

    ``order_by`` overrides the sort (ZORDER BY: pass
    ``[layout.zorder_key("a", "b")]`` and list ``a``/``b`` in
    ``extra_stat_cols`` — Morton-clustered files get tight min/max
    boxes on BOTH columns, so ``read_snapshot(key_between=...)`` skips
    files on either dimension, the multi-column data-skipping the
    single-key sort cannot give). ``extra_stat_cols`` is additive and
    persists in the manifest for subsequent merges."""
    def build(base: int, manifest: dict) -> dict:
        if base == 0:
            raise SnapshotVersionError(f"no snapshot committed at {root}")
        keys = manifest.get("key") or []
        df = _read_files(
            spark, root, _schema_of(manifest), [f["path"] for f in manifest["files"]],
            manifest.get("renames"),
        )
        n_files = max(1, -(-manifest["rows"] // max(1, target_rows_per_file)))
        stat_cols = list(
            dict.fromkeys(manifest.get("stat_cols", []) + list(extra_stat_cols))
        )
        sort_by = keys
        if order_by is not None:
            # the caller's layout is already partitioned and sorted here
            df = df.repartitionByRange(n_files, *order_by).sortWithinPartitions(
                *order_by
            )
            sort_by, n_files = (), None
        entries = _stage_files(
            df, root, list(dict.fromkeys(keys + stat_cols)),
            sort_by=sort_by, target_files=n_files,
        )
        return _manifest(
            manifest, "compact", entries, stat_cols=stat_cols,
            # physical-only rewrite: a CDF consumer can skip this
            # commit without reading a byte (the diff fallback would
            # read every rewritten file twice just to cancel all of them)
            cdf={"mode": "files", "files": []},
            # every file now carries current column names: the
            # rename/drop history resets and retired names free up
            renames={}, dropped=[],
        )

    return _commit_loop(root, build, retries=retries)


def vacuum_snapshot(
    root: str, keep_last: int = 2, min_age_seconds: float = 600.0,
    db_root: str | None = None,
) -> dict[str, int]:
    """Reclaim space: drop all but the newest ``keep_last`` manifests,
    then delete every ``data/`` file no retained manifest references —
    which also sweeps orphans from crashed or conflict-aborted writes
    (this format's only garbage; there is nothing to heal). Versions
    older than the horizon stop time-traveling with a clean
    SnapshotVersionError.

    ``min_age_seconds`` is the concurrent-writer grace period (Delta's
    deletion-retention window): an UNREFERENCED file or staging dir
    younger than it is skipped, because it may belong to a live writer
    that staged its files but has not linked its manifest yet —
    deleting those would corrupt the commit the writer is about to
    make. Keep it above the longest plausible stage-to-commit gap;
    pass 0 only when no writer can be in flight.

    If this table is a member of a db manifest (``db_commit``), pass
    ``db_root``: every table version a RETAINED db manifest still pins
    is added to the keep set, so ``db_read``/``register_db_views`` at
    any retained db version keeps working (ADVICE r13: keep_last alone
    could vacuum a version an old db manifest pins, breaking
    cross-table time travel). Vacuum the db manifests first (this same
    function on ``db_root``) to shrink the pin set."""
    import time as _time

    now = _time.time()

    def _old_enough(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= min_age_seconds
        except OSError:
            return False  # vanished mid-scan: a live writer owns it

    versions = _list_versions(root)
    keep = set(versions[-max(1, keep_last):]) if versions else set()
    if db_root is not None:
        table = os.path.relpath(os.path.abspath(root), os.path.abspath(db_root))
        for dv in _list_versions(db_root):
            pinned = _load_manifest(db_root, dv).get("tables", {})
            if table in pinned and pinned[table] in set(versions):
                keep.add(pinned[table])
    dropped_manifests = 0
    for v in versions:
        if v not in keep:
            os.unlink(_manifest_path(root, v))
            dropped_manifests += 1
    referenced = set()
    for v in keep:
        m = _load_manifest(root, v)
        for f in m["files"]:
            referenced.add(os.path.basename(f["path"]))
        for f in m.get("cdf", {}).get("files", []):
            referenced.add(os.path.basename(f["path"]))
        # NOTE on lazy CDF blocks (delete_range / rollback file_diff):
        # their file refs need no retention entry here. A block at
        # commit i is only consulted by a chain that loaded manifest
        # i-1, and every ref is listed in manifest i-1's (or i's own)
        # ``files`` — so the refs live exactly as long as they are
        # reachable, and sweeping them exactly when the predecessor
        # manifest goes is correct, not a leak. _changes_from_cdf
        # still degrades cleanly (SnapshotVersionError -> endpoint
        # diff) if refs vanish through external damage.
    data_dir = os.path.join(root, "data")
    dropped_files = 0
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            p = os.path.join(data_dir, name)
            if name not in referenced and _old_enough(p):
                os.unlink(p)
                dropped_files += 1
    # stale temp/staging leftovers from crashed writers
    mdir = _manifest_dir(root)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            p = os.path.join(mdir, name)
            if name.startswith(".tmp-") and _old_enough(p):
                os.unlink(p)
    for name in (os.listdir(root) if os.path.isdir(root) else []):
        p = os.path.join(root, name)
        if name.startswith(".stage-") and _old_enough(p):
            shutil.rmtree(p, ignore_errors=True)
    return {"manifests_removed": dropped_manifests, "data_files_removed": dropped_files}


def snapshot_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed between two snapshot versions: the rows a
    downstream incremental consumer must apply to catch up from
    ``from_version`` to ``to_version`` (default current), each tagged
    with a ``_change_type`` of ``insert`` / ``update_preimage`` /
    ``update_postimage`` / ``delete`` (the public Delta CDF schema).

    Cost is O(changed ROWS) on keyed tables whose commits all carry
    write-time change info (merges stage ``cdf`` sidecar files; pure
    appends mark ``add_only``; compactions mark an empty change set —
    the Delta CDC file-action model), so even a SPREAD merge's feed
    reads only what changed. Otherwise O(changed files): the endpoint
    manifests are diffed by path and only files ADDED or REMOVED are
    read — a carried-by-reference file can't contain a change by
    construction. Physical-only rewrites are invisible either way: the
    fast path skips them outright; the fallback's full-row
    ``exceptAll`` in both directions cancels every row it merely moved
    (logical changes only — the contract that lets a consumer run
    vacuum-adjacent maintenance without re-triggering downstream).

    Classification: a surviving row delta whose key also appears on
    the other side is an update (pre/post image); otherwise a pure
    insert or delete. Keys come from the ``to`` manifest. Both
    ENDPOINT versions must still be retained (vacuum raises
    otherwise); a vacuumed intermediate (possible under db-pinned
    retention) only drops the fast path back to the endpoint diff."""
    to_v = current_version(root) if to_version is None else to_version
    m_to = _load_manifest(root, to_v)
    schema = _schema_of(m_to)
    keys = m_to.get("key") or []
    # Fast path (the Delta CDC file-action model): when every commit in
    # from->to recorded its changes at WRITE time — per-commit ``cdf``
    # sidecar files for merges (which already read the touched files,
    # so the extra cost was O(touched)), ``add_only`` for pure appends,
    # an empty list for physical-only rewrites — the feed reads only
    # O(changed rows), never O(table). A spread merge's CDF is then the
    # same cost as a point merge's. Overwrites record mode=full_rewrite
    # (their logical delta was never known at write time) and PIN the
    # endpoint-diff: old-vs-new materializes from the two endpoint
    # versions' changed files. delete_where_range records a LAZY
    # mode=delete_range block (bounds + superseded file refs — the
    # feed reads them on demand, so commit time stays O(boundary
    # files)); rollbacks record a lazy mode=file_diff block (the
    # manifest set-diff of entering/leaving files). Commits without
    # write-time info (pre-upgrade manifests) drop the chain.
    if keys and to_v >= from_version:
        try:
            chain = [_load_manifest(root, v) for v in range(from_version, to_v + 1)]
        except SnapshotVersionError:
            # db-pinned vacuum retains non-contiguous versions: an
            # intermediate manifest between two retained endpoints may
            # be gone. The endpoint diff below only needs the two
            # retained ends (ADVICE r14, low).
            chain = None
        if chain is not None and any(
            m.get("cdf", {}).get("mode") == "full_rewrite" for m in chain[1:]
        ):
            # PINNED BEHAVIOR (VERDICT r14 task #7): an overwrite inside
            # the window has no write-time delta — materialize old-vs-new
            # via the endpoint diff below. Cost: read the changed files
            # of the two ENDPOINT versions (after an overwrite that is
            # both versions in full), never the intermediates.
            chain = None
        if chain is not None and all("cdf" in m for m in chain[1:]):
            try:
                return _changes_from_cdf(spark, root, chain, schema, keys)
            except SnapshotVersionError:
                # a lazy CDF block's file refs were vacuumed before the
                # retention fix (or removed externally): the endpoint
                # diff below still answers from the two retained ends
                pass
    m_from = _load_manifest(root, from_version)
    from_paths = {f["path"] for f in m_from["files"]}
    to_paths = {f["path"] for f in m_to["files"]}
    added = sorted(to_paths - from_paths)
    removed = sorted(from_paths - to_paths)
    cols = [f.name for f in schema.fields]
    ren = m_to.get("renames")
    new_rows = _read_files(spark, root, schema, added, ren).select(cols)
    old_rows = _read_files(spark, root, schema, removed, ren).select(cols)
    if not keys:
        # cancel physically-moved rows (multiset semantics keeps
        # duplicates honest for keyless tables)
        appeared = new_rows.exceptAll(old_rows)
        vanished = old_rows.exceptAll(new_rows)
        return appeared.withColumn("_change_type", F.lit("insert")).unionByName(
            vanished.withColumn("_change_type", F.lit("delete"))
        )
    return _diff_changes(old_rows, new_rows, keys)


def _diff_changes(old_df: DataFrame, new_df: DataFrame, keys) -> DataFrame:
    """Classified CDF diff of two keyed row sets in ONE aggregation +
    ONE key window (instead of two exceptAlls + four classification
    joins — the job-count difference is what keeps the write-time
    sidecar cheap on point merges): tag sides ±1, group by the full
    row to cancel unchanged rows, then look across each key for the
    other side to split insert / update pre+post / delete. Multiset-
    safe: a row appearing n times more on one side replicates n
    times."""
    cols = new_df.columns
    tagged = (
        old_df.select(*cols).withColumn("_side", F.lit(-1))
        .unionByName(new_df.select(*cols).withColumn("_side", F.lit(1)))
    )
    # one exchange, not two (r16): hash-partition on the KEY columns up
    # front — the full-row groupBy is clustering-satisfied by the key
    # subset, and the key window below inherits the same partitioning,
    # so neither re-shuffles. (Grouping by all columns would partition
    # by the full row and force a second exchange for the window.)
    d = (
        tagged.repartition(*[F.col(k) for k in keys])
        .groupBy(*cols)
        .agg(F.sum("_side").alias("_d"))
        .filter(F.col("_d") != 0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    d = d.withColumn(
        "_has_pre", F.max(F.when(F.col("_d") < 0, 1).otherwise(0)).over(w)
    ).withColumn(
        "_has_post", F.max(F.when(F.col("_d") > 0, 1).otherwise(0)).over(w)
    )
    d = d.withColumn(
        "_change_type",
        F.when(
            F.col("_d") < 0,
            F.when(F.col("_has_post") == 1, F.lit("update_preimage")).otherwise(
                F.lit("delete")
            ),
        ).otherwise(
            F.when(F.col("_has_pre") == 1, F.lit("update_postimage")).otherwise(
                F.lit("insert")
            )
        ),
    )
    # replicate multiset multiplicity (keyed tables normally have |_d|=1)
    d = d.withColumn("_rep", F.explode(F.sequence(F.lit(1), F.abs("_d"))))
    return d.select(*cols, "_change_type")


def _changes_from_cdf(
    spark: SparkSession, root: str, chain: list[dict], schema: StructType, keys
) -> DataFrame:
    """Compose per-commit write-time change files into one from->to
    feed. Single step returns the recorded feed verbatim. Multi-step
    nets the chain so intermediate states stay invisible (the endpoint
    -diff contract): per key, the value-at-from is the FIRST step's
    pre/delete image (absent if the key's first event is an insert),
    the value-at-to is the LAST step's insert/post image (absent if
    the last event is a delete); the two sides then cancel rows that
    ended where they started and classify like any other diff. Cost:
    one window + one classify over O(changed rows).

    Raises SnapshotVersionError when a LAZY block's file refs are gone
    (vacuumed pre-retention-fix or removed externally) — checked here,
    at plan-build time, so the caller can fall back to the endpoint
    diff instead of the feed dying with FileNotFound mid-execution."""
    from pyspark.sql.types import StringType, StructField

    def _require_refs(rels, ctx: str) -> None:
        for rel in rels:
            if not os.path.exists(os.path.join(root, rel)):
                raise SnapshotVersionError(
                    f"lazy CDF ref {rel} for {ctx} at {root} no longer "
                    "exists (vacuumed); fall back to the endpoint diff"
                )

    cols = [f.name for f in schema.fields]
    cdf_schema = StructType(schema.fields + [StructField("_change_type", StringType(), False)])
    feeds = []
    for i in range(1, len(chain)):
        m, prev = chain[i], chain[i - 1]
        info = m["cdf"]
        if info.get("mode") == "add_only":
            prev_paths = {f["path"] for f in prev["files"]}
            added = sorted(f["path"] for f in m["files"] if f["path"] not in prev_paths)
            # chain[-1]'s renames, NOT step i's: files appended at step
            # i keep their physical column names, and a rename LATER in
            # the window only records the alias in later manifests —
            # reading with step i's map made the renamed column NULL
            # for exactly those insert rows (ADVICE r14, medium)
            feed = (
                _read_files(spark, root, schema, added, chain[-1].get("renames"))
                .select(cols)
                .withColumn("_change_type", F.lit("insert"))
            )
        elif info.get("mode") == "file_diff":
            # lazy rollback feed: the commit recorded WHICH files
            # entered/left the table (a manifest set diff); materialize
            # the logical delta from exactly those files at read time.
            # _diff_changes cancels physically-moved rows, so a
            # rollback that restores identical content nets to nothing.
            if not info.get("removed") and not info.get("added"):
                continue
            _require_refs(
                list(info.get("removed", [])) + list(info.get("added", [])),
                "file_diff",
            )
            old_rows = _read_files(
                spark, root, schema, info.get("removed", []),
                chain[-1].get("renames"),
            ).select(cols)
            new_rows = _read_files(
                spark, root, schema, info.get("added", []),
                chain[-1].get("renames"),
            ).select(cols)
            feed = _diff_changes(old_rows, new_rows, keys)
        elif info.get("mode") == "delete_range":
            # lazy range-delete feed (VERDICT r15 task #5): synthesize
            # the delete pre-images from the SUPERSEDED version's files
            # — every row of a fully-dropped file, plus the in-range
            # rows of the rewritten boundary files. Cost O(dropped +
            # boundary files), paid at feed time, never at commit time;
            # the refs live exactly as long as the superseded manifest
            # (vacuuming it already drops the chain to the endpoint
            # diff via the manifest load above).
            dcol = info["col"]
            if dcol not in cols:  # renamed after the delete: map forward
                for cur, olds in (chain[-1].get("renames") or {}).items():
                    if dcol in olds:
                        dcol = cur
                        break
            dtypes = {f.name: f.dataType for f in schema.fields}
            _require_refs(
                list(info.get("dropped", [])) + list(info.get("rewritten", [])),
                "delete_range",
            )
            parts = []
            if info.get("dropped"):
                parts.append(
                    _read_files(
                        spark, root, schema, info["dropped"],
                        chain[-1].get("renames"),
                    ).select(cols)
                )
            if info.get("rewritten"):
                # bounds are stat-encoded (datetime -> isoformat); cast
                # back through the column's own type before comparing
                lo_b = F.lit(info["lo"]).cast(dtypes[dcol])
                hi_b = F.lit(info["hi"]).cast(dtypes[dcol])
                parts.append(
                    _read_files(
                        spark, root, schema, info["rewritten"],
                        chain[-1].get("renames"),
                    )
                    .filter(F.col(dcol).between(lo_b, hi_b))
                    .select(cols)
                )
            if not parts:
                continue  # nothing was in range: nothing logical
            feed = parts[0]
            for p in parts[1:]:
                feed = feed.unionByName(p)
            feed = feed.withColumn("_change_type", F.lit("delete"))
        else:
            rels = [e["path"] for e in info.get("files", [])]
            if not rels:
                continue  # physical-only commit: nothing logical
            # via _read_files so sidecars staged before a later rename
            # still coalesce their historical column names
            feed = _read_files(
                spark, root, cdf_schema, rels, chain[-1].get("renames")
            ).select(*cols, "_change_type")
        feeds.append(feed.withColumn("_step", F.lit(i)))
    if not feeds:
        return empty_frame(spark, cdf_schema)
    evs = feeds[0]
    for f in feeds[1:]:
        evs = evs.unionByName(f)
    if len(feeds) == 1:
        return evs.drop("_step")
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    evs = evs.withColumn("_s_first", F.min("_step").over(w)).withColumn(
        "_s_last", F.max("_step").over(w)
    )
    vanished = evs.filter(
        F.col("_change_type").isin("update_preimage", "delete")
        & (F.col("_step") == F.col("_s_first"))
    ).select(cols)
    appeared = evs.filter(
        F.col("_change_type").isin("insert", "update_postimage")
        & (F.col("_step") == F.col("_s_last"))
    ).select(cols)
    # the diff cancels keys that ended at their starting value (e.g.
    # updated then updated back; inserted-then-deleted cancels via the
    # absent/absent case naturally) and re-classifies the rest
    return _diff_changes(vanished, appeared, keys)


def fold_snapshot_state(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    keys: str | Sequence[str],
    specs: dict[str, tuple[str, str]],
    txn: tuple[str, int] | None = None,
    retries: int = 2,
) -> int:
    """The aggregate-state family on the snapshot format: fold a batch
    into a persisted per-key rollup (``specs`` as in
    ``operators.incremental.fold_aggregate_state`` — the
    self-decomposable sum/count/min/max kinds) with the format's
    guarantees replacing the swap-table machinery one-for-one:

    - partial aggs over the BATCH only, then a re-aggregate of
      (touched state files ∪ partials) — O(batch + touched keys),
      never O(history); untouched files carry by reference, and the
      exact file prune guarantees a carried file shares no key with
      the batch, so skipping it is lossless.
    - redelivery safety via ``txn`` (the bucket-granular ``_epoch``
      fence of ``fold_aggregate_state_table``, here one watermark in
      the manifest: a replayed batch is a visible no-op even if its
      CONTENT was corrupted in flight).
    - atomic commit (no per-bucket swap loop), time-travelable rollup
      history, CDF over the rollup for downstream consumers."""
    from ..operators.incremental import _merge_aggs, _partial_aggs

    key_list = [keys] if isinstance(keys, str) else list(keys)
    partials = _partial_aggs(batch, key_list, specs)

    def combine(target, src, kk):
        merged = target.select(src.columns).unionByName(src)
        return _merge_aggs(merged, kk, specs)

    return _merge_commit(
        spark, partials, root, key_list, "fold", combine, retries, txn=txn
    )


def _consumer_position(
    src_root: str, dst_root: str, consumer_id: str, src_version: int | None = None
) -> tuple[int, int | None] | None:
    """Where a change-feed consumer stands: ``(src_v, last)`` — the
    source version to catch up to (default: current) and the last
    applied one (None before the bootstrap), read from the consumer's
    txn watermark on ``dst_root``. None when already caught up."""
    src_v = current_version(src_root) if src_version is None else src_version
    if src_v == 0:
        raise SnapshotVersionError(f"no snapshot committed at {src_root}")
    last = txn_version(dst_root, consumer_id)
    if last is not None and last >= src_v:
        return None
    return src_v, last


def mirror_snapshot(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    mirror_id: str = "mirror",
    retries: int = 2,
    src_version: int | None = None,
) -> int:
    """Incremental table replication with end-to-end exactly-once: pull
    the change feed since the last mirrored SOURCE version and apply
    inserts, updates and deletes to the replica in ONE fenced commit.

    The consumer's position is not an external checkpoint — it is the
    replica's own transaction watermark (``txn=(mirror_id, src_v)``),
    so the read-position and the write are committed by the same
    atomic link: a crash anywhere re-runs the same delta and the fence
    no-ops it; a partial apply is impossible because the apply IS one
    commit. First call bootstraps a full copy; a call with nothing new
    (or after a source compaction, whose feed is empty) advances only
    the watermark. The replica is assumed to be a true replica
    (no replica-only columns).

    Returns the replica version now current. The source must retain
    the last-mirrored version (vacuum no deeper than the slowest
    mirror — the standard CDC retention contract). ``src_version``
    pins the replication target to a specific source version instead
    of the moving tip (``mirror_db``'s consistent multi-table copy)."""
    pos = _consumer_position(src_root, dst_root, mirror_id, src_version)
    if pos is None:
        return current_version(dst_root)
    src_v, last = pos
    txn = (mirror_id, src_v)
    src_manifest = _load_manifest(src_root, src_v)
    keys = src_manifest.get("key") or []
    if last is None or not keys:
        # bootstrap — or a KEYLESS source, whose deltas cannot be
        # applied by key: refresh the full pinned snapshot (still
        # atomic + fenced; incremental economy needs a merge key)
        full = read_snapshot(spark, src_root, version=src_v)
        return write_snapshot(spark, full, dst_root, key=keys, txn=txn)
    cdf = snapshot_changes(spark, src_root, last, src_v).localCheckpoint()
    if not cdf.take(1):  # physical-only churn: just advance the watermark
        return _commit_loop(
            dst_root, lambda _base, m: _carry_forward(m, "mirror", txn), txn, retries
        )
    all_keys = cdf.select(*keys).dropDuplicates(keys)
    apply_rows = cdf.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")

    def combine(target, _src, kk):
        survivors = target.join(all_keys, kk, "left_anti")
        return survivors.unionByName(apply_rows.select(target.columns))

    return _merge_commit(
        spark, cdf.drop("_change_type"), dst_root, keys, "mirror", combine,
        retries, txn=txn, materialize=False,  # cdf already is
    )


# ---------------------------------------------------------------------------
# database-level manifests: atomic multi-TABLE commits
# ---------------------------------------------------------------------------
#
# A composed ingest (e.g. the embedding pipeline: corpus + pairs +
# labels + index) spans several tables; per-table commits leave a
# crash window BETWEEN tables in which readers see table A advanced
# and table B not. The database manifest closes it: tables commit
# individually as usual (those versions are invisible to db readers),
# then ONE db commit — the same link-CAS — atomically pins the new
# version of every table in the transaction. A crash anywhere before
# the db commit leaves the db view untouched (the orphaned table
# versions are plain vacuum fodder), and the replay converges through
# the per-table txn fences. Readers resolving through the db manifest
# get cross-table snapshot isolation and cross-table time travel for
# free: db version N names one consistent version of every table.

def db_current(db_root: str) -> dict[str, int]:
    """table -> pinned version at the current db version ({} if no db
    commit yet)."""
    cur = current_version(db_root)
    return dict(_load_manifest(db_root, cur)["tables"]) if cur else {}


def cdc_apply_snapshot(
    spark: SparkSession,
    changes: DataFrame,
    root: str,
    keys: str | Sequence[str],
    seq_col: str,
    op_col: str = "op",
    retries: int = 2,
    txn: tuple[str, int] | None = None,
) -> int:
    """Materialize a CDC log batch onto a SNAPSHOT table — the
    transactional counterpart of ``operators/incremental.
    cdc_apply_table`` (which buckets hive dirs): latest change per key
    wins by ``seq_col``, ``op == 'D'`` persists as a TOMBSTONE so a
    LATE lower-seq update for a deleted key still loses, and the state
    row keeps its winning ``_seq``. Exact under out-of-order delivery
    and at-least-once redelivery by construction (a replayed batch's
    winners tie into the same values); ``txn`` adds the manifest fence
    on top for corrupted-replay protection.

    What the snapshot format adds over the bucketed variant: atomic
    commits (no partition-swap windows), time travel over the
    materialized state, CDF for downstream consumers, retention, and
    concurrent snapshot-isolated readers. Cost per batch is O(batch +
    touched files) — the key-stat prune plays the role the hive
    buckets play in ``cdc_apply_table``.

    Read the live view with ``read_cdc_state`` (drops tombstones and
    bookkeeping columns). Same deterministic tie-break discipline as
    ``cdc_apply``: seq desc, then op desc within a batch, then content
    hash — a well-formed log never reaches the tie-break."""
    from pyspark.sql import Window

    key_list = [keys] if isinstance(keys, str) else list(keys)
    payload = [
        c for c in changes.columns if c not in (*key_list, seq_col, op_col)
    ]
    tie_hash = F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in payload]
    )
    w_batch = Window.partitionBy(*key_list).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc(), tie_hash.desc()
    )
    winners = (
        changes.withColumn("_rn", F.row_number().over(w_batch))
        .filter(F.col("_rn") == 1)
        .select(
            *key_list,
            *payload,
            F.col(seq_col).cast("long").alias("_seq"),
            (F.col(op_col) == F.lit("D")).alias("_deleted"),
        )
    )

    def combine(target, src, kk):
        pay = [c for c in src.columns if c not in (*kk, "_seq", "_deleted")]
        h = F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in pay]
        )
        w = Window.partitionBy(*kk).orderBy(
            F.col("_seq").desc(),
            # ties prefer the tombstone-free row deterministically,
            # then content hash — a well-formed log never ties
            F.col("_deleted").asc(),
            h.desc(),
        )
        return (
            target.select(src.columns).unionByName(src)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    return _merge_commit(
        spark, winners, root, key_list, "cdc_apply", combine, retries, txn=txn
    )


def read_cdc_state(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Live view of a ``cdc_apply_snapshot`` table: tombstones filtered,
    bookkeeping columns dropped. ``version`` time-travels the
    materialized state."""
    df = read_snapshot(spark, root, version=version)
    return df.filter(~F.col("_deleted")).drop("_seq", "_deleted")


def refresh_agg_view(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    keys: str | Sequence[str],
    specs: dict[str, tuple[str, str]],
    view_id: str = "agg_view",
    retries: int = 2,
) -> int:
    """Incrementally-maintained MATERIALIZED AGGREGATE VIEW: ``dst``
    holds ``src.groupBy(keys).agg(specs)`` and each call advances it
    by folding only the change feed since the last refresh — never
    re-aggregating the source (the lakehouse form of incremental view
    maintenance; at 100 TB the refresh cost is O(changed rows + touched
    view files), not O(fact table)).

    ``specs`` maps output column -> (kind, col): the RETRACTABLE kinds
    ``sum``, ``count`` (non-null of col), ``count_rows`` — an
    update/delete in the feed contributes its pre-image NEGATED, so
    groups shrink correctly and a group whose row count reaches zero
    leaves the view — plus ``min``/``max`` via TOUCHED-GROUP
    RECOMPUTE: inserts fold monotonically (new min = least(old,
    batch min)); a retraction that ties-or-beats a group's current
    extreme marks ONLY that group dirty, and dirty groups re-aggregate
    from the source's current version (key-pruned read + semi-join —
    O(dirty groups' rows), never O(fact table) when the source's zone
    maps cover the group key). Every other group still folds from the
    feed alone.

    Bookkeeping columns stored in the view: ``_n`` (group row count)
    and ``_nn_<out>`` per sum column (non-null contribution count, so
    a sum whose inputs all retract returns to NULL — true SUM-of-empty
    semantics — instead of a misleading 0).

    Exactly-once: the refresh commits with ``txn=(view_id,
    src_version)`` — the consumer position IS the view's transaction
    watermark (the ``mirror_snapshot`` design), so a crashed/replayed
    refresh no-ops and a partial apply is impossible. The source must
    retain the manifests back to the last refreshed version (vacuum no
    deeper — same contract as mirror). Exact for integral sums;
    floating-point sums carry the usual retraction rounding drift.

    Returns the view version now current."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    for out, (kind, col) in specs.items():
        if kind not in ("sum", "count", "count_rows", "min", "max"):
            raise ValueError(
                f"refresh_agg_view spec {out!r}: kind {kind!r} is not "
                "supported (sum, count, count_rows, min, max)"
            )
        if kind in ("sum", "count", "min", "max") and col == "*":
            raise ValueError(f"spec {out!r}: {kind} needs a column, not '*'")
    pos = _consumer_position(src_root, dst_root, view_id)
    if pos is None:
        return current_version(dst_root)
    src_v, last = pos
    sum_outs = [out for out, (kind, _) in specs.items() if kind == "sum"]
    ext_outs = {
        out: (kind, col)
        for out, (kind, col) in specs.items()
        if kind in ("min", "max")
    }

    def _full_aggs():
        aggs = []
        for out, (kind, col) in specs.items():
            if kind == "sum":
                aggs.append(F.sum(col).alias(out))
            elif kind == "count":
                aggs.append(F.count(col).alias(out))
            elif kind == "min":
                aggs.append(F.min(col).alias(out))
            elif kind == "max":
                aggs.append(F.max(col).alias(out))
            else:
                aggs.append(F.count("*").alias(out))
        for out in sum_outs:
            aggs.append(F.count(specs[out][1]).alias(f"_nn_{out}"))
        aggs.append(F.count("*").alias("_n"))
        return aggs

    if last is None:
        base = read_snapshot(spark, src_root, version=src_v)
        view = base.groupBy(*key_list).agg(*_full_aggs())
        return write_snapshot(
            spark, view, dst_root, key=key_list, txn=(view_id, src_v)
        )

    feed = snapshot_changes(spark, src_root, last, src_v)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    contribs = []
    for out, (kind, col) in specs.items():
        if kind == "sum":
            contribs.append(F.sum(F.col(col) * sign).alias(out))
        elif kind == "count":
            contribs.append(
                F.sum(F.when(F.col(col).isNotNull(), sign).otherwise(F.lit(0)))
                .cast("long").alias(out)
            )
        elif kind in ("min", "max"):
            agg = F.min if kind == "min" else F.max
            # inserted values fold monotonically through `out` itself;
            # retracted values ride in `_retr_<out>` and only matter
            # when they tie-or-beat the group's folded extreme
            contribs.append(agg(F.when(sign > 0, F.col(col))).alias(out))
            contribs.append(agg(F.when(sign < 0, F.col(col))).alias(f"_retr_{out}"))
        else:
            contribs.append(F.sum(sign).cast("long").alias(out))
    for out in sum_outs:
        col = specs[out][1]
        contribs.append(
            F.sum(F.when(F.col(col).isNotNull(), sign).otherwise(F.lit(0)))
            .cast("long").alias(f"_nn_{out}")
        )
    contribs.append(F.sum(sign).cast("long").alias("_n"))
    delta = feed.groupBy(*key_list).agg(*contribs)

    # frames persisted inside combine, released AFTER the commit:
    # combine runs inside the CAS retry loop, where eager
    # localCheckpoints would accumulate truncated-lineage blocks for
    # the session's lifetime, one set per conflict retry. persist()
    # keeps lineage, so unpersisting in the finally — after the staged
    # files are committed — is always safe.
    _held: list[DataFrame] = []

    def combine(target, src, kk):
        retr_cols = [f"_retr_{out}" for out in ext_outs]
        vals = [c for c in src.columns if c not in kk]
        merged = target.select(src.columns).unionByName(src)
        folds = []
        for c in vals:
            base = c[len("_retr_"):] if c.startswith("_retr_") else c
            if base in ext_outs:
                folds.append(
                    (F.min(c) if ext_outs[base][0] == "min" else F.max(c)).alias(c)
                )
            else:
                folds.append(F.sum(c).alias(c))
        summed = merged.groupBy(*kk).agg(*folds)
        # a sum whose non-null contributions all retracted is NULL
        # (SUM over no rows), not the 0.0 the running total lands on
        for out in sum_outs:
            summed = summed.withColumn(
                out, F.when(F.col(f"_nn_{out}") > 0, F.col(out))
            )
        summed = summed.filter(F.col("_n") > 0)
        if not ext_outs:
            return summed
        # dirty iff some retraction ties-or-beats the folded extreme:
        # only then can the TRUE extreme differ from the monotone fold
        # (coalesce: a NULL comparison must read as clean, never drop
        # the group from both branches)
        dirty_pred = F.lit(False)
        for out, (kind, _) in ext_outs.items():
            hit = F.col(f"_retr_{out}").isNotNull() & (
                (F.col(f"_retr_{out}") <= F.col(out))
                if kind == "min"
                else (F.col(f"_retr_{out}") >= F.col(out))
            )
            dirty_pred = dirty_pred | F.coalesce(hit, F.lit(False))
        summed = summed.persist()  # branches twice below
        _held.append(summed)
        clean = summed.filter(~dirty_pred).drop(*retr_cols)
        dirty_keys = summed.filter(dirty_pred).select(*kk)
        if dirty_keys.isEmpty():
            return clean
        # touched-group recompute: read the source's CURRENT version
        # pruned to the dirty keys' range (zone maps skip the rest of
        # the fact table when they cover the group key), then exact
        # semi-join — O(dirty groups' rows)
        dirty_keys = dirty_keys.persist()
        _held.append(dirty_keys)
        b = dirty_keys.agg(
            F.min(kk[0]).alias("_lo"), F.max(kk[0]).alias("_hi"),
            F.sum(F.col(kk[0]).isNull().cast("int")).alias("_nulls"),
        ).collect()[0]
        kb = None
        if b["_lo"] is not None and not b["_nulls"]:
            # only prune when no dirty group has a NULL key — the
            # between filter would silently drop NULL-keyed rows
            kb = (kk[0], b["_lo"], b["_hi"])
        src_rows = read_snapshot(spark, src_root, version=src_v, key_between=kb)
        # null-safe semi-join: a NULL-keyed group is a real group to
        # groupBy, and plain equality would drop its rows here
        cond = None
        for k in kk:
            e = src_rows[k].eqNullSafe(dirty_keys[k])
            cond = e if cond is None else (cond & e)
        recomputed = (
            src_rows.join(F.broadcast(dirty_keys), cond, "left_semi")
            .groupBy(*kk)
            .agg(*_full_aggs())
        )
        for out in sum_outs:  # NULL-sum parity with the initial build
            recomputed = recomputed.withColumn(
                out, F.when(F.col(f"_nn_{out}") > 0, F.col(out))
            )
        return clean.unionByName(recomputed.select(clean.columns))

    try:
        return _merge_commit(
            spark, delta, dst_root, key_list, "agg_refresh", combine, retries,
            txn=(view_id, src_v),
        )
    finally:
        for cached in _held:
            cached.unpersist()


def refresh_derived_snapshot(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    transform,
    view_id: str = "derived",
    retries: int = 2,
) -> int:
    """Row-wise derived table maintained from the change feed: ``dst``
    holds ``transform(src)`` for any per-row, KEY-PRESERVING transform
    (filter / projection / enrichment — each output row derives from
    exactly one input row and keeps the source's key columns). The
    aggregate counterpart is ``refresh_agg_view``; identity transform
    is ``mirror_snapshot``.

    Each refresh processes ONLY the feed since the last one: changed
    keys whose transformed post-image survives upsert; changed keys
    whose post-image is filtered out — or that were deleted upstream —
    leave the view. Both effects land in ONE fenced commit
    (txn=(view_id, src_version)), so a crash/replay can never leave a
    half-applied refresh. Source must retain manifests back to the
    last refreshed version (the mirror contract).

    At scale: refresh reads O(changed rows) from the feed and rewrites
    O(touched view files) — never the fact table, never the whole
    view."""
    pos = _consumer_position(src_root, dst_root, view_id)
    if pos is None:
        return current_version(dst_root)
    src_v, last = pos
    keys = _load_manifest(src_root, src_v).get("key") or []
    if not keys:
        raise ValueError(
            "refresh_derived_snapshot needs a KEYED source (the feed's "
            "deletes/updates are applied by key); keyless sources can "
            "only full-refresh via write_snapshot(transform(read))"
        )
    if last is None:
        view = transform(read_snapshot(spark, src_root, version=src_v))
        missing = [k for k in keys if k not in view.columns]
        if missing:
            raise ValueError(
                f"transform dropped the source key column(s) {missing}; "
                "derived maintenance applies feed deletes by key"
            )
        return write_snapshot(
            spark, view, dst_root, key=keys, txn=(view_id, src_v)
        )
    feed = snapshot_changes(spark, src_root, last, src_v)
    post = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    new_rows = transform(post)
    changed_keys = feed.select(*keys).dropDuplicates(keys)
    # one frame carries both effects: surviving rows, plus tombstones
    # for changed keys with no surviving row (deleted upstream, or
    # transformed out by the filter)
    tomb = changed_keys.join(new_rows.select(*keys), keys, "left_anti")
    src_frame = new_rows.withColumn("_tomb", F.lit(False)).unionByName(
        tomb.select(
            *keys,
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in new_rows.schema.fields
                if f.name not in keys
            ],
            F.lit(True).alias("_tomb"),
        ),
        allowMissingColumns=False,
    )

    def combine(target, src, kk):
        all_keys = src.select(*kk).dropDuplicates(kk)
        kept = target.join(all_keys, kk, "left_anti")
        survivors = src.filter(~F.col("_tomb")).drop("_tomb")
        return kept.select(survivors.columns).unionByName(survivors)

    return _merge_commit(
        spark, src_frame, dst_root, keys, "derived_refresh", combine, retries,
        txn=(view_id, src_v),
    )


def mirror_db(
    spark: SparkSession,
    src_db: str,
    dst_db: str,
    mirror_id: str = "mirror",
) -> dict[str, int]:
    """Replicate a whole DATABASE manifest: pin ONE consistent source
    db version, incrementally mirror every member table AT EXACTLY the
    version that db manifest pins (not the table's current tip — a
    writer advancing a member mid-replication cannot tear the copy),
    then db-commit the replica pins. Readers of the destination db see
    the member tables move together or not at all, and each member
    mirror is itself fenced/exactly-once (``mirror_snapshot``), so a
    crash mid-way resumes without re-copying finished tables — the
    final db_commit is what makes the new state visible.

    Returns the replicated {table: replica_version} map. Source member
    tables must retain the pinned versions until the mirror completes
    (the usual CDC retention contract, now at db scope: vacuum members
    with ``db_root=src_db``). Don't mix a db mirror with direct
    per-member ``mirror_snapshot`` calls under the SAME mirror_id: a
    member mirrored ahead of the db pin would fence the pinned
    replication as already-applied and the db view would pick up the
    newer state early."""
    src_db_v = current_version(src_db)
    if src_db_v == 0:
        raise SnapshotVersionError(f"no db commit at {src_db}")
    pinned = _load_manifest(src_db, src_db_v)["tables"]
    replica_pins: dict[str, int] = {}
    for table, tv in sorted(pinned.items()):
        replica_pins[table] = mirror_snapshot(
            spark, os.path.join(src_db, table),
            os.path.join(dst_db, table), mirror_id,
            src_version=tv,
        )
    # a replayed db mirror converges without version churn: only
    # commit when the pins actually moved
    if db_current(dst_db) != replica_pins:
        db_commit(dst_db, replica_pins)
    return replica_pins


def db_commit(
    db_root: str,
    table_versions: dict[str, int],
    expected_version: int | None = None,
) -> int:
    """Atomically advance the pinned versions of the named tables
    (relative paths under ``db_root``); unmentioned tables carry
    forward. The whole transaction becomes visible in ONE link — there
    is no state in which a db reader sees half of it.

    The carry-forward is a read-modify-write, so the commit always
    CASes on the db version it READ (not merely the version slot):
    without that, two concurrent db commits advancing different
    tables would silently roll back each other's pins (lost update).
    With ``expected_version=None`` the conflict is absorbed by
    re-reading and retrying; with it set, the conflict raises."""
    def build(base: int, manifest: dict) -> dict:
        if expected_version is not None and base != expected_version:
            raise SnapshotConflict(
                f"db at {db_root} moved to v{base} (writer based on v{expected_version})"
            )
        pinned = dict(manifest.get("tables", {}))
        pinned.update({t: int(v) for t, v in table_versions.items()})
        return {"op": "db_commit", "tables": pinned, "files": [], "rows": 0,
                "schema": "", "key": []}

    return _commit_loop(db_root, build, retries=4 if expected_version is None else 0)


def db_read(
    spark: SparkSession,
    db_root: str,
    table: str,
    db_version: int | None = None,
    key_between: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Read ``table`` at the version the db manifest pins — the
    consistent-view read path. Two ``db_read`` calls at the same
    ``db_version`` can never observe a torn multi-table transaction."""
    v = current_version(db_root) if db_version is None else db_version
    if v == 0:
        raise SnapshotVersionError(f"no db commit at {db_root}")
    pinned = _load_manifest(db_root, v)["tables"]
    if table not in pinned:
        raise SnapshotVersionError(f"table {table!r} not in db version {v}")
    return read_snapshot(
        spark, os.path.join(db_root, table), version=pinned[table],
        key_between=key_between,
    )


def db_history(db_root: str) -> list[dict]:
    """One row per db version: {version, tables: {name: version}}."""
    return [
        {"version": v, "tables": _load_manifest(db_root, v)["tables"]}
        for v in _list_versions(db_root)
    ]


def register_db_views(
    spark: SparkSession,
    db_root: str,
    db_version: int | None = None,
    prefix: str = "",
) -> dict[str, int]:
    """SQL surface: register every table the db manifest pins as a temp
    view (``prefix`` + table name), all at ONE consistent db version —
    ``spark.sql`` joins across them can never observe a torn
    multi-table transaction, and passing an old ``db_version`` gives
    cross-table time travel to the SQL layer. Returns the pinned
    {table: version} map that was registered."""
    v = current_version(db_root) if db_version is None else db_version
    if v == 0:
        raise SnapshotVersionError(f"no db commit at {db_root}")
    pinned = _load_manifest(db_root, v)["tables"]
    for table, tv in pinned.items():
        df = read_snapshot(spark, os.path.join(db_root, table), version=tv)
        df.createOrReplaceTempView(f"{prefix}{table}")
    return dict(pinned)
