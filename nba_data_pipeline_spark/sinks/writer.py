"""Lakehouse writer: partitioned parquet tables with merge semantics.

Replaces the reference's Postgres sink stack (create-on-first-write,
row-wise upsert, manual indexes — ``database/db_client.py:37-150``):

- layout: parquet partitioned by (SEASON, SEASON_TYPE) so the
  reference's indexed filters become partition pruning; GAME_ID
  predicates ride parquet row-group min/max stats;
- upsert: MERGE-shaped anti-join + rewrite. On a Delta/Iceberg
  cluster this function body is one ``MERGE INTO`` statement; plain
  parquet (this environment) rewrites only the partitions that
  received source rows (dynamic-partition-overwrite-shaped), not the
  whole table — at 100 TB a merge touches O(changed partitions).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.data import local_frame
from ..operators.incremental import insert_ignore, merge_upsert


def _align_schemas(target: DataFrame, source: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for merges: a column present on only one side
    is added to the other as typed NULLs (ADD COLUMN semantics — new
    source columns backfill NULL into history; columns the source
    stopped sending survive as NULL on new rows). A column present on
    BOTH sides with different types raises — silent cast-on-merge is
    how a lakehouse table rots. Returns both frames with identical
    column order (source's order first, then target-only columns)."""
    s_types = dict(zip(source.columns, [f.dataType for f in source.schema.fields]))
    t_types = dict(zip(target.columns, [f.dataType for f in target.schema.fields]))
    # compare via simpleString: parquet read-back marks nested struct
    # fields nullable, so strict DataType equality would flag a merge
    # of the logically-identical type as a conflict
    conflicts = {
        c: (t_types[c], s_types[c])
        for c in s_types
        if c in t_types and t_types[c].simpleString() != s_types[c].simpleString()
    }
    if conflicts:
        raise ValueError(
            f"upsert schema conflict (column: table type vs source type): {conflicts}"
        )
    for c, dt in s_types.items():
        if c not in t_types:
            target = target.withColumn(c, F.lit(None).cast(dt))
    for c, dt in t_types.items():
        if c not in s_types:
            source = source.withColumn(c, F.lit(None).cast(dt))
    cols = list(source.columns)  # source order + appended target-only cols
    return target.select(cols), source.select(cols)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def table_exists(path: str) -> bool:
    """True iff ``path`` holds at least one parquet data file. A bare
    directory (e.g. an aborted or EMPTY first write — Spark writes only
    _SUCCESS for a zero-row frame) is NOT a table: reading it fails
    schema inference, so merge paths must treat it as absent and take
    the create-on-first-write branch."""
    if not os.path.exists(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def read_table(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """``merge_schema=True`` unions column sets across all files —
    REQUIRED when reading a table whose partitions may carry evolved
    (heterogeneous) schemas: the default reader takes one file's
    schema, which would hide an evolved column and silently drop its
    values on the next partition rewrite. All merge paths read with
    it; ad-hoc readers can skip the footer sweep."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    return reader.parquet(path)


def hive_partition_cols(path: str) -> list[str]:
    """Infer a parquet table's hive partition columns from its directory
    layout (one ``col=value`` dir level per partition column; Spark
    always writes all of them). Empty for unpartitioned tables. Lets a
    rewriting operation (takedown, compaction) preserve a table's
    layout without every caller having to re-declare it — a bare
    rewrite of a partitioned table would silently flatten it."""
    cols: list[str] = []
    d = path
    while os.path.isdir(d):
        # skip dot/underscore-prefixed names: Spark's reader hides them
        # (like _SUCCESS), and a crash-orphaned ``.swap-old-bucket=N``
        # staging dir contains '=' and sorts before 'bucket=...' — it
        # must never be mistaken for the partition layout
        subs = sorted(
            n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
            and "=" in n
            and not n.startswith((".", "_"))
        )
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0])
        d = os.path.join(d, subs[0])
    return cols


def heal_partition_swaps(path: str) -> None:
    """Complete or roll back swaps interrupted by a crash, so a state
    read never sees a half-swapped table. MUST run BEFORE the caller
    reads the table (Spark lists files eagerly at ``read_table``): a
    leaf stuck mid-swap reads as ABSENT, and a merge computed from
    that stale view — then committed — silently loses every prior row
    in the leaf. ``check_partition_layout`` calls this, so every merge
    path heals before it reads; read-only/maintenance paths
    (takedown, compaction, CDC snapshot) call it directly.

    Recovery per leaf (see the protocol comment in
    ``_rewrite_partitions``): ``.swap-new`` is only ever COMPLETE once
    the live dir has been moved aside (stage moves are same-fs renames),
    so if the live dir is missing, rename ``.swap-new`` into place —
    roll the swap FORWARD; the merge output it holds includes the old
    rows. If only ``.swap-old`` remains, roll BACK. If the live dir
    exists, any stage beside it is a pre-commit orphan (or the old copy
    of an already-committed swap) — remove it. The same protocol is
    applied to the whole-table stages ``<path>.swap-new`` /
    ``<path>.swap-old`` written by ``_rewrite``.

    On a real lakehouse (Delta/Iceberg) this whole mechanism is the
    table format's transaction log; the heal is the local-fs stand-in
    for log replay."""
    new_t, old_t = path.rstrip("/") + ".swap-new", path.rstrip("/") + ".swap-old"
    if not os.path.exists(path):
        if os.path.exists(new_t):
            os.rename(new_t, path)
        elif os.path.exists(old_t):
            os.rename(old_t, path)
    for stale in (new_t, old_t):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    if not os.path.isdir(path):
        return
    for root, dirs, _files in os.walk(path):
        swap_new = [d for d in dirs if d.startswith(".swap-new-")]
        swap_old = [d for d in dirs if d.startswith(".swap-old-")]
        # complete interrupted swaps first: with both stages present and
        # the live dir missing, .swap-new (the full merge output) wins
        for d in swap_new:
            dst = os.path.join(root, d[len(".swap-new-"):])
            if not os.path.exists(dst):
                os.rename(os.path.join(root, d), dst)
        for d in swap_old:
            dst = os.path.join(root, d[len(".swap-old-"):])
            if not os.path.exists(dst):
                os.rename(os.path.join(root, d), dst)
            else:
                shutil.rmtree(os.path.join(root, d))
        for d in swap_new:  # remaining = pre-commit orphans (live intact)
            p = os.path.join(root, d)
            if os.path.exists(p):
                shutil.rmtree(p)
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]


def choose_state_buckets(
    history_rows: int, batch_rows: int | None = None
) -> int | None:
    """Default ``state_buckets`` / ``n_buckets`` for the merge-state
    writers (``fold_aggregate_state_table``, ``cdc_apply_table``,
    ``near_dedup_batch``, ``update_component_state``), encoding three
    rounds of measured crossovers rather than a guess:

    - **None below 50M history rows** — the whole-table rewrite WINS on
      fixed costs there. Measured (COVERAGE: fold family): whole-state
      fold 0.62/1.10/1.43s at 50k/500k/5M keys vs bucketed
      2.99/3.93/5.75s; the lines cross between 5M and 50M (16.86s vs
      8.03s at 50M). The signature-merge and component-state families
      show the same shape on identical machinery.
    - **Past the crossover, size buckets so history/buckets amortizes
      the per-dir fixed cost** (~1M rows per bucket): buckets larger
      than that are measured to LOSE — 1024 buckets over a 5M-row label
      table cost 97.9s/batch vs 13.6s at 64, because dir listing,
      footer sweeps and serial leaf swaps scale with touched-bucket
      count while each tiny bucket prunes almost nothing.
    - **A batch comparable to the history defeats pruning** (it sprays
      into every bucket, so the merge reads ~everything plus overhead):
      with ``batch_rows`` >= history/10 the whole rewrite is again the
      honest default.

    Returns a power of two in [64, 65536] or None. Callers with a
    measured workload should still override; this is the
    documented default, not a tuner."""
    if history_rows < 50_000_000:
        return None
    if batch_rows is not None and batch_rows * 10 >= history_rows:
        return None
    rows_per_bucket = 1_000_000
    n = 64
    while n * 2 <= min(history_rows // rows_per_bucket, 65536):
        n *= 2
    return n


LAYOUT_META = "_layout_meta.json"


def write_layout_meta(path: str, partition_by: Sequence[str], buckets: int | None = None) -> None:
    """Record a state table's partition layout in an underscore-prefixed
    sidecar (ignored by Spark's parquet reader, like ``_SUCCESS``).
    ``buckets`` pins the hash-bucket COUNT for ``bucket``-partitioned
    merge-state tables — the directory layout alone records the column
    but not the modulus, and merging batches hashed with a different
    modulus silently splits one key across two bucket dirs (duplicate
    rows on read)."""
    try:
        with open(os.path.join(path, LAYOUT_META), "w") as fh:
            json.dump({"partition_by": list(partition_by), "buckets": buckets}, fh)
    except OSError:
        pass  # meta is a guard, not a dependency (e.g. read-only dir)


def check_partition_layout(
    path: str, partition_by: Sequence[str], buckets: int | None = None
) -> None:
    """Refuse to merge into a table whose ON-DISK layout disagrees with
    the caller's declared layout. Silent disagreement is data
    corruption, not a recoverable condition: a flat merge into a
    bucketed table flattens it (leaving ``bucket`` as a data column
    beside stale bucket dirs), and a bucketed merge into a flat table
    drops bucket dirs in beside the flat files — either way the next
    read returns duplicate rows. The directory layout
    (``hive_partition_cols``) is authoritative for the COLUMNS; the
    ``_layout_meta.json`` sidecar pins the bucket COUNT (legacy tables
    without a sidecar are trusted on first use and the sidecar is
    written on the next successful merge).

    Also heals crash-interrupted swaps FIRST (``heal_partition_swaps``)
    — every merge path calls this before reading the table, which is
    exactly where the heal must run: a leaf stuck mid-swap would read
    as absent and the merge would commit without its rows."""
    heal_partition_swaps(path)
    if not table_exists(path):
        return
    on_disk = hive_partition_cols(path)
    declared = list(partition_by)
    if on_disk != declared:
        raise ValueError(
            f"partition-layout mismatch for table {path!r}: on-disk dirs "
            f"say {on_disk}, caller declared {declared}. Pass the same "
            f"partitioning (e.g. the same state_buckets) this table was "
            f"created with, or rebuild the table."
        )
    meta_path = os.path.join(path, LAYOUT_META)
    if buckets is not None or os.path.exists(meta_path):
        recorded: int | None = None
        known = False
        if os.path.exists(meta_path):
            try:
                with open(meta_path) as fh:
                    recorded = json.load(fh).get("buckets")
                known = True
            except (OSError, ValueError):
                known = False
        if known and recorded != buckets:
            raise ValueError(
                f"bucket-count mismatch for table {path!r}: created with "
                f"state_buckets={recorded}, called with {buckets}. The "
                f"modulus is part of the layout — keys hashed with a "
                f"different modulus land in different bucket dirs and "
                f"duplicate on read."
            )


def _rewrite(spark: SparkSession, merged: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """Replace ``path`` with ``merged`` wholesale (write-temp-then-swap;
    local-fs stand-in for a table-format transaction commit). Used for
    unpartitioned tables; partitioned merges go through
    ``_rewrite_partitions`` and touch only affected partition dirs.

    Crash-safe via the same staged protocol as the per-leaf swap:
    the new table is renamed in as ``<path>.swap-new``, the old one
    aside as ``<path>.swap-old``, then committed — every crash window
    leaves a copy ``heal_partition_swaps`` can roll forward or back.
    The old rmtree-then-move had a window (old deleted, new still in
    the anonymous temp dir nothing ever heals) that lost the table."""
    new_stage = path.rstrip("/") + ".swap-new"
    old_stage = path.rstrip("/") + ".swap-old"
    for stale in (new_stage, old_stage):
        if os.path.exists(stale):
            raise RuntimeError(
                f"unhealed interrupted swap beside table {path!r} "
                f"({stale!r} exists): run heal_partition_swaps(path) "
                f"BEFORE reading table state — merging from a "
                f"half-swapped read loses the staged rows."
            )
    tmp = tempfile.mkdtemp(prefix="upsert_", dir=os.path.dirname(path.rstrip("/")) or ".")
    try:
        write_table(merged, tmp, partition_by, mode="overwrite")
        if not table_exists(tmp):
            # merged was EMPTY and the writer emitted zero data files
            # (partitioned empty writes always do; some planner shapes
            # do even unpartitioned). An empty table IS absent under
            # the table_exists contract — delete the target instead of
            # crashing on schema inference of a file-less directory.
            # Stage the delete: a crash mid-rmtree of the LIVE dir
            # would leave a readable-but-partial table; renaming aside
            # first means a crash either restores it on heal (and the
            # idempotent caller re-runs) or completes the delete.
            if os.path.exists(path):
                os.rename(path, old_stage)
                shutil.rmtree(old_stage)
            return
        out = read_table(spark, tmp)
        out.count()  # materialize before dropping the old copy
        shutil.move(tmp, new_stage)
        if os.path.exists(path):
            os.rename(path, old_stage)
        os.rename(new_stage, path)
        if os.path.exists(old_stage):
            shutil.rmtree(old_stage)
    finally:
        if os.path.exists(tmp):
            shutil.rmtree(tmp, ignore_errors=True)


def _rewrite_partitions(
    spark: SparkSession, merged: DataFrame, path: str, partition_by: Sequence[str]
) -> list[str]:
    """Swap only the partition directories present in ``merged`` — the
    dynamic-partition-overwrite shape: write merged (already filtered to
    affected partitions) to a temp dir, then move each leaf partition
    dir over its target counterpart. Unaffected partitions are never
    read or rewritten, so a merge costs O(changed partitions), not
    O(table).

    Returns the relative leaf partition dirs that were swapped, so a
    DELETING caller (takedown) can detect an affected partition that
    produced ZERO output rows — such a dir is never swapped and its
    stale files must be removed explicitly."""
    depth = len(partition_by)
    tmp = tempfile.mkdtemp(prefix="upsert_", dir=os.path.dirname(path.rstrip("/")) or ".")
    try:
        # the write is itself the materializing action; an empty merged
        # frame (e.g. a delta re-run with nothing new) produces zero
        # partition dirs and the loop below swaps nothing
        write_table(merged, tmp, partition_by, mode="overwrite")
        # walk HIVE-style partition dirs exactly `depth` levels deep
        leaves: list[str] = []

        def walk(d: str, level: int) -> None:
            if level == depth:
                leaves.append(os.path.relpath(d, tmp))
                return
            for name in os.listdir(d):
                sub = os.path.join(d, name)
                if os.path.isdir(sub) and "=" in name:
                    walk(sub, level + 1)

        walk(tmp, 0)
        for rel in leaves:
            dst = os.path.join(path, rel)
            parent = os.path.dirname(dst)
            leaf = os.path.basename(dst)
            os.makedirs(parent, exist_ok=True)
            # crash-safe per-leaf swap: stage the new dir and the old
            # dir under dot-prefixed names (invisible to Spark's
            # reader, like _SUCCESS), so every crash window leaves the
            # table readable or both copies on disk:
            #   1. move new data in as .swap-new (reads still see old),
            #   2. rename old -> .swap-old (atomic; reads briefly miss
            #      the leaf but BOTH copies exist for recovery),
            #   3. rename .swap-new -> live (atomic),
            #   4. delete .swap-old.
            # The old rmtree-then-move had a window where the leaf was
            # deleted with its replacement still outside the table — a
            # kill there lost the bucket outright.
            new_stage = os.path.join(parent, f".swap-new-{leaf}")
            old_stage = os.path.join(parent, f".swap-old-{leaf}")
            # A leftover stage with the live leaf MISSING means the
            # caller read a half-swapped table (heal didn't run before
            # the state read) and `merged` was computed WITHOUT the
            # leaf's prior rows — committing it would silently lose
            # them and deleting the stage would destroy the only copy.
            # Refuse; heal_partition_swaps (which check_partition_layout
            # runs before every merge read) makes this unreachable in
            # the shipped paths. A stage beside an INTACT live leaf is
            # a pre-commit orphan — safe to clear.
            if not os.path.exists(dst) and (
                os.path.exists(new_stage) or os.path.exists(old_stage)
            ):
                raise RuntimeError(
                    f"unhealed interrupted swap at {dst!r}: run "
                    f"heal_partition_swaps on the table before reading "
                    f"its state (the merge about to commit was computed "
                    f"without this leaf's prior rows)."
                )
            for stale in (new_stage, old_stage):  # pre-commit orphans
                if os.path.exists(stale):
                    shutil.rmtree(stale)
            shutil.move(os.path.join(tmp, rel), new_stage)
            if os.path.exists(dst):
                os.rename(dst, old_stage)
            os.rename(new_stage, dst)
            if os.path.exists(old_stage):
                shutil.rmtree(old_stage)
        return leaves
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _merge_partitioned(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    partition_by: Sequence[str],
    combine,
) -> None:
    """Shared partition-scoped merge: only target rows in partitions that
    received source rows participate (left-semi on the broadcast distinct
    partition tuples — at scale this is partition pruning, not a scan).

    Invariant: partition columns must be stable for a given key (true for
    the reference layout — SEASON/SEASON_TYPE derive from GAME_ID). A key
    whose partition changed would leave its old copy untouched."""
    target = read_table(spark, path, merge_schema=True)
    for c in partition_by:
        # Hive-style partition dirs store values as strings and the
        # reader re-infers their type (season=2024 comes back as int);
        # the source's declared type is authoritative — the cast is
        # the inference round-trip undone, not a data change
        target = target.withColumn(c, F.col(c).cast(source.schema[c].dataType))
    target, source = _align_schemas(target, source)
    src_parts = source.select(*partition_by).distinct()
    affected = target.join(F.broadcast(src_parts), list(partition_by), "left_semi")
    merged = combine(affected, source, key)
    # one output file per swapped partition dir (the fold-state
    # discipline): without the repartition every merge sprays
    # shuffle-partition-count files into each dir, and although the
    # swap replaces dirs wholesale (no cross-batch accumulation), a
    # bucketed state table read pays the per-file open cost on every
    # subsequent merge of that bucket
    _rewrite_partitions(
        spark, merged.repartition(*partition_by), path, partition_by
    )


def _try_delta_merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    update_matched: bool,
) -> bool:
    """Transactional MERGE INTO when the table at ``path`` is a Delta
    table and the ``delta`` package is importable (reference upsert
    semantics, db_client.py:69-90, with real concurrent-writer
    atomicity). Returns False — caller falls back to the anti-join
    partition rewrite — when delta is absent or the path is plain
    parquet.

    Parity with the fallback: schema evolution is EXPLICIT, mirroring
    ``_align_schemas`` — genuinely new source columns become an ALTER
    TABLE ADD COLUMNS on the Delta table (NULL backfill into history),
    target-only columns are padded into the source as typed NULLs, and
    a same-name/different-type column raises. No session conf is
    touched: the earlier approach of flipping delta's autoMerge conf
    around execute() was a read-modify-write race for any concurrent
    writer sharing the SparkSession. One DECLARED divergence: a source
    with duplicate keys raises Delta's multiple-source-rows-matched
    error here, while the rewrite path keeps all copies — dedup the
    source first if that matters."""
    try:
        from delta.tables import DeltaTable  # noqa: PLC0415
    except ImportError:
        return False
    try:
        if not DeltaTable.isDeltaTable(spark, path):
            return False
        target = DeltaTable.forPath(spark, path)
    except Exception:
        return False
    t_fields = {f.name: f.dataType for f in target.toDF().schema.fields}
    s_fields = {f.name: f.dataType for f in source.schema.fields}
    conflicts = {
        c: (t_fields[c], s_fields[c])
        for c in s_fields
        if c in t_fields and t_fields[c].simpleString() != s_fields[c].simpleString()
    }
    if conflicts:
        raise ValueError(
            f"upsert schema conflict (column: table type vs source type): {conflicts}"
        )
    new_cols = [
        (c, dt.simpleString()) for c, dt in s_fields.items() if c not in t_fields
    ]
    if new_cols:
        ddl = ", ".join(f"`{c}` {t}" for c, t in new_cols)
        spark.sql(f"ALTER TABLE delta.`{path}` ADD COLUMNS ({ddl})")
        target = DeltaTable.forPath(spark, path)  # re-resolve post-DDL
    for c, dt in t_fields.items():
        if c not in s_fields:
            source = source.withColumn(c, F.lit(None).cast(dt))
    keys = [key] if isinstance(key, str) else list(key)
    # null-safe equality: NULL key components must collide, matching
    # merge_upsert's anti-join semantics
    cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
    merge = target.alias("t").merge(source.alias("s"), cond)
    if update_matched:
        merge = merge.whenMatchedUpdateAll()
    merge.whenNotMatchedInsertAll().execute()
    return True


def upsert_table(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    partition_by: Sequence[str] = (),
    buckets: int | None = None,
) -> None:
    """MERGE: source rows win on key collision; first write creates the
    table (reference create-on-first-write, db_client.py:43-54).
    Delta tables MERGE transactionally (``_try_delta_merge``); plain
    parquet rewrites only the partitions receiving source rows.
    ``check_partition_layout`` refuses a merge whose declared layout
    (``partition_by`` + hash-bucket count ``buckets``) disagrees with
    the on-disk table — silent layout mixing duplicates rows on read."""
    check_partition_layout(path, partition_by, buckets)
    if not table_exists(path):
        write_table(source, path, partition_by)
        write_layout_meta(path, partition_by, buckets)
        return
    if _try_delta_merge(spark, source, path, key, update_matched=True):
        return
    if partition_by:
        _merge_partitioned(spark, source, path, key, partition_by, merge_upsert)
        write_layout_meta(path, partition_by, buckets)
        return
    target, source = _align_schemas(read_table(spark, path, merge_schema=True), source)
    merged = merge_upsert(target, source, key)
    _rewrite(spark, merged, path, partition_by)
    write_layout_meta(path, partition_by, buckets)


def insert_ignore_table(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str | Sequence[str],
    partition_by: Sequence[str] = (),
    buckets: int | None = None,
) -> None:
    """ON CONFLICT DO NOTHING (reference db_client.py:87-88)."""
    check_partition_layout(path, partition_by, buckets)
    if not table_exists(path):
        write_table(source, path, partition_by)
        write_layout_meta(path, partition_by, buckets)
        return
    if _try_delta_merge(spark, source, path, key, update_matched=False):
        return
    if partition_by:
        _merge_partitioned(spark, source, path, key, partition_by, insert_ignore)
        write_layout_meta(path, partition_by, buckets)
        return
    target, source = _align_schemas(read_table(spark, path, merge_schema=True), source)
    merged = insert_ignore(target, source, key)
    _rewrite(spark, merged, path, partition_by)
    write_layout_meta(path, partition_by, buckets)


def compact_table(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    partition_by: Sequence[str] = (),
    min_files: int = 2,
) -> dict[str, int]:
    """Small-file compaction (the OPTIMIZE step of a lakehouse table):
    rewrite fragmented partitions so each holds ~ceil(rows / target)
    parquet files. Streaming upserts and per-batch appends fragment a
    table into thousands of KB-sized files; at 100 TB that turns every
    scan into an open()-bound crawl, so compaction is a first-class
    maintenance operation, not a nicety.

    Shape: one stats aggregate over (partition cols, input_file_name)
    — tiny result, one row per table partition — then ONE distributed
    rewrite of only the fragmented partitions (file count >
    max(needed, min_files - 1)); healthy partitions are never read
    again or touched on disk. Within the rewrite, rows are bucketed by
    a deterministic hash into ceil(rows/target) buckets per partition
    and shuffled on (partition cols, bucket), so output file count
    tracks the target (hash collisions can merge buckets into fewer,
    larger files — compaction is a floor on file size, not an exact
    count). Returns {'partitions_compacted': n, 'files_before': f}.

    Unpartitioned tables compact wholesale via the temp-swap rewrite.
    """
    import math

    heal_partition_swaps(path)  # never compact a half-swapped read
    # merge_schema: compaction REWRITES partitions, and after a schema
    # evolution untouched partitions still carry the old file schema —
    # a single-footer read here would rewrite them without the evolved
    # column, deleting its values from disk
    df = read_table(spark, path, merge_schema=True)
    # non-deterministic exprs can't sit inside an aggregate (ANSI
    # analyzer rule) — project the file name into a column first
    fdf = df.withColumn("_fn", F.input_file_name())
    if not partition_by:
        stats = fdf.agg(
            F.count("*").alias("_rows"),
            F.countDistinct("_fn").alias("_files"),
        ).collect()[0]
        needed = max(1, math.ceil(stats["_rows"] / target_rows_per_file))
        if stats["_files"] <= max(needed, min_files - 1):
            return {"partitions_compacted": 0, "files_before": stats["_files"]}
        _rewrite(spark, df.repartition(needed), path, ())
        return {"partitions_compacted": 1, "files_before": stats["_files"]}
    pcols = list(partition_by)
    stats = (
        fdf.groupBy(*pcols)
        .agg(
            F.count("*").alias("_rows"),
            F.countDistinct("_fn").alias("_files"),
        )
        .withColumn(
            "_nf", F.greatest(F.ceil(F.col("_rows") / target_rows_per_file), F.lit(1))
        )
        .filter(F.col("_files") > F.greatest(F.col("_nf"), F.lit(min_files - 1)))
        .select(*pcols, "_nf", "_files")
    )
    frag = stats.collect()  # one row per FRAGMENTED partition — tiny
    if not frag:
        return {"partitions_compacted": 0, "files_before": 0}
    # rebuild the broadcast side from the ALREADY-COLLECTED rows —
    # reusing `stats` would embed its full-table aggregate subplan in
    # the rewrite and scan the table a second time at write
    frag_df = local_frame(spark, frag, stats.schema)
    sized = df.join(F.broadcast(frag_df), pcols)
    bucketed = sized.withColumn(
        "_f",
        F.pmod(F.xxhash64(*[c for c in df.columns if c not in pcols]), F.col("_nf")),
    )
    total_files = int(sum(r["_nf"] for r in frag))
    merged = (
        bucketed.repartition(total_files, *pcols, F.col("_f")).drop("_nf", "_files", "_f")
    )
    _rewrite_partitions(spark, merged, path, pcols)
    return {
        "partitions_compacted": len(frag),
        "files_before": int(sum(r["_files"] for r in frag)),
    }


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_cols: Sequence[str],
    seed: int = 0,
) -> dict[str, int]:
    """Deterministic shuffled shard export — the hand-off from the data
    pipeline to the trainer.

    Training loaders want (a) a fixed shard count, (b) a global shuffle
    so no shard is a topical/temporal slice of the corpus, and (c) byte
    determinism so re-running the pipeline reproduces the dataset. All
    three come from one derived column: a portable md5-prefix shuffle
    key over ``key_cols`` + ``seed``. ``shard = key % n_shards`` gives
    balanced pseudo-random placement; the key is kept in the output as
    ``_shuffle_key`` so a reader can impose the same global order.

    Layout: parquet partitioned by ``shard`` (shard=0..n-1 dirs), rows
    sorted by the key within each task. Shard CONTENT depends only on
    the data and the seed — never on cluster size or task placement —
    because the directory split happens by column value at write, not
    by task. One shuffle total.

    Returns {'rows': n, 'shards': n_shards}.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if not key_cols:
        raise ValueError("key_cols must name at least one stable id column")
    # concat_ws SKIPS nulls, which would make ('a', NULL) and (NULL,
    # 'a') — or just ('a',) — collide; coalesce each key col to an
    # explicit sentinel so every column always contributes one token.
    key_parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in key_cols
    ]
    key = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", F.lit(str(seed)), *key_parts)), 1, 15),
        16,
        10,
    ).cast("long")
    sharded = df.withColumn("_shuffle_key", key).withColumn(
        "shard", F.pmod(F.col("_shuffle_key"), F.lit(n_shards)).cast("int")
    )
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "_shuffle_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # Count what was WRITTEN (cheap parquet-footer count) instead of
    # rescanning + re-hashing the input a second time.
    spark = df.sparkSession
    n = spark.read.parquet(path).count()
    return {"rows": n, "shards": n_shards}


def write_csv_golden(df: DataFrame, path: str) -> None:
    """Golden-sample CSV sink (reference test.py:15 writes
    game_rotation.csv). Single file for diffability."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
