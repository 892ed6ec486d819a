"""Swap-protocol writer: hive-partitioned parquet tables merged by
write-temp-then-swap.

Keyed tables (the pipeline outputs, streaming state, CDC state) commit
through the snapshot format behind ``sinks/store.py``. This writer
stays for the side indexes that keep hive dirs (BM25 tf/doclen, PQ
codes, IVF lists, Bloom words, content hashes, ingest stats), for
takedown on legacy swap tables, and for reading and migrating legacy
swap tables:

- layout: parquet partitioned by hive dirs (an index's list or bucket
  column) so filters on them become partition pruning;
- upsert: MERGE-shaped anti-join + rewrite of only the partitions that
  received source rows (dynamic-partition-overwrite-shaped), not the
  whole table — a merge touches O(changed partitions).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import merge_upsert


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
    (takedown, index queries, migration) call it directly.

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


FORMAT = "swap"  # the name store.detect_format reports for these tables
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
    merged = merge_upsert(affected, source, key)
    # one output file per swapped partition dir (the fold-state
    # discipline): without the repartition every merge sprays
    # shuffle-partition-count files into each dir, and although the
    # swap replaces dirs wholesale (no cross-batch accumulation), a
    # bucketed state table read pays the per-file open cost on every
    # subsequent merge of that bucket
    _rewrite_partitions(
        spark, merged.repartition(*partition_by), path, partition_by
    )


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
    Rewrites only the partitions receiving source rows.
    ``check_partition_layout`` refuses a merge whose declared layout
    (``partition_by`` + hash-bucket count ``buckets``) disagrees with
    the on-disk table — silent layout mixing duplicates rows on read."""
    check_partition_layout(path, partition_by, buckets)
    if not table_exists(path):
        write_table(source, path, partition_by)
        write_layout_meta(path, partition_by, buckets)
        return
    if partition_by:
        _merge_partitioned(spark, source, path, key, partition_by)
        write_layout_meta(path, partition_by, buckets)
        return
    target, source = _align_schemas(read_table(spark, path, merge_schema=True), source)
    merged = merge_upsert(target, source, key)
    _rewrite(spark, merged, path, partition_by)
    write_layout_meta(path, partition_by, buckets)


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
