"""Incremental ("delta mode") and merge semantics as relational ops.

The reference implements incrementality by listing existing keys into
Python sets and subtracting (``etl/play_by_play.py:50-62,108-115`` and
peers) and upsert by row-wise ``INSERT ... ON CONFLICT DO UPDATE``
(``database/db_client.py:69-90``). Here both are single shuffle-stage
relational ops that scale: ``left_anti`` joins and a MERGE-shaped
union. At 100 TB the anti-join's build side (existing keys, projected
to key columns only) is usually much smaller than the work list and is
broadcast by AQE when under the threshold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delta_filter(work: DataFrame, existing: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keep only work rows whose key tuple is absent from ``existing``.

    Reference "delta mode": etl/play_by_play.py:108-115 (1-col key),
    etl/shot_details.py:40-51 (4-col composite key). Projecting the
    existing side to its key columns before the anti-join lets parquet
    prune every other column and keeps the build side broadcastable.
    """
    keys = list(keys)
    return work.join(existing.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")


def merge_upsert(target: DataFrame, source: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """MERGE semantics on DataFrames: source rows win on key collision,
    unmatched target rows are kept (reference upsert,
    database/db_client.py:69-90: ON CONFLICT (id) DO UPDATE SET *).

    Plan: one anti-join (target minus colliding keys) + union. The
    sinks layer persists this; on a Delta-enabled cluster this maps
    1:1 to ``MERGE INTO``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    survivors = target.join(source.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    return survivors.unionByName(source.select(target.columns))


def insert_ignore(target: DataFrame, source: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """ON CONFLICT DO NOTHING (reference database/db_client.py:87-88):
    keep all target rows; add only source rows with new keys."""
    keys = [key] if isinstance(key, str) else list(key)
    fresh = source.join(target.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    return target.unionByName(fresh.select(target.columns))


def duplicate_keys(df: DataFrame, keys: Sequence[str] | str) -> DataFrame:
    """Key tuples appearing more than once, with their counts."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return df.groupBy(*keys).agg(F.count("*").alias("n")).filter(F.col("n") > 1)


def assert_unique_key(df: DataFrame, keys: Sequence[str] | str) -> DataFrame:
    """Raise if any key tuple duplicates (reference utils/utils.py:1-10).

    Returns ``df`` unchanged so it composes inside pipelines. This is
    an action (it runs a count) — call it at data-quality checkpoints,
    not per-transform.
    """
    dupes = duplicate_keys(df, keys).limit(1).collect()
    if dupes:
        raise ValueError(f"duplicate key in dataframe: {dupes[0]}")
    return df


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Snapshot diff — the data-regression primitive: classify every
    key as added / removed / changed / unchanged between two table
    versions. The check a pipeline rerun, a backfill, or a MERGE is
    validated with.

    Shape: both sides project to keys + a single xxhash64 over the
    compared columns (consistency only — the hash never leaves the
    JVM, so portability doesn't matter), then ONE full-outer join on
    the key. Hashing before the join moves the wide-row comparison to
    the map side; the join carries two longs per row.

    NULL-safe: a NULL in a compared column hashes like any value, and
    hash(NULL-marker) collisions with real values are xxhash64-unlikely.
    Duplicate-key-safe: keys are NOT required unique — each side folds
    duplicate keys into an order-free multiset digest (row count +
    bit-xor of row hashes + SUM of the hashes reduced to 31 bits), so
    diff_status is deterministic across runs and partitionings even
    when duplicate keys carry different values (an arbitrary-survivor
    dropDuplicates would flip between runs). The additive component
    matters: xor alone cancels PAIRS of identical rows, so
    {v1, v1} vs {v2, v2} would collide (count 2, xor 0 on both sides —
    caught by the round-7 property test). The 31-bit reduction keeps
    the ANSI-mode sum overflow-free up to ~2^31 duplicate rows per key.
    Output: key cols + (diff_status string).
    """
    keys = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    cmp = list(compare_cols)

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cmp]) if cmp else F.lit(0)
        return (
            df.select(*keys, h.alias("_h"))
            .groupBy(*keys)
            .agg(
                F.xxhash64(
                    F.count("*"),
                    F.bit_xor("_h"),
                    F.sum(F.pmod(F.col("_h"), F.lit(2_147_483_647))),
                ).alias(alias)
            )
        )

    o = hashed(old, "_h_old")
    n = hashed(new, "_h_new")
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") == F.col("_h_new"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(*keys, status.alias("diff_status"))


def table_diff_summary(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Aggregate form of ``table_diff``: (diff_status, n) — the four
    numbers a pipeline gate asserts on (e.g. removed == 0)."""
    return (
        table_diff(old, new, keys, compare_cols)
        .groupBy("diff_status")
        .agg(F.count("*").alias("n"))
    )


def fold_aggregate_state(
    state: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    specs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Incremental aggregate-view maintenance: fold a new batch into a
    persisted per-key rollup WITHOUT reaggregating history.

    ``specs`` maps each state column to ``(kind, input_col)`` with kind
    in {sum, count, min, max} — the self-decomposable aggregates whose
    merge IS the aggregate (sum of sums, sum of counts, min of mins,
    max of maxes). Non-decomposable reads (avg, stddev) derive from
    these at query time (avg = sum/count); approximate distincts ride
    the mergeable sketches in ``operators/sketches.py``.

    Shape: one partial aggregation over the BATCH only, then a re-agg
    of state ∪ partials — two map-side-combined shuffles whose inputs
    are O(batch + |state keys|), never O(history). This is the only
    rollup-maintenance shape that survives unbounded history: the
    reference recomputes its season aggregates from the full table each
    run (etl/player_game_summary.py style full scans), which at 100 TB
    means rescanning the corpus per refresh.

    ``state=None`` bootstraps (first batch). Idempotence is the
    caller's contract: feed each batch exactly once (pair with
    ``delta_filter`` / the Bloom seen-set for redelivery safety).
    """
    keys = list(keys)
    partials = _partial_aggs(batch, keys, specs)
    if state is None:
        return partials
    merged = state.select(partials.columns).unionByName(partials)
    return _merge_aggs(merged, keys, specs)


_FOLD_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def _partial_aggs(
    df: DataFrame, keys: list[str], specs: dict[str, tuple[str, str]]
) -> DataFrame:
    aggs = []
    for out, (kind, col) in specs.items():
        if kind == "count":
            expr = F.count(col) if col != "*" else F.count("*")
        elif kind in ("sum", "min", "max"):
            expr = getattr(F, kind)(col)
        else:
            raise ValueError(f"unsupported incremental aggregate: {kind}")
        aggs.append(expr.alias(out))
    return df.groupBy(*keys).agg(*aggs)


def _merge_aggs(
    df: DataFrame, keys: list[str], specs: dict[str, tuple[str, str]]
) -> DataFrame:
    return df.groupBy(*keys).agg(
        *[_FOLD_MERGE[kind](out).alias(out) for out, (kind, _) in specs.items()]
    )


def fold_aggregate_state_table(
    spark,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    specs: dict[str, tuple[str, str]],
    n_buckets: int = 256,
    batch_id: int | None = None,
) -> None:
    """Persisted, BUCKET-PARTITIONED form of ``fold_aggregate_state``
    for high-cardinality keys (per-user / per-document rollups, where
    the state itself is billions of rows).

    The in-memory fold re-writes the whole state per batch — O(state),
    which is fine for per-source stats but not for per-user rollups.
    Here the state table is laid out in ``pmod(xxhash64(keys),
    n_buckets)`` partition directories, and a batch only ever touches
    the buckets its keys hash into:

    1. partial-aggregate the batch (map-side combined, one shuffle),
    2. read ONLY the touched buckets from the state (partition-pruned
       scan — at most ``n_buckets`` dirs, usually far fewer),
    3. merge with the decomposable combiners,
    4. swap only those bucket directories back
       (``writer._rewrite_partitions`` — untouched buckets are never
       read or written).

    Per-batch cost is O(batch + touched-bucket rows): a trickle batch
    against a billion-key state reads and rewrites ~its own key
    neighborhood, never the full rollup. Same layout contract as the
    seen-content hash table (``streaming/ops.py``).

    REPLAY SEMANTICS: the fold is ADDITIVE, so unlike the upsert-based
    merge states (near-dedup signatures, CDC state) a replayed
    batch double-counts. ``batch_id`` makes replay exact at BUCKET
    granularity — each bucket dir records the last applied batch in an
    ``_epoch`` column (every row, constant per swap), and a merge
    skips buckets whose ``_epoch >= batch_id``. Because the per-leaf
    swap is atomic (``_rewrite_partitions``), a crash mid-merge leaves
    each bucket either fully pre- or fully post-batch, and replaying
    the SAME batch_id applies exactly the not-yet-applied buckets —
    resumable exactly-once over plain parquet. foreachBatch callers
    pass the streaming epoch_id; cron callers any monotonic sequence.
    With ``batch_id=None`` the caller owns at-most-once delivery
    (pair with ``delta_filter`` / the Bloom seen-set).

    Sizing ``n_buckets`` (measured): the whole rewrite wins below ~50M
    state rows; past it, aim for ~1M rows per bucket."""
    from ..sinks.writer import (
        _rewrite_partitions,
        check_partition_layout,
        read_table,
        table_exists,
        write_layout_meta,
        write_table,
    )

    keys = list(keys)
    # the modulus is part of the on-disk layout: merging with a
    # different n_buckets splits keys across bucket dirs (duplicate
    # rows on read) — refuse rather than corrupt
    check_partition_layout(path, ["bucket"], n_buckets)
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).alias("bucket")
    partials = _partial_aggs(batch, keys, specs).select("*", bucket)
    if batch_id is not None:
        partials = partials.withColumn(
            "_epoch", F.lit(int(batch_id)).cast("long")
        )
    if not table_exists(path):
        write_table(partials, path, partition_by=["bucket"])
        write_layout_meta(path, ["bucket"], n_buckets)
        return
    touched = [r.bucket for r in partials.select("bucket").distinct().collect()]
    if not touched:
        return
    # partition dirs re-infer bucket as int; restore the declared type.
    # merge_schema: the writer contract — any table a merge path reads
    # may carry per-file evolved schemas, and the default reader would
    # silently drop an evolved column's values from the rewrite
    state = (
        read_table(spark, path, merge_schema=True)
        .withColumn("bucket", F.col("bucket").cast("long"))
        .filter(F.col("bucket").isin(touched))
    )
    if batch_id is not None:
        # bucket-granular replay fence: a bucket whose recorded epoch
        # already covers this batch was swapped by a previous (possibly
        # crashed-after-partial-progress) run — skip it, or the
        # additive fold double-counts. Legacy rows / unfenced history
        # read as epoch -1 (always stale).
        if "_epoch" not in state.columns:
            state = state.withColumn("_epoch", F.lit(-1).cast("long"))
        epochs = {
            r.bucket: r.e
            for r in state.groupBy("bucket")
            .agg(F.max(F.coalesce("_epoch", F.lit(-1))).alias("e"))
            .collect()
        }
        stale = [b for b in touched if epochs.get(b, -1) < int(batch_id)]
        if not stale:
            return
        partials = partials.filter(F.col("bucket").isin(stale)).drop("_epoch")
        state = state.filter(F.col("bucket").isin(stale)).drop("_epoch")
    state = state.select(partials.columns)
    merged = _merge_aggs(
        state.unionByName(partials), keys, specs
    ).select("*", bucket)
    if batch_id is not None:
        merged = merged.withColumn("_epoch", F.lit(int(batch_id)).cast("long"))
    # one output file per touched bucket dir: without this the
    # partitioned write sprays shuffle-partition-count files into every
    # dir, and small-file accumulation is what kills trickle-fold state
    # tables over thousands of batches
    _rewrite_partitions(spark, merged.repartition("bucket"), path, ["bucket"])
    # stamp after EVERY merge, not just first create: a legacy table
    # (no sidecar) is trusted on first use, and this is how it gains
    # the bucket-modulus guard the check_partition_layout docstring
    # promises (same contract as upsert_table)
    write_layout_meta(path, ["bucket"], n_buckets)


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-data-capture log onto a snapshot: latest change
    per key wins (by ``seq_col``), ``op == 'D'`` deletes the key,
    anything else ('I'/'U') upserts the change row's values. Keys with
    no change keep their snapshot row untouched.

    Shape: one window pass over the CHANGES (row_number by seq desc —
    the log is O(batch), never O(table)), one anti-join to drop touched
    keys from the snapshot, one union. At 100 TB the snapshot side is
    key-projected for the anti-join and the whole apply maps 1:1 to a
    Delta ``MERGE WHEN MATCHED [AND op='D'] THEN DELETE`` — this is the
    lakehouse mirror of the reference's row-wise ON CONFLICT upserts
    (database/db_client.py:69-90), which have no delete story at all.

    Ties on (key, seq) break on op descending ('U' > 'I' > 'D') then
    the row's content hash, so the result is deterministic across
    partitionings even on a malformed log; a well-formed log has a
    unique seq per key and never hits the tie-break.
    """
    from pyspark.sql import Window

    keys = list(keys)
    payload = [c for c in snapshot.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).desc(),
        F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in payload]).desc(),
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    untouched = snapshot.join(latest.select(*keys), keys, "left_anti")
    upserts = latest.filter(F.col(op_col) != F.lit("D")).select(snapshot.columns)
    return untouched.unionByName(upserts)
