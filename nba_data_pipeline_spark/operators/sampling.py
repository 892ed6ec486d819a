"""Deterministic sampling and dataset splits for training pipelines.

Everything keys off a Knuth-multiplicative hash bucket of a row id —
pure integer arithmetic (portable across engines and runs, unlike
``rand()`` or engine hash functions), so splits are reproducible,
join-stable (the same row lands in the same split everywhere), and
retry-safe. At 100 TB a split is a filter — no shuffle, no sort, and
it composes with partition pruning.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761  # 2^32 * golden ratio conjugate
MOD = 1 << 32
BUCKETS = 10_000


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def hash_bucket(id_col: Column | str, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from an integer id.

    NOTE: the multiply is exact only while id * KNUTH fits in int64
    (|id| < ~3.5e9); for larger or non-integer keys, pre-hash with
    ``xxhash64`` (engine-specific) or a string fold.
    """
    return F.pmod(F.pmod(_col(id_col) * F.lit(KNUTH), F.lit(MOD)), F.lit(buckets))


def deterministic_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Keep ~fraction of rows, stable across runs/engines/retries."""
    return df.filter(hash_bucket(id_col) < int(fraction * BUCKETS))


def split_assign(
    df: DataFrame, id_col: str, fractions: Mapping[str, float], out_col: str = "split"
) -> DataFrame:
    """Assign each row to a named split ('train'/'val'/'test'/...) by
    cumulative bucket ranges. Fractions must sum to <= 1; remainder
    rows get NULL (useful for holdout)."""
    bucket = hash_bucket(id_col)
    expr = F.lit(None).cast("string")
    cum = 0.0
    bounds = []
    for name, frac in fractions.items():
        lo = int(cum * BUCKETS)
        cum += frac
        hi = int(cum * BUCKETS)
        bounds.append((name, lo, hi))
    for name, lo, hi in reversed(bounds):
        expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(expr)
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame, id_col: str, stratum_col: str, fractions: Mapping[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    fraction (e.g. downsample 'en' to 10%, keep 'mi' at 100%). Strata
    missing from ``fractions`` are dropped."""
    bucket = hash_bucket(id_col)
    keep = F.lit(False)
    for stratum, frac in fractions.items():
        keep = keep | (
            (_col(stratum_col) == stratum) & (bucket < int(frac * BUCKETS))
        )
    return df.filter(keep)


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    dup_pairs: DataFrame,
    fractions: Mapping[str, float],
    out_col: str = "split",
) -> DataFrame:
    """Split assignment that cannot leak near-duplicates across splits:
    rows are first clustered by the duplicate-pair graph
    (``dedup.dedup_assign``), then the Knuth bucket is taken on the
    CLUSTER id, so every member of a duplicate cluster lands in the
    same split — the train/test-contamination guard a pretraining
    pipeline needs after near-dedup.

    ``dup_pairs`` is an (id_a, id_b) edge frame (e.g. from
    ``minhash_lsh_pairs``). Cost over a plain split: the dedup
    clustering itself; the split remains a filter-shaped expression.
    """
    from .dedup import dedup_assign

    assigned = dedup_assign(df, id_col, dup_pairs)
    return split_assign(assigned, "component_id", fractions, out_col)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target_weights: Mapping[str, float],
) -> DataFrame:
    """Domain mixing: deterministically downsample sources to hit a
    target mixture WITHOUT upsampling — the data-mixing step that sets
    a pretraining corpus's domain proportions.

    The achievable scale is K = min_s(total_s / w_s); each source keeps
    floor-fraction K * w_s / total_s of its rows (the binding source
    keeps everything), selected by the Knuth hash bucket of the id —
    reproducible, join-stable, and a pure filter after one tiny
    per-source count aggregate (broadcast both ways). Sources absent
    from ``target_weights`` are dropped.
    """
    cases = F.lit(None).cast("double")
    for src, w in sorted(target_weights.items(), reverse=True):
        cases = F.when(_col(source_col) == src, float(w)).otherwise(cases)
    totals = (
        df.filter(_col(source_col).isin(*target_weights))
        .groupBy(source_col)
        .agg((F.count("*") * F.lit(1.0)).alias("_total"))
        .withColumn("_w", cases)
    )
    kmin = totals.agg(F.min(F.col("_total") / F.col("_w")).alias("_kmin"))
    # expression order mirrors the documented SQL equivalent exactly so
    # the IEEE double arithmetic (and the floor) is bit-identical
    # across engines
    cuts = (
        totals.crossJoin(F.broadcast(kmin))
        .withColumn(
            # +1e-9 before the floor: the binding source's exact value
            # is 10000 but the double chain can land epsilon below it,
            # which would silently drop its last bucket
            "_cut",
            F.floor(
                F.lit(10000.0) * F.col("_kmin") * F.col("_w") / F.col("_total")
                + F.lit(1e-9)
            ).cast("long"),
        )
        .select(source_col, "_cut")
    )
    return (
        df.join(F.broadcast(cuts), source_col)
        .filter(hash_bucket(id_col, BUCKETS) < F.col("_cut"))
        .drop("_cut")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    capacity: int,
    num_shards: int = 16,
    out_shard: str = "shard",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in a
    deterministic stream order and cut the stream into fixed
    ``capacity``-token context windows (the GPT-style packing used to
    build training batches without padding waste).

    Each doc gets: its ``shard`` (Knuth hash bucket of the id — the
    stream is sharded so packing parallelizes), its ``start_offset``
    (tokens preceding it in the shard's stream, docs ordered by id),
    and ``pack_id`` = floor(start_offset / capacity) — the window its
    first token lands in (long docs simply span into following packs,
    as concat-and-chunk does).

    Deterministic, join-stable, retry-safe: same doc -> same shard /
    offset / pack on every engine and run. At 100 TB this is ONE
    shuffle (hash on shard) + a per-shard running-sum window; shards
    bound window-state size, so parallelism is num_shards — size it to
    the cluster, not the data.
    """
    from pyspark.sql import Window

    # group_cols (e.g. ["split"]) partition the packing stream itself:
    # a pack then never spans groups — REQUIRED when packing after a
    # train/val/test split, or one context window could blend rows
    # from different splits (pack-level leakage) and (shard, pack_id)
    # would collide across splits
    shard = hash_bucket(id_col, num_shards)
    w = (
        Window.partitionBy(*(group_cols or []), out_shard)
        .orderBy(_col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(_col(token_count_col)).over(w), F.lit(0)).cast("long")
    return (
        df.withColumn(out_shard, shard.cast("long"))
        .withColumn("start_offset", start)
        .withColumn(
            "pack_id", F.floor(F.col("start_offset") / F.lit(capacity)).cast("long")
        )
    )


def budget_sample(
    df: DataFrame,
    id_col: str,
    group_cols: list[str],
    cost_col: str,
    budget: int,
) -> DataFrame:
    """Per-group token-budget selection: within each group (source,
    language, domain...) keep rows — in the deterministic Knuth-bucket
    priority order, ties by id — while the group's cumulative
    ``cost_col`` stays within ``budget``. The "N billion tokens per
    domain" cap of a pretraining mixture, without rand() and without a
    driver-side loop.

    The cumulative sum INCLUDES the current row, so the first row that
    would cross the budget is excluded (a group whose single first doc
    exceeds the budget contributes nothing — a cap, not a floor).
    Deterministic, join-stable, retry-safe. One shuffle keyed on the
    group for the running-sum window; group cardinality bounds window
    state exactly like ``pack_sequences`` shards.
    """
    from pyspark.sql import Window

    prio = hash_bucket(id_col)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(prio, _col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_cum", F.sum(_col(cost_col)).over(w).cast("long"))
        .filter(F.col("_cum") <= budget)
        .drop("_cum")
    )


def top_fraction_per_group(
    df: DataFrame,
    id_col: str,
    group_cols: list[str],
    score_col: str,
    keep_frac: float,
) -> DataFrame:
    """RELATIVE quality pruning: keep the top ``keep_frac`` of each
    group by score (ties by id for determinism) — 'best 80% per
    domain', the standard complement to an absolute quality threshold
    when domains have different score distributions.

    Cutoff rank is integer arithmetic (ceil(frac * n) via
    (num * n + den - 1) // den on a rational frac) — no FP percentile,
    so results are engine-portable and stable. One window shuffle on
    the group key; every group keeps at least one row while
    keep_frac > 0.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    from pyspark.sql import Window

    # rational form with denominator 10000 keeps ceil() in exact
    # integer arithmetic for any keep_frac the caller can express;
    # the max(1,...) floor keeps the documented at-least-one-row
    # guarantee for keep_frac below the 1/10000 resolution
    num = max(1, int(round(keep_frac * 10000)))
    w = Window.partitionBy(*group_cols).orderBy(
        _col(score_col).desc(), _col(id_col)
    )
    wn = Window.partitionBy(*group_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wn))
        .filter(F.col("_rn") <= F.expr(f"(_n * {num} + 9999) div 10000"))
        .drop("_rn", "_n")
    )


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, k: int) -> DataFrame:
    """Top-k weighted sampling without replacement (Efraimidis-Spirakis):
    each row gets key u^(1/w) with u uniform in (0,1); the k largest keys
    are a weighted sample. u derives from the Knuth hash of the id, so
    the sample is deterministic, join-stable, and retry-safe — the
    quality-weighted data-selection step of a training pipeline.

    Compared as log-keys ln(u)/w rounded to 8 decimals (engine-portable;
    the exp is monotone so ordering is identical). Rows with w <= 0 are
    excluded. orderBy+limit plans as TakeOrdered: per-partition heaps and
    a k-row driver merge, never a global sort.
    """
    # pmod, not %: the signed remainder is negative for negative ids,
    # making u <= 0 and ln(u) NULL — those rows would be silently
    # unsampleable. pmod matches hash_bucket and is identical for the
    # non-negative ids the oracle fixtures use.
    u = (
        (F.pmod(_col(id_col) * F.lit(KNUTH), F.lit(MOD)) + 1).cast("double")
        / F.lit(float(MOD + 1))
    )
    key = F.round(F.log(u) / _col(weight_col), 8)
    return (
        df.filter(_col(weight_col) > 0)
        .withColumn("_wkey", key)
        .orderBy(F.desc("_wkey"), _col(id_col))
        .limit(k)
    )


def temperature_weights(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.7,
    size_col: str | None = None,
) -> dict[str, float]:
    """Alpha-tempered target mixture from the observed per-source sizes
    — the multilingual/multi-domain temperature-sampling rule
    (w_s proportional to n_s^alpha): alpha=1 keeps natural proportions,
    alpha->0 approaches uniform, 0.5-0.7 is the usual band that keeps
    small sources from drowning. Feed the result to ``mixture_sample``.

    ``size_col`` weighs sources by a size column (token counts) instead
    of row counts. The aggregate collapses to one row per source before
    the collect — driver-side data is O(#sources), never O(rows).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    agg = (
        F.sum(_col(size_col)) if size_col is not None else F.count("*")
    ).cast("double").alias("_n")
    rows = df.groupBy(source_col).agg(agg).collect()
    powed = {r[source_col]: float(r["_n"]) ** alpha for r in rows if r["_n"]}
    # sum in sorted-key order: collect order varies run to run, and a
    # different FP summation order would perturb every weight
    z = sum(powed[s] for s in sorted(powed))
    if z == 0.0:
        raise ValueError("no rows to weigh")
    return {s: v / z for s, v in powed.items()}


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def hashed_bigram_buckets(
    df: DataFrame,
    keep_cols: list[str],
    text_col: str,
    n_buckets: int,
    keep_empty_docs: bool = False,
) -> DataFrame:
    """One row per (keep_cols..., bucket) per NON-distinct word bigram:
    the hashed n-gram feature map of DSIR. The bucket hash is the first
    8 hex chars of md5 — portable arithmetic every engine computes
    identically (unlike xxhash64), and collisions are by design (the
    hashing trick). Follows the exploded_shingles plan shape: tokens
    materialized once, bigrams generated and exploded in one select.

    ``keep_empty_docs=True`` keeps documents with no bigrams as a
    single NULL-bucket row (``explode_outer`` over a conditional
    sequence — same device as simhash's NULL-token row, r16), so a
    per-doc consumer aggregating with NULL-skipping count/sum gets
    left-join-complete coverage WITHOUT a join back to the corpus
    (the r17 dsir_scores shape). Aggregators over buckets must then
    filter NULL buckets."""
    from .text import tokens

    # bigrams via explode(sequence) + element_at in the post-generate
    # projection — straight-line codegen per gram row (the previous
    # array-transform lambda was interpreted per element; same rework
    # as winnow_fingerprints, r16 guide §4.1). Deliberately NO spread
    # before the fan-out (r17): consumers checkpoint this frame, and an
    # explicit-width exchange here pins the checkpoint — and every
    # downstream stage — at full session width, which measured slower
    # than the serial explode at sf0.1 (interleaved min-of-4: 1.28 s vs
    # 1.57 s end-to-end); at scale the scan is already wide.
    toked = df.select(*keep_cols, tokens(text_col).alias("_toks__"))
    k = F.size("_toks__") - 1
    if keep_empty_docs:
        # sequence(1, k) with k < 1 would generate a DESCENDING range;
        # gate it to NULL so explode_outer emits exactly one NULL row
        ex = toked.select(
            *keep_cols,
            "_toks__",
            F.explode_outer(
                F.when(k >= 1, F.sequence(F.lit(1), k))
            ).alias("_i"),
        )
    else:
        ex = toked.filter(k >= 1).select(
            *keep_cols, "_toks__", F.explode(F.sequence(F.lit(1), k)).alias("_i")
        )
    gram = F.concat_ws(
        " ",
        F.element_at(F.col("_toks__"), F.col("_i").cast("int")),
        F.element_at(F.col("_toks__"), (F.col("_i") + 1).cast("int")),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    if keep_empty_docs:
        # concat_ws over NULL args yields '' (never NULL) — re-NULL the
        # bucket for the placeholder rows
        bucket = F.when(F.col("_i").isNotNull(), bucket)
    return ex.select(*keep_cols, bucket.alias("bucket"))


def dsir_log_ratios(
    target: DataFrame | None,
    source: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    target_grams: DataFrame | None = None,
    source_grams: DataFrame | None = None,
    target_flag_col: str | None = None,
) -> DataFrame:
    """Fit step of DSIR (Data Selection via Importance Resampling, Xie
    et al. 2023): bag-of-hashed-bigram multinomials over the TARGET
    (the distribution you want, e.g. curated text) and the SOURCE (the
    raw pool), Laplace-smoothed over all ``n_buckets`` buckets. Output:
    one row per bucket — (bucket, target_n, source_n, log_ratio_e6)
    with log_ratio_e6 = round((ln p_b - ln q_b) * 1e6) as BIGINT.
    Fixed-point so downstream per-document sums are exact integer
    aggregates. Every bucket is present (smoothing defines p,q
    everywhere), so scoring needs no unseen-bucket special case.

    Scale shape (reworked r17, VERDICT r16 #8): the per-bucket count
    aggregates run in Spark — one fused ``groupBy(bucket)`` pass when
    ``target_flag_col`` marks target membership inside ``source_grams``
    (the common target-is-a-subset-of-source shape: one corpus scan +
    ONE exchange instead of two of each), else one aggregate per
    corpus. The aggregate output is bounded by ``n_buckets`` (4096 —
    bookkeeping, not data), so the bucket spine, the Laplace totals,
    and the zero-fill for absent buckets are computed DRIVER-SIDE from
    one bounded collect; the returned ratio table is a local relation
    whose ``log`` expressions still evaluate in Spark with the totals
    folded in as integer literals — bit-identical doubles to the old
    spine-join + crossJoin(totals) plan (verified exceptAll-zero both
    ways), minus ~5 jobs per run: the second corpus aggregate, the two
    spine joins, the totals aggregate, and the broadcast sub-DAG that
    re-derived all of it whenever a consumer broadcast the ratios.
    When the target is a subset of the source, pass precomputed
    ``target_grams``/``source_grams`` (or ``target_flag_col``) from ONE
    shared ``hashed_bigram_buckets`` frame so the corpus explodes once,
    not per consumer (the fit aggregates and the per-doc scoring cannot
    be common-subplan-deduplicated by Catalyst)."""
    if target_flag_col is not None and source_grams is None:
        raise ValueError("target_flag_col requires source_grams")
    if source_grams is None:
        source_grams = hashed_bigram_buckets(source, [], text_col, n_buckets)
    if target_grams is None and target_flag_col is None:
        target_grams = hashed_bigram_buckets(target, [], text_col, n_buckets)

    def bucket_counts(grams: DataFrame, *aggs) -> list:
        # drop keep_empty_docs placeholder rows (NULL bucket) if the
        # caller shares a left-join-complete gram frame
        return (
            grams.filter(F.col("bucket").isNotNull())
            .groupBy("bucket")
            .agg(*aggs)
            .collect()
        )

    if target_flag_col is not None:
        rows = {
            int(r["bucket"]): (int(r["target_n"]), int(r["source_n"]))
            for r in bucket_counts(
                source_grams,
                F.count("*").alias("source_n"),
                F.count_if(F.col(target_flag_col)).alias("target_n"),
            )
        }
    else:
        n = F.count("*").alias("n")
        t = {int(r["bucket"]): int(r["n"]) for r in bucket_counts(target_grams, n)}
        s = {int(r["bucket"]): int(r["n"]) for r in bucket_counts(source_grams, n)}
        rows = {b: (t.get(b, 0), s.get(b, 0)) for b in set(t) | set(s)}
    t_tot = sum(v[0] for v in rows.values())
    s_tot = sum(v[1] for v in rows.values())
    spine = [
        (b, *rows.get(b, (0, 0))) for b in range(n_buckets)
    ]
    sess = (target if target is not None else source).sparkSession
    joined = sess.createDataFrame(
        spine, "bucket: long, target_n: long, source_n: long"
    )
    lr = F.log((F.col("target_n") + 1) / (F.lit(t_tot) + n_buckets)) - F.log(
        (F.col("source_n") + 1) / (F.lit(s_tot) + n_buckets)
    )
    return joined.select(
        "bucket",
        "target_n",
        "source_n",
        F.round(lr * 1e6, 0).cast("long").alias("log_ratio_e6"),
    )


def dsir_scores(
    df: DataFrame,
    ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    grams: DataFrame | None = None,
    keep_cols: Sequence[str] = (),
    grams_complete: bool = False,
) -> DataFrame:
    """Score step of DSIR: each document's importance log-weight is the
    sum of its hashed-bigram buckets' log ratios — documents that look
    like the target score high. Output: (id, n_grams, log_w_e6) with
    log_w_e6 an exact integer sum (order-independent across engines);
    documents with no bigrams get NULL (no evidence — they sort last in
    any selection, the conservative default).

    Scale shape: one explode + broadcast join against the bounded
    ratio table + one hash aggregate keyed on the doc id. Selection
    composes with existing ops: ``top_fraction_per_group(scored, id,
    [source], "log_w_e6", frac)`` is hard top-k DSIR per domain, and
    ``weighted_sample`` over exp-scaled weights is the paper's
    resampling variant. ``keep_cols`` carries extra ``df`` columns
    (e.g. a domain/source label) through to the output so a caller
    selecting on them doesn't pay a second join against ``df`` (r17).

    ``grams_complete=True`` declares that ``grams`` covers EVERY ``df``
    row (built with ``hashed_bigram_buckets(keep_empty_docs=True)``,
    zero-bigram docs as NULL-bucket rows, and carrying ``keep_cols``):
    the aggregate below is then left-join-complete by itself —
    NULL-skipping count/sum give (0, NULL) for empty docs — and the
    whole corpus re-scan + sort-merge join back to ``df`` disappears
    from the plan (r17; the scored side's post-checkpoint size estimate
    is unknown, so that join could never broadcast)."""
    if grams is None:
        grams = hashed_bigram_buckets(
            df.select(id_col, *keep_cols, text_col),
            [id_col, *keep_cols],
            text_col,
            n_buckets,
            keep_empty_docs=True,
        )
        grams_complete = True
    joined = grams.join(
        F.broadcast(ratios.select("bucket", "log_ratio_e6")),
        "bucket",
        "left" if grams_complete else "inner",
    )
    if grams_complete:
        # every real bucket matches the complete ratio spine, so the
        # left join + NULL-skipping aggregates reproduce the old
        # inner-join-then-left-join-to-df semantics exactly
        return joined.groupBy(id_col, *keep_cols).agg(
            F.count("bucket").cast("long").alias("n_grams"),
            F.sum("log_ratio_e6").alias("log_w_e6"),
        )
    scored = joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("log_ratio_e6").alias("log_w_e6"),
    )
    return (
        df.select(id_col, *keep_cols)
        .join(scored, id_col, "left")
        .select(
            id_col,
            *keep_cols,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            "log_w_e6",
        )
    )


def sample_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic k rows per group: order each group by the Knuth
    hash of the id (pseudo-random but stable across runs, engines, and
    retries — same determinism contract as ``deterministic_sample``)
    and keep the first k. The eyeball-a-few-per-domain primitive; one
    shuffle on the group key, partition-local sort.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(*group_cols).orderBy(
        hash_bucket(id_col, BUCKETS), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    length_col: str,
    batch_size: int,
    n_shards: int = 64,
) -> DataFrame:
    """Length-bucketed batch assignment — the PADDED-batch counterpart
    to ``pack_sequences`` (concat-and-chunk): group similar-length
    rows into fixed-size batches so per-batch padding waste
    (max_len - each_len) stays small, the standard dynamic-batching
    trick for fine-tuning workloads.

    Scale shape: rows land in ``n_shards`` Knuth-hash shards; WITHIN a
    shard they sort by (length, id) and take consecutive runs of
    ``batch_size`` — one shuffle, per-shard local sort, no global sort.
    Batches never span shards, so batch membership is deterministic
    and independent of cluster partitioning. Output adds (shard,
    batch_id, batch_max_len) — padding waste is auditable as
    sum(batch_max_len - length).
    """
    from pyspark.sql import Window

    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    sharded = df.withColumn("shard", hash_bucket(id_col, n_shards).cast("int"))
    w = Window.partitionBy("shard").orderBy(F.col(length_col), F.col(id_col))
    with_batch = sharded.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / batch_size).cast("long")
    )
    wb = Window.partitionBy("shard", "batch_id")
    return with_batch.withColumn(
        "batch_max_len", F.max(length_col).over(wb).cast("long")
    )
