"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every variant avoids the O(n^2) all-pairs trap —
candidate pairs only ever form inside a bucket (exact key, LSH band
bucket, or caller-chosen blocking key), so the shuffle is
groupBy-sized, and within-bucket pair joins are bounded by bucket
width. All hashing is engine-side (``xxhash64``) or portable integer
arithmetic; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.data import lazy_checkpoint, spread_by_key
from .text import exploded_shingles, normalized_text, tokens

# 2^31-1: universal-hash field small enough that a*h stays < 2^62,
# i.e. no 64-bit overflow under ANSI arithmetic.
MERSENNE_PRIME = (1 << 31) - 1


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one canonical row (min id) per exact key; count copies.

    Hash-aggregate on the key — the canonical "exact dedup at scale"
    plan (map-side partial agg, one shuffle).
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies")
    )


def drop_exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep only the canonical (min-id) row per key, full row preserved."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, 0.0).otherwise(inter.cast("double") / union)


def _sized_jaccard(
    inter: DataFrame,
    sizes: DataFrame,
    block_cols: list[str],
    a_col: str,
    b_col: str,
    threshold: float,
) -> DataFrame:
    """Shared tail of the postings-join similarity paths: join per-doc
    set sizes onto intersection counts, apply the size-ratio prune
    (J >= t forces t*|B| <= |A| <= |B|/t) BEFORE any division, and
    compute union-free Jaccard (|A|+|B|-|A∩B|) >= threshold. Extra
    columns on ``inter`` (e.g. a new/old tag) pass through."""
    pairs = (
        inter.join(
            sizes.select(*block_cols, F.col("doc_id").alias(a_col), F.col("_sz").alias("_sz_a")),
            [*block_cols, a_col],
        )
        .join(
            sizes.select(*block_cols, F.col("doc_id").alias(b_col), F.col("_sz").alias("_sz_b")),
            [*block_cols, b_col],
        )
        .filter(
            (F.col("_sz_a") * F.lit(1.0) >= F.lit(threshold) * F.col("_sz_b"))
            & (F.col("_sz_b") * F.lit(1.0) >= F.lit(threshold) * F.col("_sz_a"))
        )
    )
    union = F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")
    sim = F.round(
        F.when(union == 0, 0.0).otherwise(F.col("_inter").cast("double") / union), 6
    )
    return pairs.withColumn("jaccard_sim", sim).filter(
        F.col("jaccard_sim") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.8,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard within blocking buckets,
    as an inverted-index (postings-list) set-similarity join.

    ``block_cols`` bounds the candidate set (e.g. language + source, or
    an LSH band from ``minhash_lsh_pairs`` for unblocked corpora).
    Shingles are hashed to longs (Jaccard over hashed distinct shingles
    equals Jaccard over the shingles themselves w.h.p.); candidate
    pairs form ONLY where a shingle co-occurs — the postings self-join
    on (block, shingle) — and the intersection size is a count
    aggregate, so zero-overlap doc pairs inside a block never
    materialize and no per-pair array intersection runs at all.
    The size-ratio prune (J >= t forces t*|B| <= |A| <= |B|/t) is
    applied before the division.

    A shingle appearing in k docs of a block contributes k*(k-1)/2
    postings-join rows — quadratic in document frequency. On
    boilerplate-heavy corpora set ``max_df_ratio`` to drop shingles
    present in more than that fraction of a block's docs before the
    join (the standard stop-shingle prune): near-dup decisions then
    rest on the discriminative shingles, and Jaccard is computed over
    the pruned sets on BOTH sides (sizes and intersections), so the
    measure stays a true Jaccard of the reduced universe.

    ``threshold`` must be > 0: the postings join only materializes
    pairs sharing at least one shingle, so zero-overlap same-block
    pairs (jaccard_sim = 0.0) are structurally never emitted.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold}: the postings "
            "join cannot emit zero-overlap pairs"
        )
    # spread the compact doc rows on the dedup-key prefix before the
    # shingle fan-out (guide §2.3/§8): the (block, doc, shingle-hash)
    # dropDuplicates below then runs with NO exchange of the exploded
    # rows — the one shuffle carries 1x text bytes instead of ~n x
    # hashed-shingle rows — and the fan-out runs at full parallelism
    # even off a one-task scan
    src = spread_by_key(
        df.withColumn("_did", F.col(id_col)), *block_cols, "_did", always=True
    )
    ex = (
        exploded_shingles(src, [*block_cols, "_did"], text_col, n, "_s")
        .select(*block_cols, F.col("_did").alias("doc_id"), F.xxhash64("_s").alias("_h"))
        .dropDuplicates([*block_cols, "doc_id", "_h"])
    )
    if max_df_ratio is not None:
        n_docs = df.groupBy(*block_cols).agg(F.countDistinct(id_col).alias("_nd"))
        dfreq = ex.groupBy(*block_cols, "_h").agg(F.count("*").alias("_df"))
        stop = (
            dfreq.join(n_docs, list(block_cols))
            .filter(F.col("_df") > F.lit(max_df_ratio) * F.col("_nd"))
            .select(*block_cols, "_h")
        )
        # stop-list is tiny (only over-threshold shingles) -> AQE
        # broadcasts the anti join
        ex = ex.join(stop, [*block_cols, "_h"], "left_anti")
    ex = ex.transform(lazy_checkpoint)  # feeds sizes + both join sides
    sizes = ex.groupBy(*block_cols, "doc_id").agg(F.count("*").alias("_sz"))
    inter = (
        ex.select(*block_cols, F.col("doc_id").alias("id_a"), "_h")
        .join(ex.select(*block_cols, F.col("doc_id").alias("id_b"), "_h"), [*block_cols, "_h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(*block_cols, "id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    return _sized_jaccard(inter, sizes, block_cols, "id_a", "id_b", threshold).select(
        *block_cols, "id_a", "id_b", "jaccard_sim"
    )


def incremental_ngram_pairs(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dedup: n-gram Jaccard pairs of a NEW ingest
    batch against the already-deduped corpus plus itself — the
    continuous-crawl shape. Emits (block..., id_new, id_other,
    other_is_new, jaccard_sim); old-vs-old pairs (already resolved in
    prior runs) are never generated, so the postings join's driving
    side is only the new batch.

    Same inverted-index join as ``ngram_jaccard_pairs``: candidates
    form only where a hashed shingle co-occurs, intersections are count
    aggregates, and the size-ratio prune runs before any division. At
    100 TB the asymmetry is the point: a daily batch's postings are
    tiny relative to the corpus, so the per-shingle join fans out from
    the batch side only, and corpus postings can come from a persisted
    signature table instead of re-shingling.

    An id present in BOTH inputs (a re-ingested document) is treated as
    new: the corpus copy is dropped first, so each doc carries exactly
    one new/old tag and pairs are emitted once.

    ``threshold`` must be > 0 (same postings-join constraint as
    ``ngram_jaccard_pairs``: zero-overlap pairs never materialize).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold}: the postings "
            "join cannot emit zero-overlap pairs"
        )
    keep = [*block_cols, id_col, text_col]
    old_only = old_df.join(new_df.select(id_col), id_col, "left_anti")
    tagged = (
        new_df.select(*keep).withColumn("_new", F.lit(1))
        .unionByName(old_only.select(*keep).withColumn("_new", F.lit(0)))
    )
    ex = (
        exploded_shingles(
            tagged.withColumn("_did", F.col(id_col)),
            [*block_cols, "_did", "_new"], text_col, n, "_s",
        )
        .select(
            *block_cols, F.col("_did").alias("doc_id"), "_new",
            F.xxhash64("_s").alias("_h"),
        )
        .dropDuplicates([*block_cols, "doc_id", "_h"])
        .transform(lazy_checkpoint)  # feeds sizes + both join sides
    )
    sizes = ex.groupBy(*block_cols, "doc_id").agg(F.count("*").alias("_sz"))
    left = ex.filter(F.col("_new") == 1).select(
        *block_cols, F.col("doc_id").alias("id_new"), "_h"
    )
    right = ex.select(
        *block_cols, F.col("doc_id").alias("id_other"),
        F.col("_new").alias("_new_b"), "_h",
    )
    inter = (
        left.join(right, [*block_cols, "_h"])
        # old partners in either id order; new-new partners once (a < b)
        .filter(
            (F.col("_new_b") == 0) | (F.col("id_new") < F.col("id_other"))
        )
        .filter(F.col("id_new") != F.col("id_other"))
        .groupBy(*block_cols, "id_new", "id_other", "_new_b")
        .agg(F.count("*").alias("_inter"))
    )
    return _sized_jaccard(
        inter, sizes, block_cols, "id_new", "id_other", threshold
    ).select(
        *block_cols, "id_new", "id_other",
        (F.col("_new_b") == 1).alias("other_is_new"), "jaccard_sim",
    )


# ---------------------------------------------------------------------------
# Hot-bucket guard (shared by MinHash-LSH and SimHash banding)
# ---------------------------------------------------------------------------

def bucket_width_stats(banded: DataFrame, cap: int) -> DataFrame:
    """Audit frame: (band, bucket, width) for buckets wider than ``cap``.
    Run alongside the pair generation to quantify how much a skewed
    corpus (boilerplate-heavy web text) is degrading to star pairs."""
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("width"))
        .filter(F.col("width") > cap)
    )


def _all_pairs(banded: DataFrame) -> DataFrame:
    """Full pairwise id_a < id_b candidates within each (band, bucket)."""
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )


def _bucket_pairs(
    banded: DataFrame, cap: int | None, eager_probe: bool = False
) -> DataFrame:
    """id_a < id_b candidate pairs within each (band, bucket).

    Buckets at or under ``cap`` docs produce full pairwise candidates.
    Hot buckets (width > cap — e.g. a boilerplate band bucket holding a
    million near-identical pages) would produce O(k^2) pairs and blow up
    the join; they degrade to STAR pairs — the bucket's min doc_id paired
    with every other member: O(k) pairs, and the induced subgraph has
    diameter 2, so connected-components dedup converges in a couple of
    label-propagation rounds regardless of bucket size (a chain shape
    would make the diameter equal the bucket width). Downstream
    verification (Jaccard / Hamming threshold) can still disconnect a
    hot-bucket cluster if the hub document is a borderline near-dup of
    some members — a full pairwise candidate set might have connected
    them through another pair. Exact parity with unguarded candidate
    generation therefore requires ``cap=None``; the guard trades that
    edge case for linear behavior on skewed corpora. Audit hot buckets
    with ``bucket_width_stats``.

    When no bucket exceeds ``cap`` (the common case on natural corpora),
    one cheap max-width aggregate detects it and the widths join-back is
    skipped entirely.
    """
    if cap is None:
        return _all_pairs(banded)
    if not eager_probe:
        # Fully-lazy path: ONE aggregation per (band, bucket) — collect
        # the sorted member list, generate pairs array-side, explode.
        # One shuffle (the groupBy) versus three on the join path
        # (widths groupBy + join-back + bucketed self-join); id_a <
        # id_b holds because the list is sorted. Peak per-row memory is
        # C(cap, 2) pair structs for a bucket at the cap (~8 MB at the
        # default 1000) — transient inside one task, and the star
        # degrade keeps hot buckets linear.
        # collect_SET, not list: duplicate (doc_id, band, bucket) rows
        # must not produce self-pairs or double-pair the hub — the join
        # path excludes them via doc_id < doc_id plus the final distinct
        grouped = banded.groupBy("band", "bucket").agg(
            F.sort_array(F.collect_set("doc_id")).alias("_ids")
        )
        n = F.size("_ids")
        pairwise = F.flatten(
            F.transform(
                "_ids",
                lambda x, i: F.transform(
                    F.slice("_ids", i + F.lit(2), n),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
        star = F.transform(
            F.slice("_ids", 2, n - 1),
            lambda y: F.struct(
                F.element_at("_ids", 1).alias("id_a"), y.alias("id_b")
            ),
        )
        pairs = F.when(n <= F.lit(cap), pairwise).otherwise(star)
        return (
            grouped.select(F.explode(pairs).alias("_p"))
            .select("_p.id_a", "_p.id_b")
            .distinct()
        )
    # eager path: one tiny aggregate ACTION at plan-build time (it runs
    # the upstream pipeline up to ``banded``, which its lazy checkpoint
    # would materialize at first action anyway). If nothing is hot the
    # whole guard is skipped downstream.
    widths = banded.groupBy("band", "bucket").agg(F.count("*").alias("_bw"))
    max_w = widths.agg(F.max("_bw").alias("m")).collect()[0]["m"]
    if max_w is None or max_w <= cap:
        return _all_pairs(banded)
    sized = banded.join(widths, ["band", "bucket"])
    small = sized.filter(F.col("_bw") <= cap).select("band", "bucket", "doc_id")
    pairs_small = (
        small.alias("x")
        .join(small.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
    )
    # star pairs only over the (rare) hot subset: hub = min doc_id,
    # one pair hub->member; hub < member holds by construction
    hot = sized.filter(F.col("_bw") > cap).select("band", "bucket", "doc_id")
    hubs = hot.groupBy("band", "bucket").agg(F.min("doc_id").alias("id_a"))
    pairs_hot = (
        hot.join(hubs, ["band", "bucket"])
        .filter(F.col("doc_id") > F.col("id_a"))
        .select("id_a", F.col("doc_id").alias("id_b"))
    )
    return pairs_small.unionByName(pairs_hot).distinct()


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) params for universal hashing h_i(x) = (a*x+b) mod p.
    Generated with a fixed LCG so signatures are reproducible run-to-run."""
    params = []
    state = seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_PRIME - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_PRIME
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    hash: str = "xxhash64",
) -> DataFrame:
    """Scalable MinHash: explode shingles -> xxhash64 once per shingle ->
    num_perm ``min`` aggregates (map-side partial agg, one shuffle on
    doc id). Output: (doc_id, sig0..sig{n-1}). This is the plan shape
    that survives 100 TB: hashing cost is O(total shingles), not
    O(shingles * num_perm) re-derivations. ``minhash_lsh_pairs`` inlines
    the same aggregation over a checkpointed explode it shares with its
    verification sets; this standalone form serves signature
    materialization (e.g. persisting a signature table).

    ``hash``: "xxhash64" (default, JVM production path) or "md5" (the
    md5-prefix integer of ``_gram_hash`` — reproducible in any engine
    with md5, so a persisted signature table can be value-checked by an
    external oracle; same trade as ``minhash_lsh_pairs(hash='md5')``)."""
    if hash == "xxhash64":
        shingle_h = F.pmod(F.xxhash64("_s"), F.lit(MERSENNE_PRIME))
    elif hash == "md5":
        shingle_h = F.pmod(_gram_hash("md5", "_s"), F.lit(MERSENNE_PRIME))
    else:
        raise ValueError(f"unknown shingle hash {hash!r}: use 'md5' or 'xxhash64'")
    # spread the doc rows before the shingle fan-out (guide §2.3/§8):
    # the signature groupBy below then aggregates in place with no
    # exchange of exploded rows, and the hash fan-out runs at full
    # parallelism even off a one-task scan
    exploded = exploded_shingles(
        spread_by_key(df, id_col, always=True), [id_col], text_col, shingle_n, "_s"
    ).select(
        F.col(id_col).alias("doc_id"), shingle_h.alias("_h")
    )
    # SQL-string aggregates (r16): the Column-API loop cost ~6 py4j
    # round trips per permutation per call — parsing a string per
    # aggregate is milliseconds, identical plan. a, b < 2^31 and
    # _h < 2^31, so a*x+b < 2^62: no long overflow under ANSI.
    aggs = [
        F.expr(f"min(pmod(_h * {a}L + {b}L, {MERSENNE_PRIME}L))").alias(f"sig{i}")
        for i, (a, b) in enumerate(_perm_params(num_perm, seed))
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def band_buckets(sig_df: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) from a signature frame (doc_id,
    sig0..sig{num_perm-1}): slice the signature into ``bands`` bands of
    ``num_perm/bands`` components and hash each band to a bucket.
    Shared by the self-join LSH (``minhash_lsh_pairs``) and the
    signature-table incremental path (``incremental_minhash_pairs``)."""
    rows_per_band = num_perm // bands
    # one parsed expression instead of ~10 py4j calls per band (r16)
    structs = ", ".join(
        "struct({i} AS band, xxhash64(concat_ws(',', {cols})) AS bucket)".format(
            i=i,
            cols=", ".join(
                f"CAST(sig{i * rows_per_band + j} AS STRING)"
                for j in range(rows_per_band)
            ),
        )
        for i in range(bands)
    )
    return sig_df.selectExpr(
        "doc_id", f"explode(array({structs})) AS bb"
    ).selectExpr("doc_id", "bb.band AS band", "bb.bucket AS bucket")


def incremental_minhash_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental MinHash-LSH over PERSISTED signature tables: candidate
    pairs of a new batch against the corpus without re-shingling the
    corpus — the 100 TB continuous-ingest path (``minhash_signatures``
    materializes the table once; each batch only shingles itself).

    Both inputs are (doc_id, sig0..sig{num_perm-1}). Candidates form
    where a band bucket collides, with the NEW side driving: new-vs-old
    pairs in either id order, new-vs-new once, old-vs-old never.
    Verification is the signature-agreement estimate of Jaccard (the
    only verifier available without text — unbiased, sd =
    sqrt(J(1-J)/num_perm)); callers needing exact similarity join text
    back on the surviving pairs only. Output: (id_new, id_other,
    other_is_new, est_jaccard).

    Hot buckets are driven by the batch side, so the pair fan-out per
    bucket is O(batch_width * corpus_width), not O(corpus_width^2);
    cap skew by pre-filtering pathological buckets from the corpus
    banded frame if a corpus audit (``bucket_width_stats``) shows them.

    An id present in BOTH signature tables (a re-ingested document) is
    treated as new: the corpus row is dropped first, so each doc
    appears once and pairs carry a single, consistent other_is_new.
    """
    corpus_only = corpus_sigs.join(new_sigs.select("doc_id"), "doc_id", "left_anti")
    new_b = band_buckets(new_sigs, num_perm, bands).transform(lazy_checkpoint)
    old_b = band_buckets(corpus_only, num_perm, bands)
    all_b = new_b.withColumn("_new", F.lit(1)).unionByName(
        old_b.withColumn("_new", F.lit(0))
    )
    cand = (
        new_b.select(F.col("doc_id").alias("id_new"), "band", "bucket")
        .join(
            all_b.select(
                F.col("doc_id").alias("id_other"), F.col("_new").alias("_new_b"),
                "band", "bucket",
            ),
            ["band", "bucket"],
        )
        .filter((F.col("_new_b") == 0) | (F.col("id_new") < F.col("id_other")))
        .filter(F.col("id_new") != F.col("id_other"))
        .select("id_new", "id_other", "_new_b")
        .distinct()
    )
    # parsed SQL strings, not Column trees: ~4k fewer py4j calls a batch
    a_side = new_sigs.selectExpr(
        "doc_id AS id_new", *[f"sig{i} AS _a{i}" for i in range(num_perm)]
    )
    b_side = new_sigs.unionByName(corpus_only).selectExpr(
        "doc_id AS id_other", *[f"sig{i} AS _b{i}" for i in range(num_perm)]
    )
    agree = " + ".join(
        f"CASE WHEN _a{i} = _b{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    return (
        cand.join(a_side, "id_new")
        .join(b_side, "id_other")
        .withColumn(
            "est_jaccard", F.expr(f"round(CAST({agree} AS DOUBLE) / {num_perm}, 6)")
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            "id_new", "id_other",
            (F.col("_new_b") == 1).alias("other_is_new"), "est_jaccard",
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_width: int | None = 1000,
    eager_probe: bool = False,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified by
    exact shingle Jaccard.

    ``hash`` selects the shingle hash: ``"xxhash64"`` (default — the
    JVM-native production path) or ``"md5"`` (the md5-prefix integer of
    ``_gram_hash``, reproducible in any engine with md5 — the
    oracle-comparable form, same portability split as winnowing's
    ``winnow_pairs`` vs ``winnow_pairs_fast``). The band BUCKET hash
    stays xxhash64 in both modes: two docs share a bucket iff their
    band signature rows are equal, so the bucket hash function never
    changes which candidates form (collisions aside) — only the
    signature hash has to be portable.

    Pipeline: signature -> slice into ``bands`` bands of
    ``num_perm/bands`` rows -> hash each band -> explode -> bucket-join
    on (band_idx, band_hash) -> id<id pairs -> dedup -> verify with
    true Jaccard >= threshold. Shuffle volume is O(n * bands) rows of
    (id, hash), never O(n^2). Buckets wider than ``max_bucket_width``
    degrade to star pairs around the bucket's min doc id (see
    ``_bucket_pairs``) so a skewed corpus can't go quadratic; audit
    with ``bucket_width_stats``.

    Fully lazy by default. Pass ``eager_probe=True`` to run one small
    aggregate action (max bucket width) at plan-construction time so
    the hot-bucket join-back can be skipped entirely on natural
    corpora; with the lazy default the guard joins widths back
    unconditionally (one extra tiny aggregate + join in the plan).
    """
    # ONE explode+hash pass feeds both the signature aggregation and
    # the verification shingle sets (they only differ by a pmod) —
    # without the shared checkpoint each branch re-derives the full
    # exploded frame from the source scan
    shingle_h = (
        F.xxhash64("_s") if hash == "xxhash64" else _gram_hash(hash, "_s")
    )
    # conditional spread (no-op on already-wide inputs): the shared
    # checkpoint below erases partitioning, so this buys nothing at
    # cluster scale — but off a one-task scan it parallelizes the
    # shingle+hash fan-out and the checkpoint materialization 32x
    ex = (
        exploded_shingles(spread_by_key(df, id_col), [id_col], text_col, shingle_n, "_s")
        .select(F.col(id_col).alias("doc_id"), shingle_h.alias("_h"))
        .transform(lazy_checkpoint)
    )
    # SQL-string aggregates — see minhash_signatures for the py4j
    # rationale; same expressions, same plan
    aggs = [
        F.expr(f"min(pmod(_hp * {a}L + {b}L, {MERSENNE_PRIME}L))").alias(f"sig{i}")
        for i, (a, b) in enumerate(_perm_params(num_perm, seed))
    ]
    sig = ex.selectExpr(
        "doc_id", f"pmod(_h, {MERSENNE_PRIME}L) AS _hp"
    ).groupBy("doc_id").agg(*aggs)
    # Materialize the banded frame and shingle sets once: each feeds
    # multiple plan branches (width agg + join + self-join; id_a + id_b
    # sides) and Catalyst does not dedupe common subplans — without
    # this the signature pipeline recomputes per branch (10 scans
    # observed in the un-checkpointed plan).
    banded = band_buckets(sig, num_perm, bands).transform(lazy_checkpoint)
    cand = _bucket_pairs(banded, max_bucket_width, eager_probe)
    sh = (
        ex.groupBy("doc_id")
        .agg(F.collect_set("_h").alias("sh"))
        .transform(lazy_checkpoint)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    sim = F.round(F.when(union == 0, 0.0).otherwise(inter.cast("double") / union), 6)
    # size-gated broadcast of the shingle-set re-joins (r16, guide
    # §3.1) — same rationale as simhash_near_pairs' fingerprint joins
    from ..core.data import maybe_broadcast

    verified = (
        cand.join(
            maybe_broadcast(
                sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), None
            ),
            "id_a",
        )
        .join(
            maybe_broadcast(
                sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), None
            ),
            "id_b",
        )
        .withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return verified


# ---------------------------------------------------------------------------
# Connected components: pair list -> cluster ids (completes the dedup
# story — MinHash/SimHash emit pairs; keeping one doc per cluster needs
# the transitive closure)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
    strict: bool = True,
) -> DataFrame:
    """Component ids for an undirected edge list via hash-min label
    propagation with pointer jumping: every vertex starts labeled with
    its own id; each round takes the min of its label and its neighbors'
    labels, then replaces its label with its label's label (path
    compression — labels are always real vertex ids, so the jump is a
    self-join). Converged when no label changes. Output:
    (doc_id, component_id) with component_id = the minimum doc id in the
    component.

    Scale shape: each round is two joins + one groupBy-min (all shuffle
    on doc id — co-partitioned, AQE-coalesced); the pointer jump makes
    rounds O(log diameter) rather than O(diameter), so even a
    pathological million-link chain converges within ~20 rounds.
    ``localCheckpoint`` truncates the growing lineage each round — the
    standard Spark iterative-algorithm pattern. Convergence is detected
    by an order-insensitive label-set hash, one tiny action per round.
    If the loop exhausts ``max_iterations`` without converging, the
    result would silently contain split components — ``strict=True``
    (default) raises instead; ``strict=False`` returns the partial
    labels for callers that inspect convergence themselves.
    """
    # Materialize the edge list once: without this, every iteration
    # re-derives ``pairs`` from scratch — ruinous when pairs is the
    # output of a MinHash/SimHash candidate pipeline. persist() over a
    # src-repartition rather than localCheckpoint: the checkpoint's
    # ExistingRDD reports UnknownPartitioning, which re-shuffled the
    # EDGE list (the big side — E >= V) into the message join every
    # round; the materialized cache keeps hashpartitioning(src), so
    # each round only shuffles the node-scale label frame
    # (the lineups_via_range_join lesson applied to the loop).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition("src")
        .persist()
    )
    edges.count()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    converged = False
    for _ in range(max_iterations):
        msgs = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "component_id")
        merged = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
        )
        # pointer jump: component_id is itself a vertex id, so look up
        # ITS current label and adopt the smaller — halves the distance
        # to the component minimum every round (O(log diameter) rounds).
        jump = labels.select(
            F.col("doc_id").alias("component_id"), F.col("component_id").alias("_cc")
        )
        new_labels = (
            merged.join(jump, "component_id", "left")
            .select(
                "doc_id",
                F.least(F.col("component_id"), F.coalesce("_cc", "component_id")).alias(
                    "component_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        sig = tuple(
            new_labels.select(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(doc_id, component_id))").alias("x"),
            ).collect()[0]
        )
        labels = new_labels
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    # labels is an eagerly checkpointed RDD, so the loop-invariant edge
    # cache can be dropped before returning (unlike the lineup path,
    # where the returned plan still reads its caches)
    edges.unpersist()
    if not converged and strict:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations — labels would be silently split. Raise max_iterations "
            "or pass strict=False to accept partial labels."
        )
    return labels


def incremental_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
    strict: bool = True,
    changed_only: bool = False,
) -> DataFrame:
    """Extend a CONVERGED component labeling with new edges without
    re-propagating inside old components — the continuous-ingest form
    of ``connected_components`` (new near-dup pairs arrive per batch;
    recomputing components over the full pair history is O(corpus)
    per batch and at billions of documents is the bottleneck).

    ``labels``: (doc_id, component_id) fixed point of the old edge set
    (component_id = min doc id in the component, the
    ``connected_components`` contract). ``new_pairs``: the batch's
    edges; either endpoint may be previously unseen.

    Shape — every step is O(batch), never O(corpus):

    1. map each new-edge endpoint to its current label (one join
       against ``labels``, broadcast when the batch is small; an
       unseen node labels itself),
    2. CONDENSE: each old component is one supernode, so the new
       edges become (label_a, label_b) edges over at most
       2x|new_pairs| vertices — component interiors never enter,
    3. run the batch hash-min propagation on that condensed graph
       (tiny: rounds scale with how many COMPONENTS a new path chains
       together, not with component sizes or corpus diameter),
    4. one join relabels exactly the rows of affected components;
       unaffected rows pass through untouched.

    Equivalent to ``connected_components(old_pairs UNION new_pairs)``
    by the supernode argument: contracting a converged component onto
    its min-id vertex preserves connectivity, and the min over the
    merged component is the min over its supernode ids, each already
    the min of its old component. The driver query
    ``incremental_components`` hashes this equivalence against
    DuckDB's recursive-CTE closure of the full edge union.

    ``changed_only=True`` returns ONLY the rows whose label differs
    from (or is absent in) ``labels`` — the delta a persisted-table
    maintainer merges. Computed directly (inner join against the
    labels-that-changed relabel map) rather than by diffing the full
    output against ``labels``, which would scan the label table a
    third time per batch.
    """
    e = new_pairs.select(F.col(id_a).alias("_a"), F.col(id_b).alias("_b"))
    la = labels.select(
        F.col("doc_id").alias("_a"), F.col("component_id").alias("_la")
    )
    lb = labels.select(
        F.col("doc_id").alias("_b"), F.col("component_id").alias("_lb")
    )
    tagged = (
        e.join(la, "_a", "left")
        .join(lb, "_b", "left")
        .select(
            F.coalesce("_la", F.col("_a")).alias("_ca"),
            F.coalesce("_lb", F.col("_b")).alias("_cb"),
        )
        .localCheckpoint(eager=True)  # two consumers; edges are batch-sized
    )
    cond_edges = tagged.filter(F.col("_ca") != F.col("_cb")).select(
        F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b")
    )
    # previously-unseen endpoints (self-labeled above) need a label row
    # even when their every edge lands inside one condensed vertex
    new_nodes = (
        e.select(F.col("_a").alias("doc_id"))
        .unionByName(e.select(F.col("_b").alias("doc_id")))
        .distinct()
        .join(labels.select("doc_id"), "doc_id", "left_anti")
    )
    if cond_edges.isEmpty():
        fresh_self = new_nodes.withColumn("component_id", F.col("doc_id"))
        return fresh_self if changed_only else labels.unionByName(fresh_self)
    cond = connected_components(
        cond_edges, max_iterations=max_iterations, strict=strict
    )  # (doc_id = condensed vertex = old label or new node, component_id)
    relabel = cond.select(
        F.col("doc_id").alias("component_id"),
        F.col("component_id").alias("_new"),
    )
    fresh = new_nodes.join(F.broadcast(cond), "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", F.col("doc_id")).alias("component_id")
    )
    if changed_only:
        # inner join against only the labels that actually moved — one
        # label-table scan emitting just the affected components' rows
        moved = relabel.filter(F.col("_new") != F.col("component_id"))
        old_changed = labels.join(F.broadcast(moved), "component_id").select(
            "doc_id", F.col("_new").alias("component_id")
        )
        return old_changed.unionByName(fresh)
    old = labels.join(F.broadcast(relabel), "component_id", "left").select(
        "doc_id", F.coalesce("_new", "component_id").alias("component_id")
    )
    return old.unionByName(fresh)


def dedup_assign(
    df: DataFrame, id_col: str, pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Attach ``component_id`` to every row of ``df``: docs appearing in
    ``pairs`` get their component's min id, singletons their own id, and
    ``is_canonical`` marks the one row to keep per component. This is the
    keep-one-per-cluster step after MinHash/SimHash pair generation."""
    comp = connected_components(pairs, id_a, id_b)
    out = (
        df.join(comp.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("component_id", F.coalesce("component_id", F.col(id_col)))
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("component_id"))


def dedup_assign_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    priority_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """``dedup_assign`` with a QUALITY-priority canonical: within each
    duplicate cluster the surviving row is the one with the highest
    ``priority_col`` (quality score, length, recency — RefinedWeb keeps
    the longest copy, not the lowest id), ties broken by min id.
    ``component_id`` stays the cluster's min id (a stable cluster key
    independent of which member wins), so downstream leakage-safe
    splits keyed on it are unaffected by priority changes.

    Cost over ``dedup_assign``: one extra window shuffle keyed on
    component_id — clusters are tiny relative to the corpus, so the
    exchange is dominated by the label-propagation join it follows.
    """
    comp = connected_components(pairs, id_a, id_b)
    out = (
        df.join(comp.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("component_id", F.coalesce("component_id", F.col(id_col)))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col(priority_col).desc(), F.col(id_col)
    )
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .withColumn("is_canonical", F.col("_rk") == 1)
        .drop("_rk")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column | str, bits: int = 64) -> Column:
    """SimHash fingerprint: per-token xxhash64; for each bit position,
    sum +1/-1 votes across tokens; bit set iff the vote is positive.
    Entirely higher-order array functions — one pass over the tokens,
    no explode, no UDF."""
    tok_hashes = F.transform(tokens(text), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                    .cast("long")
                    for b in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    # bit weights: 1<<b, with the sign bit expressed as long min
    weights = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
    result = F.lit(0).cast("long")
    for b, w in enumerate(weights):
        result = result.bitwiseXOR(
            F.when(F.element_at(votes, b + 1) > 0, F.lit(w).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return result


def simhash_df(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64,
    hash: str = "xxhash64",
) -> DataFrame:
    """Scalable SimHash: explode tokens -> one xxhash64 per token ->
    per-bit +1/-1 vote aggregates -> assemble the fingerprint. Same
    result as the single-expression ``simhash`` but the token hash is
    computed once and the 64 votes are partial-aggregated map-side.
    Output: (doc_id, sh).

    ``hash="md5"`` swaps the token hash for the md5 15-hex-prefix
    integer (60 bits, reproducible in any engine with md5 — same
    portability split as minhash_lsh_pairs/winnowing): bits 60-63 then
    never vote and stay 0 in the fingerprint, so the effective
    fingerprint is 60-bit; band blocking and Hamming verification are
    unchanged, just marginally less discriminative in the top band."""
    # The NULL/empty guard serves two purposes: xxhash64(NULL) is the
    # seed (not NULL), and the raw split of blank text yields one ""
    # element — both must stay NULL-hash padding rows that drop out of
    # every aggregate (md5("")/md5(NULL) would otherwise vote).
    if hash == "xxhash64":
        hsql = "CASE WHEN _t IS NOT NULL AND _t <> '' THEN xxhash64(_t) END"
    elif hash == "md5":
        hsql = (
            "CASE WHEN _t IS NOT NULL AND _t <> '' THEN "
            "CAST(conv(substring(md5(_t), 1, 15), 16, 10) AS BIGINT) END"
        )
    else:
        raise ValueError(f"unknown token hash {hash!r}: use 'md5' or 'xxhash64'")
    # Shape notes (r16):
    # - spread the compact doc rows before the token fan-out (guide
    #   §2.3/§8: exchange 1x text bytes, not per-token rows; also fixes
    #   the one-task-scan case) — the vote aggregate below then needs
    #   no second exchange;
    # - raw split + relational guard instead of the tokens() HOF filter
    #   (interpreted per element — measured 2.0s -> 1.3s on this pass);
    #   explode_outer keeps NULL-text docs, the "" element keeps
    #   blank-text docs, both as NULL-hash rows, so the aggregate sees
    #   EVERY doc (count/sum skip the NULL hash, n = 0, every vote
    #   fails, sh = 0 — same contract as the single-expression
    #   ``simhash``; the old second-scan + left-join backfill is gone);
    # - the whole vote-and-assemble step is ONE aggregate expression
    #   built as a SQL string: the previous Column-API loop (65 agg
    #   columns + a 64-way XOR chain) issued ~500 py4j round trips and
    #   re-analyzed the wide plan per DataFrame op — ~1s of DRIVER time
    #   per call; one parsed expression is milliseconds, identical
    #   analyzed plan. (Identical sum/count subexpressions are
    #   deduplicated by the aggregate planner.)
    # quote the user-supplied column names (backticks doubled — the SQL
    # identifier escape) and alias them to fixed internal names BEFORE
    # the SQL-string stage, so a backtick or other special character in
    # the caller's column name can't break the interpolated expression
    # (ADVICE r16)
    def _qcol(name: str) -> Column:
        return F.col("`" + name.replace("`", "``") + "`")

    tok = spread_by_key(
        df.select(_qcol(id_col).alias("doc_id"), _qcol(text_col).alias("_text__")),
        "doc_id",
        always=True,
    ).selectExpr(
        "doc_id", "explode_outer(split(trim(`_text__`), '\\\\s+')) AS _t"
    ).selectExpr("doc_id", f"{hsql} AS _h")
    weights = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
    # long.min has no SQL literal (unary minus over 2^63 overflows the
    # parser); spell it as -(2^63-1) - 1
    lit = lambda w: f"{w}L" if w >= 0 else "(-9223372036854775807L - 1L)"  # noqa: E731
    fp_sql = " ^ ".join(
        f"(CASE WHEN sum(shiftright(_h, {b}) & 1) * 2 > count(_h) "
        f"THEN {lit(w)} ELSE 0L END)"
        for b, w in enumerate(weights)
    )
    return tok.groupBy("doc_id").agg(F.expr(fp_sql).alias("sh"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_width: int | None = 1000,
    eager_probe: bool = False,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    bands (a pair within Hamming distance 3 of a 64-bit hash must agree
    exactly on at least one of the 4 bands — pigeonhole), so candidate
    generation is a bucket join, not all-pairs. Buckets wider than
    ``max_bucket_width`` degrade to star pairs around the bucket's min
    doc id (``_bucket_pairs``) to stay linear on skewed corpora.

    ``hash`` selects the token hash (see ``simhash_df``): "xxhash64"
    (default, JVM production path) or "md5" (engine-portable, the
    oracle-comparable form).

    Fully lazy by default. Pass ``eager_probe=True`` to run one small
    aggregate action (max bucket width) at plan-construction time so
    the hot-bucket join-back can be skipped entirely on natural
    corpora; with the lazy default the guard joins widths back
    unconditionally (one extra tiny aggregate + join in the plan)."""
    # one materialization of the fingerprints feeds banding (4 plan
    # branches in _bucket_pairs) and the two fingerprint re-joins
    h = simhash_df(df, id_col, text_col, hash=hash).transform(lazy_checkpoint)
    bands = _simhash_bands(h, band_bits)
    cand = _bucket_pairs(bands, max_bucket_width, eager_probe)
    fp = h.withColumnRenamed("sh", "_fp")
    # size-gated broadcast of the fingerprint re-joins (r16, guide
    # §3.1): (doc_id, sh) is 16 bytes/doc — small enough to broadcast
    # for any corpus the bench sees, falling back to the planner's
    # choice past the cap (the gate reads the checkpoint's estimate)
    from ..core.data import maybe_broadcast

    cand = (
        cand.join(
            maybe_broadcast(
                fp.select(F.col("doc_id").alias("id_a"), F.col("_fp").alias("sh_a")), None
            ),
            "id_a",
        )
        .join(
            maybe_broadcast(
                fp.select(F.col("doc_id").alias("id_b"), F.col("_fp").alias("sh_b")), None
            ),
            "id_b",
        )
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_simhash_pairs(
    new_fps: DataFrame,
    corpus_fps: DataFrame,
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_width: int | None = 1000,
) -> DataFrame:
    """Incremental SimHash over PERSISTED fingerprint tables — the
    third leg of the continuous-ingest family (``incremental_ngram_pairs``
    re-shingles text, ``incremental_minhash_pairs`` joins signature
    tables; this joins (doc_id, sh) fingerprint tables). Candidates
    form where a band bucket collides, driven by the NEW side:
    new-vs-old pairs in either id order, new-vs-new once, old-vs-old
    never — so per-bucket fan-out is O(batch_width * corpus_width).
    Verification is exact (Hamming distance of the full 64-bit
    fingerprints on candidates only).

    Buckets wider than ``max_bucket_width`` (across batch + corpus —
    e.g. every empty doc fingerprints to sh=0 and shares all bands)
    degrade to STAR candidates around the bucket's min doc id, the
    same linear-cost guard as ``_bucket_pairs``: fan-out O(width) and
    a diameter-2 subgraph for downstream component dedup — PROVIDED
    the hub survives the Hamming verify against its members. As with
    the batch guard (see ``_bucket_pairs``), a hub that is far from
    two members which are close to each other loses that pair: exact
    parity with unguarded candidates requires ``None``; the default
    cap trades that edge for linear behavior on degenerate corpora.
    Audit wide buckets with ``bucket_width_stats`` over
    ``_simhash_bands`` output. Unlike the batch operators there is no
    eager width probe — this composes into continuous-ingest plans,
    so the widths join is unconditional and the plan stays fully lazy.

    An id present in BOTH tables (a re-ingested document) is treated
    as new: the corpus row is dropped first, so each doc appears once
    and pairs carry a single, consistent other_is_new. Output:
    (id_new, id_other, other_is_new, hamming).
    """
    corpus_only = corpus_fps.join(new_fps.select("doc_id"), "doc_id", "left_anti")
    all_b = (
        _simhash_bands(new_fps, band_bits).withColumn("_new", F.lit(1))
        .unionByName(
            _simhash_bands(corpus_only, band_bits).withColumn("_new", F.lit(0))
        )
        .transform(lazy_checkpoint)  # feeds widths + both join sides
    )
    if max_bucket_width is None:
        sized = all_b.withColumn("_bw", F.lit(0))
        cap = 0  # everything "cold"
    else:
        widths = all_b.groupBy("band", "bucket").agg(F.count("*").alias("_bw"))
        sized = all_b.join(widths, ["band", "bucket"])
        cap = max_bucket_width
    sized = sized.transform(lazy_checkpoint)  # cold pair sides + hot star branch
    cold = sized.filter(F.col("_bw") <= cap)
    cand_cold = (
        cold.filter(F.col("_new") == 1)
        .select(F.col("doc_id").alias("id_new"), "band", "bucket")
        .join(
            cold.select(
                F.col("doc_id").alias("id_other"), F.col("_new").alias("_new_b"),
                "band", "bucket",
            ),
            ["band", "bucket"],
        )
        .select("id_new", "id_other", "_new_b")
    )
    # hot buckets: star pairs hub<->member; the NEW side must drive, so
    # a pair is emitted iff hub or member is new, ordered hub-first
    # when the hub is new (hub = min id, so new-new pairs emit once)
    hot = sized.filter(F.col("_bw") > cap)
    hubs = hot.groupBy("band", "bucket").agg(F.min("doc_id").alias("_hub"))
    hub_tag = (
        hot.join(hubs, ["band", "bucket"])
        .filter(F.col("doc_id") == F.col("_hub"))
        .select("band", "bucket", "_hub", F.col("_new").alias("_hub_new"))
    )
    cand_hot = (
        hot.join(hub_tag, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("_hub"))
        .filter((F.col("_new") == 1) | (F.col("_hub_new") == 1))
        .select(
            F.when(F.col("_hub_new") == 1, F.col("_hub"))
            .otherwise(F.col("doc_id")).alias("id_new"),
            F.when(F.col("_hub_new") == 1, F.col("doc_id"))
            .otherwise(F.col("_hub")).alias("id_other"),
            F.when(F.col("_hub_new") == 1, F.col("_new"))
            .otherwise(F.col("_hub_new")).alias("_new_b"),
        )
    )
    cand = (
        cand_cold.unionByName(cand_hot)
        .filter((F.col("_new_b") == 0) | (F.col("id_new") < F.col("id_other")))
        .filter(F.col("id_new") != F.col("id_other"))
        .distinct()
    )
    a_fp = new_fps.select(F.col("doc_id").alias("id_new"), F.col("sh").alias("_fa"))
    b_fp = new_fps.unionByName(corpus_only).select(
        F.col("doc_id").alias("id_other"), F.col("sh").alias("_fb")
    )
    return (
        cand.join(a_fp, "id_new")
        .join(b_fp, "id_other")
        .withColumn("hamming", F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            "id_new", "id_other",
            (F.col("_new_b") == 1).alias("other_is_new"), "hamming",
        )
    )


def _simhash_bands(fps: DataFrame, band_bits: int) -> DataFrame:
    """(doc_id, sh) -> (doc_id, band, bucket): slice the 64-bit
    fingerprint into 64/band_bits exact-match bands (pigeonhole: a
    pair within Hamming distance (64/band_bits - 1) must agree on at
    least one band)."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    # one parsed expression instead of ~8 py4j calls per band (r16)
    structs = ", ".join(
        f"struct({i} AS band, shiftright(sh, {i * band_bits}) & {mask}L AS bucket)"
        for i in range(nbands)
    )
    return fps.selectExpr(
        "doc_id", f"explode(array({structs})) AS bb"
    ).selectExpr("doc_id", "bb.band AS band", "bb.bucket AS bucket")


# ---------------------------------------------------------------------------
# Sub-document exact dedup: lines and token spans
# ---------------------------------------------------------------------------

def dedup_lines(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Corpus-global line-level exact dedup (the C4 rule): every line
    keeps exactly its FIRST occurrence — ordered by (doc id, position
    in doc) — and later copies anywhere in the corpus are dropped;
    documents are reassembled from their surviving lines in original
    order. Boilerplate (nav bars, license headers, cookie banners)
    disappears from all but one document while unique prose is
    untouched.

    Plan shape at scale: posexplode lines, ONE shuffle keyed on the
    line content for the first-occurrence window (partitionBy line —
    Spark hash-partitions on the string, so the exchange is
    hash-bucketed exactly like a groupBy), then one groupBy(doc) to
    reassemble via sort_array(collect_list(struct(pos, line))). No
    pair joins, no windows over the whole corpus — both exchanges are
    key-local. Ties inside one document (a line repeated within the
    doc) resolve by position, so exactly one copy survives there too.

    Returns (id, text, n_kept, n_dropped); a document whose every line
    was dropped elsewhere — or whose text is NULL — comes back with
    empty text, not a missing row.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        # coalesce: split(NULL) is NULL and posexplode(NULL) emits no
        # rows, which would silently drop the document. \Q...\E quotes
        # the separator — split() takes a REGEX, and reassembly below
        # uses the separator literally. An embedded \E would terminate
        # the quote early, so it is re-escaped the way
        # java.util.regex.Pattern.quote does.
        F.posexplode(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")),
                "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E",
            )
        ).alias("_pos", "_line"),
    )
    w = Window.partitionBy("_line").orderBy("_id", "_pos")
    kept = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
            ).alias("_text"),
            F.count("*").alias("_n_kept"),
        )
    )
    totals = lines.groupBy("_id").agg(F.count("*").alias("_n_lines"))
    return (
        totals.join(kept, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("_n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_repeat: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact-substring boilerplate removal at token n-gram granularity
    (the scalable relaxation of suffix-array substring dedup, Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): any token covered by an n-token sequence whose exact
    text occurs at least ``min_repeat`` times across the corpus
    (counting every occurrence, same-document repeats included) is
    removed, and each document is reassembled from its surviving
    tokens in order. Unlike document- or line-level dedup this
    catches duplicated passages embedded mid-document with unique
    text around them.

    Plan shape at scale: n-gram starts are built ARRAY-SIDE
    (transform over sequence + slice — no self-join of token rows),
    counted with one hash-aggregate shuffle on the gram, and only
    flagged starts explode into covered positions (n rows per flagged
    start, nothing for clean text). The rebuild is one groupBy(doc).
    Suffix arrays find variable-length repeats; this fixed-n form is
    one shuffle and catches every repeat of length >= n, at the cost
    of missing shorter ones — n IS the "minimum match length" knob.

    ``keep_first=True`` switches to the keep-one-canonical-copy policy
    of the suffix-array pipelines: the lowest-id document containing a
    flagged gram KEEPS its occurrences (including same-document
    repeats) and only the other documents' copies are removed — the
    corpus retains exactly one canonical copy of every repeated
    passage instead of losing the information entirely. The default
    remove-everywhere policy suits boilerplate (headers, licenses);
    keep-first suits content passages.

    Returns (id, text, n_kept, n_removed).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = df.select(
        F.col(id_col).alias("_id"),
        # coalesce: a NULL text must yield a row with empty text, not
        # a silently-missing document (posexplode of NULL emits none)
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_tok"),
    )
    # start positions are 0-based; doc with < n tokens has no grams
    grams = toks.select(
        "_id",
        F.posexplode(
            F.when(
                F.size("_tok") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("_tok") - n),
                    lambda i: F.concat_ws(" ", F.slice("_tok", i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_start", "_gram"),
    )
    hot = (
        grams.groupBy("_gram")
        .agg(F.count("*").alias("_c"), F.min("_id").alias("_keeper"))
        .filter(F.col("_c") >= min_repeat)
        .select("_gram", "_keeper")
    )
    flagged = grams.join(hot, "_gram")
    if keep_first:
        flagged = flagged.filter(F.col("_id") != F.col("_keeper"))
    covered = (
        flagged
        .select("_id", F.explode(F.sequence("_start", F.col("_start") + n - 1)).alias("_pos"))
        .distinct()
    )
    positions = toks.select("_id", F.posexplode("_tok").alias("_pos", "_t"))
    survivors = positions.join(covered, ["_id", "_pos"], "left_anti")
    rebuilt = survivors.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_t"))),
                lambda s: s["_t"],
            ),
        ).alias("_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = positions.groupBy("_id").agg(F.count("*").alias("_n_tok"))
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("_n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_tok") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------

def _gram_hash(kind: str, col: str = "_g"):
    if kind == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    if kind == "xxhash64":
        # fold to the same non-negative 32-bit range as the md5 prefix
        # so downstream width stats / band math behave identically
        return F.pmod(F.xxhash64(col), F.lit(2_147_483_648)).cast("long")
    raise ValueError(f"unknown gram hash {kind!r}: use 'md5' or 'xxhash64'")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    hash: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints: hash every character ``k``-gram
    of the normalized text, slide a window of ``w`` consecutive hashes,
    and record the window minimum — on ties the RIGHTMOST minimal hash,
    per the paper's robust-winnowing rule (Schleimer et al. 2003).
    Guarantees every shared substring of length >= k + w - 1 contributes
    at least one matching fingerprint between two documents, with
    ~2/(w+1) density — the local, position-aware complement to MinHash
    (which is global and position-blind). Output: one row per distinct
    (id, pos, fp) with 1-based gram position.

    Portable construction: the gram hash is the md5-prefix integer
    (same as the DSIR bucket hash — every engine computes it
    identically). The whole pipeline is RELATIONAL — grams posexplode,
    hash per row, windows form by an offset-exploded equi-join, and
    the rightmost-min pick is one min(struct(hash, -pos)) aggregate —
    because the array/higher-order-function formulation measured 13x
    slower: HOF lambdas are interpreted (an in-lambda md5 chain runs
    ~10x slower than codegen) and re-evaluate non-attribute subtrees
    per element (an inline regexp normalization ran once per gram:
    38s vs 2.9s at sf0.1). Relational rows also avoid materializing a
    per-document hash array, so a million-token document costs rows,
    not one giant skewed cell. Shuffles key on the doc id and the
    (doc, gram-index) join key — both scale.

    The one checkpoint (after normalization) stops CollapseProject
    from re-inlining the regex into the gram-transform lambda.

    ``hash``: "md5" (default) is the engine-portable form every oracle
    checks; "xxhash64" swaps in the JVM-native hash for production runs
    where no cross-engine comparison is needed — same fingerprint
    SEMANTICS (winnowing guarantees hold for any uniform hash),
    different values, measurably cheaper per gram.

    Shape (r16 optimization, guide §2.3/§2.4/§8): the DOCUMENT rows are
    hash-repartitioned on the id BEFORE the gram fan-out, so (a) the
    per-gram hash chain runs at cluster parallelism even when the scan
    is one unsplittable task, and (b) the one exchange carries compact
    document rows (~1x text bytes) instead of exploded gram rows
    (~30x), and the window + dedup then run with ZERO further
    exchanges (both key on the id / an id-prefixed tuple). Grams come
    from ``explode(sequence(1, n))`` + ``substr`` in the projection —
    straight-line codegen; the previous array-``transform`` lambda was
    interpreted per element, and needed a checkpoint to keep the
    normalization regex from being re-inlined into the lambda. With no
    lambda there is nothing to re-inline and the checkpoint (an extra
    materialization per run) is gone."""
    t = F.col("_t")
    n = F.length(t) - (k - 1)
    norm = spread_by_key(
        df.select(F.col(id_col), normalized_text(text_col).alias("_t")),
        id_col,
        always=True,
    )
    h = (
        norm.filter(n >= 1)
        .select(F.col(id_col), "_t", F.explode(F.sequence(F.lit(1), n)).alias("_i"))
        .select(
            F.col(id_col),
            "_i",
            _gram_hash(hash, t.substr(F.col("_i"), F.lit(k))).alias("_hv"),
        )
    )
    # sliding windows via ONE window-function pass (keyed on the doc
    # id, already the partitioning — no exchange): the frame [CURRENT,
    # w-1 FOLLOWING] is the winnowing window anchored at this gram, and
    # min(struct(hash, -pos)) picks its rightmost minimal hash in the
    # same aggregate
    frame = (
        Window.partitionBy(id_col).orderBy("_i").rowsBetween(0, w - 1)
    )
    sel = F.min(F.struct(F.col("_hv").alias("h"), (-F.col("_i")).alias("nj"))).over(
        frame
    )
    win = (
        h.withColumn("_sel", sel)
        .withColumn("_c", F.count("*").over(frame))
        .filter(F.col("_c") == w)  # only fully-populated windows
    )
    return win.select(
        F.col(id_col),
        (-F.col("_sel.nj")).cast("long").alias("pos"),
        F.col("_sel.h").alias("fp"),
    ).dropDuplicates([id_col, "pos", "fp"])


def _prune_hot_fps(
    distinct: DataFrame, max_df_frac: float, id_alias: str
) -> DataFrame:
    """Drop fingerprints present in more than ``max_df_frac`` of the
    documents before any pair join: a fingerprint in k docs contributes
    k*(k-1)/2 join rows, and template/boilerplate fingerprints carry no
    duplication signal (same rationale as ngram_jaccard_pairs' stop-
    shingle prune). Fully relational — the doc total is a one-row
    aggregate cross-joined in, so the prune is lazy and engine-
    mirrorable; the hot list is tiny and AQE broadcasts the anti join."""
    nd = distinct.agg(F.countDistinct(id_alias).alias("_nd"))
    hot = (
        distinct.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("_df") > F.col("_nd") * F.lit(max_df_frac))
        .select("fp")
    )
    return distinct.join(hot, "fp", "left_anti")


def winnow_match_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from winnowing fingerprints: the
    postings self-join on the fingerprint VALUE (same inverted-index
    shape as ``ngram_jaccard_pairs`` — pairs only form where a
    fingerprint co-occurs), keeping pairs sharing at least
    ``min_shared`` distinct fingerprints. Output: (id_a, id_b,
    shared_fps). Position columns survive to the join inputs, so a
    caller can extend this to localize the overlapping span."""
    distinct = fps.select(F.col(id_col).alias("_id"), "fp").dropDuplicates(["_id", "fp"])
    # checkpoint BEFORE the prune (r16): the doc-count and hot-fp
    # aggregates inside _prune_hot_fps are extra consumers of this
    # frame — checkpointing after the prune made each of them re-derive
    # the whole fingerprint pipeline; here every consumer (nd, hot,
    # anti-join probe, both join sides) reads the one materialization
    distinct = distinct.transform(lazy_checkpoint)
    # NO fp repartition here (r17 A/B, interleaved min-of-4: with the
    # spread 2.15 s, without 1.46 s): the postings self-join's sides
    # are asymmetric consumers — the planner broadcasts one side and
    # the hot-fp aggregate runs map-side partial first, so a forced
    # exchange of the materialized frame ADDS a shuffle instead of
    # replacing one (unlike the pre-fan-out spreads upstream, whose
    # exchange substitutes for a wider one on exploded rows).
    if max_df_frac is not None:
        distinct = _prune_hot_fps(distinct, max_df_frac, "_id")
    a = distinct.select(F.col("_id").alias("id_a"), "fp")
    b = distinct.select(F.col("_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnow_overlap_spans(
    fps: DataFrame,
    id_col: str = "doc_id",
    band: int = 16,
    min_run: int = 3,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Localize WHERE two documents overlap from their winnowing
    fingerprints — the step MinHash fundamentally cannot do. Matching
    fingerprints between a document pair are grouped by their positional
    DIAGONAL (pos_a - pos_b, banded to ``band`` grams): fingerprints of
    one contiguous shared region drift along a single diagonal, while
    coincidental matches scatter (the same seeding idea as BLAST's
    diagonal runs). Bands with at least ``min_run`` matches become
    spans: (id_a, id_b, a_start, a_end, b_start, b_end, n_matches).

    Scale shape: the postings join only forms rows where a fingerprint
    value co-occurs (inverted index, never all-pairs), and the span
    aggregate is one hash group-by on (pair, band). floor-division on
    possibly-negative diagonals is FLOORED on both engines via
    explicit floor(x / band) over doubles of exact integers."""
    if max_df_frac is not None:
        keep = _prune_hot_fps(
            fps.select(F.col(id_col).alias("_id"), "fp").dropDuplicates(["_id", "fp"]),
            max_df_frac,
            "_id",
        ).select(F.col("_id").alias(id_col), "fp")
        fps = fps.join(keep, [id_col, "fp"], "left_semi")
    fps = fps.transform(lazy_checkpoint)  # feeds both join sides
    a = fps.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "fp")
    matches = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
    diag_band = F.floor(
        (F.col("pos_a") - F.col("pos_b")) / F.lit(float(band))
    ).cast("long")
    return (
        matches.withColumn("_band", diag_band)
        .groupBy("id_a", "id_b", "_band")
        .agg(
            F.min("pos_a").cast("long").alias("a_start"),
            F.max("pos_a").cast("long").alias("a_end"),
            F.min("pos_b").cast("long").alias("b_start"),
            F.max("pos_b").cast("long").alias("b_end"),
            F.count("*").cast("long").alias("n_matches"),
        )
        .filter(F.col("n_matches") >= min_run)
        .drop("_band")
    )


def incremental_winnow_pairs(
    new_fps: DataFrame,
    old_fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
) -> DataFrame:
    """Incremental winnowing near-dedup: fingerprints of a NEW ingest
    batch against the persisted corpus fingerprint table plus the batch
    itself — the same continuous-crawl contract as
    ``incremental_ngram_pairs`` / ``incremental_minhash_pairs``:
    old-vs-old pairs never form, the postings join fans out from the
    batch side only, and the persisted table is append-only (a batch's
    fingerprints become corpus rows for the next run). Output:
    (id_new, id_other, other_is_new, shared_fps).

    An id present in BOTH inputs (re-ingested document) pairs as a
    batch member; its stale corpus fingerprints are excluded by the
    anti-join so it cannot match itself."""
    old_clean = old_fps.join(
        new_fps.select(F.col(id_col)).distinct(), id_col, "left_anti"
    )
    n = new_fps.select(F.col(id_col).alias("id_new"), "fp").dropDuplicates(
        ["id_new", "fp"]
    )
    o = old_clean.select(F.col(id_col).alias("id_other"), "fp").dropDuplicates(
        ["id_other", "fp"]
    )
    vs_old = (
        n.join(o, "fp")
        .groupBy("id_new", "id_other")
        .agg(F.count("*").alias("shared_fps"))
        .withColumn("other_is_new", F.lit(False))
    )
    vs_new = (
        winnow_match_pairs(new_fps, id_col, min_shared=1)
        .select(
            F.col("id_a").alias("id_new"),
            F.col("id_b").alias("id_other"),
            "shared_fps",
        )
        .withColumn("other_is_new", F.lit(True))
    )
    return (
        vs_old.unionByName(vs_new)
        .filter(F.col("shared_fps") >= min_shared)
        .select("id_new", "id_other", "other_is_new", "shared_fps")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    block_prefix: int = 1,
) -> DataFrame:
    """Edit-distance (Levenshtein) join — the entity-resolution
    primitive for joining dirty string keys (names, titles, SKUs)
    across tables.

    Never all-pairs: candidates must share a lowercase ``block_prefix``
    AND sit within ``max_distance`` in length (a true lower bound on
    edit distance — |len(a) - len(b)| <= dist(a, b)), so the join is an
    equi-join on the block key with a residual length filter; the
    quadratic Levenshtein kernel only runs on surviving candidates,
    inside codegen. Raise ``block_prefix`` for bigger tables; prefix
    blocking misses pairs whose FIRST characters differ — the standard
    recall/cost dial (document per use).

    Output: left row + right row's key + ``edit_distance``.
    """
    lv = F.lower(F.trim(F.col(left_col)))
    rv = F.lower(F.trim(F.col(right_col)))
    l = left.withColumn("_lk", lv).withColumn("_lb", F.substring(lv, 1, block_prefix))
    # Right-side originals that collapse to the same normalized key
    # (case/whitespace variants like 'ABC' vs 'abc') are folded
    # deterministically: min() of the original value survives, so the
    # reported <col>_matched is stable across runs and partitionings
    # (dropDuplicates would keep an arbitrary survivor).
    r = (
        right.select(rv.alias("_rk"), F.col(right_col).alias("_right_value"))
        .groupBy("_rk")
        .agg(F.min("_right_value").alias("_right_value"))
        .withColumn("_rb", F.substring(F.col("_rk"), 1, block_prefix))
    )
    cand = l.join(r, F.col("_lb") == F.col("_rb")).filter(
        F.abs(F.length("_lk") - F.length("_rk")) <= max_distance
    )
    out = cand.withColumn("edit_distance", F.levenshtein("_lk", "_rk")).filter(
        F.col("edit_distance") <= max_distance
    )
    return out.drop("_lk", "_lb", "_rk", "_rb").withColumnRenamed(
        "_right_value", f"{right_col}_matched"
    )
