"""Distributed BPE vocabulary induction — tokenizer training as a
Spark pipeline.

Byte-pair encoding (Sennrich et al. 2016) learns a merge table by
repeatedly fusing the most frequent adjacent symbol pair. The scalable
formulation never iterates over the corpus: it aggregates the corpus
ONCE into a (word, freq) table — at 100 TB the distinct-word table is
orders of magnitude smaller than the text and stays fully distributed —
then each merge round is one pair-count aggregate plus one array
rewrite over that table. Round count equals the number of merges
requested, each a bounded Spark job; lineage is truncated every round
with ``localCheckpoint`` (the repo's standard iterative pattern, as in
``connected_components``).

Greedy left-to-right non-overlapping pair application (the reference
semantics of the original BPE implementation) is a fold, expressed with
``F.aggregate`` over the symbol array — no UDF, no Python in the hot
path. Ties on pair frequency break lexicographically so the learned
table is deterministic across runs and partitionings.

No reference-counterpart: extension op for the training-data surface
(the reference pipeline at /root/reference has no tokenizer stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.data import local_frame

END_OF_WORD = "</w>"


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, freq): the single corpus-wide aggregate all
    subsequent merge rounds run on. Lower-cased whitespace tokens, one
    shuffle keyed on the word."""
    from .text import exploded_tokens, tokens

    return (
        exploded_tokens(df, [], text_col, "word")
        .select(F.lower("word").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Split a word into single-character symbols plus the end-of-word
    marker: 'low' -> ['l','o','w','</w>']. split on the empty pattern
    can emit empty-string fragments — filter them so symbols are always
    real characters."""
    return F.concat(
        F.filter(F.split(word, ""), lambda s: s != ""),
        F.array(F.lit(END_OF_WORD)),
    )


def _merge_pair(symbols: Column, left: Column, right: Column, merged: Column) -> Column:
    """Greedy left-to-right non-overlapping application of one merge to
    a symbol array, as a fold: carry the previous unconsumed symbol; if
    (carry, current) is the pair, emit the merged symbol and clear the
    carry (so the merged token cannot immediately re-merge with the
    next symbol — the non-overlap rule); otherwise flush the carry and
    carry the current symbol. The terminal carry flushes inside the
    aggregate's finish lambda: there the accumulator is a lambda
    VARIABLE, so chaining k merges builds an O(k) expression tree,
    whereas flushing outside would reference the whole aggregate
    subtree three times and grow the plan 3^k (measured: driver-heap
    OOM from plan analysis at 12 chained merges). Pure Column
    expression — runs inside codegen."""
    return F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("carry"),
        ),
        lambda acc, x: F.when(
            acc["carry"].isNotNull() & (acc["carry"] == left) & (x == right),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("carry"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["carry"].isNotNull(), F.concat(acc["out"], F.array(acc["carry"])))
                .otherwise(acc["out"])
                .alias("out"),
                x.alias("carry"),
            )
        ),
        lambda acc: F.when(
            acc["carry"].isNotNull(), F.concat(acc["out"], F.array(acc["carry"]))
        ).otherwise(acc["out"]),
    )


def _merge_pairs_batch(symbols: Column, pairs: list[tuple[str, str, str]]) -> Column:
    """Apply a SYMBOL-DISJOINT set of merges in one fold pass.

    For pairs sharing no symbol (including merged tokens), one
    left-to-right pass matching any pair is provably identical to
    applying them sequentially: a match of one pair consumes symbols no
    other pair references, merges never delete symbols (so they cannot
    create adjacency for another pair), and chained matches are
    excluded by disjointness. One aggregate regardless of batch size —
    the per-round rewrite cost is flat in ``batch_size``."""
    sep = "\x00"
    mp = F.create_map(
        *[F.lit(x) for (left, right, merged) in pairs for x in (left + sep + right, merged)]
    )
    key = lambda carry, x: F.concat(carry, F.lit(sep), x)  # noqa: E731
    return F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("carry"),
        ),
        lambda acc, x: F.when(
            acc["carry"].isNotNull() & F.element_at(mp, key(acc["carry"], x)).isNotNull(),
            F.struct(
                F.concat(acc["out"], F.array(F.element_at(mp, key(acc["carry"], x)))).alias("out"),
                F.lit(None).cast("string").alias("carry"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["carry"].isNotNull(), F.concat(acc["out"], F.array(acc["carry"])))
                .otherwise(acc["out"])
                .alias("out"),
                x.alias("carry"),
            )
        ),
        lambda acc: F.when(
            acc["carry"].isNotNull(), F.concat(acc["out"], F.array(acc["carry"]))
        ).otherwise(acc["out"]),
    )


def bpe_fit(
    words: DataFrame,
    num_merges: int,
    min_count: int = 2,
    word_col: str = "word",
    freq_col: str = "freq",
    batch_size: int = 1,
) -> DataFrame:
    """Learn a BPE merge table from a (word, freq) table. Output:
    (step, left, right, merged, pair_count), one row per learned merge
    in order. Stops early when no adjacent pair reaches ``min_count``.

    Each round: explode adjacent pairs of the current segmentation
    weighted by word frequency, take the global top candidates (count
    desc, then (left, right) lexicographic — deterministic), rewrite
    the arrays. The candidate fetch is an ``orderBy().limit(k)`` —
    TakeOrdered with per-partition heaps, not a global sort. Driver
    state per round is O(batch_size) 3-field rows; the segmentation
    table stays distributed.

    ``batch_size`` bounds the driver-round cost (one Spark job pair
    per ROUND, not per merge — at 30k merges the difference between
    30k and ~2k job launches): each round accepts up to ``batch_size``
    merges from the candidate list, greedily in rank order, skipping
    any candidate that shares a symbol with an earlier-accepted merge
    of the same batch (its count — and hence its rank — would be
    changed by applying them). All accepted merges apply in ONE
    multi-pair fold pass (``_merge_pairs_batch`` — provably equal to
    sequential application for symbol-disjoint sets), so the rewrite
    cost per round is flat in ``batch_size``.

    batch_size=1 (default) is EXACTLY sequential greedy BPE — the
    semantics the oracle queries and the classical parity test use.
    batch_size>1 is *frequency-threshold batched* BPE — a standard
    fast-training variant that deliberately DIVERGES from sequential
    greedy: a pair newly created by an in-batch merge (e.g. the chain
    'd'+'e' then 'i'+'de') cannot be selected until the next round,
    whereas sequential greedy may take it immediately. The learned
    vocabulary ranks those chain merges later but achieves equivalent
    compression; tests/test_bpe.py pins the batched spec against an
    independent pure-Python implementation of the SAME spec and gates
    the compression ratio against the sequential vocabulary.
    ``pair_count`` for batched fits is the selection-time count. Fit
    with batch_size=1 when bit-exact sequential semantics matter more
    than wall-time."""
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    seg = words.select(
        F.col(word_col).alias("word"),
        F.col(freq_col).cast("long").alias("freq"),
        _initial_symbols(F.col(word_col)).alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    # over-fetch so interference skips still fill the batch
    fetch = batch_size if batch_size == 1 else batch_size * 4 + 8
    while len(merges) < num_merges:
        pairs = seg.select(
            "freq",
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i.cast("int")).alias("l"),
                            F.element_at("syms", (i + 1).cast("int")).alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.col("p.l"), F.col("p.r"))
            .limit(fetch)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        accepted: list[tuple[str, str, str, int]] = []
        used: set[str] = set()
        for row in top:
            if len(accepted) == batch_size or len(merges) + len(accepted) == num_merges:
                break
            if row["n"] < min_count:
                break
            left, right = row["p"]["l"], row["p"]["r"]
            merged = left + right
            if left in used or right in used or merged in used:
                continue
            accepted.append((left, right, merged, int(row["n"])))
            used.update((left, right, merged))
        for left, right, merged, count in accepted:
            merges.append((len(merges), left, right, merged, count))
        if len(accepted) == 1:
            left, right, merged, _ = accepted[0]
            syms = _merge_pair(F.col("syms"), F.lit(left), F.lit(right), F.lit(merged))
        else:
            syms = _merge_pairs_batch(F.col("syms"), [a[:3] for a in accepted])
        seg = seg.select("word", "freq", syms.alias("syms")).localCheckpoint(eager=True)

    spark = words.sparkSession
    return local_frame(
        spark, merges, "step int, left string, right string, merged string, pair_count long"
    )


def bpe_segment_table(
    words: DataFrame,
    merges: DataFrame,
    word_col: str = "word",
    batch: int = 25,
) -> DataFrame:
    """Replay a learned merge table over a distinct-word table:
    (word, syms array). Merges apply as chained Column folds, but the
    chain is checkpointed every ``batch`` merges so the expression tree
    (and codegen depth) stays bounded no matter how large the learned
    vocabulary is — a 30k-merge tokenizer is 1.2k bounded jobs over a
    word table, never a per-document loop. The merge table is
    O(vocab) driver-side material by construction."""
    ordered = [
        (r["left"], r["right"], r["merged"]) for r in merges.orderBy("step").collect()
    ]
    seg = words.select(
        F.col(word_col).alias("word"), _initial_symbols(F.lower(word_col)).alias("syms")
    )
    for i in range(0, len(ordered), batch):
        syms = F.col("syms")
        for left, right, merged in ordered[i : i + batch]:
            syms = _merge_pair(syms, F.lit(left), F.lit(right), F.lit(merged))
        seg = seg.select("word", syms.alias("syms"))
        if i + batch < len(ordered):
            seg = seg.localCheckpoint(eager=False)
    return seg


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    id_col: str,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge table to documents: tokenize, segment each
    DISTINCT word once via ``bpe_segment_table``, then map tokens
    through the segmentation with posexplode + join + ordered
    reassembly. The expensive fold runs per distinct word, not per
    occurrence — the scalable shape when words repeat across a corpus.
    Output: (df columns..., out_col) with the document's subword tokens
    in order."""
    from .text import tokens

    toked = df.withColumn("_toks__", tokens(text_col))
    occ = toked.select(
        F.col(id_col), F.posexplode("_toks__").alias("_pos", "_w")
    ).withColumn("_w", F.lower("_w"))
    seg = bpe_segment_table(occ.select(F.col("_w").alias("word")).distinct(), merges)
    joined = occ.join(seg, occ["_w"] == seg["word"]).select(
        id_col, "_pos", "syms"
    )
    reassembled = (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias(out_col)
        )
    )
    return df.join(reassembled, id_col, "left").withColumn(
        out_col, F.coalesce(out_col, F.array().cast("array<string>"))
    )
