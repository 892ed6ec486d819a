"""Streaming pipeline operators: bounded-state dedup and stream-static
enrichment.

The reference has no streaming surface (SURVEY.md §2.7); these are the
two stream-side operators an ingest pipeline at scale needs beyond
windowed aggregation: exact dedup of re-delivered events with state the
engine can reclaim, and enriching a stream against a slowly-changing
dimension without shuffling the stream.

State plumbing: every persisted state table the ingest maintainers
write goes through one state writer in two steps. ``_resolve_state``
does the argument checks and guards the layout (manifest key and
recorded bucket modulus) with filesystem probes only, so a caller
resolves all of its tables before its first Spark job or write. State
is always a snapshot table: a fresh root becomes one, and a legacy
swap table raises (``sinks.store.require_snapshot``). ``_write_state``
adds the ``bucket`` column, MERGEs through ``sinks.store.upsert_store``
(looked up at call time) and writes the modulus sidecar. The two pair
ingest steps (``near_dedup_batch``, ``image_dedup_batch``) share one
body, ``_pair_step``, and every Structured Streaming wrapper starts
through ``streaming.sink._start_batches``, the one foreachBatch runner
with the setup checks (legacy swap targets, fenced-query checkpoint).
"""

from __future__ import annotations

import os

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.data import empty_frame
from .sink import _start_batches


def stream_dedup(stream: DataFrame, ts_col: str, watermark: str, key_cols: Sequence[str]) -> DataFrame:
    """Exact dedup on a stream with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` drops any duplicate key arriving
    within the watermark horizon and reclaims the key's state once the
    watermark passes it. Plain ``dropDuplicates`` on a stream keeps
    every key forever — the classic streaming state OOM; this is the
    scale-safe form (at-least-once upstream delivery -> effectively-once
    downstream).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on: Sequence[str] | str, how: str = "left") -> DataFrame:
    """Stream-static join: attach dimension attributes to each event.
    The static side is explicitly broadcast, so each micro-batch maps
    over the stream partitions with no stream-side shuffle — the
    streaming analogue of the reference's driving-dimension lookups.
    """
    on = [on] if isinstance(on, str) else list(on)
    return stream.join(F.broadcast(dim), on=on, how=how)


def run_stream_dedup(
    spark: SparkSession,
    parquet_dir: str,
    schema: T.StructType,
    ts_col: str,
    watermark: str,
    key_cols: Sequence[str],
    query_name: str = "dedup_stream",
) -> DataFrame:
    """Drain helper: readStream over a parquet dir -> stream_dedup ->
    memory sink, processed to completion (test/backfill shape; swap the
    sink for production)."""
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    deduped = stream_dedup(stream, ts_col, watermark, key_cols)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


class _StateTable(NamedTuple):
    """One resolved state table (the resolve step's output)."""

    path: str
    key: list  # merge key without the bucket column
    buckets: int | None
    recorded: int | None  # modulus in the _layout_meta.json sidecar
    txn: tuple[str, int] | None


def _bucket(cols: Sequence[str], n: int):
    """The hash-bucket column of every bucketed state table. It is a
    pure function of the key, so replays land in the same buckets."""
    return F.pmod(F.xxhash64(*cols), F.lit(n))


def _layout_buckets(path: str) -> int | None:
    """Hash modulus recorded in a table's ``_layout_meta.json``
    sidecar; None for flat tables. The manifest key records the
    bucket COLUMN, not the modulus."""
    import json

    from ..sinks.writer import LAYOUT_META

    try:
        with open(os.path.join(path, LAYOUT_META)) as fh:
            return json.load(fh).get("buckets")
    except (OSError, ValueError):
        return None


def _resolve_state(
    path: str,
    key: str | Sequence[str],
    state_buckets: int | None,
    state_format: str | None,
    txn: tuple[str, int] | None,
) -> _StateTable:
    """Resolve step of the state writer: argument checks and layout
    guards for one state table. Filesystem probes only, no Spark job,
    so a caller resolves every table it writes before its first job or
    write.

    State is always a snapshot table (``state_format`` accepts only
    None/``"snapshot"``; a legacy swap table at ``path`` raises).
    Bucketed state keeps ``bucket`` as the leading merge-key column, so
    zone maps and the refine pass prune the rewrite to files holding
    touched buckets. A table's manifest key and recorded modulus must
    match the call: either mismatch would NULL-mismatch or re-hash old
    rows and silently duplicate keys on the next merge."""
    from ..sinks import snapshot as _snap
    from ..sinks.store import require_snapshot

    require_snapshot(path, state_format)
    keys = [key] if isinstance(key, str) else list(key)
    want = (["bucket"] + keys) if state_buckets else keys
    v = _snap.current_version(path)
    if v > 0:
        have = _snap._load_manifest(path, v).get("key", [])
        if list(have) != want:
            raise ValueError(
                f"snapshot state table at {path} is keyed {have} but "
                f"this call would merge on {want}; flat and bucketed "
                "snapshot state cannot mix under one root (rebuild "
                "into a fresh root to change the layout)"
            )
    recorded = _layout_buckets(path) if state_buckets else None
    if recorded is not None and recorded != state_buckets:
        raise ValueError(
            f"bucket-count mismatch for snapshot state table "
            f"{path!r}: created with state_buckets={recorded}, "
            f"called with {state_buckets}; the modulus is part of "
            "the layout (rebuild into a fresh root to change it)"
        )
    return _StateTable(path, keys, state_buckets, recorded, txn)


def _write_state(spark: SparkSession, t: _StateTable, df: DataFrame) -> None:
    """Write step of the state writer: MERGE ``df`` into the resolved
    snapshot table on its (bucket-led) key with ``cdf=False`` (state is
    derived, rebuildable and has no change-feed consumers, so the
    write-time change files would be pure merge tax). Bucketed rows
    get the ``bucket`` column, and a bucketed table gets its modulus
    sidecar after the first commit. ``store.upsert_store`` is looked
    up at call time so wrappers installed on it see every write."""
    from ..sinks import store
    from ..sinks.writer import write_layout_meta

    if t.buckets:
        df = df.withColumn("bucket", _bucket(t.key, t.buckets))
    store.upsert_store(
        spark, df, t.path, key=(["bucket"] if t.buckets else []) + t.key,
        txn=t.txn, cdf=False,
    )
    if t.buckets and t.recorded is None:
        write_layout_meta(t.path, [], t.buckets)


def _pair_step(
    keys: DataFrame,
    key_path: str,
    pairs_path: str,
    pair_fn,
    score_col: str,
    return_pairs: bool,
    state_buckets: int | None,
    state_format: str | None,
    txn: tuple[str, int] | None,
) -> DataFrame | None:
    """Shared body of the pair-ingest steps: ``keys`` is the batch's
    (doc_id, fingerprint) frame, ``pair_fn(batch, corpus)`` pairs it
    against the stored corpus. Pairs are canonicalised to
    (id_a, id_b) = (least, greatest) so a replay upserts the same rows
    whichever side drove the pair. The write order is pairs then keys:
    a crash between the two commits replays with the pairs fenced (or
    re-merged) and the keys applied, and the replayed pair generation
    still sees the pre-batch corpus."""
    from ..sinks import store

    pair_t = _resolve_state(
        pairs_path, ("id_a", "id_b"), state_buckets, state_format, txn
    )
    key_t = _resolve_state(key_path, "doc_id", state_buckets, state_format, txn)
    spark = keys.sparkSession
    keys = keys.localCheckpoint()  # eager: feeds the pair join AND the merge
    if store.store_exists(key_path):
        corpus = store.read_store(spark, key_path).drop("bucket")
    else:  # first batch: empty corpus, new-vs-new pairs still form
        corpus = empty_frame(spark, keys.schema)
    pairs = pair_fn(keys, corpus).select(
        F.least("id_new", "id_other").alias("id_a"),
        F.greatest("id_new", "id_other").alias("id_b"),
        score_col,
    )
    if return_pairs:
        # materialize once so component maintenance does not re-run
        # pair generation; the merge below reuses the checkpoint
        pairs = pairs.localCheckpoint()
    _write_state(spark, pair_t, pairs)
    _write_state(spark, key_t, keys)
    return pairs if return_pairs else None


def near_dedup_batch(
    batch_df: DataFrame,
    signature_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash: str = "xxhash64",
    state_buckets: int | None = None,
    return_pairs: bool = False,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
) -> DataFrame | None:
    """One continuous-ingest near-dedup step (the foreachBatch body of
    ``stream_near_dedup``, exposed for cron-style batch ingest and for
    redelivery testing):

    1. signatures for the batch only (the corpus is never re-shingled),
    2. ``incremental_minhash_pairs`` against the PERSISTED signature
       table (new-vs-old both orders, new-vs-new once, old-vs-old never),
    3. pairs CANONICALIZED to (id_a, id_b) = (min, max) and MERGEd on
       that key — so replays (redelivered micro-batch, fresh-checkpoint
       reprocess where old docs count as new again) upsert the same
       rows whichever side drove the pair,
    4. batch signatures MERGEd on the id (same idempotency argument).

    State lives in the two parquet tables, not in streaming memory, so
    a restart is cold with zero state rebuild.

    CAVEAT: a document with fewer than ``shingle_n`` tokens produces
    zero shingles, hence NO signature row — it never enters the
    signature table and never near-dedups. Route short documents
    through exact dedup (they are cheap to hash whole) or lower
    ``shingle_n``.

    ``state_buckets``: PAIR GENERATION is O(batch) either way, but a
    flat signature/pairs MERGE may rewrite every file a batch's keys
    spread over. Passing ``state_buckets`` makes ``bucket =
    pmod(xxhash64(key), n)`` the leading merge-key column of both
    snapshot tables, so zone maps and the refine pass prune the rewrite
    to files holding touched buckets (whole rewrites win below ~10M
    state rows on fixed costs; buckets win past the tens of millions).
    The layout is sticky and ENFORCED by ``_resolve_state``: a flat call
    against a bucketed table, a bucketed call against a flat table, or
    a changed modulus raises, because any of those silently duplicates
    rows on the next merge. Readers are unaffected (the pair join drops
    the bucket column).

    State lives on SNAPSHOT tables: atomic manifest commits, and
    ``txn=(app_id, version)`` makes a replayed foreachBatch a visible
    no-op on BOTH tables — the exactly-once contract the reference gets
    from Postgres ON CONFLICT (reference database/db_client.py:69-90).
    The write order is pairs then signatures, so a crash between the
    two commits replays as: pairs fence no-op, signatures apply — and
    the pair generation on that replay still sees the pre-batch corpus
    (signatures were never merged), reproducing identical pairs. State
    tables are created ``cdf=False``: they are derived, rebuildable,
    and have no change-feed consumers, so the write-time sidecar would
    be pure merge tax (the measured ~1.7x merge dial at sf0.1).

    SINGLE LOGICAL WRITER per state root: the snapshot CAS makes
    concurrent writers safe (no corruption, both commits land or
    retry), but two batches ingested CONCURRENTLY each read the
    pre-batch corpus, so pairs BETWEEN the two batches' documents
    never form — exactly why the streaming wrapper serializes batches
    through one foreachBatch query. Parallelize ingest by sharding
    the DOCUMENT space across state roots, never by racing writers on
    one root.
    """
    from ..operators.dedup import incremental_minhash_pairs, minhash_signatures

    # minhash_signatures aliases the id column to doc_id, so the
    # signature-table merge key is the literal "doc_id" whatever id_col is
    return _pair_step(
        minhash_signatures(
            batch_df, id_col, text_col, num_perm=num_perm,
            shingle_n=shingle_n, hash=hash,
        ),
        signature_path, pairs_path,
        lambda sigs, corpus: incremental_minhash_pairs(
            sigs, corpus, num_perm=num_perm, bands=bands, threshold=threshold
        ),
        "est_jaccard", return_pairs, state_buckets, state_format, txn,
    )


def image_dedup_batch(
    batch_df: DataFrame,
    hash_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    band_bits: int = 16,
    decode: str = "real",
    state_buckets: int | None = None,
    return_pairs: bool = False,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
) -> DataFrame | None:
    """One continuous-ingest IMAGE near-dedup step — the media-modality
    twin of ``near_dedup_batch`` (same idempotency contract — including
    the snapshot-default flat state + ``txn`` replay fence — usable as
    a foreachBatch body or cron-style batch ingest):

    1. ``image_dhash`` fingerprints for the batch only (payload bytes
       are decoded once per document, never re-decoded on later
       batches — the corpus state is the 8-byte hash, not the image),
    2. ``incremental_simhash_pairs`` against the PERSISTED hash table
       (banded Hamming; new-vs-old both orders, new-vs-new once,
       old-vs-old never),
    3. pairs canonicalized to (id_a, id_b) = (min, max) and MERGEd on
       that key, hashes MERGEd on the id — redelivered micro-batches
       and fresh-checkpoint reprocesses upsert the same rows.

    Images too damaged to decode raise inside the kernel (honest
    failure, not a silent skip); route quarantine upstream via
    ``json_quarantine``-style gating if the feed is dirty. State
    lives in the two parquet tables; a restart is cold with zero
    state rebuild."""
    from ..operators.dedup import incremental_simhash_pairs
    from ..operators.multimodal import image_dhash

    return _pair_step(
        image_dhash(batch_df, id_col, payload_col, decode=decode)
        .filter(F.col("dhash").isNotNull())
        .select("doc_id", F.col("dhash").alias("sh")),
        hash_path, pairs_path,
        lambda hashes, corpus: incremental_simhash_pairs(
            hashes, corpus, max_hamming=max_hamming, band_bits=band_bits
        ),
        "hamming", return_pairs, state_buckets, state_format, txn,
    )


def stream_near_dedup(
    stream_df: DataFrame,
    signature_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    query_name: str = "stream_near_dedup",
    state_buckets: int | None = None,
    app_id: str | None = None,
):
    """Continuous-ingest NEAR-dedup as a Structured Streaming query:
    ``near_dedup_batch`` per micro-batch via foreachBatch. At 100 TB
    the per-batch cost is O(batch) shingling + one banded join against
    the signature table; ``available_now=True`` drains what's pending
    and stops (cron-style incremental ingest, like the reference CLI).
    ``state_buckets`` bounds the per-batch state MERGE to touched
    buckets (see near_dedup_batch) — pass it for billion-row state.

    ``app_id`` arms the snapshot txn fence: each micro-batch commits
    the signature/pairs state with ``txn=(app_id, epoch_id)``, so a
    redelivered epoch (foreachBatch is at-least-once) is a visible
    no-op on both tables instead of merely converging. Composes with
    ``state_buckets`` (bucketed state rides the snapshot format with
    ``bucket`` leading the merge key — see ``_resolve_state``).
    Requires a durable ``checkpoint_dir`` — same contract and failure
    mode as ``stream_upsert`` with ``app_id`` (a fresh checkpoint restarts
    epochs at 0 and the stale watermark would silently fence real
    data) — and snapshot (or fresh) state roots, validated at
    setup so a misconfigured query fails here, not at the first
    micro-batch."""
    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: near_dedup_batch(
            batch_df, signature_path, pairs_path, id_col, text_col,
            num_perm, bands, threshold, shingle_n,
            state_buckets=state_buckets, txn=txn,
        ),
        query_name, checkpoint_dir, available_now,
        app_id=app_id, signatures=signature_path, pairs=pairs_path,
    )


def quality_score_batch(
    batch_df: DataFrame,
    lm: DataFrame,
    scores_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_buckets: int | None = None,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    """One continuous-ingest quality-scoring step: score the batch
    under a FITTED trigram LM (``text.fit_trigram_lm`` — fit once on a
    reference corpus, reused across every batch as broadcast material)
    and MERGE the scores into the persisted table keyed on the id.
    Redelivered micro-batches upsert identical rows (the score is a
    pure function of the document and the frozen LM), so the table is
    replay-idempotent — same contract as ``near_dedup_batch``, and the
    same ``state_buckets`` option bounds the merge's write volume to
    the touched buckets once the score table outgrows whole-rewrites
    (see the near_dedup_batch docstring for the crossover). The table
    is a SNAPSHOT table; ``txn`` fences redelivered batches into
    visible no-ops."""
    from ..operators.text import trigram_lm_scores

    t = _resolve_state(scores_path, id_col, state_buckets, state_format, txn)
    _write_state(
        batch_df.sparkSession, t, trigram_lm_scores(batch_df, lm, id_col, text_col)
    )


def stream_quality_scores(
    stream_df: DataFrame,
    lm: DataFrame,
    scores_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    query_name: str = "stream_quality_scores",
    app_id: str | None = None,
):
    """CCNet-style quality scoring as a Structured Streaming query:
    ``quality_score_batch`` per micro-batch via foreachBatch. The LM
    never refits in-stream (training-data pipelines freeze the
    reference model and version it with the corpus snapshot); per-batch
    cost is one explode + broadcast join over the batch only.
    ``app_id`` arms the snapshot txn fence per epoch (same
    durable-checkpoint + snapshot-state-root contract as
    ``stream_near_dedup``, both validated at setup)."""
    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: quality_score_batch(
            batch_df, lm, scores_path, id_col, text_col, txn=txn
        ),
        query_name, checkpoint_dir, available_now,
        app_id=app_id, scores=scores_path,
    )


_SEEN_BUCKETS = 256  # partition count of the content-hash state table


def seen_content_filter_batch(
    batch_df: DataFrame,
    bloom_path: str,
    hashes_path: str,
    text_col: str = "text",
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Drop batch rows whose CONTENT is already ingested (any id).

    Two stages, both O(batch) — the corpus itself is never scanned:

    1. Bloom probe (``operators/bloom.py``): broadcast the persisted
       word table, flag maybe-seen rows. ``maybe_seen = false`` is
       definitive, so those rows skip stage 2 entirely.
    2. Exact check for the flagged minority only: anti-join
       (xxhash64(text), length(text)) against the content-hash state
       table, which is laid out in ``pmod(content_hash, 256)``
       partition buckets — the read is partition-pruned to just the
       buckets the flagged rows actually touch, so the stored side
       cost tracks the FLAGGED volume (true replays + the gated Bloom
       FP rate), not corpus size.

    Cold start (no state yet) passes the batch through unchanged.

    ``m_bits``/``k`` default to the module-wide seen-state family
    (``bloom.SEEN_M_BITS``/``SEEN_K``); either way the parameters are
    validated against the ``_bloom_meta.json`` sidecar the recorder
    persists next to the word table — probing a filter with a
    different (m, k, hash) than it was built with produces silently
    wrong flags, including false negatives that re-ingest duplicates.
    """
    from ..operators.bloom import (
        SEEN_HASH,
        SEEN_K,
        SEEN_M_BITS,
        bloom_flag_seen,
        check_bloom_meta,
    )
    from ..sinks.writer import heal_partition_swaps, table_exists

    m_bits = SEEN_M_BITS if m_bits is None else m_bits
    k = SEEN_K if k is None else k
    spark = batch_df.sparkSession
    # heal BEFORE table_exists: a word table stuck mid-swap would read
    # as absent -> cold start -> the whole seen-set silently bypassed
    heal_partition_swaps(bloom_path)
    heal_partition_swaps(hashes_path)
    if not table_exists(bloom_path) or not table_exists(hashes_path):
        return batch_df
    check_bloom_meta(bloom_path, m_bits, k, SEEN_HASH)
    tagged = batch_df.withColumn("_ch", F.xxhash64(F.col(text_col))).withColumn(
        "_cl", F.length(text_col).cast("long")
    )
    words = spark.read.parquet(bloom_path)
    flags = bloom_flag_seen(tagged, words, text_col, ["_ch", "_cl"], m_bits, k)
    maybe = flags.filter(F.col("maybe_seen")).select("_ch", "_cl")
    definitely_new = tagged.join(maybe, ["_ch", "_cl"], "left_anti")
    flagged = tagged.join(maybe, ["_ch", "_cl"], "left_semi")
    # partition-pruned exact check: only the buckets flagged rows touch
    buckets = [
        r.b for r in maybe.select(
            F.pmod("_ch", F.lit(_SEEN_BUCKETS)).alias("b")
        ).distinct().collect()
    ]
    if not buckets:
        return definitely_new.drop("_ch", "_cl")
    hashes = spark.read.parquet(hashes_path).filter(F.col("bucket").isin(buckets))
    survivors = flagged.join(
        hashes.select(
            F.col("content_hash").alias("_ch"), F.col("content_len").alias("_cl")
        ),
        ["_ch", "_cl"],
        "left_anti",
    )
    return definitely_new.unionByName(survivors).drop("_ch", "_cl")


def record_ingested_content(
    accepted_df: DataFrame,
    bloom_path: str,
    hashes_path: str,
    text_col: str = "text",
    m_bits: int | None = None,
    k: int | None = None,
) -> None:
    """Fold the accepted batch into the seen-content state: bit_or-merge
    the Bloom word table and append the (content_hash, content_len)
    rows into their pmod buckets.

    MUST run AFTER the corpus MERGE commits: a crash between the MERGE
    and this call only re-processes the batch on redelivery (the MERGE
    is idempotent), whereas the reverse order could mark content seen
    that never reached the corpus and then silently drop it forever.

    The word-table rewrite goes through the writer's
    write-temp-then-swap ``_rewrite`` — an in-place overwrite would
    delete the live table first, so a crash mid-write loses EVERY
    historical seen-bit: the next batch would cold-start the filter
    from itself alone and silently re-open duplicate ingestion for the
    whole corpus. The (m_bits, k, hash) family is persisted in a
    ``_bloom_meta.json`` sidecar (rewritten after every swap, since the
    swap replaces the directory) and validated before merging, so a
    caller can never bit_or two filters from different families.
    """
    from ..operators.bloom import (
        SEEN_HASH,
        SEEN_K,
        SEEN_M_BITS,
        bloom_build,
        bloom_merge,
        check_bloom_meta,
        write_bloom_meta,
    )
    from ..sinks.writer import _rewrite, heal_partition_swaps, table_exists, write_table

    m_bits = SEEN_M_BITS if m_bits is None else m_bits
    k = SEEN_K if k is None else k
    spark = accepted_df.sparkSession
    heal_partition_swaps(bloom_path)
    new_words = bloom_build(accepted_df, text_col, m_bits, k)
    if table_exists(bloom_path):
        check_bloom_meta(bloom_path, m_bits, k, SEEN_HASH)
        merged = bloom_merge(spark.read.parquet(bloom_path), new_words)
        _rewrite(spark, merged, bloom_path, ())
    else:
        write_table(new_words, bloom_path)
    write_bloom_meta(bloom_path, m_bits, k, SEEN_HASH)
    hashes = accepted_df.select(
        F.xxhash64(F.col(text_col)).alias("content_hash"),
        F.length(text_col).cast("long").alias("content_len"),
    ).distinct().withColumn("bucket", F.pmod("content_hash", F.lit(_SEEN_BUCKETS)))
    write_table(hashes, hashes_path, partition_by=["bucket"], mode="append")


def rebuild_seen_bloom(
    spark: SparkSession,
    corpus_path: str,
    bloom_path: str,
    text_col: str = "text",
    m_bits: int | None = None,
    k: int | None = None,
) -> None:
    """Rebuild the seen-content Bloom word table from the corpus.

    Bits cannot be UNSET in a Bloom filter, so takedowns leave stale
    bits behind: harmless for correctness (stage 2's exact hash check
    already finds no row, so the content re-ingests), but heavy
    takedown churn ratchets the filter's fill factor up and with it the
    false-positive rate — every FP costs a stage-2 exact probe. This is
    the repair: ONE corpus scan rebuilds the filter to exactly the
    live content set and swaps it in (write-temp-then-swap, meta
    sidecar re-stamped). Schedule like a compaction — after large
    takedowns or when the measured FP rate drifts — not per batch.
    The hash state table needs no rebuild (takedown_batch already
    removes dead hashes row-exactly)."""
    import os
    import shutil

    from ..operators.bloom import (
        SEEN_HASH,
        SEEN_K,
        SEEN_M_BITS,
        bloom_build,
        write_bloom_meta,
    )
    from ..sinks.writer import (
        _rewrite,
        heal_partition_swaps,
        read_table,
        table_exists,
        write_table,
    )

    m_bits = SEEN_M_BITS if m_bits is None else m_bits
    k = SEEN_K if k is None else k
    heal_partition_swaps(corpus_path)
    heal_partition_swaps(bloom_path)
    if not table_exists(corpus_path):
        # total takedown emptied the corpus (takedown_batch supports
        # this): no live content means NO filter. Delete the word table
        # and its meta sidecar together — seen_content_filter_batch
        # treats absence as cold start, which is exactly right here.
        if os.path.exists(bloom_path):
            shutil.rmtree(bloom_path)
        return
    corpus = read_table(spark, corpus_path, merge_schema=True)
    fresh = bloom_build(corpus, text_col, m_bits, k)
    if table_exists(bloom_path):
        # an EMPTY corpus builds zero word rows and _rewrite deletes
        # the table (meta sidecar goes with the directory) — also the
        # correct cold-start state
        _rewrite(spark, fresh, bloom_path, ())
    else:
        write_table(fresh, bloom_path)
    if table_exists(bloom_path):
        write_bloom_meta(bloom_path, m_bits, k, SEEN_HASH)


def bm25_ingest_batch(
    batch_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_buckets: int = 64,
) -> None:
    """Maintain a persisted BM25 index under continuous ingest — the
    composition ``text.bm25_index``'s docstring promises ("corpus
    growth is handled by MERGEing fresh batch postings into the
    persisted tables"), now shipped. Three tables under ``index_path``:

    - ``tf/``    (doc_id, term, tf)  — hash-bucketed by TERM, so a
      query reads only the bucket dirs its terms hash into,
    - ``doclen/`` (doc_id, dl)       — hash-bucketed by doc id; doubles
      as the membership table,
    - ``dfreq/`` (term, doc_freq)    — ADDITIVE per-term doc counts,
      folded via ``fold_aggregate_state_table`` (sum combiner).

    Redelivery-safe BY CONSTRUCTION: the batch is first anti-joined
    against the membership table (one key-projected scan — the
    component-label-lookup trade), so a replayed batch contributes
    zero postings and zero dfreq increments; no epoch fence needed.
    Per-batch write volume is O(batch postings) into touched buckets.

    Query through ``bm25_query_index``; takedown through
    ``bm25_takedown`` (doc counts are sums, so removal DECREMENTS
    dfreq exactly — no recompute). Scores match the one-shot
    ``text.bm25_scores`` integer-for-integer: same e6 fixed point,
    same avgdl quotient — the ``bm25_state_gate`` oracle hashes the
    two-batch-ingested index's top-k against the full-corpus SQL.
    """
    from ..operators.incremental import fold_aggregate_state_table
    from ..operators.text import exploded_tokens, token_count
    from ..sinks.writer import table_exists, upsert_table

    spark = batch_df.sparkSession
    doclen_p = os.path.join(index_path, "doclen")
    tf_p = os.path.join(index_path, "tf")
    dfreq_p = os.path.join(index_path, "dfreq")
    batch = batch_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    if table_exists(doclen_p):
        member = spark.read.parquet(doclen_p).select("doc_id")
        batch = batch.join(member, "doc_id", "left_anti")
    batch = batch.localCheckpoint()  # feeds postings + doclen
    if batch.isEmpty():
        return  # full redelivery: nothing new, nothing double-counted
    postings = exploded_tokens(batch, ["doc_id"], "_text", "term")
    tf = (
        postings.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", _bucket(["term"], state_buckets))
        .localCheckpoint()  # feeds the tf merge AND the dfreq fold
    )
    doclen = batch.select(
        "doc_id", token_count("_text").cast("long").alias("dl")
    ).withColumn("bucket", _bucket(["doc_id"], state_buckets))
    upsert_table(
        spark, tf, tf_p, key=("doc_id", "term"),
        partition_by=["bucket"], buckets=state_buckets,
    )
    upsert_table(
        spark, doclen, doclen_p, key="doc_id",
        partition_by=["bucket"], buckets=state_buckets,
    )
    batch_dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    fold_aggregate_state_table(
        spark, batch_dfreq, dfreq_p, ["term"],
        {"doc_freq": ("sum", "doc_freq")}, n_buckets=state_buckets,
    )


def bm25_query_index(
    spark: SparkSession,
    index_path: str,
    query_df: DataFrame,
    k: int = 10,
    state_buckets: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Rank queries against the persisted BM25 index. The tf read is
    PARTITION-PRUNED to the bucket dirs the query terms hash into (one
    tiny collect of distinct term buckets — at 64+ buckets a 3-term
    query reads <=3/N of the postings table); doclen and dfreq are
    column-pruned scans. Output matches ``text.bm25_topk``:
    (query_id, doc_id, bm25_e6, rank)."""
    from pyspark.sql import Window
    from ..operators.text import bm25_scores, tokens
    from ..sinks.writer import heal_partition_swaps, read_table

    for sub in ("tf", "doclen", "dfreq"):
        heal_partition_swaps(os.path.join(index_path, sub))
    qterms = query_df.select(
        F.explode(F.array_distinct(tokens("query_text"))).alias("term")
    ).distinct()
    buckets = [
        r.b
        for r in qterms.select(
            _bucket(["term"], state_buckets).alias("b")
        ).distinct().collect()
    ]
    tf = (
        read_table(spark, os.path.join(index_path, "tf"))
        .withColumn("bucket", F.col("bucket").cast("long"))
        .filter(F.col("bucket").isin(buckets))
        .select("doc_id", "term", "tf")
    )
    doclen = read_table(spark, os.path.join(index_path, "doclen")).select(
        "doc_id", "dl"
    )
    dfreq = read_table(spark, os.path.join(index_path, "dfreq")).select(
        "term", "doc_freq"
    )
    scored = bm25_scores(
        None, query_df, index=(tf, doclen, dfreq), k1=k1, b=b
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25_e6").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "doc_id", "bm25_e6", F.col("rn").cast("long").alias("rank")
        )
    )


def bm25_takedown(
    spark: SparkSession,
    index_path: str,
    ids_df: DataFrame,
    id_col: str = "doc_id",
    state_buckets: int = 64,
) -> dict:
    """Remove documents from the persisted BM25 index, keeping all
    three tables mutually exact — WITHOUT recomputing anything from
    text: the doomed docs' tf rows (read once, bucket-spread) say
    exactly which per-term doc counts to DECREMENT, and
    ``fold_aggregate_state_table``'s sum combiner folds the negative
    deltas into dfreq; tf and doclen rows anti-join away through the
    generic partition-scoped takedown. A term whose last doc departs
    folds to doc_freq 0 — harmless (no tf rows remain to ever match
    it) and compactable. Returns {table: rows_removed}."""
    from ..operators.incremental import fold_aggregate_state_table
    from ..sinks.writer import heal_partition_swaps, read_table, table_exists

    ids = ids_df.select(F.col(id_col).alias("doc_id")).distinct().localCheckpoint()
    tf_p = os.path.join(index_path, "tf")
    removed: dict[str, int] = {}
    if table_exists(tf_p):
        heal_partition_swaps(tf_p)
        doomed_tf = (
            read_table(spark, tf_p)
            .join(F.broadcast(ids), "doc_id", "left_semi")
            .localCheckpoint()
        )
        neg = doomed_tf.groupBy("term").agg(
            (-F.count("*")).cast("long").alias("doc_freq")
        )
        if not neg.isEmpty():
            fold_aggregate_state_table(
                spark, neg, os.path.join(index_path, "dfreq"), ["term"],
                {"doc_freq": ("sum", "doc_freq")}, n_buckets=state_buckets,
            )
    out = takedown_batch(
        ids, os.path.join(index_path, "doclen"),
        id_col="doc_id",
        extra_id_tables={"tf": (tf_p, "doc_id", ["bucket"])},
    )
    removed["doclen"] = out.get("corpus", 0)
    removed["tf"] = out.get("tf", 0)
    return removed


def incremental_semantic_pairs(
    batch_df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    probe_lists: int = 2,
) -> DataFrame:
    """Semantic near-dup pairs of a NEW embedding batch against the
    persisted IVF index — SemDeDup's cluster-then-pairwise made
    INCREMENTAL: the frozen centroids are the blocking structure, so a
    batch compares only against stored vectors sharing a probed list
    (new-vs-old both orders, new-vs-new once, old-vs-old never — the
    incremental_minhash_pairs contract transplanted to the embedding
    modality). Per-batch cost is O(batch x probe_lists x avg list
    width), never O(corpus^2) and never a corpus re-cluster.

    ``probe_lists``: each batch vector probes its top-p nearest lists
    for CANDIDATE generation — the multiprobe trick that recovers most
    boundary pairs cluster-blocking loses (a 0.98-cos pair straddling
    two lists is found if either side's probe set reaches the other).
    Misses beyond the probe horizon are the same blocking loss batch
    SemDeDup accepts (similarity.semantic_dedup docstring); raise
    ``probe_lists`` where recall matters more than cost. Verification
    is exact cosine on candidates only; candidate ids are deduped
    BEFORE vectors are fetched, so each survivor pays one vector join.

    Output: (id_a, id_b, cos_sim) canonicalized id_a < id_b. Compose
    with ``update_component_state`` for persisted cluster labels and
    with ``ivf_ingest_batch`` (call pairs FIRST, against the pre-merge
    index, then merge the batch) — or use ``embedding_ingest_batch``,
    which sequences all of it."""
    from ..operators.similarity import cosine
    from ..sinks.writer import heal_partition_swaps, read_table, table_exists

    spark = batch_df.sparkSession
    heal_partition_swaps(index_path)
    centers = read_ivf_centroids(index_path)
    rows = None
    for i, c in enumerate(centers):
        row = F.struct(
            F.lit(i).alias("_l"),
            F.array(*[F.lit(float(v)) for v in c]).alias("_ctr"),
        )
        rows = F.array(row) if rows is None else F.concat(rows, F.array(row))
    v = F.col(vec_col).cast("array<double>")
    dist = lambda ctr: F.aggregate(  # noqa: E731
        F.zip_with(ctr, v, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ranked = F.array_sort(
        F.transform(
            rows, lambda r: F.struct(dist(r["_ctr"]).alias("d"), r["_l"].alias("l"))
        )
    )
    probes = batch_df.select(
        F.col(id_col).alias("_bid"),
        F.explode(
            F.slice(F.transform(ranked, lambda x: x["l"]), 1, probe_lists)
        ).alias("ivf_list"),
    ).localCheckpoint(eager=False)  # feeds the old join + both new sides
    if table_exists(index_path):
        stored_ids = (
            read_table(spark, index_path)
            .select(
                F.col(id_col).alias("_oid"),
                F.col("ivf_list").cast("int").alias("ivf_list"),
            )
            # a re-ingested id counts as new (the incremental_minhash rule)
            .join(
                batch_df.select(F.col(id_col).alias("_oid")), "_oid", "left_anti"
            )
        )
        cand_old = (
            probes.join(stored_ids, "ivf_list")
            .select(F.col("_bid").alias("id_x"), F.col("_oid").alias("id_y"))
            .distinct()
        )
    else:
        # schema follows the caller's id type (long, string, ...)
        cand_old = (
            batch_df.select(F.col(id_col).alias("id_x"))
            .withColumn("id_y", F.col("id_x"))
            .limit(0)
        )
    probes2 = probes.select(
        F.col("_bid").alias("_bid2"), "ivf_list"
    )
    cand_new = (
        probes.join(probes2, "ivf_list")
        .filter(F.col("_bid") < F.col("_bid2"))
        .select(F.col("_bid").alias("id_x"), F.col("_bid2").alias("id_y"))
        .distinct()
    )
    cand = cand_old.unionByName(cand_new)
    bvec = batch_df.select(F.col(id_col).alias("id_x"), F.col(vec_col).alias("_vx"))
    y_side = batch_df.select(F.col(id_col).alias("id_y"), F.col(vec_col).alias("_vy"))
    if table_exists(index_path):
        y_side = y_side.unionByName(
            read_table(spark, index_path)
            .select(F.col(id_col).alias("id_y"), F.col(vec_col).alias("_vy"))
            .join(batch_df.select(F.col(id_col).alias("id_y")), "id_y", "left_anti")
        )
    sim = (
        cand.join(bvec, "id_x")
        .join(y_side, "id_y")
        .withColumn("cos_sim", F.round(cosine(F.col("_vx"), F.col("_vy")), 6))
        .filter(F.col("cos_sim") >= threshold)
    )
    return sim.select(
        F.least("id_x", "id_y").alias("id_a"),
        F.greatest("id_x", "id_y").alias("id_b"),
        "cos_sim",
    ).distinct()


def embedding_ingest_batch(
    batch_df: DataFrame,
    index_root: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    threshold: float = 0.95,
    probe_lists: int = 2,
    pairs_path: str | None = None,
    components_path: str | None = None,
    state_buckets: int | None = None,
    with_pq: bool = False,
    pq_m: int = 8,
    pq_k: int = 16,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    """One full continuous-ingest step for the EMBEDDING modality — the
    ``corpus_ingest_batch`` analogue, gluing the ANN-state stages in
    their production order:

    1. semantic near-dup pairs of the batch vs the PERSISTED index
       (``incremental_semantic_pairs`` — runs BEFORE the merge so the
       old side is exactly the pre-batch corpus; first batch pairs
       within itself after training),
    2. MERGE the batch into the IVF table (``ivf_ingest_batch``,
       frozen centroids, O(batch)),
    3. (``with_pq``) encode + merge the compressed codes
       (``pq_ingest_batch``),
    4. (``pairs_path``) MERGE the canonicalized pairs — replays upsert
       the same rows,
    5. (``components_path``) fold the pairs into the persisted cluster
       labeling (``update_component_state``).

    State lives entirely in the tables; a restart is cold with zero
    rebuild — the same contract as the text-side ingest. PAIR and
    COMPONENT state are snapshot tables with the ``txn`` replay fence
    (see near_dedup_batch); the IVF corpus and PQ code tables
    keep their list-/bucket-partitioned swap layouts — their partition
    pruning IS the query speedup, and their replays are idempotent by
    deterministic assignment."""
    from ..sinks.writer import table_exists

    # guard the flat/bucketed state tables before the index writes
    if pairs_path is not None:
        pairs_t = _resolve_state(
            pairs_path, ("id_a", "id_b"), state_buckets, state_format, txn
        )
    if components_path is not None:
        _resolve_state(components_path, "doc_id", state_buckets, state_format, txn)
    spark = batch_df.sparkSession
    ivf_path = os.path.join(index_root, "ivf")
    pairs = None
    if table_exists(ivf_path):
        pairs = incremental_semantic_pairs(
            batch_df, ivf_path, vec_col, id_col,
            threshold=threshold, probe_lists=probe_lists,
        ).localCheckpoint()  # BEFORE the merge changes the old side
    ivf_ingest_batch(batch_df, ivf_path, vec_col, id_col, n_lists=n_lists)
    if pairs is None:  # first batch: index just trained; pair within it
        pairs = incremental_semantic_pairs(
            batch_df, ivf_path, vec_col, id_col,
            threshold=threshold, probe_lists=probe_lists,
        ).localCheckpoint()
    if with_pq:
        pq_ingest_batch(
            batch_df, os.path.join(index_root, "pq"), vec_col, id_col,
            m=pq_m, k=pq_k,
            state_buckets=state_buckets or 64,
        )
    if pairs_path is not None:
        _write_state(spark, pairs_t, pairs)
    if components_path is not None:
        update_component_state(
            pairs, components_path, state_buckets=state_buckets,
            state_format=state_format, txn=txn,
        )


PQ_META = "_pq_codebooks.json"


def pq_ingest_batch(
    batch_df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    state_buckets: int = 64,
    keep_vectors: bool = False,
) -> None:
    """Maintain a persisted product-quantization code table under
    continuous embedding ingest — the compressed leg of the ANN state
    family (``ivf_ingest_batch`` keeps raw vectors list-partitioned;
    this keeps m small-int codes per vector, the 100-TB resident form:
    64-dim float32 -> 8 codes at m=8).

    First batch fits the codebooks (``similarity.pq_fit``, seeded,
    content-pinned layout is the caller's choice) into a
    ``_pq_codebooks.json`` sidecar; every later batch ENCODES against
    the frozen codebooks (``pq_encode`` — pure Column argmin over
    broadcast literals, no refit, no shuffle) and MERGEs on the id into
    an id-bucketed codes table. Replays encode to identical codes, so
    redelivery is an idempotent upsert. ``keep_vectors=True`` also
    stores the raw vector column beside the codes (for exact rerank of
    ADC candidates); default drops it — the point of PQ is not paying
    for floats.

    Same frozen-quantizer drift honesty as IVF: codebooks fitted on
    batch 1 degrade as the distribution moves; refit by re-running
    ``pq_fit`` over a sample and re-encoding (one corpus pass — codes
    are derived data, the raw embeddings remain the source of truth
    upstream). Takedown composes generically via
    ``takedown_batch(extra_id_tables={"pq_codes": (index_path + "/codes",
    "<id_col>", ["bucket"])})``."""
    import json

    from ..operators.similarity import pq_encode, pq_fit
    from ..sinks.writer import upsert_table

    spark = batch_df.sparkSession
    codes_p = os.path.join(index_path, "codes")
    if not os.path.exists(index_path):
        os.makedirs(index_path, exist_ok=True)
    if not os.path.exists(os.path.join(index_path, PQ_META)):
        books = pq_fit(batch_df, vec_col, m=m, k=k)
        with open(os.path.join(index_path, PQ_META), "w") as fh:
            json.dump({"codebooks": books, "m": m, "k": k, "vec_col": vec_col}, fh)
    books = read_pq_codebooks(index_path)
    encoded = pq_encode(batch_df, books, vec_col, id_col)
    if keep_vectors:
        encoded = encoded.join(
            batch_df.select(F.col(id_col), F.col(vec_col)), id_col
        )
    encoded = encoded.withColumn("bucket", _bucket([id_col], state_buckets))
    upsert_table(
        spark, encoded, codes_p, key=id_col,
        partition_by=["bucket"], buckets=state_buckets,
    )


def read_pq_codebooks(index_path: str) -> list:
    import json

    with open(os.path.join(index_path, PQ_META)) as fh:
        return json.load(fh)["codebooks"]


def pq_query_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """ADC top-k against the persisted code table: codebooks from the
    sidecar, ``similarity.pq_batch_topk`` over the codes. The scan
    reads m small ints per corpus vector — the compressed-domain
    search that makes exhaustive ranking affordable where raw floats
    are not; follow with ``similarity.rerank_topk`` over
    ``keep_vectors=True`` state when exact order matters."""
    from ..operators.similarity import pq_batch_topk
    from ..sinks.writer import heal_partition_swaps, read_table

    codes_p = os.path.join(index_path, "codes")
    heal_partition_swaps(codes_p)
    codes = read_table(spark, codes_p).select(corpus_id_col, "codes")
    books = read_pq_codebooks(index_path)
    return pq_batch_topk(
        queries, codes, books, vec_col, query_id_col,
        corpus_id_col=corpus_id_col, k=k,
    )


IVF_META = "_ivf_centroids.json"


def assign_to_centers(df: DataFrame, vec_col: str, centers: list) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-euclidean,
    the KMeans criterion) as a pure Column expression — no refit, no
    driver loop, no explode: the centroid table inlines as an array
    literal (n_lists x dim floats, trivially small), per-row distances
    come from ``transform`` + ``aggregate``/``zip_with``, and
    ``array_min`` over (distance, list) structs is the argmin with a
    deterministic list-id tie-break. Adds ``_list`` (int)."""
    rows = None
    for i, c in enumerate(centers):
        row = F.struct(
            F.lit(i).alias("_l"),
            F.array(*[F.lit(float(v)) for v in c]).alias("_ctr"),
        )
        rows = F.array(row) if rows is None else F.concat(rows, F.array(row))
    v = F.col(vec_col).cast("array<double>")
    dist = lambda ctr: F.aggregate(  # noqa: E731
        F.zip_with(ctr, v, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(rows, lambda r: F.struct(dist(r["_ctr"]).alias("d"), r["_l"].alias("l")))
    )
    return df.withColumn("_list", best["l"].cast("int"))


def ivf_ingest_batch(
    batch_df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
) -> None:
    """Maintain a persisted IVF ANN index under continuous embedding
    ingest — the similarity-search leg of the incremental-state family
    (near-dup signatures, component labels, fold rollups):

    - FIRST batch trains the coarse quantizer (``similarity.ivf_index``
      KMeans) and writes the assigned corpus partitioned by the list
      id — the layout that lets a probe read ONLY its lists' partition
      dirs at query time (partition pruning IS the IVF speedup);
      centroids persist in an ``_ivf_centroids.json`` sidecar
      (n_lists x dim floats — tiny, travels with the table),
    - every later batch assigns its vectors to the FROZEN centroids
      declaratively (``assign_to_centers`` — one Column expression, no
      KMeans refit, no corpus read) and MERGEs on the id; replays
      upsert identical rows (deterministic assignment), so redelivery
      is a no-op. This is the standard frozen-quantizer append (FAISS
      ``add`` after ``train``): per-batch cost is O(batch), never
      O(index).

    Honesty about drift: appended data the quantizer never saw degrades
    list balance and recall over time. Watch ``ivf_index_stats`` (list
    imbalance) and schedule ``rebuild_ivf_index`` (full re-train +
    re-assign, the compaction analogue) when imbalance drifts — same
    crossover discipline as the dedup/component state families.

    INVARIANT (the ``_merge_partitioned`` contract): an id's embedding
    must be immutable — re-ingesting a vec_id with a DIFFERENT vector
    can move it to another list, stranding the old copy in its old
    partition dir. Embedding stores are content-keyed in practice;
    route true updates through takedown + re-ingest. Takedown composes
    generically: ``takedown_batch(extra_id_tables={"ann_index":
    (index_path, "<id_col>", ["ivf_list"])})``.
    """
    import json
    import os

    from ..operators.similarity import ivf_index
    from ..sinks.writer import (
        check_partition_layout,
        table_exists,
        upsert_table,
        write_layout_meta,
        write_table,
    )

    spark = batch_df.sparkSession
    # on-disk partition column is "ivf_list" (not similarity.py's
    # in-memory "_list"): underscore-prefixed names collide with the
    # hidden-path conventions this repo's layout tooling enforces
    check_partition_layout(index_path, ["ivf_list"], None)
    if not table_exists(index_path):
        assigned, centers = ivf_index(batch_df, vec_col, n_lists=n_lists, seed=seed)
        assigned = assigned.withColumnRenamed("_list", "ivf_list")
        write_table(
            assigned.repartition("ivf_list"), index_path, partition_by=["ivf_list"]
        )
        write_layout_meta(index_path, ["ivf_list"], None)
        with open(os.path.join(index_path, IVF_META), "w") as fh:
            json.dump({"centers": centers, "n_lists": n_lists, "vec_col": vec_col}, fh)
        return
    centers = read_ivf_centroids(index_path)
    assigned = assign_to_centers(batch_df, vec_col, centers).withColumnRenamed(
        "_list", "ivf_list"
    )
    upsert_table(
        spark, assigned.repartition("ivf_list"), index_path, key=id_col,
        partition_by=["ivf_list"],
    )


def read_ivf_centroids(index_path: str) -> list:
    import json
    import os

    with open(os.path.join(index_path, IVF_META)) as fh:
        return json.load(fh)["centers"]


def ivf_query_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """Query the persisted IVF index: centroids from the sidecar, probe
    via ``similarity.ivf_batch_topk``. The ``_list`` filter inside the
    probe join prunes to the probed lists' partition DIRS (hive layout
    written by ``ivf_ingest_batch``) — at 100 TB a 3-probe query reads
    3/n_lists of the index, not the index."""
    from ..operators.similarity import ivf_batch_topk
    from ..sinks.writer import heal_partition_swaps, read_table

    heal_partition_swaps(index_path)
    assigned = read_table(spark, index_path).select(
        "*", F.col("ivf_list").cast("int").alias("_list")
    ).drop("ivf_list")
    centers = read_ivf_centroids(index_path)
    return ivf_batch_topk(
        assigned, centers, queries, vec_col, query_id_col, corpus_id_col,
        k=k, n_probe=n_probe,
    )


def ivf_index_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-list sizes + the imbalance factor (max/mean list size — the
    FAISS health metric): the signal that appended drift has degraded
    the quantizer and ``rebuild_ivf_index`` is due. One partition-
    column-only scan (list sizes come from partition pruning + counts,
    no vector bytes read)."""
    from ..sinks.writer import read_table

    sizes = (
        read_table(spark, index_path)
        .groupBy(F.col("ivf_list").cast("int").alias("ivf_list"))
        .agg(F.count("*").alias("n_vectors"))
    )
    tot = sizes.agg(
        F.max("n_vectors").alias("_mx"), F.avg("n_vectors").alias("_mean")
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "ivf_list", "n_vectors",
        F.round(F.col("_mx") / F.col("_mean"), 4).alias("imbalance"),
    )


def rebuild_ivf_index(
    spark: SparkSession,
    index_path: str,
    vec_col: str = "embedding",
    n_lists: int | None = None,
    seed: int = 42,
) -> None:
    """Re-train the coarse quantizer over the FULL indexed corpus and
    re-assign every vector — the drift repair for ``ivf_ingest_batch``
    (appended data the quantizer never saw skews list balance; frozen
    centroids never move). Schedule like a compaction. One corpus
    read + one staged whole-layout rewrite; the sidecar re-stamps with
    the new centroids atomically after the swap."""
    import json
    import os
    import shutil

    from ..operators.similarity import ivf_index
    from ..sinks.writer import (
        _rewrite_partitions,
        heal_partition_swaps,
        read_table,
        write_layout_meta,
    )

    heal_partition_swaps(index_path)
    if n_lists is None:
        n_lists = len(read_ivf_centroids(index_path))
    corpus = read_table(spark, index_path, merge_schema=True).drop("ivf_list")
    assigned, centers = ivf_index(corpus, vec_col, n_lists=n_lists, seed=seed)
    assigned = assigned.withColumnRenamed("_list", "ivf_list")
    swapped = _rewrite_partitions(
        spark, assigned.repartition("ivf_list"), index_path, ["ivf_list"]
    )
    # full-rebuild semantics: a list with no members after re-assignment
    # is never swapped — remove its stale dir (same rule as
    # rebuild_component_labels)
    for name in os.listdir(index_path):
        leaf = os.path.join(index_path, name)
        if os.path.isdir(leaf) and name.startswith("ivf_list=") and name not in swapped:
            shutil.rmtree(leaf)
    with open(os.path.join(index_path, IVF_META), "w") as fh:
        json.dump({"centers": centers, "n_lists": n_lists, "vec_col": vec_col}, fh)
    write_layout_meta(index_path, ["ivf_list"], None)


def rebuild_component_labels(
    spark: SparkSession,
    pairs_path: str,
    labels_path: str,
    state_buckets: int | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> None:
    """Rebuild the persisted dedup-cluster labeling from the FULL pair
    table — the representative-liveness repair for
    ``update_component_state``: labels are min-id representatives, so
    after a takedown a departed doc that was its component's min keeps
    naming the label. Incremental maintenance cannot fix this (the min
    over a component only ever decreases batch-over-batch); this full
    ``connected_components`` pass recomputes every representative from
    the LIVE pair table and replaces the label table with exactly the
    live doc set — departed docs drop out, surviving components get a
    live min-id representative.

    Schedule like a compaction (after large takedowns), not per batch:
    cost is one full propagation over the pair table, O(E log D). The
    rebuild is one overwrite commit of the snapshot label table —
    atomic, and time travel keeps the pre-rebuild labeling until
    vacuum. Because it is a full overwrite it may re-lay the table out:
    pass ``state_buckets`` to (re)bucket the labels, omit it for flat;
    later incremental merges must then match (the ``_resolve_state``
    guard)."""
    import shutil

    from ..operators.dedup import connected_components
    from ..sinks import snapshot as _snap
    from ..sinks.store import read_store, require_snapshot, store_exists
    from ..sinks.writer import write_layout_meta

    require_snapshot(labels_path)
    if not store_exists(pairs_path):
        # no pairs -> no components; an absent label table is the
        # consistent result (every doc is its own singleton implicitly)
        if os.path.exists(labels_path):
            shutil.rmtree(labels_path)
        return
    pairs = read_store(spark, pairs_path).drop("bucket")
    labels = connected_components(pairs, id_a=id_a, id_b=id_b)
    if state_buckets:
        labels = labels.withColumn("bucket", _bucket(["doc_id"], state_buckets))
    # cdf=False like every state table: derived, rebuildable, no
    # change-feed consumers — skip the write-time sidecar tax
    _snap.write_snapshot(
        spark, labels, labels_path,
        key=(["bucket", "doc_id"] if state_buckets else ["doc_id"]), cdf=False,
    )
    # the rebuild owns the layout: refresh the modulus sidecar to
    # whatever was just written (or drop it on a flat rebuild)
    meta = os.path.join(labels_path, "_layout_meta.json")
    if state_buckets:
        write_layout_meta(labels_path, [], state_buckets)
    elif os.path.exists(meta):
        os.unlink(meta)


def update_component_state(
    new_pairs: DataFrame,
    labels_path: str,
    state_buckets: int | None = None,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    """Maintain a persisted dedup-cluster labeling (doc_id ->
    component_id) under continuous ingest: fold one batch of near-dup
    pairs in via ``dedup.incremental_components`` — old component
    interiors are never re-propagated — and MERGE only the rows whose
    label actually changed (new docs + members of components the batch
    merged). Write volume is O(changed rows); with ``state_buckets``
    the merge rewrites only files holding touched buckets (same layout
    contract and ``_resolve_state`` guard as every other state table).

    Replay-idempotent: a redelivered batch maps its endpoints to the
    already-merged labels, every condensed edge collapses to a self
    edge, and the changed set is empty. ``txn=(app_id, version)``
    turns a redelivered batch into a visible no-op before the label
    read. ``incremental_components`` requires ``labels`` to be a
    CONSISTENT fixed point; the snapshot commit of the changed set is
    all-or-nothing, so a crash mid-merge leaves the previous labeling
    intact.

    SCALE NOTE (honest): the label LOOKUP reads the labels table once
    per batch (column-pruned to two longs, no shuffle — the batch side
    broadcasts). The bucketed layout bounds the WRITE side only; a
    read-pruned lookup would need a second doc_id-keyed index table.
    At dedup-state scale writes dominate (this is the
    fold_aggregate_state_table trade), so the single pruned scan is
    the accepted cost. TAKEDOWN NOTE: removing rows via
    ``takedown_batch(extra_id_tables={"components": (labels_path,
    "doc_id")})`` keeps the mapping consistent, but a departed doc
    that was its component's min keeps naming the representative id
    (labels are arbitrary representatives, not live ids); run
    ``rebuild_component_labels`` over the pair table when
    representative liveness matters."""
    from ..operators.dedup import connected_components, incremental_components
    from ..sinks import store

    t = _resolve_state(labels_path, "doc_id", state_buckets, state_format, txn)
    if store.txn_applied(labels_path, txn):
        return  # fenced replay: skip the label read + delta
    spark = new_pairs.sparkSession
    if not store.store_exists(labels_path):
        _write_state(spark, t, connected_components(new_pairs))
        return
    labels = store.read_store(spark, labels_path).drop("bucket")
    changed = incremental_components(labels, new_pairs, changed_only=True).select(
        "doc_id", "component_id"
    )
    # one atomic commit; an empty fenced delta still commits so the
    # watermark advances
    _write_state(spark, t, changed)


def corpus_ingest_batch(
    batch_df: DataFrame,
    lm: DataFrame,
    corpus_path: str,
    signature_path: str,
    pairs_path: str,
    scores_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    gate_kwargs: dict | None = None,
    pii_types: list | None = None,
    bloom_path: str | None = None,
    hashes_path: str | None = None,
    stats_path: str | None = None,
    stats_key: str = "source",
    stats_buckets: int | None = None,
    batch_id: int | None = None,
    components_path: str | None = None,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
    **near_dedup_kwargs,
) -> None:
    """One full continuous-ingest corpus step — the composed foreachBatch
    body gluing the pipeline stages in their production order:

    0. (``pii_types`` set) PII redaction — BEFORE gating/shingling so
       identifiers never reach signatures or the corpus table (same
       contract as the batch ``corpus_pipeline``),
    0.5 (``bloom_path``/``hashes_path`` set) seen-content pre-filter
       (``seen_content_filter_batch``): already-ingested content —
       replays, crawler re-fetches under new ids — is dropped before
       it costs gating, shingling, or scoring; the matching
       ``record_ingested_content`` runs LAST, after the corpus MERGE
       commits, so a mid-step crash only re-processes (never loses)
       a batch,
    1. rule gate (``text.gopher_rules``): rejected documents never cost
       shingling, scoring, or state,
    2. ``near_dedup_batch``: signatures + incremental pairs vs the
       persisted corpus state,
    3. ``quality_score_batch``: frozen-LM scores,
    4. accepted documents MERGEd into the corpus table on the id,
    5. (``stats_path`` set, ``stats_key`` column present) the per-key
       corpus rollup (n_docs, sum/min/max chars) is maintained
       incrementally via ``incremental.fold_aggregate_state`` — the
       batch's partial aggregates fold into the state table; the
       accumulated corpus is NEVER reaggregated. This is the monitoring
       surface an operator watches (ingest volume / size drift per
       source) without paying a corpus scan per micro-batch.

    Every stage is individually replay-idempotent (pure function of the
    document + frozen reference state, MERGE on a deterministic key),
    so the composition is too: a redelivered micro-batch converges to
    the same four tables. Near-dup PAIRS are recorded, not dropped
    in-stream — cluster collapse is a batch decision over the pair
    table (``dedup_assign``), because eager in-stream dropping makes
    survivor choice order-dependent across redeliveries.

    ``state_format``/``txn`` ride through to every flat state MERGE
    (signatures, pairs, component labels, scores, the corpus table
    itself): with ``txn=(app_id, epoch)`` each table independently
    fences the replayed epoch, so a crash anywhere in the chain
    replays with the already-committed tables as visible no-ops and
    only the remaining tables applying (per-table exactly-once — the
    reference's Postgres ON CONFLICT contract across the whole
    composition).
    """
    from ..operators.text import gopher_rules
    from ..sinks import store

    # resolve every table the step writes before its first job
    # (filesystem probes only). A redelivered batch that every one of
    # them already committed is a no-op: return before the gate's eager
    # checkpoint. The seen-content and stats tables have no txn fence,
    # so with any of them set the step runs and their own paths decide
    state_buckets = near_dedup_kwargs.get("state_buckets")
    fenced = [
        _resolve_state(p, k, state_buckets, state_format, txn).path
        for p, k in (
            (signature_path, "doc_id"),
            (pairs_path, ("id_a", "id_b")),
            (scores_path, id_col),
            (components_path, "doc_id"),
        )
        if p is not None
    ]
    store.require_snapshot(corpus_path, state_format)
    if (
        txn is not None
        and bloom_path is None and hashes_path is None and stats_path is None
        and all(store.txn_applied(p, txn) for p in fenced + [corpus_path])
    ):
        return
    if pii_types:
        from ..operators.pii import redact_pii

        batch_df = redact_pii(batch_df, text_col, types=list(pii_types))
    seen_state = bloom_path is not None and hashes_path is not None
    if seen_state:
        batch_df = seen_content_filter_batch(
            batch_df, bloom_path, hashes_path, text_col
        )
    gated = (
        gopher_rules(batch_df, text_col=text_col, **(gate_kwargs or {}))
        .filter(F.col("gopher_keep"))
        .select(*batch_df.columns)
        .localCheckpoint()  # feeds three downstream stages; gate once
    )
    batch_pairs = near_dedup_batch(
        gated, signature_path, pairs_path, id_col, text_col,
        return_pairs=components_path is not None,
        state_format=state_format, txn=txn, **near_dedup_kwargs,
    )
    if components_path is not None:
        # live dedup-cluster labels maintained per batch from the same
        # pair frame the near-dedup stage just checkpointed — cluster
        # COLLAPSE stays a batch decision (dedup_assign over the pair
        # table); this table answers "which cluster is this doc in NOW"
        update_component_state(
            batch_pairs, components_path,
            state_buckets=state_buckets, state_format=state_format, txn=txn,
        )
    quality_score_batch(
        gated, lm, scores_path, id_col, text_col,
        # one knob lays out both merge-state tables; the signature
        # table picks it up through near_dedup_kwargs
        state_buckets=state_buckets, state_format=state_format, txn=txn,
    )
    store.upsert_store(
        batch_df.sparkSession, gated, corpus_path, key=id_col,
        fmt=state_format, txn=txn,
    )
    if seen_state:
        record_ingested_content(gated, bloom_path, hashes_path, text_col)
    if stats_path is not None and stats_key in gated.columns:
        # stats_buckets switches the rollup to the bucket-partitioned
        # fold; batch_id (the streaming epoch) arms its bucket-granular
        # replay fence so a redelivered/crash-replayed micro-batch
        # cannot double-count the additive fold
        fold_ingest_stats(
            gated, stats_path, stats_key, text_col,
            n_buckets=stats_buckets, batch_id=batch_id,
        )


def fold_ingest_stats(
    accepted_df: DataFrame,
    stats_path: str,
    stats_key: str = "source",
    text_col: str = "text",
    n_buckets: int | None = None,
    batch_id: int | None = None,
) -> None:
    """Fold the accepted batch into the per-key ingest rollup
    (n_docs, sum_chars, min_chars, max_chars keyed by ``stats_key``)
    with ``incremental.fold_aggregate_state`` — O(batch + state keys)
    per refresh, history never reaggregated. NOTE: folding counts a
    redelivered batch twice; run it behind the seen-content filter (or
    another delta guard) when the upstream is at-least-once.

    Default (``n_buckets=None``) rewrites the whole (small) state each
    batch — right for low-cardinality keys like ``source``. For
    high-cardinality keys (per-domain, per-author) pass ``n_buckets``
    to switch to the bucket-partitioned persisted fold
    (``fold_aggregate_state_table``): only touched buckets are read
    and rewritten, O(batch) however many keys the rollup holds.
    ``batch_id`` (the streaming epoch) arms that path's bucket-granular
    replay fence — redelivery/crash-replay becomes exact instead of
    double-counted; it is only honored with ``n_buckets`` set (the
    whole-rewrite path keeps the documented reconcile contract).

    KNOWN DIVERGENCE WINDOW (with ``--seen_state`` on): the composed
    ingest records seen-content BEFORE folding stats, so a crash
    between the two permanently undercounts that batch — on redelivery
    the seen filter drops the rows before the fold ever sees them. The
    reverse order trades it for a permanent OVERcount (fold runs, crash
    before recording, redelivery folds again); a fold keyed off the
    post-merge corpus delta would close both but couples the stats to
    the MERGE internals. The stats table is a monitoring rollup, not a
    ledger, so the window is documented rather than engineered away —
    run ``reconcile_ingest_stats`` (one corpus scan) whenever exactness
    matters or after a mid-ingest crash.
    """
    from ..operators.incremental import (
        fold_aggregate_state,
        fold_aggregate_state_table,
    )
    from ..sinks.writer import _rewrite, heal_partition_swaps, table_exists, write_table

    spark = accepted_df.sparkSession
    specs = {
        "n_docs": ("count", "*"),
        "sum_chars": ("sum", "_chars"),
        "min_chars": ("min", "_chars"),
        "max_chars": ("max", "_chars"),
    }
    batch = accepted_df.withColumn("_chars", F.length(text_col).cast("long"))
    if n_buckets is not None:
        # pass the streaming epoch_id as batch_id: the bucket-granular
        # epoch fence makes redelivery/crash-replay exact for the
        # additive fold (see fold_aggregate_state_table docstring)
        fold_aggregate_state_table(
            spark, batch, stats_path, [stats_key], specs,
            n_buckets=n_buckets, batch_id=batch_id,
        )
        return
    heal_partition_swaps(stats_path)  # before table_exists/read
    state = spark.read.parquet(stats_path) if table_exists(stats_path) else None
    folded = fold_aggregate_state(state, batch, [stats_key], specs)
    if state is None:
        write_table(folded, stats_path)
    else:
        # write-temp-then-swap: an in-place overwrite deletes the live
        # rollup first, so a crash mid-write loses the whole history
        _rewrite(spark, folded, stats_path, ())


def reconcile_ingest_stats(
    spark,
    corpus_path: str,
    stats_path: str,
    stats_key: str = "source",
    text_col: str = "text",
) -> None:
    """Recompute the ingest-stats rollup from the corpus table itself
    (one full corpus scan) and swap it in. This is the repair path for
    ``fold_ingest_stats``'s documented crash-divergence window — the
    corpus table is the source of truth, so a reconcile always
    converges the rollup exactly, whatever the crash history. Schedule
    it like a compaction (off-peak, occasionally), not per batch.
    Reads the corpus through the store facade (snapshot corpora read
    at their committed version; swap corpora heal first)."""
    from ..sinks.store import is_snapshot_table, read_store
    from ..sinks.writer import _rewrite, heal_partition_swaps

    if not is_snapshot_table(corpus_path):
        heal_partition_swaps(corpus_path)
    heal_partition_swaps(stats_path)
    fresh = (
        read_store(spark, corpus_path, merge_schema=True)
        .withColumn("_chars", F.length(text_col).cast("long"))
        .groupBy(stats_key)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_chars").alias("sum_chars"),
            F.min("_chars").alias("min_chars"),
            F.max("_chars").alias("max_chars"),
        )
    )
    _rewrite(spark, fresh, stats_path, ())


def stream_corpus_ingest(
    stream_df: DataFrame,
    lm: DataFrame,
    corpus_path: str,
    signature_path: str,
    pairs_path: str,
    scores_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    query_name: str = "stream_corpus_ingest",
    gate_kwargs: dict | None = None,
    pii_types: list | None = None,
    bloom_path: str | None = None,
    hashes_path: str | None = None,
    stats_path: str | None = None,
    stats_key: str = "source",
    stats_buckets: int | None = None,
    components_path: str | None = None,
    app_id: str | None = None,
    **near_dedup_kwargs,
):
    """The whole training-corpus ingest as ONE Structured Streaming
    query: gate -> near-dedup -> score -> corpus MERGE per micro-batch.
    State lives in the four parquet tables (restart is cold, zero
    streaming-state rebuild); per-batch cost is O(batch) against
    broadcast/banded state, never a corpus rescan.

    ``app_id`` arms the per-table snapshot txn fence across the whole
    composition — every table commits with ``txn=(app_id, epoch_id)``,
    so a redelivered epoch no-ops table by table (the crash-anywhere
    replay contract of ``corpus_ingest_batch``). Composes with
    ``state_buckets`` (bucketed state rides the snapshot format).
    Requires a durable ``checkpoint_dir``, same as ``stream_upsert``
    with ``app_id``, and snapshot (or fresh) state roots — both validated HERE at setup, so a misconfigured
    long-running query fails before it starts instead of dying at the
    first micro-batch with a backend error."""

    def process(batch_df: DataFrame, epoch: int, txn) -> None:
        corpus_ingest_batch(
            batch_df, lm, corpus_path, signature_path, pairs_path, scores_path,
            id_col, text_col, gate_kwargs=gate_kwargs, pii_types=pii_types,
            bloom_path=bloom_path, hashes_path=hashes_path,
            stats_path=stats_path, stats_key=stats_key,
            stats_buckets=stats_buckets, batch_id=epoch,
            components_path=components_path, txn=txn,
            **near_dedup_kwargs,
        )

    return _start_batches(
        stream_df, process, query_name, checkpoint_dir, available_now,
        app_id=app_id, corpus=corpus_path, signatures=signature_path,
        pairs=pairs_path, scores=scores_path, components=components_path,
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution shape
    (impression joined to the click that follows it within
    ``max_delay``). Works identically on batch frames (the time-bound
    join condition alone) and on streams, where BOTH sides carry
    watermarks so the engine can bound join state: a left row's state
    is dropped once the right watermark passes its ts + max_delay —
    without the bound, stream-stream join state grows forever.

    Join condition: same key AND right_ts in [left_ts, left_ts +
    max_delay]. Inner join (unmatched rows age out silently); switch to
    leftOuter downstream if unmatched lefts must surface after timeout.
    """
    import re

    m = re.match(r"(\d+)\s*(second|minute|hour)s?", max_delay)
    if not m:
        raise ValueError(f"unparseable max_delay {max_delay!r}")
    secs = int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600}[m.group(2)]
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {secs} SECONDS"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def classifier_score_batch(
    batch_df: DataFrame,
    weights: DataFrame,
    intercept: float,
    scores_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 1024,
    state_format: str | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    """One continuous-ingest LEARNED-quality-scoring step: score the
    batch under a FROZEN classifier (``quality_model.fit_quality_classifier``
    — fit once on the labeled sample, weights broadcast every batch)
    and MERGE into the persisted score table keyed on the id. Pure
    function of (document, frozen weights) -> replay-idempotent, the
    same contract as ``quality_score_batch`` (the n-gram LM variant) —
    including the snapshot default + ``txn`` fence.
    """
    from ..operators.quality_model import quality_model_scores

    t = _resolve_state(scores_path, id_col, None, state_format, txn)
    scored = quality_model_scores(
        batch_df, weights, intercept, id_col, text_col, n_features
    ).select(id_col, "quality_logit", "quality_prob")
    _write_state(batch_df.sparkSession, t, scored)


def stream_classifier_scores(
    stream_df: DataFrame,
    weights: DataFrame,
    intercept: float,
    scores_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 1024,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    query_name: str = "stream_classifier_scores",
):
    """Model-based quality scoring as a Structured Streaming query —
    the learned companion to ``stream_quality_scores``. The model
    never refits in-stream (version it with the corpus snapshot);
    per-batch cost is one explode + broadcast weight join over the
    batch only."""
    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: classifier_score_batch(
            batch_df, weights, intercept, scores_path, id_col, text_col,
            n_features,
        ),
        query_name, checkpoint_dir, available_now, scores=scores_path,
    )


def stream_cdc_apply(
    stream_df: DataFrame,
    path: str,
    keys: list,
    seq_col: str,
    op_col: str = "op",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    query_name: str = "stream_cdc_apply",
):
    """Continuously materialize a CDC stream into the snapshot table at
    ``path`` (``sinks/snapshot.cdc_apply_snapshot``): one foreachBatch
    per micro-batch, latest-wins exact under out-of-order and
    at-least-once delivery because every state row keeps its applied
    sequence and deletes persist as tombstones. Commits are atomic,
    with time travel, CDF and retention over the materialized state;
    read it with ``snapshot.read_cdc_state``."""
    from ..sinks.snapshot import cdc_apply_snapshot

    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: cdc_apply_snapshot(
            batch_df.sparkSession, batch_df, path, keys, seq_col, op_col=op_col
        ),
        query_name, checkpoint_dir, available_now, target=path,
    )


def takedown_batch(
    ids_df: DataFrame,
    corpus_path: str,
    signature_path: str | None = None,
    pairs_path: str | None = None,
    scores_path: str | None = None,
    stats_path: str | None = None,
    hashes_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats_key: str = "source",
    extra_id_tables: dict | None = None,
    extra_pair_tables: dict | None = None,
    corpus_partition_by: tuple = (),
) -> dict:
    """Right-to-be-forgotten / takedown: remove a set of document ids
    from EVERY state table the continuous ingest maintains, keeping the
    whole state mutually consistent. Cost is O(corpus-partition scans +
    affected rows), never a recompute of any derived state from
    scratch:

    - corpus: key anti-join + rewrite. PARTITION-SCOPED when the
      corpus is hive-partitioned (explicit ``corpus_partition_by`` or
      auto-detected layout): only the partition dirs that actually
      hold doomed rows are anti-joined and swapped, and a partition
      whose last rows were doomed has its stale dir deleted — a
      takedown costs O(affected partitions) write volume, never a
      corpus copy. Unpartitioned corpora take the whole-table
      write-temp-then-swap,
    - signatures / scores: key anti-join + rewrite,
    - pairs: rows mentioning a doomed id on EITHER side are dropped,
    - seen-content hashes (bucket-partitioned): partition-pruned to the
      buckets the doomed content hashes into, and a hash is removed
      ONLY if no surviving document still carries the same content —
      deleting a shared hash would wrongly mark live content unseen.
      The Bloom word table is NOT rewritten (bits cannot be unset in a
      Bloom filter); a stale bit only costs a stage-2 exact check,
      which now finds no hash row, so the content can re-ingest. If
      takedown must also BLOCK re-ingestion, route the content hash
      into a caller-maintained blocklist instead,
    - stats rollup: sum/count are subtractable but min/max are NOT, so
      the affected keys (only those) are recomputed from the surviving
      corpus — every other key's row is untouched.

    Other modality state rides along: ``extra_id_tables`` maps
    ``label -> (path, id_column)`` (or ``(path, id_column,
    partition_cols)``) for any additional id-keyed table (e.g. the
    image dHash table of ``image_dedup_batch``); ``extra_pair_tables``
    maps ``label -> path`` (or ``label -> (path, partition_cols)``)
    for additional (id_a, id_b) pair tables.

    Durability + layout: every table read uses ``merge_schema=True``
    (a partition-evolved table read with one file's schema would have
    its evolved columns silently dropped by the rewrite), every rewrite
    goes through the writer's write-temp-then-swap ``_rewrite`` (an
    in-place overwrite deletes the live table first — a crash mid-write
    destroys state that exists nowhere else), and every rewrite
    preserves the table's hive partition layout: explicitly via
    ``corpus_partition_by`` / the tuple forms above, or inferred from
    the directory layout (``writer.hive_partition_cols``) when not
    given.

    Returns ``{table: rows_removed}``. Idempotent: a second run with
    the same ids removes nothing.

    FORMAT DISPATCH: every table is removed through its own backend —
    snapshot tables (the corpus and every state table the ingest
    maintainers write) take ``delete_snapshot``'s
    pruned copy-on-write commit (O(touched files), atomic, time-travel
    keeps the pre-takedown version until vacuum); swap tables (the side
    indexes and legacy tables) keep the partition-scoped rewrite below.
    """
    import shutil

    from ..sinks import snapshot as _snap
    from ..sinks.store import is_snapshot_table
    from ..sinks.writer import (
        _rewrite,
        _rewrite_partitions,
        heal_partition_swaps,
        hive_partition_cols,
        read_table,
        table_exists,
    )

    spark = ids_df.sparkSession
    ids = ids_df.select(id_col).distinct().localCheckpoint()
    removed: dict[str, int] = {}

    def _local(uri: str) -> str:
        p = uri.split("://", 1)[-1] if "://" in uri else uri
        return p[5:] if p.startswith("file:") else p

    def _scoped_drop(path: str, pcols: list, split, label: str) -> DataFrame:
        """Partition-scoped row removal from a swap table; returns the
        removed rows, materialized before any rewrite. ``split(t)``
        returns the ``(matched, kept)`` pair of lazy frames over table
        ``t``, built from broadcast semi/anti joins against the ids
        frame (never an isin() literal — see ``_id_split``).
        Partitioned tables rewrite only the dirs holding doomed rows
        and delete a dir whose last rows were doomed: the swap leaves
        an emptied partition's stale files, and the dir names come
        from the matched rows' input files, the on-disk truth whatever
        the partition column types or escaping. Unpartitioned tables
        take the whole-table write-temp-then-swap, with the kept rows
        consumed lazily: the temp write runs while the old files still
        exist, so no O(table) checkpoint is needed."""
        t = read_table(spark, path, merge_schema=True)
        tf = t.withColumn("_file", F.input_file_name())
        matched = split(tf)[0].localCheckpoint()
        removed[label] = matched.count()
        if removed[label] and not pcols:
            _rewrite(spark, split(t)[1], path, ())
        elif removed[label]:
            aff = matched.select(*pcols).distinct()
            keep = split(
                tf.join(F.broadcast(aff), pcols, "left_semi")
            )[1].drop("_file")
            swapped = _rewrite_partitions(
                spark, keep.repartition(*pcols), path, pcols
            )
            root = os.path.abspath(path.rstrip("/"))
            dirs = {
                os.path.relpath(os.path.dirname(_local(r._file)), root)
                for r in matched.select("_file").distinct().collect()
            }
            for rel in sorted(dirs - set(swapped)):
                stale = os.path.join(root, rel)
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
        return matched.drop("_file")

    # doom detection stays JOIN-based against the (small, checkpointed)
    # ids frame — broadcast left_semi for matched rows, left_anti for
    # survivors. Never collect the ids into an isin() literal: a large
    # takedown list would blow up the driver and the plan (giant
    # IN-list), and ~col.isin(...) evaluates to NULL for NULL-keyed
    # rows, silently dropping them from rewritten tables — the anti
    # join keeps them, which is the O(affected)/100 TB contract.
    def _id_split(key: str):
        doom_keys = F.broadcast(ids.withColumnRenamed(id_col, key))

        def split(t):
            return (
                t.join(doom_keys, key, "left_semi"),
                t.join(doom_keys, key, "left_anti"),
            )

        return split

    if is_snapshot_table(corpus_path):
        doomed = (
            _snap.read_snapshot(spark, corpus_path)
            .join(ids, id_col, "left_semi")
            .localCheckpoint()
        )
        removed["corpus"] = doomed.count()
        if removed["corpus"]:
            _snap.delete_snapshot(spark, ids, corpus_path, id_col)
        survivors = _snap.read_snapshot(spark, corpus_path)
    else:
        # heal BEFORE any layout inference or read: a partition leaf
        # stuck mid-swap reads as absent (its rows would survive the
        # takedown invisibly), and an orphaned .swap-old dir must never
        # be mistaken for layout (hive_partition_cols skips dot-dirs,
        # heal removes them)
        heal_partition_swaps(corpus_path)
        doomed = _scoped_drop(
            corpus_path,
            list(corpus_partition_by) or hive_partition_cols(corpus_path),
            _id_split(id_col), "corpus",
        )
        # post-swap view of the surviving corpus for the hash/stats
        # steps (a pre-swap lazy frame would re-read replaced files). A
        # takedown that doomed EVERY row can leave the corpus absent —
        # a valid outcome: fall back to an empty frame
        if table_exists(corpus_path):
            survivors = read_table(spark, corpus_path, merge_schema=True)
        else:
            survivors = empty_frame(spark, doomed.schema)

    def _bucketed_doom(path: str, doomed_keys: DataFrame, key_cols):
        """(doomed frame, delete key) for a snapshot state table:
        bucket-led tables get the bucket DERIVED onto the doomed frame
        (it is a pure hash of the key), so the delete prunes on tight
        per-file bucket ranges and the rewrite keeps the (bucket, key)
        sort — without it a takedown both touched every file whose
        wide doc_id range covered a doomed id and unsorted the
        rewritten files. Legacy tables without the modulus sidecar
        fall back to the unbucketed delete (correct, just unpruned)."""
        m = _snap._load_manifest(path, _snap.current_version(path))
        key_list = list(key_cols) if not isinstance(key_cols, str) else [key_cols]
        if m.get("key") != ["bucket"] + key_list:
            return doomed_keys, key_cols
        mod = _layout_buckets(path)
        if mod is None:
            return doomed_keys, key_cols
        return (
            doomed_keys.withColumn("bucket", _bucket(key_list, mod)),
            tuple(["bucket"] + key_list),
        )

    def _drop_by_id(path: str, key: str, label: str, pcols=None) -> None:
        if path is None:
            return
        if is_snapshot_table(path):
            t = _snap.read_snapshot(spark, path)
            doom_keys = ids.withColumnRenamed(id_col, key)
            n = t.join(F.broadcast(doom_keys), key, "left_semi").count()
            removed[label] = n
            if n:
                doom_keys, del_key = _bucketed_doom(path, doom_keys, key)
                _snap.delete_snapshot(spark, doom_keys, path, del_key)
            return
        heal_partition_swaps(path)
        if not table_exists(path):
            return
        pcols = list(pcols) if pcols else hive_partition_cols(path)
        _scoped_drop(path, pcols, _id_split(key), label)

    # the signature table's id column is the literal "doc_id"
    # (near_dedup_batch contract), scores likewise
    _drop_by_id(signature_path, "doc_id", "signatures")
    _drop_by_id(scores_path, "doc_id", "scores")
    for label, spec in (extra_id_tables or {}).items():
        path, key, *rest = spec
        _drop_by_id(path, key, label, pcols=rest[0] if rest else None)

    def _pair_split(t):
        ids_a = F.broadcast(ids.withColumnRenamed(id_col, "id_a"))
        ids_b = F.broadcast(ids.withColumnRenamed(id_col, "id_b"))
        # matched = (id_a doomed) ∪ (id_a clean AND id_b doomed): the
        # two legs are disjoint, so a pair doomed on both sides counts
        # exactly once
        a_hit = t.join(ids_a, "id_a", "left_semi")
        b_only = t.join(ids_a, "id_a", "left_anti").join(ids_b, "id_b", "left_semi")
        kept = t.join(ids_a, "id_a", "left_anti").join(ids_b, "id_b", "left_anti")
        return a_hit.unionByName(b_only), kept

    def _drop_pairs(path: str, label: str, pcols=None) -> None:
        if path is None:
            return
        if is_snapshot_table(path):
            t = _snap.read_snapshot(spark, path)
            matched = _pair_split(t)[0].select("id_a", "id_b").localCheckpoint()
            n = matched.count()
            removed[label] = n
            if n:
                matched, del_key = _bucketed_doom(path, matched, ("id_a", "id_b"))
                _snap.delete_snapshot(spark, matched, path, del_key)
            return
        heal_partition_swaps(path)
        if not table_exists(path):
            return
        pcols = list(pcols) if pcols else hive_partition_cols(path)
        _scoped_drop(path, pcols, _pair_split, label)

    _drop_pairs(pairs_path, "pairs")
    for label, spec in (extra_pair_tables or {}).items():
        if isinstance(spec, (tuple, list)):
            path, *rest = spec
            _drop_pairs(path, label, pcols=rest[0] if rest else None)
        else:
            _drop_pairs(spec, label)

    if hashes_path is not None:
        heal_partition_swaps(hashes_path)
    if hashes_path is not None and table_exists(hashes_path):
        doomed_h = doomed.select(
            F.xxhash64(F.col(text_col)).alias("content_hash"),
            F.length(text_col).cast("long").alias("content_len"),
        ).distinct()
        # shared-content protection: keep any hash a survivor still has
        live_h = survivors.select(
            F.xxhash64(F.col(text_col)).alias("content_hash"),
            F.length(text_col).cast("long").alias("content_len"),
        ).distinct()
        dead_h = doomed_h.join(
            live_h, ["content_hash", "content_len"], "left_anti"
        ).withColumn(
            "bucket", F.pmod("content_hash", F.lit(_SEEN_BUCKETS))
        ).localCheckpoint()
        buckets = [r.bucket for r in dead_h.select("bucket").distinct().collect()]
        if buckets:
            state = (
                read_table(spark, hashes_path, merge_schema=True)
                .withColumn("bucket", F.col("bucket").cast("long"))
                .filter(F.col("bucket").isin(buckets))
            )
            keep = state.join(
                dead_h.select("content_hash", "content_len"),
                ["content_hash", "content_len"],
                "left_anti",
            ).localCheckpoint()  # materialize before any dir surgery
            removed["hashes"] = state.count() - keep.count()
            _rewrite_partitions(
                spark, keep.repartition("bucket"), hashes_path, ["bucket"]
            )
            # _rewrite_partitions swaps only dirs PRESENT in its input:
            # a bucket whose LAST hash was removed produces zero rows,
            # so its stale dir (still holding the dead hash) must be
            # deleted explicitly — deletion is the one state mutation
            # that can empty a partition (folds and CDC merges cannot)
            alive = {r.bucket for r in keep.select("bucket").distinct().collect()}
            for b in buckets:
                if b not in alive:
                    d = os.path.join(hashes_path, f"bucket={b}")
                    if os.path.isdir(d):
                        shutil.rmtree(d)
        else:
            removed["hashes"] = 0

    if stats_path is not None:
        heal_partition_swaps(stats_path)
    if stats_path is not None and table_exists(stats_path):
        affected = doomed.select(stats_key).distinct()
        fresh = (
            survivors.join(affected, stats_key, "left_semi")
            .withColumn("_chars", F.length(text_col).cast("long"))
            .groupBy(stats_key)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("_chars").alias("sum_chars"),
                F.min("_chars").alias("min_chars"),
                F.max("_chars").alias("max_chars"),
            )
        )
        state = read_table(spark, stats_path, merge_schema=True)
        untouched = state.join(affected, stats_key, "left_anti")
        new_state = untouched.select(fresh.columns).unionByName(fresh)
        removed["stats_keys_recomputed"] = affected.count()
        _rewrite(spark, new_state, stats_path, ())

    return removed
