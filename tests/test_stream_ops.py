"""Streaming dedup (bounded state) + stream-static enrichment."""

import datetime as dt

from pyspark.sql import functions as F, types as T

from nba_data_pipeline_spark.sinks.store import read_store as _rs
from nba_data_pipeline_spark.streaming.ops import (
    enrich_stream,
    run_stream_dedup,
    stream_dedup,
)

import pytest

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    path = str(tmp_path / "dup_src")
    base = [(i, T0 + dt.timedelta(minutes=i), float(i)) for i in range(10)]
    # file 1: originals; file 2: re-delivery of 5 of them + 3 new
    spark.createDataFrame(base, SCHEMA).write.mode("overwrite").parquet(path)
    redelivered = base[3:8] + [(i, T0 + dt.timedelta(minutes=i), float(i)) for i in (10, 11, 12)]
    spark.createDataFrame(redelivered, SCHEMA).write.mode("append").parquet(path)

    out = run_stream_dedup(
        spark, path, SCHEMA, "ts", "2 hours", ["event_id"], query_name="dedup_t1"
    )
    ids = sorted(r.event_id for r in out.collect())
    assert ids == list(range(13))  # every id exactly once


def test_stream_static_enrich_broadcasts_dim(spark, tmp_path):
    path = str(tmp_path / "enrich_src")
    rows = [(i, T0 + dt.timedelta(minutes=i), float(i)) for i in range(6)]
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)
    dim = spark.createDataFrame(
        [(i, f"name-{i % 2}") for i in range(6)], "event_id long, dim_name string"
    )
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    enriched = stream_dedup(stream, "ts", "1 hour", ["event_id"])
    enriched = enrich_stream(enriched, dim, "event_id")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_t1")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_id: r.dim_name for r in spark.sql("SELECT * FROM enrich_t1").collect()}
    assert got == {i: f"name-{i % 2}" for i in range(6)}


def test_enrich_stream_plan_is_broadcast(spark):
    """Batch-mode plan check: the dim side must be a broadcast join."""
    events = spark.range(100).select(
        F.col("id").alias("event_id"), F.lit(1.0).alias("v")
    )
    dim = spark.createDataFrame([(i, "x") for i in range(10)], "event_id long, d string")
    plan = enrich_stream(events, dim, "event_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stream_near_dedup_two_batches(spark, tmp_path):
    """Continuous-ingest near-dedup: batch 2 finds its near-dups against
    batch 1's PERSISTED signatures without re-shingling them; pairs are
    canonicalized (id_a < id_b) so any replay upserts the same rows."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch, stream_near_dedup

    src = str(tmp_path / "src")
    sig_p = str(tmp_path / "sigs")
    pair_p = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3

    def run_pass():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_near_dedup(
            stream, sig_p, pair_p, num_perm=32, bands=16, threshold=0.3,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    # batch 1: two docs, near-dups of each other
    spark.createDataFrame(
        [(1, base), (2, base.replace("kappa", "lambda"))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_pass()
    pairs1 = {(r.id_a, r.id_b) for r in _rs(spark, pair_p).collect()}
    assert pairs1 == {(1, 2)}  # new-new emitted once on the first batch
    assert _rs(spark, sig_p).count() == 2

    # batch 2: one dup of batch 1, one unrelated doc
    spark.createDataFrame(
        [(10, base), (11, "wholly different words that share nothing at all")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run_pass()
    pairs2 = {(r.id_a, r.id_b) for r in _rs(spark, pair_p).collect()}
    assert pairs2 == {(1, 2), (1, 10), (2, 10)}
    assert _rs(spark, sig_p).count() == 4

    # direct redelivery of batch 2 (crash-replay of one micro-batch):
    # same tables afterwards, no duplicate pairs or signatures
    batch2 = spark.createDataFrame([(10, base), (11, "unrelated")], schema)
    near_dedup_batch(batch2, sig_p, pair_p, num_perm=32, bands=16, threshold=0.3)
    pairs3 = {(r.id_a, r.id_b) for r in _rs(spark, pair_p).collect()}
    assert pairs3 == pairs2
    assert _rs(spark, sig_p).count() == 4

    # fresh-checkpoint full reprocess (disaster recovery): every doc
    # counts as new again, yet the canonical sink converges to the
    # same pair set
    import shutil

    shutil.rmtree(ckpt)
    run_pass()
    pairs4 = {(r.id_a, r.id_b) for r in _rs(spark, pair_p).collect()}
    assert pairs4 == pairs2
    assert _rs(spark, sig_p).count() == 4


def test_streaming_replay_parity_flags(spark):
    """The replay-parity harness query (value-bearing since r16, task
    #6): every pair in both ingests, no duplicated signatures after
    redelivery, planted duplicate found — and the signature rowcount
    binds a real quantity (one row per ingested doc + the plant)."""
    import os

    import pytest as _pytest

    if not os.path.isdir("/root/testdata/sf0.001"):
        _pytest.skip("driver testdata not present")
    from nba_data_pipeline_spark import harness

    rows = harness.queries()["streaming_replay_parity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    got = {r.metric: r.value for r in rows}
    sig_rows = got.pop("sig_rows")
    assert got == {
        "all_pairs_in_both": 1,
        "no_dup_signatures": 1,
        "planted_pair_found": 1,
    }
    assert sig_rows == 501  # 500 docs under doc_id<600 at sf0.001 + plant


def test_near_dedup_batch_md5_matches_single_shot(spark, tmp_path):
    """The md5-portable ingest path (hash='md5', the oracle-checkable
    twin of the xxhash64 production path): a 3-batch ingest with one
    batch redelivered must converge VALUE-for-value (est_jaccard
    included) to a single-shot ingest of the same docs — the invariant
    the driver's streaming_replay_oracle query hashes against DuckDB."""
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("kappa", "lambda")),
            (3, base.replace("eta", "mu")),
            (4, "wholly different words that share nothing at all here"),
        ],
        "doc_id long, text string",
    )
    kw = dict(num_perm=16, bands=8, threshold=0.3, hash="md5")
    multi_s, multi_p = str(tmp_path / "ms"), str(tmp_path / "mp")
    one_s, one_p = str(tmp_path / "os"), str(tmp_path / "op")
    for i in (0, 1, 1, 2):  # batch 1 redelivered
        near_dedup_batch(docs.filter(F.col("doc_id") % 3 == i), multi_s, multi_p, **kw)
    near_dedup_batch(docs, one_s, one_p, **kw)
    key = lambda r: (r.id_a, r.id_b, r.est_jaccard)
    multi = sorted(map(key, _rs(spark, multi_p).collect()))
    single = sorted(map(key, _rs(spark, one_p).collect()))
    assert multi == single and len(multi) > 0
    # signature tables agree too (same portable sigs whichever ingest)
    cols = _rs(spark, one_s).columns
    ms = sorted(map(tuple, _rs(spark, multi_s).select(*cols).collect()))
    os_ = sorted(map(tuple, _rs(spark, one_s).collect()))
    assert ms == os_


def test_stream_quality_scores_replay_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.text import (
        fit_trigram_lm,
        trigram_lm_scores,
    )
    from nba_data_pipeline_spark.streaming.ops import quality_score_batch

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        "doc_id long, text string",
    )
    lm = fit_trigram_lm(ref, "text", top_k=300).localCheckpoint()
    scores_path = str(tmp_path / "scores")

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzz qqq vvv")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "jumps over the lazy dog")], "doc_id long, text string"
    )
    quality_score_batch(b1, lm, scores_path)
    quality_score_batch(b2, lm, scores_path)
    quality_score_batch(b1, lm, scores_path)  # redelivery

    table = {r.doc_id: r for r in _rs(spark, scores_path).collect()}
    assert set(table) == {1, 2, 3}
    direct = {
        r.doc_id: r
        for r in trigram_lm_scores(b1.unionByName(b2), lm).collect()
    }
    for k in direct:
        assert table[k].avg_nll_e6 == direct[k].avg_nll_e6, k
    assert table[1].avg_nll_e6 < table[2].avg_nll_e6  # fluent beats gibberish


def test_stream_quality_scores_streaming_query(spark, tmp_path):
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import stream_quality_scores

    ref = spark.createDataFrame(
        [(i, "all work and no play makes a dull day") for i in range(5)],
        "doc_id long, text string",
    )
    lm = fit_trigram_lm(ref, "text", top_k=200).localCheckpoint()

    src = str(tmp_path / "incoming")
    spark.createDataFrame(
        [(10, "all work and no play"), (11, "xq zv pk wj")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_quality_scores(
        stream, lm, str(tmp_path / "scores"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)
    got = {r.doc_id: r.avg_nll_e6 for r in _rs(spark,
        str(tmp_path / "scores")).collect()}
    assert set(got) == {10, 11} and got[10] < got[11]


def test_stream_corpus_ingest_composed_pipeline(spark, tmp_path):
    """gate -> near-dedup -> score -> corpus MERGE as one streaming
    query; redelivery of a micro-batch converges all four tables."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import (
        corpus_ingest_batch,
        stream_corpus_ingest,
    )

    src = str(tmp_path / "src")
    paths = {k: str(tmp_path / k) for k in ("corpus", "sigs", "pairs", "scores")}
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    good = "the quick brown fox jumps and runs with great energy today " * 6
    ref = spark.createDataFrame([(0, good)], schema)
    lm = fit_trigram_lm(ref, "text")

    def run_pass():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_corpus_ingest(
            stream, lm, paths["corpus"], paths["sigs"], paths["pairs"], paths["scores"],
            checkpoint_dir=ckpt, num_perm=32, bands=16, threshold=0.3,
        )
        q.awaitTermination()

    # batch 1: one good doc, one gate-rejected runt
    spark.createDataFrame([(1, good), (2, "tiny doc")], schema).coalesce(1)\
        .write.mode("append").parquet(src)
    run_pass()
    assert {r.doc_id for r in _rs(spark, paths["corpus"]).collect()} == {1}
    assert _rs(spark, paths["sigs"]).count() == 1
    assert {r.doc_id for r in _rs(spark, paths["scores"]).collect()} == {1}

    # batch 2: a near-dup of doc 1 -> pair recorded, both kept in corpus
    spark.createDataFrame([(10, good.replace("today", "tonight"))], schema).coalesce(1)\
        .write.mode("append").parquet(src)
    run_pass()
    assert {r.doc_id for r in _rs(spark, paths["corpus"]).collect()} == {1, 10}
    pairs = {(r.id_a, r.id_b) for r in _rs(spark, paths["pairs"]).collect()}
    assert (1, 10) in pairs

    # crash-replay of batch 2: all four tables unchanged
    before = {k: _rs(spark, p).count() for k, p in paths.items()}
    corpus_ingest_batch(
        spark.createDataFrame([(10, good.replace("today", "tonight"))], schema),
        lm, paths["corpus"], paths["sigs"], paths["pairs"], paths["scores"],
        num_perm=32, bands=16, threshold=0.3,
    )
    after = {k: _rs(spark, p).count() for k, p in paths.items()}
    assert after == before


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream interval join (attribution): streaming result ==
    batch result on the same data; late/out-of-window rows excluded."""
    import datetime as dt

    from pyspark.sql import types as T

    from nba_data_pipeline_spark.streaming.ops import interval_join_streams

    t0 = dt.datetime(2024, 1, 1)
    imp_schema = T.StructType([T.StructField("user_id", T.LongType()),
                               T.StructField("imp_ts", T.TimestampType()),
                               T.StructField("imp_id", T.LongType())])
    clk_schema = T.StructType([T.StructField("user_id", T.LongType()),
                               T.StructField("clk_ts", T.TimestampType()),
                               T.StructField("clk_id", T.LongType())])
    imps = [(1, t0, 100), (1, t0 + dt.timedelta(minutes=30), 101), (2, t0, 102)]
    clks = [
        (1, t0 + dt.timedelta(minutes=5), 900),    # matches imp 100
        (1, t0 + dt.timedelta(minutes=32), 901),   # matches imp 101 only
        (2, t0 - dt.timedelta(minutes=1), 902),    # click BEFORE impression: no match
        (2, t0 + dt.timedelta(minutes=20), 903),   # outside 10m window: no match
    ]
    ip, cp = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(imps, imp_schema).write.parquet(ip)
    spark.createDataFrame(clks, clk_schema).write.parquet(cp)

    batch = interval_join_streams(
        spark.read.parquet(ip), spark.read.parquet(cp),
        "user_id", "imp_ts", "clk_ts", "10 minutes",
    )
    expected = {(r.imp_id, r.clk_id) for r in batch.collect()}
    assert expected == {(100, 900), (101, 901)}

    ls = spark.readStream.schema(imp_schema).parquet(ip)
    rs = spark.readStream.schema(clk_schema).parquet(cp)
    out = interval_join_streams(ls, rs, "user_id", "imp_ts", "clk_ts", "10 minutes")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("attrib_t").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.imp_id, r.clk_id) for r in spark.sql("SELECT * FROM attrib_t").collect()}
    assert got == expected


def test_stream_classifier_scores_replay_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F, types as T

    from nba_data_pipeline_spark.operators.quality_model import (
        fit_quality_classifier,
        quality_model_scores,
    )
    from nba_data_pipeline_spark.operators.text import tokens
    from nba_data_pipeline_spark.streaming.ops import (
        classifier_score_batch,
        stream_classifier_scores,
    )

    labeled = spark.createDataFrame(
        [(i, ("good quality prose here" if i % 2 else "junk spam noise") + f" pad{i % 3}",
          1 if i % 2 else 0) for i in range(24)],
        "doc_id long, text string, label int",
    )
    weights, b = fit_quality_classifier(labeled, "label", n_features=256)
    scores_path = str(tmp_path / "clf_scores")

    b1 = spark.createDataFrame([(100, "good quality prose here"), (101, "junk spam noise")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(102, "more quality prose")], "doc_id long, text string")
    classifier_score_batch(b1, weights, b, scores_path, n_features=256)
    classifier_score_batch(b2, weights, b, scores_path, n_features=256)
    classifier_score_batch(b1, weights, b, scores_path, n_features=256)  # redelivery
    table = {r.doc_id: r.quality_prob for r in _rs(spark, scores_path).collect()}
    assert set(table) == {100, 101, 102}
    direct = {r.doc_id: r.quality_prob for r in quality_model_scores(
        b1.unionByName(b2), weights, b, n_features=256).collect()}
    assert all(abs(table[k] - direct[k]) < 1e-12 for k in direct)
    assert table[100] > table[101]  # learned separation survives the stream

    # real streaming query over a parquet source
    src = str(tmp_path / "clf_src")
    b1.write.parquet(src)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_classifier_scores(stream, weights, b, scores_path, n_features=256,
                                 query_name="clf_stream_t")
    q.awaitTermination()
    assert _rs(spark, scores_path).count() == 3  # still converged


def test_image_dedup_batch_replay_idempotent(spark, tmp_path):
    """Continuous-ingest image near-dedup (media twin of
    near_dedup_batch): batch 2 finds its near-dups against batch 1's
    PERSISTED hashes without re-decoding them; a redelivered batch and
    a multi-batch ingest converge to the single-shot tables."""
    import numpy as np

    from nba_data_pipeline_spark.streaming.ops import image_dedup_batch

    def grad(shift):
        x = np.clip(np.linspace(0, 255, 24)[None, :] + shift, 0, 255)
        return np.stack([np.tile(x, (16, 1))] * 3, axis=-1).astype(np.uint8)

    def ppm(img):
        return bytearray(b"P6\n24 16\n255\n" + img.tobytes())

    rows = [
        (1, ppm(grad(0))),
        (2, ppm(grad(1))),       # near-dup of 1
        (3, ppm(255 - grad(0))), # unrelated
        (4, ppm(grad(2))),       # near-dup of 1 and 2, later batch
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    h_m, p_m = str(tmp_path / "hm"), str(tmp_path / "pm")
    h_1, p_1 = str(tmp_path / "h1"), str(tmp_path / "p1")
    b1 = df.filter("doc_id <= 3")
    b2 = df.filter("doc_id = 4")
    image_dedup_batch(b1, h_m, p_m)
    image_dedup_batch(b2, h_m, p_m)
    image_dedup_batch(b2, h_m, p_m)  # redelivery
    image_dedup_batch(df, h_1, p_1)  # single shot
    key = lambda r: (r.id_a, r.id_b, r.hamming)
    multi = sorted(map(key, _rs(spark, p_m).collect()))
    single = sorted(map(key, _rs(spark, p_1).collect()))
    assert multi == single
    got_pairs = {(a, b) for a, b, _ in multi}
    assert (1, 2) in got_pairs and (1, 4) in got_pairs
    assert not any(3 in p for p in got_pairs)
    assert _rs(spark, h_m).count() == 4


def test_ingest_stats_fold_matches_full_recompute(spark, tmp_path):
    """Per-source rollup maintained via fold_aggregate_state across
    micro-batches equals the single-pass aggregate over the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    good = "the quick brown fox jumps and runs with great energy today " * 6
    lm = fit_trigram_lm(spark.createDataFrame([(0, good, "ref")], schema), "text")
    paths = {k: str(tmp_path / k)
             for k in ("corpus", "sigs", "pairs", "scores", "stats")}

    def ingest(rows):
        corpus_ingest_batch(
            spark.createDataFrame(rows, schema),
            lm, paths["corpus"], paths["sigs"], paths["pairs"], paths["scores"],
            stats_path=paths["stats"], num_perm=32, bands=16, threshold=0.3,
        )

    ingest([(1, good, "web"), (2, good + " extra words here", "web"),
            (3, good.replace("fox", "owl"), "books"),
            (4, "runt", "web")])              # gate-rejected: must NOT count
    ingest([(5, good.replace("today", "tonight"), "books")])
    stats = {r.source: (r.n_docs, r.sum_chars, r.min_chars, r.max_chars)
             for r in spark.read.parquet(paths["stats"]).collect()}
    full = {r.source: (r.n_docs, r.sum_chars, r.min_chars, r.max_chars)
            for r in _rs(spark, paths["corpus"])
            .withColumn("_c", F.length("text").cast("long"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"), F.sum("_c").alias("sum_chars"),
                 F.min("_c").alias("min_chars"), F.max("_c").alias("max_chars"))
            .collect()}
    assert stats == full and set(stats) == {"web", "books"}
    assert stats["web"][0] == 2  # the runt never reached the rollup


def test_ingest_stats_bucketed_matches_flat(spark, tmp_path):
    """High-cardinality path (n_buckets set) produces byte-identical
    stats to the whole-state path over the same batches."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.streaming.ops import fold_ingest_stats

    docs = spark.createDataFrame(
        [(i, "word " * (i % 17 + 1), f"d{i % 23}") for i in range(300)],
        "doc_id long, text string, source string",
    )
    flat_p, bucket_p = str(tmp_path / "flat"), str(tmp_path / "bucketed")
    for m in range(3):
        b = docs.filter(F.col("doc_id") % 3 == m)
        fold_ingest_stats(b, flat_p)
        fold_ingest_stats(b, bucket_p, n_buckets=8)
    cols = ["source", "n_docs", "sum_chars", "min_chars", "max_chars"]
    flat = {tuple(r) for r in _rs(spark, flat_p).select(cols).collect()}
    bucketed = {tuple(r) for r in
                _rs(spark, bucket_p).select(cols).collect()}
    assert flat == bucketed and len(flat) == 23


def test_takedown_batch_full_state_consistency(spark, tmp_path):
    """Takedown removes the doomed ids from corpus/sigs/pairs/scores/
    hashes/stats while keeping shared content seen and recomputing only
    the affected stats keys; a second run removes nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import (
        corpus_ingest_batch,
        seen_content_filter_batch,
        takedown_batch,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    good = "the quick brown fox jumps and runs with great energy today " * 6
    near = good.replace("today", "tonight")
    other = "a calm grey owl watches the quiet forest and waits at night " * 6
    lm = fit_trigram_lm(spark.createDataFrame([(0, good, "ref")], schema), "text")
    paths = {k: str(tmp_path / k)
             for k in ("corpus", "sigs", "pairs", "scores", "bloom",
                       "hashes", "stats")}

    def ingest(rows):
        corpus_ingest_batch(
            spark.createDataFrame(rows, schema), lm,
            paths["corpus"], paths["sigs"], paths["pairs"], paths["scores"],
            bloom_path=paths["bloom"], hashes_path=paths["hashes"],
            stats_path=paths["stats"], num_perm=32, bands=16, threshold=0.3,
        )

    # doc 3 SHARES doc 1's exact content (same hash, different id)
    ingest([(1, good, "web"), (2, near, "web"), (3, good, "books"),
            (4, other, "books")])
    assert {r.doc_id for r in _rs(spark, paths["corpus"]).collect()} \
        == {1, 2, 3, 4}
    pairs0 = _rs(spark, paths["pairs"]).count()
    assert pairs0 >= 1  # (1,2) near-dup at least

    removed = takedown_batch(
        spark.createDataFrame([(2,), (3,)], "doc_id long"),
        paths["corpus"], signature_path=paths["sigs"],
        pairs_path=paths["pairs"], scores_path=paths["scores"],
        stats_path=paths["stats"], hashes_path=paths["hashes"],
    )
    assert removed["corpus"] == 2 and removed["signatures"] == 2
    assert removed["scores"] == 2 and removed["pairs"] >= 1
    # doc 3's content survives via doc 1 -> its hash must NOT be removed;
    # doc 2's content is gone -> exactly one hash removed
    assert removed["hashes"] == 1
    assert {r.doc_id for r in _rs(spark, paths["corpus"]).collect()} == {1, 4}
    # seen filter: doc 2's content re-ingests, doc 1's is still seen
    replay = spark.createDataFrame([(92, near, "web"), (91, good, "web")], schema)
    out = seen_content_filter_batch(replay, paths["bloom"], paths["hashes"])
    assert {r.doc_id for r in out.collect()} == {92}
    # stats recomputed for the affected keys only, from survivors
    stats = {r.source: r.n_docs
             for r in spark.read.parquet(paths["stats"]).collect()}
    assert stats == {"web": 1, "books": 1}
    # idempotent
    removed2 = takedown_batch(
        spark.createDataFrame([(2,), (3,)], "doc_id long"),
        paths["corpus"], signature_path=paths["sigs"],
        pairs_path=paths["pairs"], scores_path=paths["scores"],
        stats_path=paths["stats"], hashes_path=paths["hashes"],
    )
    assert removed2["corpus"] == 0 and removed2["hashes"] == 0
    assert removed2["pairs"] == 0 and removed2["signatures"] == 0


def test_takedown_extends_to_image_state(spark, tmp_path):
    """extra_id_tables / extra_pair_tables carry the image-dedup state
    through the same takedown step."""
    import numpy as np

    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import (
        corpus_ingest_batch,
        image_dedup_batch,
        takedown_batch,
    )

    def grad(shift):
        x = np.clip(np.linspace(0, 255, 24)[None, :] + shift, 0, 255)
        return np.stack([np.tile(x, (16, 1))] * 3, axis=-1).astype(np.uint8)

    def ppm(img):
        return bytearray(b"P6\n24 16\n255\n" + img.tobytes())

    imgs = spark.createDataFrame(
        [(1, ppm(grad(0))), (2, ppm(grad(1))), (3, ppm(255 - grad(0)))],
        "doc_id long, payload binary",
    )
    h_p, ip_p = str(tmp_path / "ih"), str(tmp_path / "ip")
    image_dedup_batch(imgs, h_p, ip_p)
    assert _rs(spark, ip_p).count() >= 1  # (1,2) near-dup

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
    ])
    good = "the quick brown fox jumps and runs with great energy today " * 6
    lm = fit_trigram_lm(spark.createDataFrame([(0, good)], schema), "text")
    p = {k: str(tmp_path / k) for k in ("corpus", "sigs", "pairs", "scores")}
    corpus_ingest_batch(
        spark.createDataFrame(
            [(1, good), (2, good + " x"), (3, good.replace("fox", "owl"))], schema
        ),
        lm, p["corpus"], p["sigs"], p["pairs"], p["scores"],
        num_perm=32, bands=16, threshold=0.3,
    )
    removed = takedown_batch(
        spark.createDataFrame([(2,)], "doc_id long"),
        p["corpus"], signature_path=p["sigs"], pairs_path=p["pairs"],
        scores_path=p["scores"],
        extra_id_tables={"image_hashes": (h_p, "doc_id")},
        extra_pair_tables={"image_pairs": ip_p},
    )
    assert removed["image_hashes"] == 1
    assert removed["image_pairs"] >= 1
    assert {r.doc_id for r in _rs(spark, h_p).collect()} == {1, 3}
    ip = _rs(spark, ip_p)
    assert ip.filter("id_a = 2 OR id_b = 2").count() == 0


def test_takedown_preserves_corpus_partitioning(spark, tmp_path):
    import os

    from nba_data_pipeline_spark.streaming.ops import takedown_batch

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"text {i}", i % 4) for i in range(40)],
        "doc_id long, text string, shard int",
    ).write.partitionBy("shard").parquet(path)
    takedown_batch(
        spark.createDataFrame([(3,), (7,)], "doc_id long"),
        path, corpus_partition_by=("shard",),
    )
    # layout survives and the ids are gone
    assert any(d.startswith("shard=") for d in os.listdir(path))
    left = spark.read.parquet(path)
    assert left.count() == 38
    assert left.filter("doc_id IN (3, 7)").count() == 0
    assert left.select("shard").distinct().count() == 4


def test_takedown_infers_partition_layout_and_merges_schema(spark, tmp_path):
    """Without an explicit corpus_partition_by, takedown must detect the
    hive layout from the directory tree instead of flattening it; and a
    schema-evolved table (per-file heterogeneous columns) must keep its
    evolved column's values through the rewrite."""
    import os

    from nba_data_pipeline_spark.streaming.ops import takedown_batch

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"text {i}", i % 4) for i in range(20)],
        "doc_id long, text string, shard int",
    ).write.partitionBy("shard").parquet(path)
    # evolved batch: extra column only in the appended files
    spark.createDataFrame(
        [(i, f"text {i}", i % 4, "en") for i in range(20, 30)],
        "doc_id long, text string, shard int, lang string",
    ).write.partitionBy("shard").mode("append").parquet(path)

    takedown_batch(spark.createDataFrame([(3,), (25,)], "doc_id long"), path)

    assert any(d.startswith("shard=") for d in os.listdir(path))
    left = spark.read.option("mergeSchema", True).parquet(path)
    assert left.count() == 28
    assert left.filter("doc_id IN (3, 25)").count() == 0
    # the evolved column survived the rewrite with its values
    assert left.filter("lang = 'en'").count() == 9


def test_takedown_extra_tables_accept_partition_cols(spark, tmp_path):
    """extra_id_tables/extra_pair_tables tuple forms with partition
    columns keep those tables' layouts; bare forms auto-detect."""
    import os

    from nba_data_pipeline_spark.streaming.ops import takedown_batch

    corpus_p = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    ).write.parquet(corpus_p)
    extra_p = str(tmp_path / "img_hashes")
    spark.createDataFrame(
        [(i, i * 7, i % 3) for i in range(10)],
        "image_id long, dhash long, part int",
    ).write.partitionBy("part").parquet(extra_p)
    pairs_p = str(tmp_path / "img_pairs")
    spark.createDataFrame(
        [(1, 2, 0), (3, 4, 1), (5, 6, 0)], "id_a long, id_b long, part int"
    ).write.partitionBy("part").parquet(pairs_p)

    removed = takedown_batch(
        spark.createDataFrame([(3,), (5,)], "doc_id long"),
        corpus_p,
        extra_id_tables={"img": (extra_p, "image_id", ("part",))},
        extra_pair_tables={"img_pairs": pairs_p},  # bare form: auto-detect
    )
    assert removed["img"] == 2 and removed["img_pairs"] == 2
    assert any(d.startswith("part=") for d in os.listdir(extra_p))
    assert any(d.startswith("part=") for d in os.listdir(pairs_p))
    assert spark.read.parquet(extra_p).count() == 8
    assert _rs(spark, pairs_p).count() == 1


def test_reconcile_ingest_stats_repairs_divergence(spark, tmp_path):
    """reconcile_ingest_stats recomputes the rollup from the corpus (the
    source of truth), repairing the documented crash-divergence window
    of fold_ingest_stats."""
    from nba_data_pipeline_spark.streaming.ops import (
        fold_ingest_stats,
        reconcile_ingest_stats,
    )

    corpus_p, stats_p = str(tmp_path / "corpus"), str(tmp_path / "stats")
    b1 = spark.createDataFrame(
        [(1, "alpha beta", "web"), (2, "gamma", "web"), (3, "delta e", "book")],
        "doc_id long, text string, source string",
    )
    b2 = spark.createDataFrame(
        [(4, "epsilon zeta eta", "web")], "doc_id long, text string, source string"
    )
    b1.write.parquet(corpus_p)
    b2.write.mode("append").parquet(corpus_p)
    # simulate the crash window: only batch 1 was folded
    fold_ingest_stats(b1, stats_p, "source")
    assert (
        spark.read.parquet(stats_p).filter("source = 'web'").first().n_docs == 2
    )  # diverged (corpus has 3 web docs)
    reconcile_ingest_stats(spark, corpus_p, stats_p, "source")
    got = {r.source: r for r in spark.read.parquet(stats_p).collect()}
    assert got["web"].n_docs == 3 and got["book"].n_docs == 1
    assert got["web"].max_chars == len("epsilon zeta eta")


def test_takedown_partition_scoped_rewrite(spark, tmp_path):
    """On a partitioned corpus, takedown must rewrite ONLY the
    partitions holding doomed rows (unaffected partition files stay
    byte-identical on disk — same inode), and a partition whose last
    rows are doomed must have its directory deleted, not left stale."""
    import os

    from nba_data_pipeline_spark.streaming.ops import takedown_batch

    path = str(tmp_path / "corpus")
    rows = [(i, f"text {i}", i % 4) for i in range(40)] + [(100, "lonely", 9)]
    spark.createDataFrame(
        rows, "doc_id long, text string, shard int"
    ).write.partitionBy("shard").parquet(path)

    def inodes(shard):
        d = os.path.join(path, f"shard={shard}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_unaffected = inodes(2)  # no doomed ids live in shard=2
    # doom two ids in shard=3 and the ONLY id in shard=9
    removed = takedown_batch(
        spark.createDataFrame([(3,), (7,), (100,)], "doc_id long"), path
    )
    assert removed["corpus"] == 3
    # unaffected partition: same files, same inodes (never rewritten)
    assert inodes(2) == before_unaffected
    # affected partition rewritten, doomed rows gone
    left = spark.read.parquet(path)
    assert left.count() == 38
    assert left.filter("doc_id IN (3, 7, 100)").count() == 0
    # the emptied partition's directory is deleted, not stale
    assert not os.path.exists(os.path.join(path, "shard=9"))
    assert left.select("shard").distinct().count() == 4
    # idempotent second run removes nothing and leaves layout intact
    removed2 = takedown_batch(
        spark.createDataFrame([(3,), (100,)], "doc_id long"), path
    )
    assert removed2["corpus"] == 0
    assert spark.read.parquet(path).count() == 38


def test_bucketed_state_ingest_and_scoped_takedown(spark, tmp_path):
    """state_buckets makes pmod(xxhash64(key), N) the leading merge-key
    column of the signature/pairs/scores snapshot tables: results match
    the unbucketed path, replay is idempotent, and takedown removes the
    doomed rows from every bucketed table while keeping its layout."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        quality_score_batch,
        takedown_batch,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows1 = [(i, f"{text} doc {i}") for i in range(20)]
    rows2 = [(i, f"{text} doc {i}") for i in range(20, 30)]
    schema = "doc_id long, text string"
    sig_p, pairs_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    scores_p = str(tmp_path / "scores")
    flat_s, flat_p = str(tmp_path / "flat_sigs"), str(tmp_path / "flat_pairs")
    lm = fit_trigram_lm(spark.createDataFrame(rows1, schema), "text")

    def key(p):
        return S._load_manifest(p, S.current_version(p))["key"]

    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    for b in (b1, b2, b2):  # b2 twice = redelivery
        near_dedup_batch(b, sig_p, pairs_p, state_buckets=8, threshold=0.2)
        near_dedup_batch(b, flat_s, flat_p, threshold=0.2)
        quality_score_batch(b, lm, scores_p, state_buckets=8)
    assert key(sig_p) == ["bucket", "doc_id"] and key(scores_p) == ["bucket", "doc_id"]
    assert key(pairs_p) == ["bucket", "id_a", "id_b"]
    assert _rs(spark, sig_p).select("doc_id", "bucket").distinct().count() == 30
    assert _rs(spark, sig_p).count() == 30
    want = sorted(tuple(r) for r in _rs(spark, flat_p).collect())
    assert sorted(tuple(r) for r in _rs(spark, pairs_p).drop("bucket").collect()) == want
    buckets = _rs(spark, sig_p).select(
        (F.col("bucket") == F.pmod(F.xxhash64("doc_id"), F.lit(8))).alias("ok")
    )
    assert buckets.filter(~F.col("ok")).count() == 0

    corpus_p = str(tmp_path / "corpus")
    spark.createDataFrame(rows1 + rows2, schema).write.parquet(corpus_p)
    doomed = spark.createDataFrame([(5,), (25,)], "doc_id long")
    removed = takedown_batch(
        doomed, corpus_p, signature_path=sig_p, scores_path=scores_p
    )
    assert removed["signatures"] == 2 and removed["scores"] == 2
    assert _rs(spark, sig_p).filter("doc_id IN (5, 25)").count() == 0
    assert _rs(spark, scores_p).filter("doc_id IN (5, 25)").count() == 0
    assert key(sig_p) == ["bucket", "doc_id"]
    near_dedup_batch(  # the layout still takes bucketed merges
        spark.createDataFrame([(5, rows1[5][1])], schema), sig_p, pairs_p,
        state_buckets=8, threshold=0.2,
    )
    assert _rs(spark, sig_p).count() == 29


def test_layout_guard_rejects_flat_or_remoduled_merge(spark, tmp_path):
    """ADVICE r11: one near_dedup_batch/quality_score_batch call
    without state_buckets against an already-bucketed state table used
    to silently flatten the layout (leaving bucket as a data column
    beside stale bucket dirs — duplicate rows on the next read). The
    state writer's manifest-key and _layout_meta.json modulus guards
    must refuse the flat call, the reverse (bucketed call on a flat
    table), and a changed modulus."""
    import pytest

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        quality_score_batch,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{text} doc {i}") for i in range(12)]
    schema = "doc_id long, text string"
    b = spark.createDataFrame(rows, schema)
    lm = fit_trigram_lm(b, "text")

    sig_p, pairs_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    near_dedup_batch(b, sig_p, pairs_p, state_buckets=8, threshold=0.2)
    with pytest.raises(ValueError, match="cannot mix"):
        near_dedup_batch(b, sig_p, pairs_p, threshold=0.2)  # flat call
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        near_dedup_batch(b, sig_p, pairs_p, state_buckets=16, threshold=0.2)
    # the guard refused BEFORE touching disk: the original layout reads back
    assert _rs(spark, sig_p).select("doc_id").distinct().count() == 12

    scores_p = str(tmp_path / "scores")
    quality_score_batch(b, lm, scores_p)  # flat table
    with pytest.raises(ValueError, match="cannot mix"):
        quality_score_batch(b, lm, scores_p, state_buckets=8)


def test_layout_guard_on_fold_and_cdc_state(spark, tmp_path):
    """fold_aggregate_state_table has the modulus-is-layout exposure:
    merging with a different n_buckets splits one key across two bucket
    dirs. The guard must raise instead. (CDC state is a snapshot table
    keyed on the CDC keys alone, so it has no modulus to guard.)"""
    import pytest

    from nba_data_pipeline_spark.operators.incremental import (
        fold_aggregate_state_table,
    )

    batch = spark.createDataFrame([(i % 3, i) for i in range(30)], "k long, v long")
    fold_p = str(tmp_path / "fold")
    specs = {"total": ("sum", "v"), "n": ("count", "v")}
    fold_aggregate_state_table(spark, batch, fold_p, ["k"], specs, n_buckets=8)
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        fold_aggregate_state_table(spark, batch, fold_p, ["k"], specs, n_buckets=32)


def test_bucketed_merge_crash_mid_swap_leaves_state_readable(spark, tmp_path):
    """VERDICT r11 task #4 crash probe: a state_buckets rewrite killed
    mid-swap must leave the already-present buckets readable, with each
    bucket atomically pre- or post-batch (the per-leaf swap stages both
    copies under dot-prefixed dirs Spark ignores). With the batch_id
    epoch fence, REPLAYING the interrupted batch applies exactly the
    not-yet-applied buckets — the additive fold converges instead of
    double-counting the buckets the crashed run already swapped."""
    import shutil as real_shutil

    import pytest

    from nba_data_pipeline_spark.operators.incremental import (
        fold_aggregate_state_table,
    )
    from nba_data_pipeline_spark.sinks import writer as writer_mod

    specs = {"total": ("sum", "v"), "n": ("count", "v")}
    b1 = spark.createDataFrame([(i, i) for i in range(40)], "k long, v long")
    b2 = spark.createDataFrame([(i, 100 + i) for i in range(40)], "k long, v long")

    class Boom(RuntimeError):
        pass

    orig_move = real_shutil.move
    # inject a crash on the Nth shutil.move inside the swap loop — each
    # crash point leaves a different prefix of buckets swapped
    for crash_at in (1, 2, 3):
        fold_p = str(tmp_path / f"fold{crash_at}")
        fold_aggregate_state_table(
            spark, b1, fold_p, ["k"], specs, n_buckets=8, batch_id=1
        )
        baseline = {
            (r.k, r.total, r.n) for r in spark.read.parquet(fold_p).collect()
        }
        calls = {"n": 0}

        def crashing_move(src, dst, _crash_at=crash_at, _calls=calls):
            _calls["n"] += 1
            if _calls["n"] >= _crash_at:
                raise Boom(f"injected crash at move #{_calls['n']}")
            return orig_move(src, dst)

        writer_mod.shutil.move = crashing_move
        try:
            with pytest.raises(Boom):
                fold_aggregate_state_table(
                    spark, b2, fold_p, ["k"], specs, n_buckets=8, batch_id=2
                )
        finally:
            writer_mod.shutil.move = orig_move
        # the table still reads: every visible bucket dir is parquet,
        # no dot-staged dir is picked up, no bucket vanished outright
        df = spark.read.parquet(fold_p)
        got = {(r.k, r.total, r.n) for r in df.collect()}
        # each key's row is either its pre-merge or post-merge value
        pre = {t[0]: t for t in baseline}
        for k, total, n in got:
            assert (k, total, n) == pre[k] or (total, n) == (
                pre[k][1] + 100 + k,
                pre[k][2] + 1,
            )
        # replaying the interrupted batch_id converges exactly: fenced
        # buckets are skipped, stale buckets catch up
        fold_aggregate_state_table(
            spark, b2, fold_p, ["k"], specs, n_buckets=8, batch_id=2
        )
        after = {r.k: (r.total, r.n) for r in spark.read.parquet(fold_p).collect()}
        assert after == {k: (k + 100 + k, 2) for k in range(40)}
        # a full REDELIVERY of the fenced batch is a no-op
        fold_aggregate_state_table(
            spark, b2, fold_p, ["k"], specs, n_buckets=8, batch_id=2
        )
        again = {r.k: (r.total, r.n) for r in spark.read.parquet(fold_p).collect()}
        assert again == after


def test_takedown_dooms_entire_unpartitioned_corpus(spark, tmp_path):
    """ADVICE r11: a takedown dooming EVERY row of an unpartitioned
    corpus must succeed — the corpus becomes absent/empty, dependent
    state empties, and nothing crashes on schema inference of a
    file-less directory."""
    from nba_data_pipeline_spark.sinks.writer import table_exists
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        takedown_batch,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{text} doc {i}") for i in range(10)]
    schema = "doc_id long, text string"
    corpus_p = str(tmp_path / "corpus")
    b = spark.createDataFrame(rows, schema)
    b.write.parquet(corpus_p)
    sig_p, pairs_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    near_dedup_batch(b, sig_p, pairs_p, threshold=0.2)

    removed = takedown_batch(
        b.select("doc_id"), corpus_p, signature_path=sig_p, pairs_path=pairs_p
    )
    assert removed["corpus"] == 10
    assert removed["signatures"] == 10
    # emptied tables are absent under the table_exists contract
    assert not table_exists(corpus_p) or spark.read.parquet(corpus_p).count() == 0
    assert not table_exists(sig_p) or _rs(spark, sig_p).count() == 0
    # idempotent: the replay removes nothing and still doesn't crash
    removed2 = takedown_batch(
        b.select("doc_id"), corpus_p, signature_path=sig_p, pairs_path=pairs_p
    )
    assert removed2["corpus"] == 0


def test_takedown_keeps_null_keyed_rows(spark, tmp_path):
    """ADVICE r11 NULL semantics: doom detection is join-based, so a
    NULL-keyed row in a state table survives a takedown of OTHER ids
    (the old ~isin(...) predicate evaluated to NULL and silently
    dropped it)."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.streaming.ops import takedown_batch

    corpus_p = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).write.parquet(corpus_p)
    scores_p = str(tmp_path / "scores")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(1, 0.5), (2, 0.7), (None, 0.9)], schema
    ).write.parquet(scores_p)
    pairs_p = str(tmp_path / "pairs")
    pair_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("est_jaccard", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(1, 2, 0.8), (None, 2, 0.6), (None, None, 0.4)], pair_schema
    ).write.parquet(pairs_p)

    doomed = spark.createDataFrame([(1,)], "doc_id long")
    removed = takedown_batch(
        doomed, corpus_p, scores_path=scores_p, pairs_path=pairs_p
    )
    assert removed["scores"] == 1
    scores = spark.read.parquet(scores_p)
    assert scores.count() == 2  # doc 2 AND the NULL-keyed row survive
    assert scores.filter(F.col("doc_id").isNull()).count() == 1
    pairs = _rs(spark, pairs_p)
    # (1,2) doomed via id_a=1; (NULL,2) and (NULL,NULL) survive
    assert removed["pairs"] == 1
    assert pairs.count() == 2
    assert pairs.filter(F.col("id_a").isNull()).count() == 2


@pytest.mark.slow  # r17: >18s; deselected by the default profile (driver budget), still run via -m slow at round close
def test_ingest_stats_epoch_fence_exact_under_redelivery(spark, tmp_path):
    """stats_buckets + batch_id (forwarded from the streaming epoch)
    make the additive stats fold exact under redelivery: replaying the
    same batch_id is a no-op, the next batch_id folds normally. Without
    batch_id the double-count is the documented reconcile contract."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    good = "the quick brown fox jumps and runs with great energy today " * 6
    lm = fit_trigram_lm(spark.createDataFrame([(0, good, "a")], schema), "text")
    paths = {
        k: str(tmp_path / k)
        for k in ("corpus", "sigs", "pairs", "scores", "stats")
    }

    def ingest(docs, batch_id):
        corpus_ingest_batch(
            spark.createDataFrame(docs, schema), lm,
            paths["corpus"], paths["sigs"], paths["pairs"], paths["scores"],
            stats_path=paths["stats"], stats_buckets=4, batch_id=batch_id,
            num_perm=32, bands=16, threshold=0.3,
        )

    ingest([(1, good, "a"), (2, good + " extra", "b")], batch_id=1)
    ingest([(1, good, "a"), (2, good + " extra", "b")], batch_id=1)  # redelivery
    stats = {
        r.source: r.n_docs
        for r in spark.read.parquet(paths["stats"]).collect()
    }
    assert stats == {"a": 1, "b": 1}, stats
    ingest([(3, good.replace("fox", "owl"), "a")], batch_id=2)
    stats = {
        r.source: r.n_docs
        for r in spark.read.parquet(paths["stats"]).collect()
    }
    assert stats == {"a": 2, "b": 1}, stats


def test_rebuild_seen_bloom_after_takedown(spark, tmp_path):
    """rebuild_seen_bloom recomputes the word table to exactly the live
    corpus content (Bloom bits can't be unset, so heavy takedowns
    ratchet the FP rate until a rebuild): the rebuilt table is
    bit-identical to a fresh bloom_build over the surviving corpus, the
    meta sidecar revalidates, and the two-stage seen filter still drops
    resident content while re-admitting taken-down content."""
    from nba_data_pipeline_spark.operators.bloom import (
        SEEN_K,
        SEEN_M_BITS,
        bloom_build,
    )
    from nba_data_pipeline_spark.streaming.ops import (
        rebuild_seen_bloom,
        record_ingested_content,
        seen_content_filter_batch,
        takedown_batch,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{text} doc {i}") for i in range(20)]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    corpus_p = str(tmp_path / "corpus")
    bloom_p = str(tmp_path / "bloom")
    hashes_p = str(tmp_path / "hashes")
    docs.write.parquet(corpus_p)
    record_ingested_content(docs, bloom_p, hashes_p)

    doomed = docs.filter(F.col("doc_id") < 10).select("doc_id")
    takedown_batch(doomed, corpus_p, hashes_path=hashes_p)
    rebuild_seen_bloom(spark, corpus_p, bloom_p)

    survivors = spark.read.parquet(corpus_p)
    want = {
        (r.word_idx, r.bits)
        for r in bloom_build(survivors, "text", SEEN_M_BITS, SEEN_K).collect()
    }
    got = {(r.word_idx, r.bits) for r in spark.read.parquet(bloom_p).collect()}
    assert got == want

    # resident content (replayed under new ids) still drops; taken-down
    # content re-admits cleanly through BOTH stages
    replay = survivors.select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(2000 + i, f"{text} doc {i}") for i in range(10)], schema
        )
    )
    out = seen_content_filter_batch(replay, bloom_p, hashes_p)
    ids = {r.doc_id for r in out.collect()}
    assert ids == {2000 + i for i in range(10)}, ids


def test_component_state_two_batches_match_single_shot(spark, tmp_path):
    """update_component_state across two ingest batches (with the
    second redelivered) converges to connected_components over the
    full pair history — including a batch-2 edge that MERGES two
    batch-1 components; only changed rows are merged (a redelivery
    rewrites no file)."""
    from nba_data_pipeline_spark.operators.dedup import connected_components
    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.streaming.ops import update_component_state

    labels_p = str(tmp_path / "labels")
    b1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    b2 = spark.createDataFrame(
        [(3, 10), (30, 31)], "id_a long, id_b long"  # merges {1..3}+{10,11}
    )
    update_component_state(b1, labels_p, state_buckets=4)
    update_component_state(b2, labels_p, state_buckets=4)
    update_component_state(b2, labels_p, state_buckets=4)  # redelivery

    got = {r.doc_id: r.component_id for r in _rs(spark, labels_p).collect()}
    want = {
        r.doc_id: r.component_id
        for r in connected_components(b1.unionByName(b2)).collect()
    }
    assert got == want
    assert got[11] == 1 and got[20] == 20 and got[30] == 30

    # replay rewrote nothing: the redelivered batch's changed set is
    # empty, so its commit carries every file by reference
    def files():
        v = S.current_version(labels_p)
        return {f["path"] for f in S._load_manifest(labels_p, v)["files"]}

    before = files()
    update_component_state(b2, labels_p, state_buckets=4)
    assert files() == before


def test_corpus_ingest_maintains_component_state(spark, tmp_path):
    """components_path wires live cluster labels into the composed
    ingest: near-dup docs land in one component, the unrelated doc in
    its own, and the labels table survives a batch replay."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    good = "the quick brown fox jumps and runs with great energy today " * 6
    lm = fit_trigram_lm(spark.createDataFrame([(0, good)], schema), "text")
    p = {k: str(tmp_path / k)
         for k in ("corpus", "sigs", "pairs", "scores", "components")}

    def ingest(docs):
        corpus_ingest_batch(
            spark.createDataFrame(docs, schema), lm,
            p["corpus"], p["sigs"], p["pairs"], p["scores"],
            components_path=p["components"],
            num_perm=32, bands=16, threshold=0.3,
        )

    ingest([(1, good), (2, good.replace("today", "tonight"))])
    ingest([(10, good), (11, "wholly different words that share nothing at all")])
    ingest([(10, good), (11, "wholly different words that share nothing at all")])

    labels = {
        r.doc_id: r.component_id
        for r in _rs(spark, p["components"]).collect()
    }
    assert labels[1] == 1 and labels[2] == 1 and labels[10] == 1
    # doc 11 has no near-dup pair, so it never enters the pair graph —
    # cluster membership is defined over the PAIR table (absent == own
    # implicit singleton)
    assert 11 not in labels


def test_takedown_crash_mid_swap_replay_converges(spark, tmp_path):
    """takedown_batch on a partitioned corpus killed mid partition-swap:
    the corpus stays readable (each partition atomically pre- or
    post-takedown), and re-running the same takedown finishes the job —
    the anti-join is idempotent, so no special recovery path exists or
    is needed."""
    import shutil as real_shutil

    import pytest

    from nba_data_pipeline_spark.sinks import writer as writer_mod
    from nba_data_pipeline_spark.streaming.ops import takedown_batch

    orig_move = real_shutil.move

    class Boom(RuntimeError):
        pass

    corpus_p = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(i, f"text {i}", f"s{i % 4}") for i in range(40)],
        "doc_id long, text string, source string",
    )
    docs.write.partitionBy("source").parquet(corpus_p)
    # doomed ids span ALL four source partitions (i % 5 == 0 hits
    # sources 0..3) — an id set correlated with the partition key
    # would touch fewer leaves and the injected crash never fires
    doomed = spark.createDataFrame([(i,) for i in range(0, 40, 5)], "doc_id long")

    calls = {"n": 0}

    def crashing_move(src, dst, _calls=calls):
        _calls["n"] += 1
        if _calls["n"] >= 3:
            raise Boom("injected")
        return orig_move(src, dst)

    writer_mod.shutil.move = crashing_move
    try:
        with pytest.raises(Boom):
            takedown_batch(doomed, corpus_p)
    finally:
        writer_mod.shutil.move = orig_move
    # readable; every partition is fully pre- (10 docs) or fully
    # post-takedown (8 docs)
    # materialize the mid-crash view BEFORE the replay swaps files out
    # from under the lazy frame (the round-10 probe lesson)
    mid = spark.read.parquet(corpus_p).localCheckpoint(eager=True)
    mid_n = mid.count()
    per_src = {
        r.source: r.n
        for r in mid.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_src.values()) <= {8, 10}, per_src
    # replay finishes the takedown exactly
    removed = takedown_batch(doomed, corpus_p)
    left = {r.doc_id for r in spark.read.parquet(corpus_p).collect()}
    assert left == {i for i in range(40) if i % 5 != 0}
    assert removed["corpus"] + (40 - mid_n) == 8


def test_bucketed_merge_crash_between_leaf_renames_no_row_loss(spark, tmp_path):
    """ADVICE r12 #1 regression: kill os.rename in every window of the
    per-leaf swap (stage-in, live->aside, staged->live). Before the
    heal-before-read fix, a crash between the two renames left the leaf
    absent; the replayed merge read the bucket as EMPTY, the loop's
    self-heal deleted .swap-old (the only copy), and the bucket's prior
    rows were silently lost. Now: after any crash + replay, every
    pre-existing row not updated by the batch must still be present."""
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import writer as writer_mod
    from nba_data_pipeline_spark.sinks.writer import upsert_table

    class Boom(RuntimeError):
        pass

    orig_rename = _os.rename

    def bucketed(df):
        return df.withColumn("bucket", F.pmod(F.xxhash64("k"), F.lit(4)))

    b1 = bucketed(
        spark.createDataFrame([(i, float(i)) for i in range(40)], "k long, v double")
    )
    # update only even keys — odd keys share leaves with updates and are
    # exactly the rows the old bug lost
    b2 = bucketed(
        spark.createDataFrame(
            [(i, 1000.0 + i) for i in range(0, 40, 2)], "k long, v double"
        )
    )
    want = {i: (1000.0 + i if i % 2 == 0 else float(i)) for i in range(40)}
    # rename call sites per leaf: stage-in (shutil.move), live->aside,
    # staged->live; crash points chosen to land in each window across
    # the first two leaves
    for crash_at in (1, 2, 3, 4, 5, 6):
        path = str(tmp_path / f"m{crash_at}")
        upsert_table(spark, b1, path, "k", partition_by=["bucket"], buckets=4)
        calls = {"n": 0}

        def crashing_rename(src, dst, *a, _c=crash_at, _calls=calls, **kw):
            _calls["n"] += 1
            if _calls["n"] >= _c:
                raise Boom(f"injected crash at rename #{_calls['n']}")
            return orig_rename(src, dst, *a, **kw)

        writer_mod.os.rename = crashing_rename
        try:
            with pytest.raises(Boom):
                upsert_table(
                    spark, b2, path, "k", partition_by=["bucket"], buckets=4
                )
        finally:
            writer_mod.os.rename = orig_rename
        # replay converges with zero row loss (check_partition_layout
        # heals the interrupted swap before the state read)
        upsert_table(spark, b2, path, "k", partition_by=["bucket"], buckets=4)
        got = {r.k: r.v for r in spark.read.parquet(path).collect()}
        assert got == want, (crash_at, sorted(set(want) - set(got)))


def test_rebuild_seen_bloom_after_total_takedown(spark, tmp_path):
    """ADVICE r12 #3: rebuild_seen_bloom after a takedown that emptied
    the corpus must not crash — the word table and its meta are removed
    together (absence = cold start), and content re-ingests cleanly."""
    from nba_data_pipeline_spark.sinks.writer import table_exists
    from nba_data_pipeline_spark.streaming.ops import (
        rebuild_seen_bloom,
        record_ingested_content,
        seen_content_filter_batch,
        takedown_batch,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{text} doc {i}") for i in range(8)]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    corpus_p = str(tmp_path / "corpus")
    bloom_p = str(tmp_path / "bloom")
    hashes_p = str(tmp_path / "hashes")
    docs.write.parquet(corpus_p)
    record_ingested_content(docs, bloom_p, hashes_p)

    takedown_batch(docs.select("doc_id"), corpus_p, hashes_path=hashes_p)
    # depending on plan shape the emptied corpus materializes as absent
    # OR as a zero-row parquet table — rebuild must handle both
    rebuild_seen_bloom(spark, corpus_p, bloom_p)
    # cold start: nothing is flagged seen, all content re-admits
    out = seen_content_filter_batch(docs, bloom_p, hashes_p)
    assert out.count() == 8
    # the truly-ABSENT corpus branch (the ADVICE crash): filter+meta
    # are deleted together and nothing raises
    import shutil as _shutil

    if table_exists(corpus_p):
        _shutil.rmtree(corpus_p)
    rebuild_seen_bloom(spark, corpus_p, bloom_p)
    assert not table_exists(bloom_p)
    assert seen_content_filter_batch(docs, bloom_p, hashes_p).count() == 8
    # re-recording and rebuilding from a live corpus still works
    docs.write.mode("overwrite").parquet(corpus_p)
    record_ingested_content(docs, bloom_p, hashes_p)
    rebuild_seen_bloom(spark, corpus_p, bloom_p)
    assert table_exists(bloom_p)
    assert seen_content_filter_batch(docs, bloom_p, hashes_p).count() == 0


def test_legacy_state_tables_gain_layout_sidecar_on_merge(spark, tmp_path):
    """ADVICE r12 #4: a pre-sidecar state table (trusted on first use)
    must gain the bucket-modulus guard on its next successful MERGE —
    not only on first create — for fold state tables."""
    import os as _os

    import pytest

    from nba_data_pipeline_spark.operators.incremental import (
        fold_aggregate_state_table,
    )
    from nba_data_pipeline_spark.sinks.writer import LAYOUT_META

    specs = {"total": ("sum", "v")}
    b = spark.createDataFrame([(i, i) for i in range(20)], "k long, v long")
    fold_p = str(tmp_path / "fold")
    fold_aggregate_state_table(spark, b, fold_p, ["k"], specs, n_buckets=8)
    _os.remove(_os.path.join(fold_p, LAYOUT_META))  # legacy table
    fold_aggregate_state_table(spark, b, fold_p, ["k"], specs, n_buckets=8)
    assert _os.path.exists(_os.path.join(fold_p, LAYOUT_META))
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        fold_aggregate_state_table(spark, b, fold_p, ["k"], specs, n_buckets=4)


def test_rebuild_component_labels_restores_live_representatives(spark, tmp_path):
    """VERDICT r12 task #5: after a takedown removes a component's
    min-id doc, incremental labels keep naming the departed id;
    rebuild_component_labels recomputes representatives from the live
    pair table — departed docs drop out of the labeling, surviving
    components get a live min."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S

    from nba_data_pipeline_spark.streaming.ops import (
        rebuild_component_labels,
        takedown_batch,
        update_component_state,
    )

    pairs_p = str(tmp_path / "pairs")
    labels_p = str(tmp_path / "labels")
    corpus_p = str(tmp_path / "corpus")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 20, 21)],
        "doc_id long, text string",
    )
    docs.write.parquet(corpus_p)
    pairs.withColumn("bucket", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(4))).write.partitionBy("bucket").parquet(pairs_p)
    update_component_state(pairs, labels_p, state_buckets=4)
    got = {r.doc_id: r.component_id for r in _rs(spark, labels_p).collect()}
    assert got[2] == 1 and got[11] == 10

    # takedown doc 1 (component {1,2,3}'s min) and the whole {20,21}
    doomed = spark.createDataFrame([(1,), (20,), (21,)], "doc_id long")
    takedown_batch(
        doomed, corpus_p, pairs_path=pairs_p,
        extra_id_tables={"components": (labels_p, "doc_id", ["bucket"])},
    )
    # incremental state keeps the departed representative (documented)
    stale = {r.doc_id: r.component_id for r in _rs(spark, labels_p).collect()}
    assert stale[2] == 1  # 1 departed but still names the label

    rebuild_component_labels(spark, pairs_p, labels_p, state_buckets=4)
    live = {r.doc_id: r.component_id for r in _rs(spark, labels_p).collect()}
    assert set(live) == {2, 3, 10, 11}
    assert live[2] == 2 and live[3] == 2  # live min representative
    assert live[10] == 10 and live[11] == 10
    # bucket layout preserved and guarded: a rebuild owns the layout,
    # so re-bucketing it pins the new modulus for incremental merges
    assert S._load_manifest(labels_p, S.current_version(labels_p))["key"] == [
        "bucket", "doc_id"
    ]
    import pytest

    rebuild_component_labels(spark, pairs_p, labels_p, state_buckets=8)
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        update_component_state(pairs, labels_p, state_buckets=4)


def test_ivf_ingest_two_batches_and_query(spark, tmp_path):
    """Incremental IVF index maintenance: batch 1 trains the coarse
    quantizer, batch 2 appends under FROZEN centroids (no refit),
    replay is idempotent; every stored assignment equals the argmin
    over the sidecar centroids; planted perturbed queries hit their
    source top-1 through the persisted index."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.streaming.ops import (
        assign_to_centers,
        ivf_ingest_batch,
        ivf_index_stats,
        ivf_query_index,
        read_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_total = emb.count()
    b1 = emb.filter(F.col("vec_id") % 3 != 0)
    b2 = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf")
    ivf_ingest_batch(b1, idx, n_lists=8)
    ivf_ingest_batch(b2, idx, n_lists=8)
    ivf_ingest_batch(b2, idx, n_lists=8)  # replay -> same state
    stored = spark.read.parquet(idx)
    assert stored.count() == n_total
    # assignment parity: stored list == declarative argmin over sidecar
    centers = read_ivf_centroids(idx)
    re = assign_to_centers(stored.drop("ivf_list"), "embedding", centers)
    mism = (
        stored.select("vec_id", F.col("ivf_list").cast("int").alias("a"))
        .join(re.select("vec_id", F.col("_list").alias("b")), "vec_id")
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mism == 0
    # planted recall through the persisted index
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.expr(
            "cast(transform(embedding, (x, i) -> cast(x as double)"
            " + 0.03 * (pmod(xxhash64(query_id, i), 1000) / 1000.0 - 0.5))"
            " as array<float>)"
        ).alias("embedding"),
    )
    top1 = ivf_query_index(spark, idx, q, k=1, n_probe=3)
    hits = top1.filter(F.col("query_id") == F.col("corpus_id")).count()
    assert hits >= 9, hits
    # stats shape
    st = ivf_index_stats(spark, idx)
    assert {r.ivf_list for r in st.collect()} <= set(range(8))


def test_ivf_rebuild_and_takedown_compose(spark, tmp_path):
    """rebuild_ivf_index retrains + reassigns the full corpus (stale
    list dirs cleaned, sidecar re-stamped); takedown_batch composes via
    extra_id_tables; the layout guard rejects a flat merge."""
    import pytest
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks.writer import upsert_table
    from nba_data_pipeline_spark.streaming.ops import (
        ivf_ingest_batch,
        ivf_query_index,
        read_ivf_centroids,
        rebuild_ivf_index,
        takedown_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    corpus_p = str(tmp_path / "corpus")
    emb.select(F.col("vec_id").alias("doc_id")).withColumn(
        "text", F.concat(F.lit("doc "), F.col("doc_id"))
    ).write.parquet(corpus_p)
    ivf_ingest_batch(emb.filter(F.col("vec_id") % 2 == 0), idx, n_lists=4)
    ivf_ingest_batch(emb.filter(F.col("vec_id") % 2 == 1), idx, n_lists=4)
    n = emb.count()

    rebuild_ivf_index(spark, idx, n_lists=8)
    assert spark.read.parquet(idx).count() == n
    assert len(read_ivf_centroids(idx)) == 8
    # still queryable after rebuild
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = ivf_query_index(spark, idx, q, k=1, n_probe=2)
    assert top1.filter(F.col("query_id") == F.col("corpus_id")).count() == 5

    # takedown composes generically on the id-keyed, list-partitioned table
    doomed = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("doc_id"))
    removed = takedown_batch(
        doomed, corpus_p,
        extra_id_tables={"ann_index": (idx, "vec_id", ["ivf_list"])},
    )
    assert removed["ann_index"] == 5
    assert spark.read.parquet(idx).count() == n - 5
    assert ivf_query_index(spark, idx, q, k=1, n_probe=8).filter(
        F.col("query_id") == F.col("corpus_id")
    ).count() == 0

    # layout guard: a flat merge against the list-partitioned table raises
    with pytest.raises(ValueError, match="partition-layout mismatch"):
        upsert_table(spark, emb.limit(1), idx, key="vec_id")


def test_bm25_index_ingest_takedown_exactness(spark, tmp_path):
    """Persisted BM25 index: two-batch ingest + full redelivery is a
    no-op (membership anti-join); after a takedown the index's scores
    are INTEGER-IDENTICAL to a one-shot bm25_topk over the surviving
    corpus — the decrement-fold proof that dfreq/doclen/tf stay
    mutually exact without any text recompute."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.text import bm25_topk
    from nba_data_pipeline_spark.streaming.ops import (
        bm25_ingest_batch,
        bm25_query_index,
        bm25_takedown,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    qdf = spark.createDataFrame(
        [(0, "spark window agg"), (1, "fast hash join")],
        "query_id long, query_text string",
    )
    idx = str(tmp_path / "bm25")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint()
    bm25_ingest_batch(b1, idx, state_buckets=8)
    bm25_ingest_batch(b2, idx, state_buckets=8)
    before = {
        (r.term, r.doc_freq)
        for r in spark.read.parquet(f"{idx}/dfreq").select("term", "doc_freq").collect()
    }
    bm25_ingest_batch(b2, idx, state_buckets=8)  # full redelivery
    after = {
        (r.term, r.doc_freq)
        for r in spark.read.parquet(f"{idx}/dfreq").select("term", "doc_freq").collect()
    }
    assert after == before  # no double-counted dfreq

    got = {
        (r.query_id, r.doc_id, r.bm25_e6, r.rank)
        for r in bm25_query_index(spark, idx, qdf, k=10, state_buckets=8).collect()
    }
    want = {
        (r.query_id, r.doc_id, r.bm25_e6, r.rank)
        for r in bm25_topk(docs, qdf, k=10).collect()
    }
    assert got == want

    doomed = docs.filter(F.col("doc_id") < 15).select("doc_id")
    removed = bm25_takedown(spark, idx, doomed, state_buckets=8)
    assert removed["doclen"] == 15 and removed["tf"] > 0
    survivors = docs.filter(F.col("doc_id") >= 15)
    got2 = {
        (r.query_id, r.doc_id, r.bm25_e6, r.rank)
        for r in bm25_query_index(spark, idx, qdf, k=10, state_buckets=8).collect()
    }
    want2 = {
        (r.query_id, r.doc_id, r.bm25_e6, r.rank)
        for r in bm25_topk(survivors, qdf, k=10).collect()
    }
    assert got2 == want2


@pytest.mark.slow  # r17: >18s; deselected by the default profile (driver budget), still run via -m slow at round close
def test_pq_ingest_replay_and_takedown(spark, tmp_path):
    """Persisted PQ codes: frozen-codebook append, replay idempotent
    (dfreq-free family — codes identical), generic takedown composes,
    keep_vectors=True stores floats for exact rerank."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.streaming.ops import (
        pq_ingest_batch,
        pq_query_index,
        takedown_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    idx = str(tmp_path / "pq")
    corpus_p = str(tmp_path / "corpus")
    emb.select(F.col("vec_id").alias("doc_id")).withColumn(
        "text", F.concat(F.lit("d"), F.col("doc_id"))
    ).write.parquet(corpus_p)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1).localCheckpoint()
    pq_ingest_batch(b1, idx, m=8, k=16, state_buckets=4, keep_vectors=True)
    pq_ingest_batch(b2, idx, m=8, k=16, state_buckets=4, keep_vectors=True)
    pq_ingest_batch(b2, idx, m=8, k=16, state_buckets=4, keep_vectors=True)
    stored = spark.read.parquet(f"{idx}/codes")
    assert stored.count() == n
    assert "embedding" in stored.columns  # keep_vectors
    # self-query: every vector's nearest ADC neighbor set contains itself
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = pq_query_index(spark, idx, q, k=3)
    self_hits = topk.filter(F.col("query_id") == F.col("corpus_id")).count()
    assert self_hits == 5
    # takedown composes on the bucketed codes table
    doomed = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("doc_id"))
    removed = takedown_batch(
        doomed, corpus_p,
        extra_id_tables={"pq_codes": (f"{idx}/codes", "vec_id", ["bucket"])},
    )
    assert removed["pq_codes"] == 5
    assert spark.read.parquet(f"{idx}/codes").count() == n - 5


@pytest.mark.slow  # r17: >18s; deselected by the default profile (driver budget), still run via -m slow at round close
def test_embedding_ingest_composed_pipeline(spark, tmp_path):
    """embedding_ingest_batch composes the ANN-state stages: planted
    perturbed duplicates arriving in batch 2 must pair with their
    batch-1 sources through the persisted IVF blocking
    (incremental_semantic_pairs), land in the pairs table, and fold
    into the component labeling; a replayed batch 2 leaves pairs and
    labels unchanged. The IVF and PQ tables hold every vector."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.streaming.ops import embedding_ingest_batch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    root = str(tmp_path / "embroot")
    pairs_p = str(tmp_path / "pairs")
    comp_p = str(tmp_path / "components")
    b1 = emb
    # batch 2: 10 perturbed copies (cos ~0.99) under new ids
    b2 = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.expr(
            "cast(transform(embedding, (x, i) -> cast(x as double)"
            " + 0.02 * (pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5))"
            " as array<float>)"
        ).alias("embedding"),
    ).localCheckpoint()
    kw = dict(
        n_lists=8, threshold=0.9, probe_lists=2,
        pairs_path=pairs_p, components_path=comp_p, with_pq=True,
    )
    embedding_ingest_batch(b1, root, **kw)
    embedding_ingest_batch(b2, root, **kw)
    pairs_after = {
        (r.id_a, r.id_b) for r in _rs(spark, pairs_p).collect()
    }
    labels_after = {
        (r.doc_id, r.component_id)
        for r in _rs(spark, comp_p).collect()
    }
    # every planted (i, i+5000) pair found through the persisted blocking
    planted = {(i, i + 5000) for i in range(10)}
    assert planted <= pairs_after, sorted(planted - pairs_after)
    # planted copies share their source's component
    lab = dict(labels_after)
    for i in range(10):
        assert lab[i + 5000] == lab[i]
    # replay: no state drift
    embedding_ingest_batch(b2, root, **kw)
    assert {
        (r.id_a, r.id_b) for r in _rs(spark, pairs_p).collect()
    } == pairs_after
    assert {
        (r.doc_id, r.component_id) for r in _rs(spark, comp_p).collect()
    } == labels_after
    # both index tables complete
    assert spark.read.parquet(f"{root}/ivf").count() == n + 10
    assert spark.read.parquet(f"{root}/pq/codes").count() == n + 10
