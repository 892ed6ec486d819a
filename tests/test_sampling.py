from nba_data_pipeline_spark.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    split_assign,
    stratified_sample,
)


def _ids(spark, n=5000):
    return spark.range(n).withColumnRenamed("id", "row_id")


def test_split_fractions_and_stability(spark):
    df = _ids(spark)
    out = split_assign(df, "row_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    assert None not in counts  # fractions sum to 1 -> no holdout
    # stable across invocations
    a = {r.row_id: r.split for r in out.collect()}
    b = {
        r.row_id: r.split
        for r in split_assign(df, "row_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    assert a == b


def test_splits_are_disjoint_and_sample_is_subset(spark):
    df = _ids(spark)
    sampled = {r.row_id for r in deterministic_sample(df, "row_id", 0.1).collect()}
    assert abs(len(sampled) / 5000 - 0.1) < 0.02
    # sampling at 0.2 strictly extends the 0.1 sample (nested samples)
    bigger = {r.row_id for r in deterministic_sample(df, "row_id", 0.2).collect()}
    assert sampled <= bigger


def test_stratified_sample(spark):
    df = _ids(spark).withColumn(
        "lang", (hash_bucket("row_id", 2)).cast("string")
    )
    out = stratified_sample(df, "row_id", "lang", {"0": 1.0, "1": 0.1})
    counts = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    full = {r.lang: r["count"] for r in df.groupBy("lang").count().collect()}
    assert counts["0"] == full["0"]  # stratum kept whole
    assert abs(counts["1"] / full["1"] - 0.1) < 0.05


def test_weighted_sample_biases_toward_heavy_rows(spark):
    """Statistical property: with weights 100 vs 1, heavy rows dominate
    the sample; determinism: two runs agree exactly; plan: TakeOrdered."""
    from nba_data_pipeline_spark.operators.sampling import weighted_sample
    from pyspark.sql import functions as F

    rows = [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, "doc_id", "w", 50)
    picked = [r.doc_id for r in out.collect()]
    heavy = sum(1 for d in picked if d % 10 == 0)
    # 100 heavy rows with weight 100 vs 900 light with weight 1:
    # heavy rows should take well over half the sample
    assert heavy >= 30, heavy
    # deterministic across runs
    again = [r.doc_id for r in weighted_sample(df, "doc_id", "w", 50).collect()]
    assert picked == again
    # zero/negative weights excluded
    with_zero = df.withColumn("w", F.when(F.col("doc_id") < 990, F.col("w")).otherwise(0.0))
    out2 = [r.doc_id for r in weighted_sample(with_zero, "doc_id", "w", 1000).collect()]
    assert all(d < 990 for d in out2)
    plan = weighted_sample(df, "doc_id", "w", 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_contiguous(spark):
    from nba_data_pipeline_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, 60) for i in range(20)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, "doc_id", "n_tokens", capacity=100, num_shards=4)
    rows = sorted(out.collect(), key=lambda r: (r.shard, r.doc_id))
    # within each shard: offsets are the running sum in doc_id order,
    # pack_id is the window holding the doc's first token
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r)
    assert len(by_shard) > 1  # knuth bucket actually spreads
    for shard_rows in by_shard.values():
        expect = 0
        for r in shard_rows:
            assert r.start_offset == expect
            assert r.pack_id == expect // 100
            expect += r.n_tokens
    # deterministic across invocations
    again = pack_sequences(df, "doc_id", "n_tokens", capacity=100, num_shards=4)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_leakage_safe_split_clusters_stay_together(spark):
    from nba_data_pipeline_spark.operators.sampling import leakage_safe_split

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    # three clusters: {0,1,2}, {10,11}, {20,21,22,23}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(
        df, "doc_id", pairs, {"train": 0.6, "val": 0.2, "test": 0.2}
    ).collect()
    split_of = {r.doc_id: r.split for r in out}
    comp_of = {r.doc_id: r.component_id for r in out}
    for cluster in ([0, 1, 2], [10, 11], [20, 21, 22, 23]):
        assert len({split_of[d] for d in cluster}) == 1
        assert {comp_of[d] for d in cluster} == {cluster[0]}
    # singletons keep their own id as component and all rows got a split
    assert comp_of[50] == 50
    assert all(s in ("train", "val", "test") for s in split_of.values())


def test_mixture_sample_hits_target_proportions(spark):
    from nba_data_pipeline_spark.operators.sampling import mixture_sample

    rows = [(i, "a" if i < 4000 else ("b" if i < 6000 else "c")) for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # totals a=4000 b=2000 c=2000; targets .5/.25/.25 -> K=8000,
    # every source keeps everything
    full = mixture_sample(df, "doc_id", "source", {"a": 0.5, "b": 0.25, "c": 0.25})
    assert full.count() == 8000
    # targets .25/.5/.25 -> binding source is b (2000/.5=4000=K):
    # keep a: 1000/4000, b: all 2000, c: 1000/2000
    mixed = mixture_sample(df, "doc_id", "source", {"a": 0.25, "b": 0.5, "c": 0.25})
    counts = {r.source: r["count"] for r in mixed.groupBy("source").count().collect()}
    assert counts["b"] == 2000
    assert abs(counts["a"] - 1000) < 100 and abs(counts["c"] - 1000) < 80
    # unknown sources dropped; deterministic
    assert mixed.filter("source = 'zzz'").count() == 0
    again = mixture_sample(df, "doc_id", "source", {"a": 0.25, "b": 0.5, "c": 0.25})
    assert sorted(map(tuple, mixed.collect())) == sorted(map(tuple, again.collect()))


def test_budget_sample_caps_each_group(spark):
    """Cumulative cost in Knuth-bucket priority order stays <= budget
    per group; the first row that would cross is excluded, and an
    over-budget first doc yields an empty group (cap, not floor)."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.sampling import budget_sample, hash_bucket

    rows = [(i, "a" if i < 20 else "b", 30) for i in range(40)]
    rows.append((100, "c", 999))  # single huge doc: group must be empty
    df = spark.createDataFrame(rows, "doc_id long, src string, cost int")
    out = budget_sample(df, "doc_id", ["src"], "cost", 100)
    got = out.groupBy("src").agg(F.sum("cost").alias("s"), F.count("*").alias("n")).collect()
    by_src = {r.src: (r.s, r.n) for r in got}
    assert by_src.get("a") == (90, 3) and by_src.get("b") == (90, 3)
    assert "c" not in by_src
    # selection follows the deterministic bucket priority, not doc_id
    picked = {r.doc_id for r in out.filter("src = 'a'").collect()}
    order = sorted(
        range(20),
        key=lambda i: (((i * 2654435761) % (1 << 32)) % 10000, i),
    )
    assert picked == set(order[:3])


def test_top_fraction_per_group(spark):
    """ceil(frac*n) rows survive per group, highest scores first with
    id tiebreak; every non-empty group keeps at least one row."""
    import pytest

    from nba_data_pipeline_spark.operators.sampling import top_fraction_per_group

    rows = [(i, "a", float(i)) for i in range(10)] + [(100, "b", 1.0), (101, "b", 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, src string, score double")
    out = top_fraction_per_group(df, "doc_id", ["src"], "score", 0.5)
    got = {r.src: sorted(r2.doc_id for r2 in out.filter(out.src == r.src).collect())
           for r in out.select("src").distinct().collect()}
    assert got["a"] == [5, 6, 7, 8, 9]          # top 5 of 10 by score
    assert got["b"] == [100]                    # ceil(0.5*2)=1, tie -> min id
    tiny = top_fraction_per_group(df.filter("src='b'"), "doc_id", ["src"], "score", 0.01)
    assert tiny.count() == 1                    # floor of one row per group
    with pytest.raises(ValueError, match="keep_frac"):
        top_fraction_per_group(df, "doc_id", ["src"], "score", 0.0)


def test_top_fraction_tiny_frac_keeps_one_row(spark):
    from nba_data_pipeline_spark.operators.sampling import top_fraction_per_group

    df = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(5)], "doc_id long, src string, score double"
    )
    out = top_fraction_per_group(df, "doc_id", ["src"], "score", 0.00001)
    assert [r.doc_id for r in out.collect()] == [4]  # top scorer survives


def test_temperature_weights_flatten_distribution(spark):
    from nba_data_pipeline_spark.operators.sampling import temperature_weights

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    natural = temperature_weights(df, "source", alpha=1.0)
    assert abs(natural["big"] - 0.9) < 1e-9
    tempered = temperature_weights(df, "source", alpha=0.5)
    # flattening: the big source's share shrinks toward uniform but
    # stays above it
    assert 0.5 < tempered["big"] < 0.9
    assert abs(sum(tempered.values()) - 1.0) < 1e-9
    import pytest

    with pytest.raises(ValueError, match="alpha"):
        temperature_weights(df, "source", alpha=0.0)


def test_temperature_weights_size_col(spark):
    from nba_data_pipeline_spark.operators.sampling import temperature_weights

    df = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 300), (3, "b", 400)],
        "doc_id long, source string, n_tokens long",
    )
    w = temperature_weights(df, "source", alpha=1.0, size_col="n_tokens")
    assert abs(w["a"] - 0.5) < 1e-9 and abs(w["b"] - 0.5) < 1e-9


def test_dsir_scores_prefer_target_like_documents(spark):
    from nba_data_pipeline_spark.operators.sampling import (
        dsir_log_ratios,
        dsir_scores,
    )

    target_style = "the model trains on clean curated encyclopedia text"
    noise_style = "buy cheap pills now click here free offer winner"
    target = spark.createDataFrame(
        [(i, target_style) for i in range(10)], "doc_id long, text string"
    )
    source = spark.createDataFrame(
        [(100 + i, target_style) for i in range(5)]
        + [(200 + i, noise_style) for i in range(5)],
        "doc_id long, text string",
    )
    ratios = dsir_log_ratios(target, source, n_buckets=512)
    assert ratios.count() == 512  # full Laplace spine
    scored = {r.doc_id: r for r in dsir_scores(source, ratios, n_buckets=512).collect()}
    for i in range(5):
        assert scored[100 + i].log_w_e6 > scored[200 + i].log_w_e6
    # exact integer fixed point, deterministic across runs
    again = {r.doc_id: r.log_w_e6 for r in dsir_scores(source, ratios, n_buckets=512).collect()}
    assert again == {k: v.log_w_e6 for k, v in scored.items()}


def test_dsir_scores_gramless_doc_is_null(spark):
    from nba_data_pipeline_spark.operators.sampling import (
        dsir_log_ratios,
        dsir_scores,
    )

    target = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "solo"), (3, None)], "doc_id long, text string"
    )
    ratios = dsir_log_ratios(target, docs, n_buckets=64)
    got = {r.doc_id: (r.n_grams, r.log_w_e6) for r in dsir_scores(docs, ratios, n_buckets=64).collect()}
    assert got[1][0] == 1 and got[1][1] is not None
    assert got[2] == (0, None)  # single token -> no bigram
    assert got[3] == (0, None)


def test_pack_sequences_group_cols_isolate_splits(spark):
    from nba_data_pipeline_spark.operators.sampling import pack_sequences

    rows = [(i, "train" if i % 3 else "val", 100) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, split string, n long")
    out = pack_sequences(df, "doc_id", "n", capacity=250, num_shards=2,
                         group_cols=["split"]).collect()
    # within each (split, shard), offsets restart at 0 and are gapless
    from collections import defaultdict
    streams = defaultdict(list)
    for r in out:
        streams[(r.split, r.shard)].append((r.doc_id, r.start_offset))
    for (split, shard), docs in streams.items():
        docs.sort()
        assert docs[0][1] == 0, (split, shard, docs[:3])
        for (a, oa), (b, ob) in zip(docs, docs[1:]):
            assert ob == oa + 100
    # every (split, shard) stream fills packs from 0 upward — the
    # consumer reads per (split, shard), so cross-split coordinate
    # reuse is fine but each stream must be self-contained
    first_pack = defaultdict(lambda: 1 << 60)
    for r in out:
        key = (r.split, r.shard)
        first_pack[key] = min(first_pack[key], r.pack_id)
    assert all(v == 0 for v in first_pack.values()), dict(first_pack)


def test_sample_k_per_group_deterministic(spark):
    import pytest as _p

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.sampling import sample_k_per_group

    df = spark.range(0, 200).withColumn("grp", (F.col("id") % 4).cast("string"))
    a = sample_k_per_group(df, ["grp"], "id", 7)
    got = {(r.grp, r.id) for r in a.collect()}
    # exactly 7 per group, identical across reruns and repartitioning
    from collections import Counter
    counts = Counter(g for g, _ in got)
    assert set(counts.values()) == {7} and len(counts) == 4
    again = {(r.grp, r.id) for r in sample_k_per_group(df.repartition(11), ["grp"], "id", 7).collect()}
    assert got == again
    # groups smaller than k return whole group
    tiny = spark.createDataFrame([("x", 1), ("x", 2)], "grp string, id long")
    assert sample_k_per_group(tiny, ["grp"], "id", 10).count() == 2
    with _p.raises(ValueError):
        sample_k_per_group(df, ["grp"], "id", 0)


def test_length_bucketed_batches_bounds_padding(spark):
    import pytest as _p
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.sampling import length_bucketed_batches

    df = spark.range(0, 400).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(997))).alias("length")
    )
    out = length_bucketed_batches(df, "id", "length", 10, n_shards=4)
    rows = out.collect()
    assert len(rows) == 400
    # every batch holds <= 10 rows; batch_max_len is the true max
    from collections import defaultdict
    batches = defaultdict(list)
    for r in rows:
        batches[(r.shard, r.batch_id)].append(r)
    for key, rs in batches.items():
        assert len(rs) <= 10
        assert all(r.batch_max_len == max(x.length for x in rs) for r in rs)
    # length bucketing beats random batching on padding waste
    waste = sum(r.batch_max_len - r.length for r in rows)
    rand_waste = 0
    import random
    rng = random.Random(0)
    pool = [(r.id, r.length) for r in rows]
    rng.shuffle(pool)
    for i in range(0, len(pool), 10):
        chunk = pool[i:i + 10]
        m = max(l for _, l in chunk)
        rand_waste += sum(m - l for _, l in chunk)
    assert waste < 0.5 * rand_waste, (waste, rand_waste)
    # deterministic across partitioning
    again = length_bucketed_batches(df.repartition(7), "id", "length", 10, n_shards=4)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    with _p.raises(ValueError):
        length_bucketed_batches(df, "id", "length", 0)


def test_dsir_complete_grams_match_legacy_join_semantics(spark):
    """r17: grams built with keep_empty_docs + grams_complete scoring
    must reproduce the inner-join + left-join-to-corpus semantics
    exactly, including zero-bigram docs as (0, NULL)."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.sampling import (
        dsir_log_ratios,
        dsir_scores,
        hashed_bigram_buckets,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "a"),
            (2, "single", "a"),          # one token -> zero bigrams
            (3, "", "b"),                # empty text
            (4, "alpha beta beta gamma", "b"),
            (5, None, "b"),              # NULL text
        ],
        "doc_id long, text string, src string",
    )
    grams = hashed_bigram_buckets(
        docs, ["doc_id", "src"], "text", 64, keep_empty_docs=True
    )
    # every doc represented exactly >= 1 row; empty docs as NULL bucket
    per_doc = {r["doc_id"]: r["n"] for r in grams.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_doc) == {1, 2, 3, 4, 5}
    nulls = {r["doc_id"] for r in grams.filter(F.col("bucket").isNull()).collect()}
    assert nulls == {2, 3, 5}

    ratios = dsir_log_ratios(docs.filter("doc_id = 1"), docs, text_col="text", n_buckets=64)
    got = dsir_scores(
        docs, ratios, grams=grams.select("doc_id", "src", "bucket"),
        keep_cols=["src"], grams_complete=True, n_buckets=64,
    )
    legacy_grams = hashed_bigram_buckets(docs, ["doc_id", "src"], "text", 64)
    legacy_sc = (
        legacy_grams.join(F.broadcast(ratios.select("bucket", "log_ratio_e6")), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_grams"), F.sum("log_ratio_e6").alias("log_w_e6"))
    )
    legacy = (
        docs.select("doc_id", "src")
        .join(legacy_sc, "doc_id", "left")
        .select("doc_id", "src", F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"), "log_w_e6")
    )
    assert got.exceptAll(legacy).count() == 0
    assert legacy.exceptAll(got).count() == 0


def test_dsir_log_ratios_skips_null_buckets_without_flag(spark):
    """Gram frames built with keep_empty_docs carry one NULL-bucket row
    per zero-bigram doc; the separate target/source path must drop them
    like the flag path does instead of raising on ``int(None)``."""
    from nba_data_pipeline_spark.operators.sampling import (
        dsir_log_ratios,
        hashed_bigram_buckets,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "")], "doc_id long, text string"
    )
    grams = hashed_bigram_buckets(docs, ["doc_id"], "text", 16, keep_empty_docs=True)
    ratios = dsir_log_ratios(
        None, docs, n_buckets=16,
        target_grams=grams.filter("doc_id = 1"), source_grams=grams,
    ).collect()
    assert len(ratios) == 16
    assert sum(r.target_n for r in ratios) == 2
    assert sum(r.source_n for r in ratios) == 2
