"""Bucketed state WITH the snapshot txn fence (VERDICT r15 task #2):
the ``state_buckets`` XOR ``txn`` restriction is lifted — bucketed
state rides the snapshot format with ``bucket`` as the leading
merge-key column (zone maps + the exact refine pass prune the rewrite
to files holding touched buckets), so the billion-row state tables a
100 TB corpus maintains get the SAME replay fence as flat state
(reference parity anchor: Postgres upserts are idempotent at any
scale, reference database/db_client.py:69-90). Legacy swap-layout
state is refused, fenced or not."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.sinks import snapshot as S
from nba_data_pipeline_spark.sinks import store
from nba_data_pipeline_spark.sinks.store import read_store

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
KW = dict(num_perm=32, bands=16, threshold=0.3)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bucketed_state_with_txn_lands_on_snapshot_and_fences(spark, tmp_path):
    """state_buckets + txn: both state tables come out as snapshot
    tables keyed (bucket, *key); a replayed epoch advances NEITHER
    version, and the final state (minus the bucket column) equals a
    flat single-shot ingest of the same documents."""
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    sig_b, pair_b = str(tmp_path / "sig_b"), str(tmp_path / "pair_b")
    sig_f, pair_f = str(tmp_path / "sig_f"), str(tmp_path / "pair_f")
    docs = _docs(
        spark,
        [(1, BASE), (2, BASE.replace("kappa", "lambda")), (10, BASE),
         (11, "wholly different words here")],
    )
    b1 = docs.filter(F.col("doc_id") < 10)
    b2 = docs.filter(F.col("doc_id") >= 10)
    near_dedup_batch(b1, sig_b, pair_b, state_buckets=4, txn=("ing", 1), **KW)
    near_dedup_batch(b2, sig_b, pair_b, state_buckets=4, txn=("ing", 2), **KW)
    assert store.detect_format(sig_b) == "snapshot"
    assert store.detect_format(pair_b) == "snapshot"
    v = S.current_version(sig_b)
    m = S._load_manifest(sig_b, v)
    assert m["key"] == ["bucket", "doc_id"]
    assert m.get("cdf_enabled", True) is False
    assert S._load_manifest(pair_b, S.current_version(pair_b))["key"] == [
        "bucket", "id_a", "id_b",
    ]
    v_s, v_p = S.current_version(sig_b), S.current_version(pair_b)
    # redelivered epoch: fenced — zero version churn on either table
    near_dedup_batch(b2, sig_b, pair_b, state_buckets=4, txn=("ing", 2), **KW)
    assert (S.current_version(sig_b), S.current_version(pair_b)) == (v_s, v_p)
    # state equals the flat single-shot run, bucket column aside
    near_dedup_batch(docs, sig_f, pair_f, **KW)
    sb = read_store(spark, sig_b).drop("bucket")
    sf_ = read_store(spark, sig_f).select(sb.columns)
    assert sb.exceptAll(sf_).isEmpty() and sf_.exceptAll(sb).isEmpty()
    cols = ["id_a", "id_b", "est_jaccard"]
    pb = read_store(spark, pair_b).select(cols)
    pf = read_store(spark, pair_f).select(cols)
    assert pb.exceptAll(pf).isEmpty() and pf.exceptAll(pb).isEmpty()
    # every row's bucket is the deterministic hash assignment
    bad = (
        read_store(spark, sig_b)
        .filter(F.col("bucket") != F.pmod(F.xxhash64("doc_id"), F.lit(4)))
        .count()
    )
    assert bad == 0


def test_bucketed_fence_crash_between_tables_replays_exactly(
    spark, tmp_path, monkeypatch
):
    """Crash probe for the bucketed-fenced path: pairs commit, the
    signature merge dies; the replayed epoch no-ops the pairs commit
    (fence) and applies the signatures — final state equals the
    never-crashed run at the SAME pairs version."""
    from nba_data_pipeline_spark.sinks import store as store_mod
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    b1 = _docs(spark, [(1, BASE), (2, BASE.replace("kappa", "lambda"))])
    near_dedup_batch(b1, sig_p, pair_p, state_buckets=4, txn=("ing", 1), **KW)
    b2 = _docs(spark, [(10, BASE)])

    orig = store_mod.upsert_store

    class Boom(Exception):
        pass

    def crashing(spark_, df, path, key, **kws):
        if path == sig_p:
            raise Boom("die before the signature merge")
        return orig(spark_, df, path, key, **kws)

    monkeypatch.setattr(store_mod, "upsert_store", crashing)
    with pytest.raises(Boom):
        near_dedup_batch(
            b2, sig_p, pair_p, state_buckets=4, txn=("ing", 2), **KW
        )
    monkeypatch.setattr(store_mod, "upsert_store", orig)
    v_pair_mid = S.current_version(pair_p)
    assert read_store(spark, sig_p).count() == 2  # sigs never merged
    near_dedup_batch(b2, sig_p, pair_p, state_buckets=4, txn=("ing", 2), **KW)
    assert S.current_version(pair_p) == v_pair_mid  # pairs fenced
    assert read_store(spark, sig_p).count() == 3
    pairs = {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()}
    assert pairs == {(1, 2), (1, 10), (2, 10)}


def test_bucketed_snapshot_layout_is_sticky_and_guarded(spark, tmp_path):
    """Flat and bucketed snapshot state cannot mix under one root in
    EITHER direction — a mismatched merge key would NULL-mismatch old
    rows and silently duplicate keys (the snapshot-format analogue of
    the swap backend's check_partition_layout guard)."""
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    flat_s, flat_p = str(tmp_path / "fs"), str(tmp_path / "fp")
    b = _docs(spark, [(1, BASE)])
    near_dedup_batch(b, flat_s, flat_p, txn=("a", 1), **KW)
    with pytest.raises(ValueError, match="cannot mix"):
        near_dedup_batch(
            b, flat_s, flat_p, state_buckets=4, txn=("a", 2), **KW
        )
    bkt_s, bkt_p = str(tmp_path / "bs"), str(tmp_path / "bp")
    near_dedup_batch(b, bkt_s, bkt_p, state_buckets=4, txn=("a", 1), **KW)
    # the flat call resolves the on-disk snapshot format, then the key
    # guard catches the layout change
    with pytest.raises(ValueError, match="cannot mix"):
        near_dedup_batch(b, bkt_s, bkt_p, txn=("a", 2), **KW)


def test_existing_swap_bucketed_state_rejects_txn(spark, tmp_path):
    """An established hive-bucketed SWAP state table has no transaction
    watermark: a write into it, fenced or not, must fail loud (pointing
    at migrate_to_snapshot), never silently drop the guarantee."""
    from nba_data_pipeline_spark.sinks import writer
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    legacy = spark.createDataFrame([(1, 0)], "doc_id long, bucket int")
    writer.write_table(legacy, sig_p, partition_by=["bucket"])
    assert store.detect_format(sig_p) == "swap"
    for txn in (("a", 1), None):
        with pytest.raises(ValueError, match="migrate_to_snapshot"):
            near_dedup_batch(
                _docs(spark, [(2, BASE)]), sig_p, pair_p,
                state_buckets=4, txn=txn, **KW,
            )
    assert not store.store_exists(pair_p)
    # an explicit swap request fails the shared arg contract
    with pytest.raises(ValueError, match="unknown table format 'swap'"):
        near_dedup_batch(
            _docs(spark, [(1, BASE)]), str(tmp_path / "s2"), str(tmp_path / "p2"),
            state_buckets=4, state_format="swap", txn=("a", 1), **KW,
        )


def test_stream_wrappers_reject_swap_state_at_setup(spark, tmp_path):
    """ADVICE r15 (medium): a stream over swap-format state used to
    start, process nothing, and die at the FIRST micro-batch with an
    obscure backend error. The wrapper fails at SETUP, naming the
    table, with or without app_id."""
    from nba_data_pipeline_spark.sinks import writer
    from nba_data_pipeline_spark.streaming.ops import stream_near_dedup

    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    writer.write_table(
        spark.createDataFrame([(1, 0)], "doc_id long, bucket int"), sig_p,
        partition_by=["bucket"],
    )
    src = str(tmp_path / "src")
    _docs(spark, [(2, BASE)]).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    for app_id in ("ing", None):
        with pytest.raises(ValueError, match=f"{sig_p} is a legacy swap table"):
            stream_near_dedup(
                stream, sig_p, pair_p, checkpoint_dir=str(tmp_path / "ck"),
                app_id=app_id, state_buckets=4,
            )
    assert not (tmp_path / "ck").exists()


def test_stream_near_dedup_bucketed_app_id_end_to_end(spark, tmp_path):
    """The composed wrapper shape ADVICE r15 flagged: app_id together
    with state_buckets now runs — epochs commit bucketed snapshot
    state under the fence, and a manual redelivery of a committed
    epoch is a visible no-op."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        stream_near_dedup,
    )

    src = str(tmp_path / "src")
    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    b1 = [(1, BASE), (2, BASE.replace("kappa", "lambda"))]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = stream_near_dedup(
        spark.readStream.schema(schema).parquet(src),
        sig_p, pair_p, num_perm=32, bands=16, threshold=0.3,
        checkpoint_dir=str(tmp_path / "ckpt"), app_id="ing", state_buckets=4,
    )
    q.awaitTermination()
    assert store.detect_format(sig_p) == "snapshot"
    assert S._load_manifest(sig_p, S.current_version(sig_p))["key"] == [
        "bucket", "doc_id",
    ]
    assert S.txn_version(sig_p, "ing") == 0
    v_s, v_p = S.current_version(sig_p), S.current_version(pair_p)
    near_dedup_batch(  # redelivery of epoch 0: fenced
        spark.createDataFrame(b1, schema), sig_p, pair_p,
        state_buckets=4, txn=("ing", 0), **KW,
    )
    assert (S.current_version(sig_p), S.current_version(pair_p)) == (v_s, v_p)
    assert {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()} == {
        (1, 2)
    }


def test_component_state_bucketed_snapshot_fenced(spark, tmp_path):
    """Bucketed component labels on the snapshot format: keyed
    (bucket, doc_id), no write-ahead journal, fenced replay skips the
    label read + delta entirely; rebuild honors the bucketed layout."""
    from nba_data_pipeline_spark.streaming.ops import (
        rebuild_component_labels,
        update_component_state,
    )

    labels_p = str(tmp_path / "labels")
    pairs1 = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"
    )
    update_component_state(pairs1, labels_p, state_buckets=4, txn=("c", 1))
    assert store.detect_format(labels_p) == "snapshot"
    assert S._load_manifest(labels_p, S.current_version(labels_p))["key"] == [
        "bucket", "doc_id",
    ]
    pairs2 = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    update_component_state(pairs2, labels_p, state_buckets=4, txn=("c", 2))
    v = S.current_version(labels_p)
    labels = {
        r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1}
    # fenced replay: zero churn
    update_component_state(pairs2, labels_p, state_buckets=4, txn=("c", 2))
    assert S.current_version(labels_p) == v
    # rebuild over a pair table keeps the bucketed layout
    pairs_p = str(tmp_path / "pairs")
    S.write_snapshot(
        spark, pairs1.unionByName(pairs2), pairs_p, key=["id_a", "id_b"],
        cdf=False,
    )
    rebuild_component_labels(spark, pairs_p, labels_p, state_buckets=4)
    m = S._load_manifest(labels_p, S.current_version(labels_p))
    assert m["key"] == ["bucket", "doc_id"]
    rebuilt = {
        r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()
    }
    assert rebuilt == labels


def test_quality_scores_bucketed_snapshot_fenced(spark, tmp_path):
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import quality_score_batch

    docs = _docs(spark, [(i, f"{BASE} tail {i}") for i in range(6)])
    lm = fit_trigram_lm(docs, "text")
    scores_p = str(tmp_path / "scores")
    quality_score_batch(docs, lm, scores_p, state_buckets=4, txn=("sc", 1))
    assert store.detect_format(scores_p) == "snapshot"
    assert S._load_manifest(scores_p, 1)["key"] == ["bucket", "doc_id"]
    v = S.current_version(scores_p)
    rows = {r.doc_id: r.avg_nll_e6 for r in read_store(spark, scores_p).collect()}
    quality_score_batch(docs, lm, scores_p, state_buckets=4, txn=("sc", 1))
    assert S.current_version(scores_p) == v
    assert {
        r.doc_id: r.avg_nll_e6 for r in read_store(spark, scores_p).collect()
    } == rows


def test_corpus_ingest_batch_bucketed_txn_composition(spark, tmp_path):
    """The EXACT shape ADVICE r15 (medium) flagged as broken: the
    composed ingest with state_buckets AND txn together. Every
    bucketed state table (signatures, pairs, scores, component labels)
    lands on the snapshot format keyed bucket-first, the flat corpus
    table fences as before, and a full epoch redelivery leaves every
    version untouched."""
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    docs = _docs(spark, [(i, f"{BASE} doc {i}") for i in range(6)])
    lm = fit_trigram_lm(docs, "text")
    p = {
        k: str(tmp_path / k)
        for k in ("corpus", "sigs", "pairs", "scores", "components")
    }
    gate = dict(stopwords=("alpha", "beta"), min_tokens=3)
    kw = dict(
        gate_kwargs=gate, num_perm=16, bands=8, threshold=0.3,
        state_buckets=4, components_path=p["components"],
    )
    corpus_ingest_batch(
        docs, lm, p["corpus"], p["sigs"], p["pairs"], p["scores"],
        txn=("ingest", 1), **kw,
    )
    for k in ("sigs", "pairs", "scores", "components"):
        assert store.detect_format(p[k]) == "snapshot", k
        key = S._load_manifest(p[k], S.current_version(p[k]))["key"]
        assert key[0] == "bucket", (k, key)
    assert store.detect_format(p["corpus"]) == "snapshot"
    versions = {k: S.current_version(v) for k, v in p.items()}
    corpus_ingest_batch(  # full redelivery of the same epoch
        docs, lm, p["corpus"], p["sigs"], p["pairs"], p["scores"],
        txn=("ingest", 1), **kw,
    )
    assert {k: S.current_version(v) for k, v in p.items()} == versions
    assert read_store(spark, p["corpus"]).count() == 6


def test_bucketed_snapshot_modulus_is_pinned(spark, tmp_path):
    """The hash modulus is part of the layout: the sidecar records it
    at create, and a call with a different state_buckets refuses —
    keys hashed with a different n land in different (bucket, key)
    tuples and the merge would silently duplicate them."""
    import json
    import os

    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    b = _docs(spark, [(1, BASE)])
    near_dedup_batch(b, sig_p, pair_p, state_buckets=4, txn=("a", 1), **KW)
    with open(os.path.join(sig_p, "_layout_meta.json")) as fh:
        assert json.load(fh)["buckets"] == 4
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        near_dedup_batch(
            _docs(spark, [(2, BASE)]), sig_p, pair_p,
            state_buckets=8, txn=("a", 2), **KW,
        )


def test_takedown_on_bucketed_snapshot_state_prunes_and_keeps_layout(
    spark, tmp_path
):
    """takedown_batch over a bucketed-snapshot estate: the doomed frame
    gets the bucket DERIVED from the recorded modulus, so the delete
    merges on the table's own (bucket, key) — rows land removed, the
    manifest key survives, and the NEXT fenced merge still matches the
    layout (proof the rewrite kept the bucket-led key)."""
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        takedown_batch,
    )

    corpus_p = str(tmp_path / "corpus")
    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    docs = _docs(
        spark, [(1, BASE), (2, BASE.replace("kappa", "lambda")), (10, BASE)]
    )
    store.upsert_store(spark, docs, corpus_p, key="doc_id", default="snapshot")
    near_dedup_batch(docs, sig_p, pair_p, state_buckets=4, txn=("t", 1), **KW)
    assert read_store(spark, pair_p).count() == 3  # (1,2),(1,10),(2,10)
    out = takedown_batch(
        spark.createDataFrame([(10,)], "doc_id long"),
        corpus_p, signature_path=sig_p, pairs_path=pair_p,
    )
    assert out["signatures"] == 1 and out["pairs"] == 2
    assert read_store(spark, sig_p).count() == 2
    assert {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()} == {
        (1, 2)
    }
    for p, key in ((sig_p, ["bucket", "doc_id"]), (pair_p, ["bucket", "id_a", "id_b"])):
        assert S._load_manifest(p, S.current_version(p))["key"] == key, p
    # the estate still merges under the fence after the takedown
    near_dedup_batch(
        _docs(spark, [(20, "entirely new words in this one")]),
        sig_p, pair_p, state_buckets=4, txn=("t", 2), **KW,
    )
    assert read_store(spark, sig_p).count() == 3


def test_mistyped_state_format_raises_before_any_job(spark, tmp_path):
    """A mistyped ``state_format`` fails the state writer's resolve
    step before any Spark job and before anything is written. The
    bucketed near-dedup path and the component maintainer used to
    fall through to the swap backend; the flat path raised only after
    the eager signature checkpoint."""
    import os

    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        update_component_state,
    )

    docs = _docs(spark, [(1, BASE)])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    sig_p, pair_p, labels_p = (str(tmp_path / n) for n in ("s", "p", "l"))
    calls = (
        lambda: near_dedup_batch(
            docs, sig_p, pair_p, state_buckets=4, state_format="snapshots", **KW
        ),
        lambda: update_component_state(pairs, labels_p, state_format="snapshots"),
        lambda: near_dedup_batch(
            docs, sig_p, pair_p, state_format="snapshots", **KW
        ),
    )
    sc = spark.sparkContext
    sc.setJobGroup("mistyped-state-format", "no job expected")
    try:
        for call in calls:
            with pytest.raises(ValueError, match="unknown table format"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("mistyped-state-format") == []
    assert not any(os.path.exists(p) for p in (sig_p, pair_p, labels_p))
