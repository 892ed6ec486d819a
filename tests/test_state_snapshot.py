"""LLM-pipeline persisted state on the snapshot format (VERDICT r14
task #1): the flat state the continuous-ingest maintainers keep —
minhash signatures + pairs, image hashes + pairs, quality scores,
component labels — defaults to manifest-committed snapshot tables with
``txn=(app_id, version)`` replay fencing, replacing swap-table
semantics for the state families the reference keeps in Postgres
(reference database/db_client.py:69-90, upsert as the idempotent
re-run primitive). One crash/replay probe per family shows the fence
turning a redelivered batch into a visible no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.sinks import snapshot as S
from nba_data_pipeline_spark.sinks import store
from nba_data_pipeline_spark.sinks.store import read_store

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dedup_state_defaults_to_snapshot_with_txn_fence(spark, tmp_path):
    """Both state tables come out as snapshot tables (cdf=False — no
    sidecar tax for derived state), and a replayed batch with the same
    txn advances NEITHER version: the fence, not convergence, is what
    makes the replay a no-op."""
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    b1 = _docs(spark, [(1, BASE), (2, BASE.replace("kappa", "lambda"))])
    b2 = _docs(spark, [(10, BASE), (11, "wholly different words here")])
    kw = dict(num_perm=32, bands=16, threshold=0.3)
    near_dedup_batch(b1, sig_p, pair_p, txn=("ingest", 1), **kw)
    assert store.detect_format(sig_p) == "snapshot"
    assert store.detect_format(pair_p) == "snapshot"
    assert S._load_manifest(sig_p, 1).get("cdf_enabled", True) is False
    near_dedup_batch(b2, sig_p, pair_p, txn=("ingest", 2), **kw)
    v_sig = S.current_version(sig_p)
    v_pair = S.current_version(pair_p)
    pairs = {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()}
    assert pairs == {(1, 2), (1, 10), (2, 10)}
    # redelivered epoch: fenced — zero version churn on either table
    near_dedup_batch(b2, sig_p, pair_p, txn=("ingest", 2), **kw)
    assert S.current_version(sig_p) == v_sig
    assert S.current_version(pair_p) == v_pair
    assert read_store(spark, sig_p).count() == 4
    assert {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()} == pairs


def test_near_dedup_crash_between_pairs_and_sigs_replays_exactly(
    spark, tmp_path, monkeypatch
):
    """Crash probe: the batch commits pairs, then dies before the
    signature merge. The replay with the same txn must no-op the pairs
    commit (fence) and apply the signature merge — final state equals
    the never-crashed run, with the pairs table at the SAME version."""
    from nba_data_pipeline_spark.sinks import store as store_mod
    from nba_data_pipeline_spark.streaming.ops import near_dedup_batch

    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    kw = dict(num_perm=32, bands=16, threshold=0.3)
    b1 = _docs(spark, [(1, BASE), (2, BASE.replace("kappa", "lambda"))])
    near_dedup_batch(b1, sig_p, pair_p, txn=("ingest", 1), **kw)
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
        near_dedup_batch(b2, sig_p, pair_p, txn=("ingest", 2), **kw)
    monkeypatch.setattr(store_mod, "upsert_store", orig)
    v_pair_mid = S.current_version(pair_p)
    assert read_store(spark, sig_p).count() == 2  # sigs never merged
    # replay of the crashed epoch
    near_dedup_batch(b2, sig_p, pair_p, txn=("ingest", 2), **kw)
    assert S.current_version(pair_p) == v_pair_mid  # pairs fenced
    assert read_store(spark, sig_p).count() == 3
    pairs = {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()}
    assert pairs == {(1, 2), (1, 10), (2, 10)}


def test_quality_scores_snapshot_txn_fence(spark, tmp_path):
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import quality_score_batch

    docs = _docs(spark, [(i, f"{BASE} tail {i}") for i in range(6)])
    lm = fit_trigram_lm(docs, "text")
    scores_p = str(tmp_path / "scores")
    quality_score_batch(docs, lm, scores_p, txn=("scorer", 1))
    assert store.detect_format(scores_p) == "snapshot"
    v = S.current_version(scores_p)
    rows = {r.doc_id: r.avg_nll_e6 for r in read_store(spark, scores_p).collect()}
    quality_score_batch(docs, lm, scores_p, txn=("scorer", 1))  # replay
    assert S.current_version(scores_p) == v
    assert {
        r.doc_id: r.avg_nll_e6 for r in read_store(spark, scores_p).collect()
    } == rows


def test_component_state_snapshot_atomic_and_fenced(spark, tmp_path):
    """Flat component labels land on a snapshot table (the manifest
    commit is all-or-nothing), and a fenced replay skips even the label
    read + delta computation."""
    from nba_data_pipeline_spark.streaming.ops import update_component_state

    labels_p = str(tmp_path / "labels")
    b1 = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    b2 = spark.createDataFrame([(3, 10), (30, 31)], "id_a long, id_b long")
    update_component_state(b1, labels_p, txn=("cc", 1))
    assert store.detect_format(labels_p) == "snapshot"
    update_component_state(b2, labels_p, txn=("cc", 2))
    v = S.current_version(labels_p)
    got = {r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()}
    assert got[11] == 1 and got[30] == 30  # {1,2,3,10,11} merged via (3,10)
    update_component_state(b2, labels_p, txn=("cc", 2))  # fenced replay
    assert S.current_version(labels_p) == v
    assert {
        r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()
    } == got
    # unfenced replay still converges (idempotent delta), one commit
    update_component_state(b2, labels_p)
    assert {
        r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()
    } == got


def test_image_dedup_snapshot_state_txn_fence(spark, tmp_path):
    import numpy as np

    from nba_data_pipeline_spark.streaming.ops import image_dedup_batch

    def grad(shift):
        x = np.clip(np.linspace(0, 255, 24)[None, :] + shift, 0, 255)
        return np.stack([np.tile(x, (16, 1))] * 3, axis=-1).astype(np.uint8)

    def ppm(img):
        return bytearray(b"P6\n24 16\n255\n" + img.tobytes())

    h_p, p_p = str(tmp_path / "h"), str(tmp_path / "p")
    b1 = spark.createDataFrame(
        [(1, ppm(grad(0))), (2, ppm(grad(1)))], "doc_id long, payload binary"
    )
    b2 = spark.createDataFrame([(4, ppm(grad(2)))], "doc_id long, payload binary")
    image_dedup_batch(b1, h_p, p_p, txn=("img", 1))
    assert store.detect_format(h_p) == "snapshot"
    image_dedup_batch(b2, h_p, p_p, txn=("img", 2))
    v_h, v_p = S.current_version(h_p), S.current_version(p_p)
    pairs = {(r.id_a, r.id_b) for r in read_store(spark, p_p).collect()}
    image_dedup_batch(b2, h_p, p_p, txn=("img", 2))  # fenced replay
    assert (S.current_version(h_p), S.current_version(p_p)) == (v_h, v_p)
    assert {(r.id_a, r.id_b) for r in read_store(spark, p_p).collect()} == pairs


def test_state_args_guards(spark, tmp_path):
    """An explicit swap request rejects loudly, with or without txn
    (state is always a snapshot table; bucketed+fenced state keeps
    bucket as the leading merge-key column); the streaming wrappers
    reject app_id without a durable checkpoint."""
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        stream_near_dedup,
        stream_quality_scores,
    )

    b = _docs(spark, [(1, BASE)])
    with pytest.raises(ValueError, match="unknown table format 'swap'"):
        near_dedup_batch(
            b, str(tmp_path / "s"), str(tmp_path / "p"),
            state_format="swap", txn=("a", 1),
        )
    with pytest.raises(ValueError, match="unknown table format 'swap'"):
        near_dedup_batch(
            b, str(tmp_path / "s"), str(tmp_path / "p"),
            state_buckets=4, state_format="swap", txn=("a", 1),
        )
    src = str(tmp_path / "src")
    _docs(spark, [(1, BASE)]).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        stream_near_dedup(
            stream, str(tmp_path / "s"), str(tmp_path / "p"), app_id="a"
        )
    with pytest.raises(ValueError, match="checkpoint_dir"):
        stream_quality_scores(
            stream, None, str(tmp_path / "sc"), app_id="a"
        )


def test_stream_near_dedup_app_id_end_to_end(spark, tmp_path):
    """stream_near_dedup with app_id: epochs commit with
    txn=(app_id, epoch_id) against snapshot state; a manual redelivery
    of an already-committed epoch's batch (the foreachBatch
    at-least-once shape) is fenced — zero version churn."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        stream_near_dedup,
    )

    src = str(tmp_path / "src")
    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    b1 = [(1, BASE), (2, BASE.replace("kappa", "lambda"))]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    def run_pass():
        q = stream_near_dedup(
            spark.readStream.schema(schema).parquet(src),
            sig_p, pair_p, num_perm=32, bands=16, threshold=0.3,
            checkpoint_dir=ckpt, app_id="ingest",
        )
        q.awaitTermination()

    run_pass()
    assert store.detect_format(sig_p) == "snapshot"
    assert {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()} == {(1, 2)}
    v_s, v_p = S.current_version(sig_p), S.current_version(pair_p)
    # the txn watermark records epoch 0 under the stream's app_id
    assert S.txn_version(sig_p, "ingest") == 0
    # redelivery of epoch 0's batch (what foreachBatch does after a
    # crash between the sink write and the checkpoint commit): fenced
    near_dedup_batch(
        spark.createDataFrame(b1, schema), sig_p, pair_p,
        num_perm=32, bands=16, threshold=0.3, txn=("ingest", 0),
    )
    assert (S.current_version(sig_p), S.current_version(pair_p)) == (v_s, v_p)
    # genuinely new data advances: next epoch applies normally
    spark.createDataFrame([(10, BASE)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_pass()
    assert read_store(spark, sig_p).count() == 3
    assert {(r.id_a, r.id_b) for r in read_store(spark, pair_p).collect()} == {
        (1, 2), (1, 10), (2, 10)
    }
    assert S.txn_version(sig_p, "ingest") == 1


def test_takedown_across_snapshot_state_estate(spark, tmp_path):
    """takedown_batch dispatches per-table: snapshot corpus + snapshot
    sigs/pairs/scores remove through delete_snapshot (atomic COW),
    counts are exact, and the second run removes nothing."""
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import (
        near_dedup_batch,
        quality_score_batch,
        takedown_batch,
    )

    rows = [(i, f"{BASE} doc {i}") for i in range(8)]
    rows += [(100, BASE + " doc 0")]  # near-dup partner
    docs = _docs(spark, rows)
    corpus_p = str(tmp_path / "corpus")
    sig_p, pair_p = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    scores_p = str(tmp_path / "scores")
    S.write_snapshot(spark, docs, corpus_p, key="doc_id")
    near_dedup_batch(docs, sig_p, pair_p, threshold=0.2)
    lm = fit_trigram_lm(docs, "text")
    quality_score_batch(docs, lm, scores_p)
    n_pairs0 = read_store(spark, pair_p).count()
    assert n_pairs0 > 0
    doomed = spark.createDataFrame([(0,), (3,)], "doc_id long")
    removed = takedown_batch(
        doomed, corpus_p, signature_path=sig_p, pairs_path=pair_p,
        scores_path=scores_p,
    )
    assert removed["corpus"] == 2
    assert removed["signatures"] == 2 and removed["scores"] == 2
    live = read_store(spark, corpus_p)
    assert live.count() == 7
    assert live.filter("doc_id IN (0, 3)").count() == 0
    for p in (sig_p, scores_p):
        assert read_store(spark, p).filter("doc_id IN (0, 3)").count() == 0
    surviving_pairs = read_store(spark, pair_p)
    assert surviving_pairs.filter("id_a IN (0, 3) OR id_b IN (0, 3)").count() == 0
    # idempotent second run
    removed2 = takedown_batch(
        doomed, corpus_p, signature_path=sig_p, pairs_path=pair_p,
        scores_path=scores_p,
    )
    assert removed2 == {"corpus": 0, "signatures": 0, "scores": 0, "pairs": 0}


def test_rebuild_component_labels_snapshot(spark, tmp_path):
    """Full rebuild over a snapshot pair table overwrite-commits the
    snapshot labels; representatives come from the live pair set."""
    from nba_data_pipeline_spark.streaming.ops import (
        rebuild_component_labels,
        update_component_state,
    )

    pairs_p, labels_p = str(tmp_path / "pairs"), str(tmp_path / "labels")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    S.write_snapshot(spark, pairs, pairs_p, key=["id_a", "id_b"])
    update_component_state(pairs, labels_p)
    got = {r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()}
    assert got[3] == 1 and got[11] == 10
    # takedown-ish: drop the {1,2,3} component's min from the pairs
    S.delete_snapshot(
        spark, spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
        pairs_p, ["id_a", "id_b"],
    )
    rebuild_component_labels(spark, pairs_p, labels_p)
    live = {r.doc_id: r.component_id for r in read_store(spark, labels_p).collect()}
    assert set(live) == {2, 3, 10, 11}
    assert live[2] == 2 and live[3] == 2


def test_corpus_ingest_batch_txn_fences_whole_composition(spark, tmp_path):
    """The composed ingest with txn: a full redelivery leaves every
    table at its version (no churn anywhere in the chain)."""
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    docs = _docs(spark, [(i, f"{BASE} doc {i}") for i in range(6)])
    lm = fit_trigram_lm(docs, "text")
    p = {k: str(tmp_path / k) for k in ("corpus", "sigs", "pairs", "scores")}
    gate = dict(stopwords=("alpha", "beta"), min_tokens=3)
    kw = dict(gate_kwargs=gate, num_perm=16, bands=8, threshold=0.3)
    corpus_ingest_batch(
        docs, lm, p["corpus"], p["sigs"], p["pairs"], p["scores"],
        txn=("ingest", 1), **kw,
    )
    versions = {k: S.current_version(v) for k, v in p.items()}
    assert all(v >= 1 for v in versions.values())
    corpus_ingest_batch(  # full redelivery of the same epoch
        docs, lm, p["corpus"], p["sigs"], p["pairs"], p["scores"],
        txn=("ingest", 1), **kw,
    )
    assert {k: S.current_version(v) for k, v in p.items()} == versions
    assert read_store(spark, p["corpus"]).count() == 6


def test_corpus_ingest_batch_replay_runs_no_spark_jobs(spark, tmp_path):
    """A redelivered batch every table already committed returns before
    the gate's eager checkpoint: 0 jobs, every version unchanged."""
    import uuid

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    docs = _docs(spark, [(i, f"{BASE} doc {i}") for i in range(6)])
    lm = fit_trigram_lm(docs, "text")
    p = {k: str(tmp_path / k) for k in ("corpus", "sigs", "pairs", "scores")}
    kw = dict(
        gate_kwargs=dict(stopwords=("alpha", "beta"), min_tokens=3),
        num_perm=16, bands=8, threshold=0.3, state_format="snapshot",
    )
    args = (docs, lm, p["corpus"], p["sigs"], p["pairs"], p["scores"])
    corpus_ingest_batch(*args, txn=("ingest", 1), **kw)
    versions = {k: S.current_version(v) for k, v in p.items()}

    sc = spark.sparkContext
    group = f"corpus-replay-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "corpus replay")
    try:
        corpus_ingest_batch(*args, txn=("ingest", 1), **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert {k: S.current_version(v) for k, v in p.items()} == versions
    # the early return still resolves first: a mistyped format raises
    with pytest.raises(ValueError, match="unknown table format"):
        corpus_ingest_batch(
            *args, txn=("ingest", 1), **{**kw, "state_format": "snapshots"}
        )


def test_stream_quality_scores_app_id_end_to_end(spark, tmp_path):
    """stream_quality_scores with app_id (VERDICT r15 task #7 — the
    replay-proof twin of the near-dedup e2e test): epochs commit the
    score table with txn=(app_id, epoch_id); a manual redelivery of a
    committed epoch's batch is fenced (zero version churn, identical
    rows), and genuinely new data advances the watermark."""
    from pyspark.sql import types as T

    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import (
        quality_score_batch,
        stream_quality_scores,
    )

    src = str(tmp_path / "src")
    scores_p = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    b1 = [(i, f"{BASE} tail {i}") for i in range(4)]
    ref = spark.createDataFrame(b1, schema)
    lm = fit_trigram_lm(ref, "text")
    ref.coalesce(1).write.mode("append").parquet(src)

    def run_pass():
        q = stream_quality_scores(
            spark.readStream.schema(schema).parquet(src),
            lm, scores_p, checkpoint_dir=ckpt, app_id="scorer",
        )
        q.awaitTermination()

    run_pass()
    assert store.detect_format(scores_p) == "snapshot"
    assert S.txn_version(scores_p, "scorer") == 0
    v = S.current_version(scores_p)
    rows = {r.doc_id: r.avg_nll_e6 for r in read_store(spark, scores_p).collect()}
    assert set(rows) == {0, 1, 2, 3}
    # redelivery of epoch 0's batch (foreachBatch crash-replay shape):
    # fenced — zero churn, byte-identical state
    quality_score_batch(
        spark.createDataFrame(b1, schema), lm, scores_p, txn=("scorer", 0)
    )
    assert S.current_version(scores_p) == v
    assert {
        r.doc_id: r.avg_nll_e6 for r in read_store(spark, scores_p).collect()
    } == rows
    # new data advances: the next epoch applies and the watermark moves
    spark.createDataFrame([(10, f"{BASE} tail 10")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    run_pass()
    assert S.txn_version(scores_p, "scorer") == 1
    assert read_store(spark, scores_p).count() == 5
