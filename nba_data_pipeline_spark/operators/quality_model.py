"""Model-based quality classification — the learned document filter
(fastText/GPT-3-style: train a linear classifier on labeled examples,
score the whole corpus, keep high-probability documents).

Split into the two phases their scale profiles demand:

- **Fit** runs on the LABELED sample (labels are the expensive thing;
  in practice ~10^5-10^6 documents). Features are hashed token counts
  densified per document and handed to ``pyspark.ml`` logistic
  regression — the distributed L-BFGS solver, so even a large labeled
  set never funnels through the driver. Only the (n_features + 1)
  learned parameters come back.
- **Score** is the 100-TB path and never touches pyspark.ml: the
  weight vector becomes a tiny broadcast table, scoring is one token
  explode + hash-bucket map + broadcast join + per-doc sum + sigmoid —
  pure relational operators, whole-stage codegen, one shuffle on the
  doc key.

The feature hash is the md5-prefix bucket used across this repo
(sampling.hashed_bigram_buckets): portable arithmetic every engine
computes identically; collisions are by design (the hashing trick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.data import local_frame


def hashed_token_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 1024,
) -> DataFrame:
    """(doc_id, bucket, cnt) hashed unigram counts — the sparse feature
    map shared by fit and score (same hash => train/serve parity)."""
    from .text import exploded_tokens, tokens

    return (
        exploded_tokens(
            df.select(F.col(id_col).alias("doc_id"), text_col), ["doc_id"], text_col, "_tok"
        )
        .select(
            "doc_id",
            F.pmod(
                F.conv(F.substring(F.md5(F.lower(F.col("_tok"))), 1, 8), 16, 10).cast("long"),
                F.lit(n_features),
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def fit_quality_classifier(
    labeled: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 1024,
    reg_param: float = 0.001,
    max_iter: int = 100,
) -> tuple[DataFrame, float]:
    """Fit a logistic-regression quality model on a labeled sample.

    Returns ``(weights, intercept)`` where ``weights`` is a DataFrame
    (bucket long, weight double) holding only the non-zero
    coefficients — the broadcast-able scoring artifact.

    The densification (sparse counts -> fixed-length vector) happens
    executor-side via map_from_entries + a sequence transform +
    ``pyspark.ml.functions.array_to_vector``; no Python UDF, no
    driver materialization of the design matrix.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feats = hashed_token_features(labeled, id_col, text_col, n_features)
    per_doc = feats.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("cnt").cast("double")))
        ).alias("_m")
    )
    dense = per_doc.select(
        "doc_id",
        array_to_vector(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_features - 1)),
                lambda i: F.coalesce(F.element_at("_m", i.cast("int")), F.lit(0.0)),
            )
        ).alias("features"),
    )
    train = dense.join(
        labeled.select(F.col(id_col).alias("doc_id"), F.col(label_col).cast("double").alias("label")),
        "doc_id",
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=reg_param,
        maxIter=max_iter,
        standardization=False,
    )
    model = lr.fit(train)
    coefs = model.coefficients.toArray()
    spark = labeled.sparkSession
    weights = local_frame(
        spark,
        [(int(i), float(w)) for i, w in enumerate(coefs) if w != 0.0],
        "bucket long, weight double",
    )
    return weights, float(model.intercept)


def quality_model_scores(
    df: DataFrame,
    weights: DataFrame,
    intercept: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 1024,
) -> DataFrame:
    """Score every document with a fitted model — the corpus-scale path.

    One explode + hash agg + broadcast weight join + per-doc sum;
    documents with no in-vocabulary tokens score sigmoid(intercept).
    Output: input rows + (quality_logit, quality_prob).
    """
    feats = hashed_token_features(df, id_col, text_col, n_features)
    dots = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("weight")).alias("_dot"))
    )
    logit = F.lit(float(intercept)) + F.coalesce(F.col("_dot"), F.lit(0.0))
    return (
        df.join(dots, df[id_col] == dots["doc_id"], "left")
        .drop(dots["doc_id"])
        .withColumn("quality_logit", logit)
        .withColumn("quality_prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("quality_logit"))))
        .drop("_dot")
    )
