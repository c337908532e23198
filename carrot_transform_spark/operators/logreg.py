"""Distributed logistic-regression text classifier over hashed n-gram
features (the fastText-style model-based quality filter).

CCNet/FineWeb-class pipelines filter with a TRAINED linear classifier
over bag-of-n-gram features (fastText: Joulin et al. 2016,
arXiv:1607.01759) next to rule-based filters (operators/quality.py),
perplexity ranking (operators/ngram_lm.py) and importance resampling
(operators/dsir.py). This module trains that classifier ON the cluster
with deterministic full-batch gradient descent — no MLlib dependency, no
driver-sized data movement — and scores documents with it.

Features reuse operators/dsir.hashed_ngram_counts (unigram+bigram ->
md5 bucket in [0, B)), encoded as binary PRESENCE (x_db = 1 if bucket b
occurs in doc d) plus a bias feature at bucket -1 — presence keeps every
feature at unit scale, so full-batch GD actually moves the discriminative
weights (tf-scaled features at ~1/len leave gradients ~100x smaller and
the optimizer stuck at the base rate; measured on the test corpus).
Each training round is two aggregations over the CACHED feature matrix:

    margin_d = sum_b x_db * w_b           (join with the B-row broadcast
    p_d      = sigmoid(margin_d)           weight table)
    grad_b   = sum_d x_db * (p_d - y_d) / N
    w_b     <- round9(w_b - lr * grad_b)

The only driver traffic is the <=B+1-row weight table per round (the
k-centroid pattern of operators/kmeans.py). At 100 TB: persist the
feature matrix once; per-round cost is one scan of it, independent of
round count; the weight table is broadcast data, O(1) plan size.

Engine determinism: weights are fround()-quantized to 1e-9 at the end of
every round in BOTH engines, so cross-engine float drift cannot compound
across rounds; the generated DuckDB twin (``logreg_sql``) re-runs every
round as a chained CTE — the same recipe as operators/bpe.bpe_train_sql.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from carrot_transform_spark.functions.rounding import fround, fround_sql
from carrot_transform_spark.operators.dsir import hashed_ngram_counts, _HEX_BITS

DEFAULT_BUCKETS = 1024
DEFAULT_ROUNDS = 12
DEFAULT_LR = 8.0
_BIAS = -1  # bucket id of the bias feature (tf = 1.0 on every doc)

# Below this many (doc, bucket) feature rows the GD loop runs driver-side
# on the collected matrix instead of as 12 sequential two-stage Spark jobs:
# at gate scale each distributed round was ~1.1 s of pure stage-scheduling
# latency over ~36k rows (measured sf0.01; the suite wall was this one
# builder), while the same 12 rounds over numpy arrays take ~10 ms. The
# steps are the same (sum -> sigmoid -> sum/n -> fround 1e-9 per round),
# but summation order and libm differ between numpy and Spark, so the raw
# doubles can drift by a few ulps; in practice the per-round 1e-9 weight
# quantisation absorbs that drift — the same tolerance that lets the
# DuckDB chained-CTE twin match. Above the threshold
# the distributed loop engages unchanged (its per-round cost is one cache
# scan, independent of round count — the 100 TB posture).
LOCAL_TRAIN_ROWS = int(os.environ.get("SPARK_GRAFT_LOGREG_LOCAL_ROWS", "2000000"))


def presence_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id, bucket, tf): binary-presence hashed n-gram features + bias
    (tf = 1.0 for every occurring bucket — see module docstring for why
    presence beats tf scaling here).

    Docs with no tokens still get the bias row, so every document has a
    margin and a score."""
    fc = hashed_ngram_counts(docs, id_col, text_col, buckets)
    tf = fc.select(id_col, "bucket", F.lit(1.0).alias("tf"))
    bias = docs.select(id_col, F.lit(_BIAS).alias("bucket"), F.lit(1.0).alias("tf"))
    return tf.unionByName(bias)


def logreg_train(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    rounds: int = DEFAULT_ROUNDS,
    lr: float = DEFAULT_LR,
) -> DataFrame:
    """Train by full-batch GD; returns the final (bucket, w) weight table.

    ``feats`` = (id, bucket, tf); ``labels`` = (id, y) with y in {0, 1}.
    Weights start at 0 (the gradient is then label-balance-driven), each
    round collects only the <=B+1-row weight table."""
    spark = feats.sparkSession
    # Pin the cached matrix to defaultParallelism partitions HASHED BY DOC:
    # the cache would otherwise freeze the join's full shuffle-partition
    # fan-out (AQE cannot re-plan through a cache, so every round would
    # launch hundreds of near-empty tasks), and doc-hashing makes the
    # per-doc margin aggregation shuffle-free — each round is then one
    # cache scan + one bucket-shuffle.
    fx = (
        feats.join(labels, id_col)
        .repartition(spark.sparkContext.defaultParallelism, id_col)
        .persist()
    )
    n = fx.select(id_col).distinct().count()
    w_rows = [
        (int(r["bucket"]), 0.0) for r in fx.select("bucket").distinct().collect()
    ]
    fx_rows = fx.count()  # cache already materialized by the jobs above
    if fx_rows <= LOCAL_TRAIN_ROWS:
        w_rows = _local_gd_rounds(
            fx.select(id_col, "bucket", "tf", "y").collect(), w_rows, n, rounds, lr
        )
        fx.unpersist()
        return spark.createDataFrame(w_rows, "bucket long, w double")
    for _ in range(rounds):
        w_df = spark.createDataFrame(w_rows, "bucket long, w double")
        margins = (
            fx.join(F.broadcast(w_df), "bucket")
            .groupBy(id_col, "y")
            .agg(F.sum(F.col("tf") * F.col("w")).alias("m"))
            .select(
                id_col,
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")).alias(
                    "resid"
                ),
            )
        )
        grad = (
            fx.join(margins, id_col)
            .groupBy("bucket")
            .agg((F.sum(F.col("tf") * F.col("resid")) / F.lit(float(n))).alias("g"))
        )
        new_w = (
            # broadcast the RIGHT (non-preserved) side: Spark cannot
            # build-left a left-outer join, so a hint on the left side is
            # silently ignored; grad is <= buckets+1 rows either way
            spark.createDataFrame(w_rows, "bucket long, w double")
            .join(F.broadcast(grad), "bucket", "left")
            .select(
                "bucket",
                fround(
                    F.col("w") - F.lit(lr) * F.coalesce(F.col("g"), F.lit(0.0)), 9
                ).alias("w"),
            )
        )
        w_rows = [(int(r["bucket"]), float(r["w"])) for r in new_w.collect()]
    fx.unpersist()
    spark_w = spark.createDataFrame(w_rows, "bucket long, w double")
    return spark_w


def _local_gd_rounds(
    rows: list, w_rows: list[tuple[int, float]], n: int, rounds: int, lr: float
) -> list[tuple[int, float]]:
    """The GD recurrence over a collected (id, bucket, tf, y) matrix —
    the identical op sequence as the distributed loop (margin sum ->
    sigmoid residual -> gradient sum / n -> lr step -> floor(x*1e9+0.5)/1e9),
    in float64 throughout. See LOCAL_TRAIN_ROWS for when this engages."""
    import numpy as np

    doc_ids = sorted({r[0] for r in rows})
    doc_idx = {d: i for i, d in enumerate(doc_ids)}
    buckets = [b for b, _ in w_rows]
    b_idx = {b: i for i, b in enumerate(buckets)}
    di = np.fromiter((doc_idx[r[0]] for r in rows), dtype=np.int64, count=len(rows))
    bi = np.fromiter((b_idx[r[1]] for r in rows), dtype=np.int64, count=len(rows))
    tf = np.fromiter((r[2] for r in rows), dtype=np.float64, count=len(rows))
    y = np.zeros(len(doc_ids), dtype=np.float64)
    for r in rows:
        y[doc_idx[r[0]]] = r[3]
    w = np.array([wv for _, wv in w_rows], dtype=np.float64)
    for _ in range(rounds):
        m = np.zeros(len(doc_ids), dtype=np.float64)
        np.add.at(m, di, tf * w[bi])
        resid = 1.0 / (1.0 + np.exp(-m)) - y
        g = np.zeros(len(buckets), dtype=np.float64)
        np.add.at(g, bi, tf * resid[di])
        w = np.floor((w - lr * (g / float(n))) * 1e9 + 0.5) / 1e9
    return [(int(b), float(wv)) for b, wv in zip(buckets, w)]


def logreg_score(
    feats: DataFrame, weights: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, p): sigmoid(margin) under the trained weights — the filter
    score. One broadcast join + one aggregation."""
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("w")).alias("m"))
        .select(
            id_col,
            fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 6).alias("p"),
        )
    )


def logreg_quality_docs(
    docs: DataFrame,
    label_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    rounds: int = DEFAULT_ROUNDS,
    lr: float = DEFAULT_LR,
    persist_registry: list | None = None,
) -> DataFrame:
    """Self-train + score (the sub-check shape): one unified emission of
    the final weight table (kind='w') and every doc's score (kind='p').

    ``label_expr`` is a Column producing the {0,1} training label (e.g.
    (lang == 'en').cast). The feature frame feeds both training and the
    final scoring pass — persisted so the corpus explode runs once."""
    feats = presence_features(docs, id_col, text_col, buckets).persist()
    if persist_registry is not None:
        persist_registry.append(feats)
    labels = docs.select(id_col, label_expr.cast("double").alias("y"))
    w = logreg_train(feats, labels, id_col, rounds, lr)
    scores = logreg_score(feats, w, id_col)
    w_rows = w.select(
        F.lit("w").alias("kind"), F.col("bucket").alias("id"), F.col("w").alias("val")
    )
    p_rows = scores.select(
        F.lit("p").alias("kind"), F.col(id_col).alias("id"), F.col("p").alias("val")
    )
    return w_rows.unionByName(p_rows)


def logreg_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_sql: str = "lang = 'en'",
    buckets: int = DEFAULT_BUCKETS,
    rounds: int = DEFAULT_ROUNDS,
    lr: float = DEFAULT_LR,
) -> str:
    """DuckDB twin of logreg_quality_docs: the identical feature hash,
    presence encoding, and EVERY training round re-run as a chained CTE
    with the same 1e-9 weight quantisation."""
    ws = "[ \t\r\n]+"
    bucket = (
        "CAST(CAST(CONCAT('0x', substring(md5(feat), 1, {n})) AS UBIGINT)"
        " % {b} AS BIGINT)"
    ).format(n=_HEX_BITS, b=buckets)
    parts = [
        f"""toks AS MATERIALIZED (
        SELECT {id_col},
               list_filter(regexp_split_to_array({text_col}, '{ws}'),
                           t -> t <> '') AS l
        FROM {table}
    ),
    rawfeats AS (
        SELECT {id_col}, unnest(l) AS feat FROM toks
        UNION ALL
        SELECT {id_col}, l[u.i] || chr(31) || l[u.i + 1] AS feat
        FROM toks, UNNEST(range(1, len(l))) AS u(i)
    ),
    fc AS (
        SELECT {id_col}, {bucket} AS bucket, COUNT(*) AS c
        FROM rawfeats GROUP BY 1, 2
    ),
    feats AS MATERIALIZED (
        SELECT {id_col}, bucket, 1.0 AS tf FROM fc
        UNION ALL
        SELECT {id_col}, {_BIAS} AS bucket, 1.0 AS tf FROM {table}
    ),
    lab AS MATERIALIZED (
        SELECT {id_col}, CAST(CASE WHEN {label_sql} THEN 1 ELSE 0 END AS DOUBLE) AS y
        FROM {table}
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab),
    w0 AS (SELECT DISTINCT bucket, 0.0 AS w FROM feats)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""m{r} AS MATERIALIZED (
        SELECT f.{id_col},
               1.0 / (1.0 + exp(-SUM(f.tf * w.w))) - ANY_VALUE(l.y) AS resid
        FROM feats f
        JOIN w{r - 1} w USING (bucket)
        JOIN lab l USING ({id_col})
        GROUP BY f.{id_col}
    ),
    w{r} AS MATERIALIZED (
        SELECT w.bucket,
               {fround_sql(
                   f"w.w - {lr} * COALESCE(g.g, 0.0)", 9
               )} AS w
        FROM w{r - 1} w
        LEFT JOIN (
            SELECT f.bucket, SUM(f.tf * m.resid) / (SELECT n FROM nn) AS g
            FROM feats f JOIN m{r} m USING ({id_col})
            GROUP BY f.bucket
        ) g USING (bucket)
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT 'w' AS kind, bucket AS id, w AS val FROM w{rounds}
    UNION ALL
    SELECT 'p' AS kind, f.{id_col} AS id,
           {fround_sql("1.0 / (1.0 + exp(-SUM(f.tf * w.w)))", 6)} AS val
    FROM feats f JOIN w{rounds} w USING (bucket)
    GROUP BY f.{id_col}
    """


# ------------------------------------------------- persistence + scoring


def save_model(path: str, weights: DataFrame) -> None:
    """Persist trained weights as one parquet table <path>/weights
    (bucket, w) — the immutable train-once / filter-everywhere artifact,
    same hand-off style as the saved tokenizers (operators/bpe.py,
    operators/unigram.py) and PQ codebooks."""
    weights.coalesce(1).write.mode("overwrite").parquet(f"{path}/weights")


def load_model(spark, path: str) -> DataFrame:
    """The (bucket, w) weight table from a saved model."""
    return spark.read.parquet(f"{path}/weights")


def score_new_docs(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id, p): score arbitrary new documents under a trained model —
    hash features with the same bucket count the model was trained with,
    then one broadcast join + one aggregation. Buckets unseen in training
    simply have no weight row and contribute nothing (the hashed-feature
    contract: the model IS the bucket->weight map)."""
    feats = presence_features(docs, id_col, text_col, buckets)
    # logreg_score's inner join drops unknown buckets on its own; the bias
    # feature (always in a trained model) keeps every doc scoreable
    return logreg_score(feats, weights, id_col)
