"""Declared queries: vector metrics (V5), pivot embedding (V2), and
multi-metric pivot k-NN (V4/V6) over the embeddings fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.functions import measures
from simsearch_spark.operators.pivot import embed_distances
from simsearch_spark.queries.core import K
from simsearch_spark.sources.registry import load_table

#: fixed pivot ids (explicit input for determinism — FIXTURES.md §F4; the
#: reference's random PivotSelector seed is replaced by this contract)
PIVOT_IDS = [0, 1, 2, 3]
#: fixed multi-metric scales (the reference's ε per attribute is a fitting
#: artifact — V1; explicit values keep the oracle self-contained)
PKNN_SCALE_VEC = 2.0
PKNN_SCALE_LBL = 1.0

# DuckDB fragments ------------------------------------------------------------
# element-wise over FLOAT[] via index lambda; list_reduce is a sequential left
# fold (first element as init) — same summation order as Spark's aggregate
# with 0-init, so doubles agree bit-for-bit.

def _l2_sql(a: str, b: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), "
        f"(acc, x) -> acc + x))"
    )


def _l1_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> abs({a}[i]::DOUBLE - {b}[i]::DOUBLE)), (acc, x) -> acc + x)"
    )


def _linf_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> abs({a}[i]::DOUBLE - {b}[i]::DOUBLE)), (acc, x) -> greatest(acc, x))"
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE), (acc, x) -> acc + x))"
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"(CASE WHEN {_norm_sql(a)} * {_norm_sql(b)} = 0 THEN 0.0 "
        f"ELSE {_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}) END)"
    )


# -----------------------------------------------------------------------------
# V5: metric distances between consecutive embedding pairs
# -----------------------------------------------------------------------------

def q_metric_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("id_b_join"), F.col("embedding").alias("vb"),
                   F.col("vec_id").alias("id_b"))
    pairs = a.join(b, a.id_a == b.id_b_join).where(F.col("id_a") < 50)
    va, vb = F.col("va"), F.col("vb")
    return pairs.select(
        F.col("id_a"),
        F.col("id_b"),
        F.round(measures.euclidean_distance(va, vb), 6).alias("l2"),
        F.round(measures.manhattan_distance(va, vb), 6).alias("l1"),
        F.round(measures.chebyshev_distance(va, vb), 6).alias("linf"),
        F.round(measures.cosine_similarity(va, vb), 6).alias("cos_sim"),
    )


SQL_METRIC_DISTANCES = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_l2_sql('a.embedding', 'b.embedding')}, 6) AS l2,
       round({_l1_sql('a.embedding', 'b.embedding')}, 6) AS l1,
       round({_linf_sql('a.embedding', 'b.embedding')}, 6) AS linf,
       round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
WHERE a.vec_id < 50
"""


# -----------------------------------------------------------------------------
# V2: distance-to-pivot embedding (pivots = explicit fixture rows)
# -----------------------------------------------------------------------------

def q_pivot_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pivots = [
        (r.vec_id, list(r.embedding))
        for r in emb.where(F.col("vec_id").isin(PIVOT_IDS)).orderBy("vec_id").collect()
    ]
    out = embed_distances(emb, "embedding", pivots)
    return out.select(
        F.col("vec_id").alias("id"),
        *[F.round(F.col(f"emb_{i}"), 6).alias(f"emb_{i}") for i in range(len(PIVOT_IDS))],
    )


_pivot_ctes = ", ".join(
    f"p{i} AS (SELECT embedding AS pv{i} FROM embeddings WHERE vec_id = {pid})"
    for i, pid in enumerate(PIVOT_IDS)
)

SQL_PIVOT_EMBED = f"""
WITH {_pivot_ctes}
SELECT e.vec_id AS id,
       {', '.join(f"round({_l2_sql('e.embedding', f'pv{i}')}, 6) AS emb_{i}" for i in range(len(PIVOT_IDS)))}
FROM embeddings e, {', '.join(f'p{i}' for i in range(len(PIVOT_IDS)))}
"""


# -----------------------------------------------------------------------------
# V4/V6: multi-metric k-NN — weighted mean of decayed sims over two
# "attributes" (embedding euclidean + label numerical), exact re-scoring,
# pivot pruning as an optimization that must not change results
# -----------------------------------------------------------------------------

PKNN_W_VEC = 0.8
PKNN_W_LBL = 0.2
PKNN_LABEL_Q = 1.0


def q_pivot_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 7).select("embedding").first()
    qvec = [float(x) for x in qrow.embedding]

    vd = measures.euclidean_distance(F.col("embedding"), measures.vec_lit(qvec))
    ld = F.abs(F.col("label").cast("double") - F.lit(PKNN_LABEL_Q))
    sim_v = measures.decayed_similarity(vd, F.lit(PKNN_SCALE_VEC))
    sim_l = measures.decayed_similarity(ld, F.lit(PKNN_SCALE_LBL))
    score = F.round(
        (sim_v * PKNN_W_VEC + sim_l * PKNN_W_LBL) / (PKNN_W_VEC + PKNN_W_LBL), 6
    )
    # rank on the weighted *distance* surrogate? No: reference V6 sorts by
    # score (PivotManager.java:749-770).  Rounded score + id tie-break keeps
    # cross-engine order deterministic.
    return (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(K)
        .select(F.col("vec_id").alias("id"), F.col("label"), F.col("score"))
    )


SQL_PIVOT_KNN = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
scored AS (
  SELECT e.vec_id AS id, e.label,
         round((exp(-0.05 * {_l2_sql('e.embedding', 'qv')} / {PKNN_SCALE_VEC}) * {PKNN_W_VEC}
              + exp(-0.05 * abs(e.label::DOUBLE - {PKNN_LABEL_Q}) / {PKNN_SCALE_LBL}) * {PKNN_W_LBL})
              / ({PKNN_W_VEC} + {PKNN_W_LBL}), 6) AS score
  FROM embeddings e, q
)
SELECT id, label, score FROM scored ORDER BY score DESC, id LIMIT {K}
"""


VECTOR_QUERIES = {
    "metric_distances": (q_metric_distances, SQL_METRIC_DISTANCES),
    "pivot_embed": (q_pivot_embed, SQL_PIVOT_EMBED),
    "pivot_knn": (q_pivot_knn, SQL_PIVOT_KNN),
}
