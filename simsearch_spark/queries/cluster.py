"""Declared queries: embedding-space clustering and quantization — the
vector-curation extensions of the LLM-pipeline surface (the reference has
no clustering/compression operator; its vector path is pivot-based k-NN,
``pivoting/``).

Both oracles replay the FULL algorithm in SQL — the k-means oracle unrolls
every Lloyd iteration as CTE pairs, so assignment, re-averaging, and the
empty-cluster rule are all driver-verified, not just the final shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.operators.fanout import fanout_for_kernel
from simsearch_spark.operators.kmeans import auto_km_k, kmeans_assign
from simsearch_spark.operators.pq import (
    EMB_DIM,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
    PQ_TRAIN_N,
    pq_training_sample,
)
from simsearch_spark.operators.quantize import QUANT_LEVELS, quantization_error
from simsearch_spark.queries.vector import _cosine_sql, _l2_sql
from simsearch_spark.sources.registry import load_table

KM_K = 8
KM_ITERS = 2


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means document clustering (operators/kmeans.py):
    ``KM_ITERS`` Lloyd iterations from the k lowest-id seeds, reported as
    per-cluster size + mean distance-to-centroid — the domain-discovery /
    cluster-balanced-sampling step."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_assign(emb, "vec_id", "embedding", k=KM_K, iters=KM_ITERS)
    return out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("dist"), 6).alias("avg_dist"),
    )


def _km_assign_ctes(k: int, iters: int) -> str:
    """The WITH-chain of unrolled Lloyd's up to the final assignment CTE
    ``af`` — shared by the k-means oracle and the SemDeDup oracle."""
    sql = f"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster_id,
         list_transform(embedding, x -> round(x::DOUBLE, 6)) AS c
  FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT {k})
)"""
    prev = "c0"
    for it in range(1, iters + 1):
        sql += f""",
a{it} AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster_id ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster_id, {_l2_sql('e.embedding', 'c.c')} AS dist
        FROM e, {prev} c)
),
m{it} AS (
  SELECT s.cluster_id, u.i, round(avg(e.embedding[u.i]::DOUBLE), 6) AS mv
  FROM (SELECT vec_id, cluster_id FROM a{it} WHERE rn = 1) s
  JOIN e USING (vec_id), unnest(range(1, {EMB_DIM + 1})) AS u(i)
  GROUP BY s.cluster_id, u.i
),
cn{it} AS (SELECT cluster_id, list(mv ORDER BY i) AS c FROM m{it} GROUP BY cluster_id),
c{it} AS (
  SELECT p.cluster_id, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN cn{it} n USING (cluster_id)
)"""
        prev = f"c{it}"
    sql += f""",
af AS (
  SELECT vec_id, cluster_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster_id ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster_id, {_l2_sql('e.embedding', 'c.c')} AS dist
        FROM e, {prev} c)
)"""
    return sql


def _km_oracle(k: int, iters: int) -> str:
    """Unrolled Lloyd's in DuckDB SQL: per iteration an assignment CTE
    (row_number over (dist, cluster_id) — the strict-< argmin rule), a
    re-average CTE rounded to 6 like the engine, and an empty-cluster
    coalesce against the previous centroids."""
    return (
        _km_assign_ctes(k, iters)
        + """
SELECT cluster_id, count(*) AS n_vecs, round(avg(dist), 6) AS avg_dist
FROM af WHERE rn = 1 GROUP BY cluster_id
"""
    )


SQL_EMBED_KMEANS = _km_oracle(KM_K, KM_ITERS)


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit (operators/quantize.py): per fixture
    label, the member count and the average / worst L2 reconstruction
    error the 4× compression would introduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    qerr = quantization_error(emb, "vec_id", "embedding")
    return qerr.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("err"), 6).alias("avg_err"),
        F.round(F.max("err"), 6).alias("max_err"),
    )


SQL_EMBED_QUANTIZE = f"""
WITH flat AS (
  SELECT vec_id, u.i, embedding[u.i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, {EMB_DIM + 1})) AS u(i)
), st AS (
  SELECT i, min(v) AS mn, (max(v) - min(v)) / {QUANT_LEVELS} AS sc FROM flat GROUP BY i
), dq AS (
  SELECT f.vec_id, f.v,
         CASE WHEN st.sc = 0 THEN st.mn
              ELSE st.mn + least(greatest(round((f.v - st.mn) / st.sc, 0), 0), {QUANT_LEVELS}) * st.sc
         END AS r
  FROM flat f JOIN st USING (i)
), pe AS (
  SELECT vec_id, round(sqrt(sum((v - r) * (v - r))), 6) AS err FROM dq GROUP BY vec_id
)
SELECT e.label, count(*) AS n_vecs,
       round(avg(err), 6) AS avg_err, round(max(err), 6) AS max_err
FROM pe JOIN embeddings e USING (vec_id)
GROUP BY e.label
"""


# -----------------------------------------------------------------------------
# semdedup: cluster-then-prune semantic deduplication
# -----------------------------------------------------------------------------


def semdedup_prune(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    iters: int = KM_ITERS,
    threshold: float | None = None,
    rows_per_cluster: int = 5_000,
) -> DataFrame:
    """The SemDeDup composition as a reusable operator: k-means assign
    (k=None → `auto_km_k`, growing k with the corpus so clusters stay
    ~task-sized and the whole pipeline is linear in N), then the tiled
    within-cluster cosine prune.  Returns the assigned frame with an
    ``is_pruned`` 0/1 column."""
    from simsearch_spark.operators.dedup import clustered_cosine_pairs
    from simsearch_spark.queries.pipeline import COSINE_T

    if threshold is None:
        threshold = COSINE_T
    if k is None:
        k = auto_km_k(emb.count(), rows_per_cluster)
    assigned = kmeans_assign(emb, id_col, vec_col, k=k, iters=iters)
    pruned = (
        clustered_cosine_pairs(assigned, id_col, vec_col, "cluster_id", threshold=threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return assigned.join(pruned, id_col, "left").withColumn(
        "is_pruned", F.coalesce(F.col("is_pruned"), F.lit(0))
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (the Abbas et al. 2023 recipe shape): k-means cluster the
    embeddings, then prune near-duplicates ONLY within clusters — a vector
    is pruned iff a LOWER-id member of its own cluster has rounded cosine
    ≥ the corpus dedup threshold.  Reports per cluster (size, pruned,
    kept).

    100 TB shape (reworked round 7 after the r6 scale flag): k grows with
    the corpus (`auto_km_k` — clusters stay ~task-sized, so with k ∝ N
    the pair stage does N·rows_per_cluster work, linear not N²);
    assignment switches to the broadcast-centroid Arrow kernel above
    LITERAL_K_MAX so large k never inflates task binaries; and the pair
    stage is `clustered_cosine_pairs` — each cluster independently
    block-tiled, shuffle keyed by (cluster, tile) with bounded per-task
    pair counts, instead of a k-reducer self-join shipping full vectors.
    At the fixture scale auto_km_k floors at KM_K=8, keeping the oracle
    (every Lloyd iteration unrolled, then the within-cluster prune)
    byte-stable; large-k/table-path equality is pytest-pinned
    (tests/test_cluster.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flagged = semdedup_prune(emb, "vec_id", "embedding", k=KM_K)
    return flagged.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("is_pruned").alias("n_pruned"),
        (F.count(F.lit(1)) - F.sum("is_pruned")).alias("n_kept"),
    )


def _semdedup_oracle(k: int, iters: int) -> str:
    from simsearch_spark.queries.pipeline import COSINE_T

    return (
        _km_assign_ctes(k, iters)
        + f""",
asg AS (SELECT vec_id, cluster_id FROM af WHERE rn = 1),
pr AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round({_cosine_sql('ea.embedding', 'eb.embedding')}, 6) >= {COSINE_T}
)
SELECT asg.cluster_id, count(*)::BIGINT AS n_vecs,
       sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_pruned,
       (count(*) - sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_kept
FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
GROUP BY asg.cluster_id
"""
    )


SQL_SEMDEDUP = _semdedup_oracle(KM_K, KM_ITERS)


# -----------------------------------------------------------------------------
# embed_pq: product quantization (train + encode + reconstruction audit)
# -----------------------------------------------------------------------------

def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit (operators/pq.py — the IVF-PQ compression
    recipe): train ``PQ_M`` per-subspace codebooks with the deterministic
    Lloyd loop ON THE BOUNDED ``PQ_TRAIN_N`` SAMPLE, encode every vector
    to ``PQ_M`` codes, and report per fixture label the member count and
    the average / worst L2 reconstruction error — so codebook training,
    the per-subspace argmin encode, AND the composed error all verify
    against the oracle's fully unrolled replay (whose training chains read
    the identical lowest-id sample)."""
    from simsearch_spark.operators.pq import pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings").persist()
    books = pq_train(
        pq_training_sample(emb), "vec_id", "embedding", m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS
    )
    enc = pq_encode(
        fanout_for_kernel(emb.select("vec_id", "label", "embedding"), "vec_id"),
        "vec_id", "embedding", books,
    )
    err = None
    for j in range(PQ_M):
        term = F.col(f"dist_{j}") * F.col(f"dist_{j}")
        err = term if err is None else err + term
    # per-row error pinned to INTEGER MICRO-UNITS before the cross-row
    # fold (the lm_perplexity discipline): integer sums are exact and
    # order-independent, so the 7th-digit avg tie a float fold can flip
    # under different plans can never flip here
    return (
        enc.withColumn("err6", F.round(F.sqrt(err) * F.lit(1_000_000.0), 0).cast("long"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("err6").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0)),
                6,
            ).alias("avg_err"),
            F.round(F.max("err6").cast("double") / F.lit(1_000_000.0), 6).alias("max_err"),
        )
    )


#: the oracle-side mirror of ``pq_training_sample``
_SQL_PQ_TRAIN_SRC = (
    f"tr AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_TRAIN_N})"
)


def _pq_sub_ctes(j: int, dsub: int, ksub: int, iters: int) -> str:
    """Unrolled per-subspace Lloyd chain over ``embedding[a:b]`` slices —
    the ``_km_assign_ctes`` construction parameterized by subspace.
    TRAINING (seeds, assignment passes, re-means) reads ``t{j}`` — slices
    of the bounded lowest-id sample CTE ``tr`` (``_SQL_PQ_TRAIN_SRC``,
    the mirror of ``pq_training_sample``); the terminal assignment CTE
    ``af{j}`` (vec_id, dist, rn) scores EVERY row's slice ``e{j}`` against
    the final codebook, exactly like ``pq_encode``."""
    a, b = j * dsub + 1, (j + 1) * dsub
    sql = f"""t{j} AS (SELECT vec_id, embedding[{a}:{b}] AS s FROM tr),
e{j} AS (SELECT vec_id, embedding[{a}:{b}] AS s FROM embeddings),
c0x{j} AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster_id,
         list_transform(s, x -> round(x::DOUBLE, 6)) AS c
  FROM (SELECT vec_id, s FROM t{j} ORDER BY vec_id LIMIT {ksub})
)"""
    prev = f"c0x{j}"
    for it in range(1, iters + 1):
        sql += f""",
a{it}x{j} AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster_id ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster_id, {_l2_sql('e.s', 'c.c')} AS dist
        FROM t{j} e, {prev} c)
),
m{it}x{j} AS (
  SELECT s.cluster_id, u.i, round(avg(e.s[u.i]::DOUBLE), 6) AS mv
  FROM (SELECT vec_id, cluster_id FROM a{it}x{j} WHERE rn = 1) s
  JOIN t{j} e USING (vec_id), unnest(range(1, {dsub + 1})) AS u(i)
  GROUP BY s.cluster_id, u.i
),
cn{it}x{j} AS (SELECT cluster_id, list(mv ORDER BY i) AS c FROM m{it}x{j} GROUP BY cluster_id),
c{it}x{j} AS (
  SELECT p.cluster_id, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN cn{it}x{j} n USING (cluster_id)
)"""
        prev = f"c{it}x{j}"
    sql += f""",
af{j} AS (
  SELECT vec_id, cluster_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster_id ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster_id, {_l2_sql('e.s', 'c.c')} AS dist
        FROM e{j} e, {prev} c)
)"""
    return sql


def _pq_oracle(m: int, ksub: int, iters: int) -> str:
    dsub = EMB_DIM // m
    chains = _SQL_PQ_TRAIN_SRC + ",\n" + ",\n".join(
        _pq_sub_ctes(j, dsub, ksub, iters) for j in range(m)
    )
    dist_cols = ", ".join(f"f{j}.dist AS d{j}" for j in range(m))
    joins = " ".join(
        f"JOIN (SELECT vec_id, dist FROM af{j} WHERE rn = 1) f{j} USING (vec_id)"
        for j in range(m)
    )
    err = " + ".join(f"d{j} * d{j}" for j in range(m))
    return f"""WITH {chains},
enc AS (
  SELECT emb.vec_id, emb.label, {dist_cols}
  FROM embeddings emb {joins}
)
SELECT label, count(*) AS n_vecs,
       round(sum(err6)::DOUBLE / (count(*)::DOUBLE * 1000000.0), 6) AS avg_err,
       round(max(err6)::DOUBLE / 1000000.0, 6) AS max_err
FROM (SELECT label, round(sqrt({err}) * 1000000.0, 0)::BIGINT AS err6 FROM enc)
GROUP BY label
"""


SQL_EMBED_PQ = _pq_oracle(PQ_M, PQ_KSUB, PQ_ITERS)


# -----------------------------------------------------------------------------
# ann_pq_topk: ADC top-k over the PQ-encoded corpus — the 4th ANN family
# member (brute / sign-LSH / IVF / PQ)
# -----------------------------------------------------------------------------

ANN_PQ_K = 10


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over the PQ-ENCODED corpus (the serving
    half of the IVF-PQ recipe): train + encode as in ``embed_pq``, then
    the query (lowest-id embedding) scans codes with a driver-built
    m×ksub LUT of squared subdistances — m ``element_at`` lookups + a
    fixed-order sum per row, one TakeOrderedAndProject.  Approximate by
    construction; its recall-vs-exact audit is tests/test_pq.py's
    candidates+rerank contract.  Training reads only the bounded
    lowest-id ``PQ_TRAIN_N`` sample (the 100 TB shape).  The oracle
    replays EVERYTHING: all m unrolled training chains over the same
    sample, the per-subspace argmin codes, and the same left-fold LUT
    arithmetic."""
    from simsearch_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings").persist()
    books = pq_train(
        pq_training_sample(emb), "vec_id", "embedding", m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS
    )
    enc = pq_encode(
        fanout_for_kernel(emb.select("vec_id", "embedding"), "vec_id"),
        "vec_id", "embedding", books,
    )
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return pq_adc_topk(enc, "vec_id", books, q, ANN_PQ_K)


def _l2sq_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), "
        f"(acc, x) -> acc + x)"
    )


def _ann_pq_oracle(m: int, ksub: int, iters: int, k: int) -> str:
    dsub = EMB_DIM // m
    chains = _SQL_PQ_TRAIN_SRC + ",\n" + ",\n".join(
        _pq_sub_ctes(j, dsub, ksub, iters) for j in range(m)
    )
    sels = ",\n".join(
        f"sel{j} AS (SELECT vec_id, cluster_id FROM af{j} WHERE rn = 1)" for j in range(m)
    )
    # per subspace: the code's centroid from the FINAL centroid CTE, scored
    # against the query slice with the same ascending-dimension left fold
    # the driver-side LUT uses
    dists = ", ".join(
        _l2sq_sql(f"qv[{j * dsub + 1}:{(j + 1) * dsub}]", f"cb{j}.c") + f" AS d{j}"
        for j in range(m)
    )
    joins = " ".join(
        f"JOIN sel{j} USING (vec_id) JOIN c{iters}x{j} cb{j} ON cb{j}.cluster_id = sel{j}.cluster_id"
        for j in range(m)
    )
    total = " + ".join(f"d{j}" for j in range(m))
    return f"""WITH {chains},
{sels},
q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
adc AS (
  SELECT e.vec_id, {dists}
  FROM embeddings e {joins}, q
)
SELECT vec_id, round(sqrt({total}), 6) AS adc_dist
FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT {k}
"""


SQL_ANN_PQ_TOPK = _ann_pq_oracle(PQ_M, PQ_KSUB, PQ_ITERS, ANN_PQ_K)


CLUSTER_QUERIES = {
    "embed_kmeans": (q_embed_kmeans, SQL_EMBED_KMEANS),
    "embed_quantize": (q_embed_quantize, SQL_EMBED_QUANTIZE),
    "embed_pq": (q_embed_pq, SQL_EMBED_PQ),
    "ann_pq_topk": (q_ann_pq_topk, SQL_ANN_PQ_TOPK),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
}
