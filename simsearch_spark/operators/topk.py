"""Per-attribute similarity-search kernels (SURVEY.md §2.3 K1–K6).

The reference walks per-attribute in-heap indexes (B+-tree leaves outward
from q, STR-tree k-NN, inverted-list AllPairs) on one thread per attribute.
The Spark-first equivalent is a declarative score-everything plan:

    scan → [pre-filter] → dist column → (two-pass scale) → decayed sim
         → orderBy(dist, id) LIMIT k

which Catalyst executes as parquet scan with pushed filters + pruned columns
feeding a ``TakeOrderedAndProject`` — per-partition top-k heaps merged on the
driver, i.e. O(rows) scan but O(k) memory/network, the right trade at 100 TB
where maintaining a mutable global index is the wrong primitive.

Scale rule (the data-dependent part): when ``Facet.scale`` is None the scale
factor is the exact k-th nearest distance (``NumericalSimSearch.java:244-246``,
``CategoricalSimSearch.java:300-311``, ``SpatialSimSearch.java:129-137``).
Implemented as a lazy 1-row aggregate cross-joined (broadcast) into the
scoring pass — two scans, no collect, fully distributed.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simsearch_spark.functions import measures
from simsearch_spark.functions.text import qgrams
from simsearch_spark.plans.spec import Facet


# ---------------------------------------------------------------------------
# distance binding per facet kind
# ---------------------------------------------------------------------------

def facet_distance(df_cols: dict[str, Column], facet: Facet) -> Column:
    """Bind a facet's distance expression over the source columns.

    Mirrors the (operation × ingested) kernel dispatch of
    ``engine/processor/ingested/IndexSimSearch.java:155-271``.
    """
    q = facet.query_value
    if facet.kind in ("numerical",):
        return measures.abs_diff(df_cols[facet.value_cols[0]], F.lit(float(q)))
    if facet.kind == "temporal":
        # epoch-seconds double semantics (DataIngestor.java:326-369)
        col = df_cols[facet.value_cols[0]].cast("timestamp").cast("double")
        qcol = F.lit(q).cast("timestamp").cast("double")
        return F.abs(col - qcol)
    if facet.kind == "spatial":
        lon, lat = (df_cols[c] for c in facet.value_cols[:2])
        qlon, qlat = float(q[0]), float(q[1])
        if facet.metric == "haversine":
            return measures.haversine_distance(lon, lat, F.lit(qlon), F.lit(qlat))
        return measures.planar_distance(lon, lat, F.lit(qlon), F.lit(qlat))
    if facet.kind == "categorical":
        tokens = df_cols[facet.value_cols[0]]
        # query-side set resolved driver-side: Catalyst does not constant-fold
        # higher-order array exprs over literals, and a literal array is ~4x
        # cheaper per row (measured at sf0.1)
        qset = F.array(*[F.lit(t) for t in sorted(set(q))])
        return measures.jaccard_distance(tokens, qset)
    if facet.kind == "textual":
        grams = qgrams(df_cols[facet.value_cols[0]], facet.qgram)
        qs = str(q).lower()
        w = facet.qgram
        py_grams = sorted({qs[i : i + w] for i in range(max(len(qs) - w + 1, 1))})
        qg = F.array(*[F.lit(g) for g in py_grams])
        return measures.jaccard_distance(grams, qg)
    if facet.kind == "vector":
        vec = df_cols[facet.value_cols[0]]
        qvec = measures.vec_lit(q)
        metric = {
            "euclidean": measures.euclidean_distance,
            "manhattan": measures.manhattan_distance,
            "chebyshev": measures.chebyshev_distance,
        }
        if facet.metric == "cosine":
            return F.lit(1.0) - measures.cosine_similarity(vec, qvec)
        return metric[facet.metric](vec, qvec)
    raise ValueError(f"unsupported facet kind {facet.kind}")


def facet_similarity(dist: Column, scale: Column, facet: Facet) -> Column:
    """Decayed similarity with the categorical disjoint-set special case
    (``DecayedSimilarity.java:69-70``)."""
    if facet.kind in ("categorical", "textual"):
        return measures.jaccard_similarity_scored(dist, scale, facet.decay)
    return measures.decayed_similarity(dist, scale, facet.decay)


# ---------------------------------------------------------------------------
# two-pass k-th-distance scale
# ---------------------------------------------------------------------------

def kth_distance(scored: DataFrame, dist_col: str, k: int, out_name: str) -> DataFrame:
    """1-row DataFrame holding the exact k-th smallest distance (dense, not
    distinct — FIXTURES.md §F4).  ``orderBy(dist).limit(k)`` compiles to
    TakeOrderedAndProject: per-partition heap of size k, merged once — scales
    to any row count with O(k) memory."""
    return (
        scored.select(dist_col)
        .where(F.col(dist_col).isNotNull())
        .orderBy(F.col(dist_col))
        .limit(k)
        .agg(F.max(dist_col).alias(out_name))
    )


def resolve_query_value(df: DataFrame, facet: Facet) -> Any:
    """K6: the literal query value "max" resolves to the attribute maximum
    before search (``SearchHandler.java:434-441``).  This is the one place a
    scalar aggregate is collected driver-side — a single number, as the
    reference does."""
    if facet.kind == "numerical" and isinstance(facet.query_value, str) and facet.query_value == "max":
        vmax = df.agg(F.max(facet.value_cols[0])).first()[0]
        return float(vmax)
    return facet.query_value


# ---------------------------------------------------------------------------
# single-facet top-k (K1/K2/K3 + T4 Singleton ranking)
# ---------------------------------------------------------------------------

def single_facet_topk(
    df: DataFrame,
    key_column: str,
    facet: Facet,
    k: int,
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k by one similarity condition — reference kernel + Singleton
    ranking (``SingletonRanking.java:105-218``).

    Output: (id, value, dist, score, rank) ordered by (dist asc, id asc);
    ranking by ascending distance ≡ descending similarity since the decay is
    monotone, and distance comparisons are exact IEEE ops (hash-safe across
    engines, unlike comparing exp() outputs).
    """
    facet = Facet(**{**facet.__dict__, "query_value": resolve_query_value(df, facet)})
    cols = {c: F.col(c) for c in df.columns}

    base = df
    if facet.filter:
        # P2 pre-filter: applied before scoring, pushed to the scan by Catalyst
        base = base.where(F.expr(facet.filter))
    # P3: null values can never rank (score would be null); drop pre-score
    base = base.where(F.col(facet.value_cols[0]).isNotNull())

    scored = base.withColumn("dist", facet_distance(cols, facet))

    if facet.scale is not None:
        scale_col = F.lit(float(facet.scale))
        with_scale = scored
    else:
        scale_df = kth_distance(scored, "dist", k, "__scale")
        with_scale = scored.crossJoin(F.broadcast(scale_df))
        scale_col = F.col("__scale")

    sim = facet_similarity(F.col("dist"), scale_col, facet)
    if round_digits is not None:
        sim = F.round(sim, round_digits)

    # TakeOrderedAndProject keeps this O(k) memory; the rank window runs on
    # only k rows (single tiny partition), not the full table.
    out = (
        with_scale.withColumn("score", sim)
        .orderBy(F.col("dist").asc(), F.col(key_column).asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("dist").asc(), F.col(key_column).asc())),
        )
    )
    keep = [key_column, *facet.value_cols, "dist", "score", "rank"]
    return out.select(*[c for c in keep if c in out.columns])
