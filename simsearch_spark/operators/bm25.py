"""BM25 keyword top-k over a document corpus.

The reference's textual facet is q-gram Jaccard over short strings
(SURVEY §2.3 K5); this is its corpus-scale retrieval dual — the ranking
function a training-data pipeline uses for keyword curation queries.

Plan shape (query tokens are a small literal list):
1. stats pass: ONE aggregate computes N, avgdl, and per-query-token
   document frequencies (a sum of boolean exprs — no explode, no shuffle,
   1-row broadcast result);
2. score pass: per-document tf for each query token is a column expression
   over the token array (``size(filter(...))``), the BM25 sum is a fixed
   left-to-right fold over the query's tokens in sorted order (cross-engine
   deterministic), and the top-k is TakeOrderedAndProject.

Zero shuffles; both passes are pushed-filter scans.  At 100 TB the stats
pass amortizes: N/avgdl/df come from the corpus-stats table every real
deployment maintains, leaving one scan per query.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def _tf(tokens: Column, term: str) -> Column:
    return F.size(F.filter(tokens, lambda t: t == F.lit(term)))


def bm25_idf(n_docs: int, df_t: int) -> float:
    """The (Robertson-Walker) BM25 idf both engines evaluate — driver-side
    exact doubles, ln on bounded inputs."""
    return math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)


def bm25_doc_freq(tdocs: DataFrame) -> DataFrame:
    """(term, df) over a (doc_id, toks) frame: the number of documents
    holding each term — the mounted ``bm25_df`` artifact and each
    append's delta to it."""
    return (
        tdocs.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def bm25_score_topk(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    term_idfs: list[tuple[str, float]],
    avgdl: float,
    k: int,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """The SCORE pass alone, given already-known per-term idfs and the
    corpus avgdl — the serve-side half: a mounted corpus-stats artifact
    (``mount/serve.py serve_bm25_topk``) supplies the statistics the
    one-pass ``bm25_topk`` computes inline, and this scan is all a query
    pays.  ``term_idfs`` must be in sorted term order (the fixed
    left-to-right fold that keeps the float sum cross-engine
    deterministic)."""
    toks = F.col(tokens_col)
    dl = F.size(toks)
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / F.lit(avgdl or 1.0))
    score = F.lit(0.0)
    for t, idf in term_idfs:
        tf = _tf(toks, t).cast("double")
        score = score + F.lit(float(idf)) * (tf * F.lit(k1 + 1.0)) / (tf + norm)

    return (
        df.where(toks.isNotNull())
        .select(F.col(id_col), F.round(score, 6).alias("score"), dl.alias("n_tokens"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    query_tokens: list[str],
    k: int,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(id, score, n_tokens) of the k best BM25 matches; score rounded to 6,
    ties broken by id ascending (the repo-wide determinism contract)."""
    terms = sorted(set(query_tokens))
    toks = F.col(tokens_col)
    dl = F.size(toks)

    stats_aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(dl.cast("double")).alias("avgdl"),
    ]
    for i, t in enumerate(terms):
        stats_aggs.append(F.sum((_tf(toks, t) > 0).cast("long")).alias(f"df_{i}"))
    stats = df.where(toks.isNotNull()).agg(*stats_aggs).first()
    n_docs, avgdl = int(stats.n_docs), float(stats.avgdl or 0.0)

    term_idfs = [
        (t, bm25_idf(n_docs, int(stats[f"df_{i}"]))) for i, t in enumerate(terms)
    ]
    return bm25_score_topk(df, id_col, tokens_col, term_idfs, avgdl, k, k1, b)
