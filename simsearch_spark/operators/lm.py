"""Count-based bigram language model: training tables and add-α scoring.

The CCNet-style corpus-quality signal — per-document mean over its
bigrams of −ln p(w₂|w₁), p(w₂|w₁) = (c(w₁w₂)+α)/(c(w₁·)+α·V).  One
implementation serves the declared ``lm_perplexity`` query
(``queries/vocab.py``) and every ``mount/`` path: training
(``artifacts.py``), appends (``maintain.py``), serving (``serve.py``)
and the drift audit (``audit.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simsearch_spark.functions.text import ws_tokens
from simsearch_spark.operators.fanout import fanout_for_kernel

LM_ALPHA = 0.5  # add-alpha smoothing


def lm_doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, ngram, m, ctx): per-document bigram counts — the row-local
    fan-out + one keyed map-side-combinable shuffle that both the LM
    training tables and per-query scoring derive from.

    Bigrams are a zip of two shifted token slices: pairing positions with
    sequence+element_at re-walks the array per element (quadratic per
    row), while two shifted slices are one linear copy each."""
    toked = fanout_for_kernel(docs, "doc_id").select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        toked.select("doc_id", F.explode(bigrams).alias("ngram"))
        .groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("m"))
        .withColumn("ctx", F.substring_index("ngram", " ", 1))
    )


def lm_vocab(docs: DataFrame) -> DataFrame:
    """The 1-row vocabulary size ``v``: distinct whitespace tokens."""
    return docs.select(F.explode(ws_tokens(F.col("text"))).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )


def lm_count_tables(bgc: DataFrame, docs: DataFrame):
    """The corpus-level LM artifacts — (bigram counts ``cb``, context
    counts ``cu``, 1-row vocab size ``v``).  Mount-time output
    (``mount/artifacts.py``): persisted once, every serve-side scoring
    query joins them instead of re-aggregating the corpus."""
    cb = bgc.groupBy("ngram").agg(F.sum("m").alias("cb"))
    cu = bgc.groupBy("ctx").agg(F.sum("m").alias("cu"))
    return cb, cu, lm_vocab(docs)


def lm_score(
    docs: DataFrame, bgc: DataFrame, cb: DataFrame, cu: DataFrame, vocab: DataFrame
) -> DataFrame:
    """Per-document add-α bigram log-perplexity given the LM tables —
    identical arithmetic whether the tables were just aggregated
    (mount training) or loaded from a mount (serve_lm_perplexity)."""
    enriched = bgc.join(cb, "ngram").join(cu, "ctx").crossJoin(F.broadcast(vocab))
    return _lm_join_docs(docs, _lm_scored_agg(enriched))


def lm_score_self(docs: DataFrame, bgc: DataFrame, vocab: DataFrame) -> DataFrame:
    """Self-trained scoring (q_lm_perplexity): when the LM tables would be
    aggregated from ``bgc`` itself, the two aggregate-then-join subplans
    are redundant — cb/cu are window sums over the very frame being
    scored.  Integer counts make the window and join arms exactly equal
    (sum order cannot matter), and the plan drops from two aggregation
    subplans + two sort-merge joins (4 exchanges of ``bgc``-derived data)
    to two window exchanges over one pass of the persisted bigram frame.
    The serve/audit path keeps :func:`lm_score` — mounted tables are a
    different source and genuinely need the join."""
    return _lm_join_docs(docs, lm_score_self_agg(bgc, vocab))


def lm_score_self_agg(bgc: DataFrame, vocab: DataFrame) -> DataFrame:
    """The window-sum self-scoring WITHOUT the docs re-attach join: one
    (doc_id, n_bigrams, log_ppl) row per document that has ≥1 bigram.
    Compositions that left-join these scores onto their own doc-keyed
    frame (corpus_curation_pipeline) use this arm directly — the corpus
    LEFT JOIN in :func:`lm_score_self` only re-attaches unscorable docs
    as ``(0, NULL)`` rows, which an outer left join reproduces anyway."""
    # ONE exchange serves both window sums (r15, guide §2.4): ``ctx`` is
    # functionally determined by ``ngram`` (its first word, set in
    # lm_doc_bigrams), so partitionBy("ctx", "ngram") groups rows exactly
    # as partitionBy("ngram") does, while hash-partitioning on ``ctx``
    # alone satisfies BOTH windows' required distributions — the second
    # window reuses the first's exchange AND its (ctx, ngram) sort order
    # (a prefix).  Integer counts keep the sums order-independent, so the
    # result is bit-identical to the two-exchange form (measured 1.37 →
    # 1.12 s at sf0.1; plan 16 → 14 Exchanges).  Skew at 100 TB is
    # unchanged: the old plan's ``cu`` window already hash-partitioned the
    # same frame by the same hot-context key — this removes an exchange
    # without widening any partition.
    enriched = (
        bgc.repartition("ctx")
        .withColumn("cb", F.sum("m").over(Window.partitionBy("ctx", "ngram")))
        .withColumn("cu", F.sum("m").over(Window.partitionBy("ctx")))
        .crossJoin(F.broadcast(vocab))
    )
    return _lm_scored_agg(enriched)


def _lm_scored_agg(enriched: DataFrame) -> DataFrame:
    a = F.lit(float(LM_ALPHA))
    return (
        enriched
        .withColumn(
            # nll is pinned PER (doc, ngram) ROW to an exact INTEGER of
            # micro-nats before the cross-row fold (ADVICE r7, hardened):
            # rounding to a 6-decimal double still let the cross-row sum's
            # accumulation order flip the final round when the per-doc mean
            # landed on a 7th-digit tie (observed when this frame is
            # re-aggregated under a different plan in
            # corpus_quality_filter).  Integer sums are order-independent
            # and exact, so both engines divide identical integers and the
            # final round sees the identical double.
            "nll6",
            F.round(
                -F.log(
                    (F.col("cb").cast("double") + a)
                    / (F.col("cu").cast("double") + a * F.col("v").cast("double"))
                )
                * F.lit(1_000_000.0),
                0,
            ).cast("long"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(
                F.sum(F.col("m") * F.col("nll6")).cast("double")
                / (F.sum("m").cast("double") * F.lit(1_000_000.0)),
                6,
            ).alias("log_ppl"),
        )
    )


def _lm_join_docs(docs: DataFrame, scored: DataFrame) -> DataFrame:
    """Re-attach unscorable (<2-token) documents as ``(0, NULL)`` rows —
    the left join the ``scores_only`` arm skips."""
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
        "log_ppl",
    )
