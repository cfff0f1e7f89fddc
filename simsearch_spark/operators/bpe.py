"""Distributed BPE tokenizer training: learn the first N merge rules.

The tokenizer-induction step of a training-data pipeline (Sennrich et al.
2016's byte-pair encoding over word frequencies — the GPT-2/RoBERTa recipe
modulo byte-level pre-tokenization).  Given a corpus, learn the ``n_merges``
highest-frequency adjacent-symbol merges:

1. word census — the corpus's ONLY full scan: whitespace-tokenize, one
   groupBy(word) with map-side partial aggregation.  Everything after runs
   on the *distinct-word* frame (vocab-sized: ~10^7 rows at 100 TB corpus
   scale, three orders smaller than the corpus).
2. per merge iteration: pair counts via zip of two shifted slices (row-
   local), one partial-agg shuffle on the (left, right) key, and the argmax
   as a TakeOrdered(1) — the driver only ever holds the single best pair
   (same bounded-collect contract as k-means centroids / IVF training).
3. merge application is a row-local array fold (whole-stage codegen, no
   UDF): greedy left-to-right non-overlapping replacement, the textbook BPE
   merge semantics.  Each iteration's frame is persisted and the parent
   unpersisted, so iteration k reads the cached symbolization, not the
   re-derived lineage.

Determinism contract (mirrored by the pure-Python reference implementation
in tests/test_bpe.py): tie-break on (count DESC, left ASC, right ASC) with
code-point string ordering; counts are exact integers, so there is no
float order sensitivity anywhere.

Reference scope note: the reference engine has no tokenizer-training
operator (its textual facet consumes fixed q-grams, ``DataIngestor.java:
151-204``); this extends the LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.text import ws_tokens

#: the merge budget of the declared BPE queries and of a default BPE mount
BPE_MERGES = 8


def _adjacent_pairs(syms: Column) -> Column:
    """Array of (l, r) structs for each adjacent symbol pair — zip of two
    shifted slices, linear per row (sequence+element_at would be quadratic;
    see the bigram note in operators/lm.py ``lm_doc_bigrams``)."""
    n1 = F.greatest(F.size(syms) - 1, F.lit(0))
    return F.zip_with(
        F.slice(syms, 1, n1),
        F.slice(syms, 2, n1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) into one
    symbol — a codegen array fold.  ``F.get`` (not ``element_at``) so the
    empty-accumulator probe is NULL under ANSI mode rather than an error;
    the NULL condition falls through to the append branch."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(left)) & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_census(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, syms) — the corpus's single full pass, collapsed to the
    distinct-word frame with character symbolization."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(ws_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.split("word", ""))
    )


#: word-census rows at or below this bound run the merge loop driver-side
#: (one probe job instead of one Spark job per merge); above it, the
#: distributed loop below runs unchanged.  The probe is a LIMIT collect,
#: so the driver never holds more than this many (word, cnt) rows — the
#: adaptive-tier discipline of kmeans' literal/table kernel switch, keyed
#: on data size rather than cluster shape.
DRIVER_VOCAB_MAX = 65536


def _learn_merges_rows(
    rows: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-local BPE merge loop over a collected word census — the
    identical algorithm the distributed tier runs (exact integer pair
    counts; argmax tie-break (count DESC, left ASC, right ASC) where
    Python's code-point string order equals Spark's UTF-8 binary order;
    the same greedy left-to-right non-overlapping merge fold).  Pinned
    equal to the distributed tier in tests/test_bpe.py."""
    syms_list = [(list(w), int(c)) for w, c in rows]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in syms_list:
            for pair in zip(syms, syms[1:]):
                pc[pair] = pc.get(pair, 0) + c
        if not pc:
            break
        (left, right), count = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, count))
        merged = left + right
        nxt: list[tuple[list[str], int]] = []
        for syms, c in syms_list:
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            nxt.append((out, c))
        syms_list = nxt
    return merges


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    driver_vocab_max: int = DRIVER_VOCAB_MAX,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules; returns [(rank, left, right,
    pair_count)].  Stops early if no adjacent pair remains.

    Adaptive execution (r14): a LIMIT probe of the persisted census
    decides the tier — at or below ``driver_vocab_max`` distinct words
    the merge loop runs driver-side on the collected rows (1 probe job
    total instead of 1 Spark job per merge; the probe partially warms the
    cache either way), above it the distributed per-merge loop runs
    unchanged (vocab-sized frames never reach the driver).  Both tiers
    are the same deterministic algorithm — equality is pytest-pinned."""
    words = word_census(docs, text_col).persist()
    merges: list[tuple[int, str, str, int]] = []
    stale: DataFrame | None = None
    try:
        head = words.select("word", "cnt").limit(driver_vocab_max + 1).collect()
        if len(head) <= driver_vocab_max:
            return _learn_merges_rows(
                [(r["word"], int(r["cnt"])) for r in head], n_merges
            )
        for rank in range(n_merges):
            pc = (
                words.select("cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("pc"))
            )
            # this collect is the iteration's ONLY job: it both picks the
            # best pair and materializes `words`' cache (so the parent
            # below it can be dropped without forcing lineage recompute —
            # a separate count() materialization job would double the
            # per-iteration job count)
            best = pc.orderBy(F.desc("pc"), F.asc("l"), F.asc("r")).limit(1).collect()
            if stale is not None:
                stale.unpersist()
                stale = None
            if not best:
                break
            left, right, count = best[0]["l"], best[0]["r"], int(best[0]["pc"])
            merges.append((rank, left, right, count))
            stale = words
            words = words.withColumn("syms", _apply_merge(F.col("syms"), left, right)).persist()
    finally:
        words.unpersist()
        if stale is not None:
            stale.unpersist()
    return merges


def apply_bpe(
    docs: DataFrame,
    text_col: str,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with learned merge rules: whitespace words →
    character symbols → each merge applied in rank order (the same greedy
    fold as training) → subword token array in ``out_col``.

    Arrow kernel rather than M nested column folds: the merge list is tiny
    (closure-captured), the per-word work is cached per DISTINCT word within
    each batch (Zipf makes this a ~10x cut), and the corpus never shuffles —
    row-local, the encode side of every tokenizer deployment."""
    import re
    from collections.abc import Iterator

    import pandas as pd

    from simsearch_spark.operators.fanout import fanout_for_kernel

    # the greedy per-word merge loop is the encode's whole cost — spread
    # a single-split scan across the cores first (r14)
    docs = fanout_for_kernel(docs, text_col)
    rules = [(m[-3], m[-2]) if len(m) == 4 else (m[0], m[1]) for m in merges]

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        for left, right in rules:
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms = out
        return syms

    ws = re.compile(r"\s+")

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                if t is None:
                    toks.append([])
                    continue
                row: list[str] = []
                for w in ws.split(str(t).lower()):
                    if not w:
                        continue
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w)
                        cache[w] = enc
                    row.extend(enc)
                toks.append(row)
            out = pdf.copy()
            out[out_col] = toks
            yield out

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in docs.schema.fields
    )
    return docs.mapInPandas(proc, f"{schema}, {out_col} array<string>")


def token_chars(toks: Column) -> Column:
    """Total characters of an ``array<string>`` of subword tokens."""
    return F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )


def bpe_encode_stats_frame(toks: DataFrame, group_col: str) -> DataFrame:
    """Per-``group_col`` statistics of an ``apply_bpe`` frame: document
    count, total subword tokens, and mean chars-per-token (the compression
    the merges buy) — shared by the declared ``bpe_token_stats`` query and
    the mounted ``bpe_encode_stats``."""
    n_sub = F.sum(F.size("bpe_tokens"))
    return toks.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        n_sub.alias("n_subwords"),
        F.round(
            F.sum(token_chars(F.col("bpe_tokens"))).cast("double") / n_sub, 6
        ).alias("chars_per_token"),
    )
