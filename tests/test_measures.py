import math

from pyspark.sql import functions as F

from simsearch_spark.functions import measures
from simsearch_spark.functions.text import doc_fingerprint, lang_id, qgrams, token_count, tokenize


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_vec_lit_round_trips_bit_exact(spark):
    """The shared vector literal renders one SQL ``array(...)``: finite
    doubles as ``repr`` + ``D``, non-finite ones as ``double('...')``, and
    every value — signed zero, subnormal, DBL_MAX, ±Inf, NaN — comes back
    with its exact bits, typed ``array<double>``."""
    import struct

    vals = [-0.0, 0.0, 5e-324, 1.7976931348623157e308, -1.7976931348623157e308,
            float("inf"), float("-inf"), float("nan"), 0.1, 1 / 3, 1e16, -2.5e-310]
    assert measures._sql_double(-0.0) == "-0.0D"
    assert measures._sql_double(float("nan")) == "double('NaN')"
    assert measures._sql_double(float("inf")) == "double('Infinity')"
    assert measures._sql_double(float("-inf")) == "double('-Infinity')"
    df = spark.range(1).select(measures.vec_lit(vals).alias("v"))
    assert df.schema["v"].dataType.simpleString() == "array<double>"
    bits = lambda xs: [struct.pack(">d", x) for x in xs]
    assert bits(df.first().v) == bits(vals)
    # finite vectors build the same plan as the per-element F.lit form
    fin = [v for v in vals if math.isfinite(v)]
    a = spark.range(1).select(measures.vec_lit(fin).alias("v"))
    b = spark.range(1).select(F.lit(fin).alias("v"))
    plan = lambda d: d._jdf.queryExecution().optimizedPlan().toString().split("#")[0]
    assert a.schema == b.schema and plan(a) == plan(b)
    assert bits(a.first().v) == bits(b.first().v)


def test_round6_half_up_matches_spark_round(spark):
    """ADVICE r13 #3: the driver-side rounding (PQ training, the audit's
    brute-force arm) equals Spark's round(x, 6) on adversarial
    representation-boundary values (where the old floor-emulation was
    1 ulp off) and on a seeded random sweep."""
    import numpy as np

    # values where floor(|x|*1e6+0.5) and shortest-decimal HALF_UP differ
    boundary = [0.1250045, 0.1250325, 0.1250605, -0.1250045, -0.1250885]
    rng = np.random.default_rng(7)
    vals = boundary + [float(v) for v in rng.uniform(-1, 1, 200)]

    got = [measures._round6_half_up(v) for v in vals]
    want = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 6))
        .collect()
    ]
    assert got == want
    # and the old emulation genuinely disagreed on the boundary values —
    # the regression this test exists to hold
    old = np.copysign(
        np.floor(np.abs(np.array(boundary)) * 1e6 + 0.5), np.array(boundary)
    ) / 1e6
    assert any(o != w for o, w in zip(old, want[: len(boundary)]))


def test_abs_diff(spark):
    assert one(spark, measures.abs_diff(F.lit(3.0), F.lit(10.0))) == 7.0


def test_planar_distance(spark):
    assert one(spark, measures.planar_distance(F.lit(3.0), F.lit(4.0), F.lit(0.0), F.lit(0.0))) == 5.0


def test_haversine_equator_degree(spark):
    # one degree of longitude at the equator ~111.19 km
    d = one(spark, measures.haversine_distance(F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(0.0)))
    assert abs(d - 111.19) < 0.1


def test_jaccard(spark):
    d = one(
        spark,
        measures.jaccard_distance(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")), F.array(F.lit("b"), F.lit("c"), F.lit("d"))
        ),
    )
    assert abs(d - 0.5) < 1e-12  # 2 common / 4 union


def test_vector_metrics(spark):
    a = F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))
    b = F.array(F.lit(4.0), F.lit(6.0), F.lit(3.0))
    assert one(spark, measures.euclidean_distance(a, b)) == 5.0
    assert one(spark, measures.manhattan_distance(a, b)) == 7.0
    assert one(spark, measures.chebyshev_distance(a, b)) == 4.0
    assert one(spark, measures.dot_product(a, b)) == 25.0


def test_cosine_zero_norm(spark):
    z = F.array(F.lit(0.0), F.lit(0.0))
    a = F.array(F.lit(1.0), F.lit(0.0))
    assert one(spark, measures.cosine_similarity(z, a)) == 0.0
    assert abs(one(spark, measures.cosine_similarity(a, a)) - 1.0) < 1e-12


def test_decayed_similarity(spark):
    s = one(spark, measures.decayed_similarity(F.lit(2.0), F.lit(4.0)))
    assert abs(s - math.exp(-0.05 * 0.5)) < 1e-12
    # scale 0 guard: exact match scores 1
    assert one(spark, measures.decayed_similarity(F.lit(0.0), F.lit(0.0))) == 1.0


def test_jaccard_disjoint_forced_zero(spark):
    # DecayedSimilarity.java:69-70 — disjoint sets score 0, not exp(-λ)
    s = one(spark, measures.jaccard_similarity_scored(F.lit(1.0), F.lit(1.0)))
    assert s == 0.0


def test_qgrams(spark):
    g = one(spark, qgrams(F.lit("Hello")))
    assert g == ["ell", "hel", "llo"]
    assert one(spark, qgrams(F.lit("ab"))) == ["ab"]


def test_tokenize(spark):
    assert one(spark, tokenize(F.lit("b a  a c"))) == ["a", "b", "c"]


def test_token_count(spark):
    assert one(spark, token_count(F.lit("the quick  brown fox"))) == 4


def test_lang_id(spark):
    assert one(spark, lang_id(F.lit("the cat and the dog in the house"))) == "en"
    assert one(spark, lang_id(F.lit("der hund und die katze ist nicht da"))) == "de"
    assert one(spark, lang_id(F.lit("xyzzy plugh"))) == "und"


def test_fingerprint_whitespace_invariant(spark):
    a = one(spark, doc_fingerprint(F.lit("Hello   World")))
    b = one(spark, doc_fingerprint(F.lit("hello world")))
    assert a == b


def test_lang_id_frame_equals_column_fn(spark):
    from simsearch_spark.functions.text import lang_id_frame

    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"),
         (2, "der hund und die katze ist nicht da"),
         (3, "xyzzy plugh"), (4, ""), (5, None),
         (6, "le chat et les chiens est dans une maison"),
         (7, "el perro y la casa de los gatos para que")],
        "id long, text string",
    )
    col_fn = {r.id: r.p for r in df.select("id", lang_id(F.col("text")).alias("p")).collect()}
    frame_fn = {r.id: r.lang_pred for r in lang_id_frame(df, "id", "text").collect()}
    assert col_fn == frame_fn


def test_corpus_features_frame_equals_column_fns(spark, sf_dir):
    """The single-pass corpus-features kernel must be bit-identical to the
    four column-expression features on real documents plus degenerate rows
    (raw doubles compared exactly, pre-rounding)."""
    from simsearch_spark.functions.text import (
        corpus_features_frame,
        quality_score,
        token_count,
    )
    from simsearch_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    extra = spark.createDataFrame(
        [(9001, ""), (9002, None), (9003, "  the  AND of!!  "), (9004, "x"),
         (9005, "der hund und die katze ist nicht da")],
        "doc_id long, text string",
    )
    both = docs.unionByName(extra)
    col_fn = {
        r.doc_id: (r.q, r.p, r.fp, r.nt)
        for r in both.select(
            "doc_id",
            quality_score(F.col("text")).alias("q"),
            lang_id(F.col("text")).alias("p"),
            doc_fingerprint(F.col("text")).alias("fp"),
            token_count(F.col("text")).alias("nt"),
        ).collect()
    }
    kernel = {
        r.doc_id: (r.quality_raw, r.lang_pred, r.fingerprint, r.n_tokens)
        for r in corpus_features_frame(both, "doc_id", "text").collect()
    }
    assert col_fn == kernel


def test_text_repetition_signals(spark, sf_dir, monkeypatch):
    """Hand-checked Gopher-style repetition values."""
    from simsearch_spark.queries import corpus as C

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "x y z w"), (3, "one"), (4, "ab cd ab cd ab cd")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(C, "load_table", lambda spark, sf_dir, name: df)
    rows = {r.doc_id: r for r in C.q_text_repetition(spark, "ignored").collect()}
    assert rows[1].dup_token_frac == 0.75 and rows[1].top_bigram_frac == 1.0 and rows[1].repetitive
    assert rows[2].dup_token_frac == 0.0 and rows[2].top_bigram_frac == 0.333333
    assert rows[3].n_tokens == 1 and rows[3].top_bigram_frac == 0.0
    assert rows[4].top_bigram_frac == 0.6  # 'ab cd' 3 of 5 bigrams


def test_doc_chunks_windows(spark, monkeypatch):
    """Chunking: W-token windows, last chunk ragged, empty docs dropped."""
    from simsearch_spark.queries import corpus as C

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(130))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(C, "load_table", lambda spark, sf_dir, name: df)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_tokens) for r in C.q_doc_chunks(spark, "x").collect())
    )
    assert rows == [(1, 0, 64), (1, 1, 64), (1, 2, 2), (2, 0, 2)]


def test_bm25_ranks_term_rich_docs(spark):
    """BM25 basics: more matching terms rank higher; rare terms weigh more
    than common ones; score 0 for no-match docs."""
    from simsearch_spark.functions.text import ws_tokens
    from simsearch_spark.operators.bm25 import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (2, "spark filler filler filler"),
            (3, "filler filler filler filler"),
            (4, "join window filler filler"),
        ],
        "doc_id long, text string",
    ).withColumn("toks", ws_tokens(F.col("text")))
    rows = [(r.doc_id, r.score) for r in bm25_topk(df, "doc_id", "toks", ["spark", "join", "window"], 4).collect()]
    order = [d for d, _ in rows]
    assert order[0] == 1 and order[-1] == 3
    assert dict(rows)[3] == 0.0


def test_text_repetition_null_text_matches_duckdb_oracle(spark, monkeypatch):
    """NULL-text rows must produce IDENTICAL values in the engine and the
    SQL oracle (NULL n_tokens/dup, 0.0 bigram mass via coalesce, NULL
    flag) — pinned against a real DuckDB run, not just assumed."""
    import duckdb

    from simsearch_spark.queries import corpus as C

    data = [(1, "a a b"), (2, None), (3, "")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    monkeypatch.setattr(C, "load_table", lambda spark, sf_dir, name: df)
    got = {r.doc_id: (r.n_tokens, r.dup_token_frac, r.top_bigram_frac, r.repetitive)
           for r in C.q_text_repetition(spark, "x").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute(C.SQL_TEXT_REPETITION).fetchall()}
    assert got == want


def test_word2vec_empty_dictionary_returns_empty(spark):
    """Empty dictionary -> every token unknown -> empty result frame with
    the right schema (the skipped-word contract), not a crash."""
    from simsearch_spark.operators.transform import word2vec_transform

    docs = spark.createDataFrame([(1, ["a", "b"])], "id long, tokens array<string>")
    empty = spark.createDataFrame([], "term string, vec array<double>")
    flat = word2vec_transform(docs, "id", "tokens", empty, flat=True)
    assert flat.columns == ["id", "pos", "avg_val"] and flat.count() == 0
    packed = word2vec_transform(docs, "id", "tokens", empty, flat=False)
    assert packed.columns == ["id", "vec"] and packed.count() == 0
