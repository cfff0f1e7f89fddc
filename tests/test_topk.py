from pyspark.sql import functions as F

from simsearch_spark.operators.rank_agg import multi_facet_topk, multi_source_topk
from simsearch_spark.operators.topk import single_facet_topk
from simsearch_spark.plans.spec import Facet, SearchRequest
from simsearch_spark.sources.registry import load_table


def test_num_topk_basic(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0)
    res = single_facet_topk(cust, "c_custkey", f, k=5).collect()
    assert len(res) == 5
    dists = [r.dist for r in res]
    assert dists == sorted(dists)
    assert [r.rank for r in res] == [1, 2, 3, 4, 5]
    assert all(0.0 <= r.score <= 1.0 for r in res)
    # nearest neighbour scores the highest
    assert res[0].score == max(r.score for r in res)


def test_explicit_scale_respected(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0, scale=100.0)
    auto = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0)
    r1 = single_facet_topk(cust, "c_custkey", f, k=3).collect()
    r2 = single_facet_topk(cust, "c_custkey", auto, k=3).collect()
    assert [r.c_custkey for r in r1] == [r.c_custkey for r in r2]  # same ranking
    assert r1[0].score != r2[0].score  # different scale ⇒ different scores


def test_max_query_value(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value="max")
    res = single_facet_topk(cust, "c_custkey", f, k=1).collect()
    top_val = cust.agg(F.max("c_acctbal")).first()[0]
    assert res[0].c_acctbal == top_val and res[0].dist == 0.0


def test_filter_applied_before_scoring(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    f = Facet(
        name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0,
        filter="c_mktsegment = 'BUILDING'",
    )
    res = single_facet_topk(cust, "c_custkey", f, k=5)
    ids = [r.c_custkey for r in res.collect()]
    segs = {
        r.c_mktsegment
        for r in cust.where(F.col("c_custkey").isin(ids)).select("c_mktsegment").collect()
    }
    assert segs == {"BUILDING"}


def test_multi_facet_filters_applied_before_scoring(spark, sf_dir):
    """Single-table rank aggregation: each facet's pre-filter drops rows
    before scoring (auto scales and estimated weights included), so the
    result equals the unfiltered request over the pre-filtered table."""
    cust = load_table(spark, sf_dir, "customer")
    seg, nat = "c_mktsegment = 'BUILDING'", "c_nationkey < 12"

    def req(filters):
        facets = [
            Facet(name="bal", kind="numerical", value_cols=["c_acctbal"],
                  query_value=1000.0, filter=filters[0]),
            Facet(name="nat", kind="numerical", value_cols=["c_nationkey"],
                  query_value=10.0, filter=filters[1]),
        ]
        return SearchRequest(table="customer", key_column="c_custkey", facets=facets, k=6)

    got = multi_facet_topk(cust, req([seg, nat])).collect()
    want = multi_facet_topk(cust.where(seg).where(nat), req([None, None])).collect()
    assert got == want and len(got) == 6
    ids = [r.c_custkey for r in got]
    kept = cust.where(F.col("c_custkey").isin(ids)).where(seg).where(nat)
    assert kept.count() == len(ids)


def test_multi_source_filter_drops_rows_of_its_facet(spark):
    """Multi-table path: a facet's pre-filter applies to its own frame —
    a filtered-out entity is absent from that facet and scores 0 there."""
    a = spark.createDataFrame([(1, 5.0, "keep"), (2, 5.0, "drop")], "id long, x double, tag string")
    b = spark.createDataFrame([(2, 7.0), (3, 7.0)], "id long, y double")
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0,
              filter="tag = 'keep'"),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    rows = {r.id: r for r in multi_source_topk({"fx": a, "fy": b}, facets, "id", k=3).collect()}
    assert rows[2].score == 0.5 and rows[2].fx_sim is None  # unfiltered: 1.0
    assert rows[1].score == rows[3].score == 0.5


def test_search_sql_where_filter_reaches_multi_facet(spark, sf_dir):
    """``execute_search_sql`` attaches ordinary WHERE predicates to every
    facet; the multi-facet ranking must honour them."""
    from simsearch_spark.plans.sql_frontend import execute_search_sql

    cust = load_table(spark, sf_dir, "customer")
    sql = (
        "SELECT * FROM customer WHERE c_acctbal ~= 1000 AND c_nationkey ~= 10 "
        "AND c_mktsegment = 'BUILDING' WEIGHTS 0.5, 0.5 LIMIT 8"
    )
    got = execute_search_sql(spark, cust, "customer", sql, "c_custkey").collect()
    plain = sql.replace("AND c_mktsegment = 'BUILDING' ", "")
    want = execute_search_sql(
        spark, cust.where("c_mktsegment = 'BUILDING'"), "customer", plain, "c_custkey"
    ).collect()
    assert got == want and len(got) == 8
    ids = [r.c_custkey for r in got]
    segs = {
        r.c_mktsegment
        for r in cust.where(F.col("c_custkey").isin(ids)).select("c_mktsegment").collect()
    }
    assert segs == {"BUILDING"}


def test_multi_attr_weight_denominator(spark, sf_dir):
    """NULL facet ⇒ sim 0 but weight stays in denominator (RankAggregator.java:236-259)."""
    df = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, None, 10.0), (3, 10.0, None)],
        "id long, a double, b double",
    )
    facets = [
        Facet(name="fa", kind="numerical", value_cols=["a"], query_value=10.0, weights=[1.0], scale=1.0),
        Facet(name="fb", kind="numerical", value_cols=["b"], query_value=10.0, weights=[1.0], scale=1.0),
    ]
    req = SearchRequest(table="t", key_column="id", facets=facets, k=3)
    rows = {r.id: r for r in multi_facet_topk(df, req).collect()}
    assert rows[1].score == 1.0      # both facets exact
    assert rows[2].score == 0.5      # one facet NULL: (0 + 1)/2
    assert rows[3].score == 0.5
    assert rows[2].fa_sim == 0.0 and rows[2].fb_sim == 1.0


def test_multi_weight_combos_single_pass(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    facets = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0, weights=[0.9, 0.1]),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0, weights=[0.1, 0.9]),
    ]
    req = SearchRequest(table="customer", key_column="c_custkey", facets=facets, k=4)
    res = multi_facet_topk(cust, req).collect()
    assert len(res) == 8
    assert {r.combo for r in res} == {0, 1}


def test_multi_source_outer_join_path(spark, sf_dir):
    """Facets on different tables: entities absent from one source still rank
    (vertical decomposition, Coordinator.java:75)."""
    a = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, x double")
    b = spark.createDataFrame([(2, 7.0), (3, 7.0)], "id long, y double")
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    res = multi_source_topk({"fx": a, "fy": b}, facets, "id", k=3)
    rows = {r.id: r.score for r in res.collect()}
    assert rows[2] == 1.0           # present in both, exact on both
    assert rows[1] == rows[3] == 0.5  # present in one


def test_kmax_validation(spark):
    facets = [
        Facet(name="a", kind="numerical", value_cols=["x"], query_value=1.0),
        Facet(name="b", kind="numerical", value_cols=["y"], query_value=1.0),
    ]
    try:
        SearchRequest(table="t", key_column="id", facets=facets, k=51)
        raise AssertionError("expected K_MAX validation error")
    except ValueError:
        pass


def test_multi_source_prune_m_matches_exact_when_m_large(spark, sf_dir):
    """With M >= per-facet candidate counts, INFLATION_FACTOR pruning must
    not change the result; with tiny M it bounds each facet's reach (the
    reference's approximate-tail behavior, SURVEY §4)."""
    from simsearch_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    facets = [
        Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0),
        Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0),
    ]
    frames = {"bal": cust, "nat": cust}
    exact = [(r.c_custkey, r.score) for r in
             multi_source_topk(frames, facets, "c_custkey", 5).collect()]
    pruned = [(r.c_custkey, r.score) for r in
              multi_source_topk(frames, facets, "c_custkey", 5, prune_m=1_000_000).collect()]
    assert exact == pruned
    tiny = multi_source_topk(frames, facets, "c_custkey", 5, prune_m=5).collect()
    assert len(tiny) == 5  # still fills k from the bounded candidate pool


def test_t8_approximate_tail_fill_flags_lower_bound_rows(spark):
    """T8 (ThresholdRanking.java:294-310): entities outside some facet's
    candidate bound still surface with a lower-bound score and exact=false;
    fully-scored entities are exact=true; an ample bound reproduces the
    exact path with every row exact."""
    from simsearch_spark.operators.rank_agg import multi_source_topk_approximate

    a = spark.createDataFrame(
        [(1, 5.0), (2, 4.9), (3, 0.0)], "id long, x double"
    )
    b = spark.createDataFrame(
        [(3, 7.0), (1, 6.9), (2, 0.0)], "id long, y double"
    )
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    # prune_m=2 keeps each facet's 2 best: id=3 drops from fx, id=2 from fy
    rows = {
        r.id: r
        for r in multi_source_topk_approximate(
            {"fx": a, "fy": b}, facets, "id", k=3, prune_m=2
        ).collect()
    }
    assert rows[1].exact  # both facets saw it
    assert not rows[2].exact and rows[2].fy_sim is None  # fy unseen -> lower bound
    assert not rows[3].exact and rows[3].fx_sim is None
    # reference-default bound (1000*k) covers everything here: all exact and
    # identical to the exact path
    ample = multi_source_topk_approximate({"fx": a, "fy": b}, facets, "id", k=3)
    assert all(r.exact for r in ample.collect())
    exact_path = multi_source_topk({"fx": a, "fy": b}, facets, "id", k=3)
    assert [(r.id, r.score) for r in ample.collect()] == [
        (r.id, r.score) for r in exact_path.collect()
    ]


def test_t8_exact_flag_reaches_response(spark):
    """The per-row exact flag must surface in the reference JSON shape."""
    from simsearch_spark.operators.response import format_response
    from simsearch_spark.operators.rank_agg import multi_source_topk_approximate

    a = spark.createDataFrame([(1, 5.0), (2, 4.9), (3, 0.0)], "id long, x double")
    b = spark.createDataFrame([(3, 7.0), (1, 6.9), (2, 0.0)], "id long, y double")
    facets = [
        Facet(name="fx", kind="numerical", value_cols=["x"], query_value=5.0, scale=1.0),
        Facet(name="fy", kind="numerical", value_cols=["y"], query_value=7.0, scale=1.0),
    ]
    out = multi_source_topk_approximate({"fx": a, "fy": b}, facets, "id", k=3, prune_m=2)
    req = SearchRequest(table="t", key_column="id", facets=facets, k=3)
    resp = format_response(out, req, weights_used={0: {"fx": 1.0, "fy": 1.0}})
    flags = {r["id"]: r["exact"] for r in resp[0]["rankedResults"]}
    assert flags[1] is True and flags[2] is False and flags[3] is False


def test_multi_facet_eager_cleanup_frees_cache(spark, sf_dir, monkeypatch):
    """eager_cleanup=True must return identical rows while unpersisting the
    workload-scoped scored frames it persisted (default mode leaves them for
    LRU/clearCache; long-lived sessions opt into eager cleanup).  Asserts on
    the SPECIFIC frames each call persists — recorded via a persist hook —
    not the JVM-global RDD storage census, which other tests sharing the
    session perturb (flaked under full-suite ordering in r5)."""
    # patch the CLASSIC DataFrame: in PySpark 4 it overrides persist(), so a
    # base-class patch never fires
    from pyspark.sql.classic.dataframe import DataFrame

    from simsearch_spark.plans.spec import Facet, SearchRequest
    from simsearch_spark.sources.registry import load_table

    recorded = []
    orig_persist = DataFrame.persist

    def recording_persist(self, *a, **k):
        recorded.append(self)
        return orig_persist(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", recording_persist)

    cust = load_table(spark, sf_dir, "customer")
    req = SearchRequest(
        table="customer",
        key_column="c_custkey",
        facets=[
            Facet(name="bal", kind="numerical", value_cols=["c_acctbal"], query_value=1000.0),
            Facet(name="nat", kind="numerical", value_cols=["c_nationkey"], query_value=10.0),
        ],
        k=5,
    )  # no scales + no weights -> both persist sites trigger
    lazy_rows = [tuple(r) for r in multi_facet_topk(cust, req).collect()]
    lazy_frames, _ = list(recorded), recorded.clear()
    assert len(lazy_frames) >= 2            # scored frame persisted at both sites
    assert any(f.is_cached for f in lazy_frames)  # default mode leaves them cached
    for f in lazy_frames:
        f.unpersist()

    eager_rows = [tuple(r) for r in multi_facet_topk(cust, req, eager_cleanup=True).collect()]
    eager_frames = list(recorded)
    assert eager_rows == lazy_rows
    assert len(eager_frames) >= 2
    # eager mode must have unpersisted every frame it persisted itself
    assert not any(f.is_cached for f in eager_frames)
