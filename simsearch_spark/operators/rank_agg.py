"""Multi-attribute rank aggregation (SURVEY.md §2.4 T1–T8).

Reference semantics: aggregate score of entity e =
``Σ w_i·sim_i(e) / Σ w_i`` with a missing/NULL attribute contributing
sim 0 while its weight stays in the denominator
(``RankAggregator.java:236-259``).  TA / NRA / PRA differ only in *access
strategy* (queue pops + random access vs bound maintenance) — on complete
data all three produce the same ranked list, so the Spark build has a single
exact execution strategy: full per-facet scoring + weighted mean +
TakeOrderedAndProject.  The ``algorithm`` request field is accepted and
echoed for parity (SURVEY.md §2.4, T1–T3).

Multi-weight fan-out (T7, ``RankAggregator.java:104-129``): the j-th weight
of every facet forms combination j; all combination scores are computed in
ONE projection over ONE scan (the reference's single candidate pass), then k
rows per combination are taken with one TakeOrdered each — no full sort, no
per-combination rescan of the base data.

Scale: the aggregation is a single wide projection when all facets live on
one table (zero shuffles: scan → project → TakeOrdered).  For facets on
different tables, per-facet score rows union into one (key, facet, sim)
relation aggregated with ONE key-grouped shuffle (map-side partial agg) —
full-outer joins cannot broadcast, so the join-free shape is the scale
contract; per-facet LIMIT M pruning bounds the unioned row count.

Persisted frames (multi-combination / auto-scale paths) are scoped to the
workload and rely on Spark's LRU block eviction in long-lived sessions.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simsearch_spark.operators import topk
from simsearch_spark.plans.spec import Facet, SearchRequest


def _facet_sim_frame(
    df: DataFrame,
    key_column: str,
    facets: list[Facet],
    k: int,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Single-table path: one wide projection with per-facet dist + sim
    columns; auto scales cross-joined as broadcast 1-row aggregates.

    NULL attribute values yield sim 0 (not dropped): the entity can still
    rank on its other facets (RankAggregator.java:239-241).  Each facet's
    ``filter`` is a P2 pre-filter applied before scoring, as in
    ``single_facet_topk``: on one table the candidates are the rows that
    pass every facet's filter; on the multi-table path each frame keeps
    the rows that pass its own facet's filter.
    """
    cols = {c: F.col(c) for c in df.columns}
    scored = df
    for cond in dict.fromkeys(f.filter for f in facets if f.filter):
        scored = scored.where(F.expr(cond))
    for f in facets:
        bound = Facet(**{**f.__dict__, "query_value": topk.resolve_query_value(df, f)})
        d = topk.facet_distance(cols, bound)
        scored = scored.withColumn(f"__dist_{f.name}", d)

    # each auto-scaled facet runs its own k-th-distance job over this frame
    # (TakeOrdered + 1-row agg); persist so those jobs and the final ranking
    # read one materialization instead of re-scanning parquet per facet
    if sum(1 for f in facets if f.scale is None) > 1:
        scored = scored.persist()
        if persisted is not None:
            persisted.append(scored)

    for f in facets:
        if f.scale is None:
            sdf = topk.kth_distance(scored, f"__dist_{f.name}", k, f"__scale_{f.name}")
            scored = scored.crossJoin(F.broadcast(sdf))
        else:
            scored = scored.withColumn(f"__scale_{f.name}", F.lit(float(f.scale)))

    for f in facets:
        sim = topk.facet_similarity(F.col(f"__dist_{f.name}"), F.col(f"__scale_{f.name}"), f)
        scored = scored.withColumn(f"__sim_{f.name}", F.coalesce(sim, F.lit(0.0)))
    return scored


def estimate_weights(
    scored: DataFrame, facets: list[Facet], k: int, approximate: bool = False
) -> dict[str, float]:
    """T5 weight auto-estimation (``engine/weights/Estimator.java:177-189``;
    invoked at ``RankAggregator.java:177-192``): for a facet with no
    user-given weight, weight = the p-th percentile of its candidate score
    distribution with p = (1 - k/N) where N = candidate count.

    Exact ``percentile`` (linear interpolation at p·(n-1)) matches DuckDB's
    ``quantile_cont`` — oracle-checkable. One aggregate job for all facets.

    approximate=True switches to ``percentile_approx`` (t-digest sketch,
    mergeable, no per-group sort buffer) — the 100 TB setting where an exact
    percentile over the full candidate distribution is wasted precision for
    a heuristic weight.  Declared queries keep the exact path.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in facets:
        aggs.append(F.sum(F.when(F.col(f"__sim_{f.name}").isNotNull(), 1).otherwise(0)).alias(f"__n_{f.name}"))
    counts = scored.agg(*aggs).first()
    percentile_aggs = []
    for f in facets:
        n = counts[f"__n_{f.name}"] or 1
        p = max(0.0, min(1.0, 1.0 - k / n))
        fn = F.percentile_approx if approximate else F.percentile
        percentile_aggs.append(fn(F.col(f"__sim_{f.name}"), F.lit(p)).alias(f.name))
    row = scored.agg(*percentile_aggs).first()
    return {f.name: float(row[f.name]) for f in facets}


def multi_facet_topk(
    df: DataFrame,
    request: SearchRequest,
    round_digits: int | None = 6,
    eager_cleanup: bool = False,
) -> DataFrame:
    """Rank-aggregated top-k over facets of one table.

    Output (per combination j): (combo, id-as-key_column, score, rank,
    per-facet value + ``<name>_sim``) with the determinism contract
    ``ORDER BY score DESC, id ASC`` (FIXTURES.md §F4).  The aggregate score
    is rounded *before* ranking so cross-engine exp() last-ulp differences
    collapse into exact ties broken by id.

    CACHE LIFECYCLE: multi-combination and auto-scale requests persist an
    intermediate scored frame that the lazily-returned result still reads,
    so by default it stays cached until LRU eviction (or the caller's
    ``spark.catalog.clearCache()``).  Pass ``eager_cleanup=True`` to
    materialize the k·combos result rows now (``localCheckpoint``) and
    unpersist immediately — the right mode for long-lived sessions issuing
    many requests; the default keeps the plan lazy/inspectable.
    """
    facets, k, key = request.facets, request.k, request.key_column
    handles: list[DataFrame] = []
    scored = _facet_sim_frame(df, key, facets, k, persisted=handles)

    need_estimate = [f for f in facets if f.weights is None]
    # the scored frame is read once per weight combination (TakeOrdered each)
    # plus twice by weight estimation; persist so the parquet scan + facet
    # scoring run ONCE per workload, not once per job (round-1 flagged the
    # j-fold rescan).  Single-combination requests with given weights read
    # the frame exactly once — no persist needed.
    if need_estimate or request.n_combinations > 1:
        scored = scored.persist()
        handles.append(scored)
    est = estimate_weights(scored, need_estimate, k) if need_estimate else {}

    n_combos = request.n_combinations
    weight_sets: list[dict[str, float]] = []
    for j in range(n_combos):
        weight_sets.append(
            {f.name: (f.weights[j] if f.weights is not None else est[f.name]) for f in facets}
        )

    # T7: every combination's score in one projection over one scan
    for j, ws in enumerate(weight_sets):
        total_w = sum(ws.values())
        num = functools.reduce(
            lambda a, b: a + b,
            [F.col(f"__sim_{f.name}") * F.lit(ws[f.name]) for f in facets],
        )
        score = num / F.lit(total_w) if total_w else F.lit(0.0)
        if round_digits is not None:
            score = F.round(score, round_digits)
        scored = scored.withColumn(f"__score_{j}", score)

    facet_cols: list = []
    for f in facets:
        for c in f.value_cols:
            facet_cols.append(c)
        facet_cols.append(f"{f.name}_sim")
        sim = F.col(f"__sim_{f.name}")
        scored = scored.withColumn(
            f"{f.name}_sim", F.round(sim, round_digits) if round_digits is not None else sim
        )

    per_combo = []
    for j in range(n_combos):
        top = (
            scored.orderBy(F.col(f"__score_{j}").desc(), F.col(key).asc())
            .limit(k)
            .select(
                F.lit(j).alias("combo"),
                F.col(key),
                F.col(f"__score_{j}").alias("score"),
                *[F.col(c) for c in dict.fromkeys(facet_cols)],
            )
        )
        per_combo.append(top)
    out = functools.reduce(lambda a, b: a.unionByName(b), per_combo)
    if eager_cleanup and handles:
        # materialize the bounded (k·combos rows) result, then free the
        # workload-scoped cached frames instead of waiting for LRU eviction
        out = out.localCheckpoint(eager=True)
        for h in handles:
            h.unpersist()
    return out


def multi_source_topk(
    frames: dict[str, DataFrame],
    facets: list[Facet],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
    prune_m: int | None = None,
) -> DataFrame:
    """General path: facets over *different* tables (the reference's vertical
    per-attribute maps, ``Coordinator.java:75``).  Each frame is scored
    independently; the per-facet (key, sim) rows union into one relation and
    aggregate with ONE key-grouped shuffle — absent entities produce no row
    for that facet, so their sim coalesces to 0
    (RankAggregator.java:239-241).

    Per-facet frames can be pre-pruned to their M = 1000·k best candidates
    (INFLATION_FACTOR, Constants.java:44), bounding the unioned row count —
    the exact analog of the reference's bounded candidate queues.
    """
    sim_frames = []
    for f in facets:
        df = frames[f.name]
        scored = _facet_sim_frame(df, key_column, [f], k)
        frame = scored.select(
            F.col(key_column),
            F.lit(f.name).alias("__facet"),
            F.col(f"__sim_{f.name}").alias("__sim"),
        )
        if prune_m is not None:
            # INFLATION_FACTOR candidate pruning (Constants.java:44,
            # SearchHandler.java:318-320): keep each facet's M best
            # candidates before aggregation.  With M = 1000·k this matches
            # the reference's bounded queues — and like the reference, an
            # entity outside every facet's top-M cannot surface (the
            # reference's approximate-tail caveat, SURVEY §4); omit prune_m
            # for the exact path.
            frame = frame.orderBy(F.col("__sim").desc(), F.col(key_column).asc()).limit(prune_m)
        sim_frames.append(frame)
    return aggregate_sim_frames(
        sim_frames, [f.name for f in facets], key_column, k, weights, round_digits
    )


INFLATION_FACTOR = 1000  # Constants.java:44 — candidate bound M = 1000·k


def multi_source_topk_approximate(
    frames: dict[str, DataFrame],
    facets: list[Facet],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
    prune_m: int | None = None,
) -> DataFrame:
    """T8 approximate tail fill (``ThresholdRanking.java:294-310``,
    ``NoRandomAccessRanking.java:252-269``): bounded-candidate ranking where
    incompletely-seen entities still surface, ranked by their LOWER-BOUND
    aggregate score (unseen facets contribute 0 — the same fill-in the
    reference reports when its queues dry up), with a per-row ``exact``
    flag: true iff every facet scored the entity.

    The Spark analog of "emission stalled" is the per-facet candidate bound:
    each facet keeps its M = INFLATION_FACTOR·k best candidates
    (``Constants.java:44``), so an entity inside some facets' top-M but
    outside others' gets a partial (lower-bound) score and exact=false —
    exactly the reference's approximate tail, without its timeout
    nondeterminism.  ``prune_m=None`` uses the reference default M."""
    m = prune_m if prune_m is not None else INFLATION_FACTOR * k
    out = multi_source_topk(frames, facets, key_column, k, weights, round_digits, prune_m=m)
    exact = functools.reduce(
        lambda a, b: a & b, [F.col(f"{f.name}_sim").isNotNull() for f in facets]
    )
    return out.withColumn("exact", exact)


def aggregate_sim_frames(
    sim_frames: list[DataFrame],
    facet_names: list[str],
    key_column: str,
    k: int,
    weights: dict[str, float] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Weighted top-k over pre-scored facet frames of shape
    (key_column, __facet, __sim) — the aggregation tail shared by
    ``multi_source_topk`` and federated REST facets (whose scores arrive
    already computed by the remote engine, ``SimSearchRestQuery.java:
    188-189``, and must NOT be rescored locally).

    union + key-grouped aggregation instead of chained full-outer joins:
    full outer cannot broadcast (SMJ per facet pair), but a union shuffles
    ONCE on the entity key with map-side partial aggregation, handles any
    facet count, and reproduces absent-facet-scores-0 semantics exactly
    (no row → max(when)=NULL → coalesce 0, RankAggregator.java:239-241)."""
    unioned = functools.reduce(lambda a, b: a.unionByName(b), sim_frames)
    agg_cols = [
        F.max(F.when(F.col("__facet") == name, F.col("__sim"))).alias(f"{name}_sim")
        for name in facet_names
    ]
    joined = unioned.groupBy(key_column).agg(*agg_cols)
    ws = weights or {name: 1.0 for name in facet_names}
    total_w = sum(ws.values())
    num = functools.reduce(
        lambda a, b: a + b,
        [F.coalesce(F.col(f"{name}_sim"), F.lit(0.0)) * F.lit(ws[name]) for name in facet_names],
    )
    score = num / F.lit(total_w)
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (
        joined.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col(key_column).asc())
        .limit(k)
    )
