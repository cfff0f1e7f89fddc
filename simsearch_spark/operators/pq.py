"""Product quantization (PQ) — the canonical billion-scale embedding
compression behind IVF-PQ ANN serving (Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search").

The vector is split into ``m`` contiguous subspaces; each subspace gets
its own ``ksub``-centroid k-means codebook; a vector is stored as ``m``
small codes (m bytes at ksub ≤ 256 — 64-dim float32 → 4 bytes here, 64×
compression).  Queries scan codes with an Asymmetric Distance Computation
(ADC) lookup table: ``dist²(q, x) ≈ Σ_j lut_j[code_j]`` where ``lut_j[c] =
||q_j − centroid_{j,c}||²`` — m array lookups + adds per row instead of a
dim-length kernel.

Spark shapes (the deterministic k-means rules of operators/kmeans.py —
same seeding, same strict-< argmin, same round-6 means, so the DuckDB
oracle unrolls it the same way):

- ``pq_train``: m independent Lloyd loops over sliced subvectors of a
  bounded SAMPLE (the standard practice — FAISS trains on ≤1M vectors);
  the codebooks become a mount-time artifact like IVF centroids.
- ``pq_encode``: per subspace one codegen argmin over ksub literal
  centroids (``nearest_centroid``).  Row-local, zero shuffles; the corpus
  never moves.
- ``pq_adc_topk``: the ADC scan — per-subspace LUT as an array literal,
  ``element_at`` + sum, one TakeOrderedAndProject.  O(k) driver memory.

This module is also the ONE home of the IVF-PQ building blocks that the
declared queries (queries/ivfpq.py) and the mount layer (mount/) share:
the vector-family trainers and their constants (``PQ_M``…``PQ_TRAIN_N``,
``_cent_rows6``, ``_sample_rows``, ``_train_books_residual_rows``), the
nearest-centroid argmin column (``nearest_centroid``), the probe router
(``probe_cells``), the residual when-chain (``residual_expr``) and the
per-cell ADC when-chain (``cell_adc_expr``).

Reference parity note: the reference engine has no quantization (its V4
path re-scores exact vectors); PQ extends the LLM-pipeline ANN family
(SURVEY.md §8) alongside sign-LSH and IVF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simsearch_spark.functions.measures import (
    _round6_half_up,
    cosine_similarity,
    euclidean_distance,
    vec_lit,
)

__all__ = [
    "pq_train",
    "pq_train_rows",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "ivf_pq_multi_topk",
    "nearest_centroid",
    "probe_cells",
    "residual_expr",
    "cell_adc_expr",
    "pq_training_sample",
]

#: embedding width of the vector family (the fixture's ``embeddings``
#: table; the trainers below read its ``vec_id``/``label``/``embedding``)
EMB_DIM = 64
PQ_M = 4       # subspaces (64-dim -> 16-dim slices)
PQ_KSUB = 8    # codes per subspace (3 bits; 256 in production = 1 B/subspace)
PQ_ITERS = 2   # Lloyd iterations per subspace (the KM_ITERS contract)
#: training-sample bound: codebooks are trained on the PQ_TRAIN_N
#: LOWEST-id vectors, never the corpus (VERDICT r9: the gated plan must BE
#: the 100 TB plan — at 10^10 vectors full-frame training would pay
#: PQ_ITERS x PQ_M corpus scans for codebooks a sample saturates; FAISS
#: trains on <= 10^6).  Lowest-id keeps the sample deterministic so the
#: oracle's unrolled chains replay it exactly.  256 is a strict subset of
#: every fixture (500 @ sf0.01, 2000 @ sf0.1) so the bound is really
#: exercised, and 32x ksub oversampling per codebook.
PQ_TRAIN_N = 256


# ---------------------------------------------------------------------------
# IVF-PQ building blocks
# ---------------------------------------------------------------------------

def nearest_centroid(vec: Column, centroids) -> Column:
    """``struct(dist, cluster_id)`` of the L2-nearest centroid
    (``centroids``: a ``{cluster_id: vector}`` map or ``[(cluster_id,
    vector)]`` rows).  ``array_min`` over one (dist, id) struct per
    centroid in ascending id order: Spark's struct ordering compares dist
    first, then id — exactly the strict-``<``/lowest-id-on-ties rule.
    Each centroid's distance expression appears ONCE; a folded when-chain
    would re-embed every prior distance inside each comparison, doubling
    the codegen tree per centroid (k=8 produced multi-MiB task binaries)."""
    items = sorted(centroids.items() if isinstance(centroids, dict) else centroids)
    return F.array_min(
        F.array(
            *[
                F.struct(
                    euclidean_distance(vec, vec_lit(cvec)).alias("dist"),
                    F.lit(int(cid)).alias("cluster_id"),
                )
                for cid, cvec in items
            ]
        )
    )


def probe_cells(centroids, query_vec: list[float], n_probe: int) -> list:
    """The ``n_probe`` cells nearest the query, driver-side: squared L2,
    ties by cell id (a bare stable sort would leak the arrival order of
    ``centroids`` — map or rows — into ties)."""
    items = centroids.items() if isinstance(centroids, dict) else centroids
    ranked = sorted(
        items, key=lambda c: (sum((a - b) ** 2 for a, b in zip(query_vec, c[1])), c[0])
    )
    return [cid for cid, _v in ranked[:n_probe]]


def residual_expr(
    vec_col: str, cell_col: str, cmap: dict[int, list[float]], cells: list[int]
) -> Column:
    """Row-local residual ``v − centroid(own cell)``: a when-chain over
    ``cells`` (codegen, row-local) with the first cell outermost and the
    LAST cell as the unconditional base — callers restrict rows to
    ``cells`` first."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    res = None
    for cid in reversed(cells):
        sub = F.zip_with(dbl, vec_lit(cmap[cid]), lambda x, m: x - m)
        res = sub if res is None else F.when(
            F.col(cell_col) == F.lit(cid), sub
        ).otherwise(res)
    return res


def cell_adc_expr(
    codebooks: list[dict[int, list[float]]],
    query_vec: list[float],
    cmap: dict[int, list[float]],
    cells: list[int],
    cell_col: str,
) -> Column:
    """Residual ADC distance: one ``_adc_dist_expr`` per cell in ``cells``
    over the LUTs of ``q − centroid(cell)`` (len(cells)·m·ksub driver
    floats), selected by the row's cell; NULL for rows of any other cell."""
    q = [float(x) for x in query_vec]
    adc = F.lit(None).cast("double")
    for cid in cells:
        qres = [a - b for a, b in zip(q, cmap[cid])]
        adc = F.when(
            F.col(cell_col) == F.lit(cid), _adc_dist_expr(codebooks, qres)
        ).otherwise(adc)
    return adc


# ---------------------------------------------------------------------------
# vector-family trainers (shared by queries/ivfpq.py and mount/artifacts.py)
# ---------------------------------------------------------------------------

def pq_training_sample(emb: DataFrame) -> DataFrame:
    """The deterministic bounded PQ training frame — the PQ_TRAIN_N
    lowest-id vectors.  A GlobalLimit after a vec_id sort: the plan is
    asserted bounded (tests/test_pq.py) so training can never silently
    regress to a corpus scan."""
    return emb.orderBy("vec_id").limit(PQ_TRAIN_N).select("vec_id", "embedding")


def _centroids6(emb: DataFrame) -> DataFrame:
    """Per-label centroids with every dimension ROUND-6 PINNED — the
    residual-mode determinism contract (an unrounded float avg folds
    differently per plan/engine; rounding pins the doubles both engines
    subtract).  Same construction as q_embed_outliers' centroid frame."""
    aggs = [
        F.round(F.avg(F.col("embedding").getItem(i).cast("double")), 6).alias(f"_c{i}")
        for i in range(EMB_DIM)
    ]
    return (
        emb.groupBy("label")
        .agg(*aggs)
        .select(
            F.col("label").alias("cluster_id"),
            F.array(*[F.col(f"_c{i}") for i in range(EMB_DIM)]).alias("centroid"),
        )
    )


def _cent_rows6(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """``_centroids6`` collected ONCE as ``[(cluster_id, centroid)]``
    (bounded: n_cells × dim) — shared by residual training, probe
    selection, and the residual when-chains, so the centroid aggregation
    runs exactly one Spark job per query (guide §1.2: it used to rerun
    under the training passes, the probe collect, and the plan
    when-chains before the r14 restructure)."""
    rows = _centroids6(emb).collect()
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def _sample_rows(emb: DataFrame) -> list:
    """The bounded lowest-id PQ training sample, collected in one job
    (≤PQ_TRAIN_N rows; the ``pq_training_sample`` contract with the label
    kept for residual training)."""
    return (
        emb.orderBy("vec_id")
        .limit(PQ_TRAIN_N)
        .select("vec_id", "label", "embedding")
        .collect()
    )


def _train_books_residual_rows(
    sample_rows: list, cmap: dict[int, list[float]]
) -> list[dict[int, list[float]]]:
    """PQ codebooks over RESIDUALS ``v − centroid(label)`` of the bounded
    lowest-id sample — the FAISS IndexIVFPQ training recipe, computed
    driver-side from the collected sample (r14: the residual subtraction
    and every Lloyd pass are arithmetic over ≤PQ_TRAIN_N·dim doubles; the
    former broadcast join + persisted frame + per-pass Spark jobs were
    pure scheduling latency — equivalence pinned in tests/test_pq.py).
    Rows whose label has no centroid are dropped, exactly like the former
    inner join."""
    res_rows = []
    for r in sample_rows:
        lab = r["label"]
        if lab not in cmap:
            continue
        vec = [float(x) for x in r["embedding"]]
        cent = cmap[lab]
        res_rows.append(
            (int(r["vec_id"]), [x - m for x, m in zip(vec, cent)])
        )
    return pq_train_rows(res_rows, m=PQ_M, ksub=PQ_KSUB, iters=PQ_ITERS)


def pq_train_rows(
    rows: list[tuple],
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
) -> list[dict[int, list[float]]]:
    """Driver-local PQ training over an ALREADY-COLLECTED bounded sample —
    the optimization-round replacement for the in-engine Lloyd passes
    (guide §1.2: the training frame is constant-bounded by contract, so
    2+iters distributed jobs were pure scheduling latency; at 100 TB they
    were 2+iters cluster round-trips for arithmetic over ≤PQ_TRAIN_N·dim
    doubles).

    ``rows`` = [(id, [float, ...]), ...]; order is normalized by sorting
    on id here (the ``ORDER BY id LIMIT n`` contract).  Arithmetic
    replicates the engine exactly: seeds = ksub lowest-id subvectors
    rounded 6 HALF_UP, distances = sqrt of the ascending-index left fold
    of squared deltas (``euclidean_distance``'s zip_with/aggregate), the
    strict-< argmin keeps the lowest cluster id on ties, means fold in
    ascending id order and are rounded 6 HALF_UP, empty clusters keep
    their previous centroid.  Equivalence with the in-engine arm is
    pinned per fixture in tests/test_pq.py."""
    import math

    srt = sorted(((r[0], [float(x) for x in r[1]]) for r in rows), key=lambda t: t[0])
    if not srt:
        raise ValueError("cannot train PQ codebooks on an empty sample")
    dim = len(srt[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    def sl(vec: list[float], j: int) -> list[float]:
        return vec[j * dsub : (j + 1) * dsub]

    codebooks: list[dict[int, list[float]]] = [
        {
            i: [_round6_half_up(v) for v in sl(vec, j)]
            for i, (_id, vec) in enumerate(srt[:ksub])
        }
        for j in range(m)
    ]

    def dist(a: list[float], c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, c):
            d = x - y
            acc += d * d
        return math.sqrt(acc)

    for _ in range(iters):
        # per (j, cluster, pos): members' value lists in ascending id order
        sums: dict[tuple[int, int], list[list[float]]] = {}
        for _id, vec in srt:
            for j in range(m):
                s = sl(vec, j)
                best_cid, best_d = None, None
                for cid, cvec in sorted(codebooks[j].items()):
                    d = dist(s, cvec)
                    if best_d is None or d < best_d:
                        best_cid, best_d = cid, d
                vals = sums.setdefault((j, best_cid), [[] for _ in range(dsub)])
                for p, v in enumerate(s):
                    vals[p].append(v)
        new_books: list[dict[int, list[float]]] = []
        for j in range(m):
            book: dict[int, list[float]] = {}
            for cid, old in codebooks[j].items():
                vals = sums.get((j, cid))
                if vals is None:
                    book[cid] = old  # empty cluster keeps its previous centroid
                else:
                    book[cid] = [
                        _round6_half_up(sum(vals[p]) / len(vals[p]))
                        for p in range(dsub)
                    ]
            new_books.append(book)
        codebooks = new_books
    return codebooks


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
) -> list[dict[int, list[float]]]:
    """Train per-subspace codebooks from a BOUNDED sample frame: ONE
    collect of the sample (≤PQ_TRAIN_N rows by the callers' contract),
    then ``pq_train_rows``'s driver-local Lloyd loop — identical
    arithmetic to the former in-engine passes (equivalence pinned in
    tests/test_pq.py), at 1 Spark job instead of 2+iters.

    Corpus-scale note: pass a bounded sample frame (PQ codebooks saturate
    long before corpus size; FAISS trains on ≤10⁶ vectors) — the collect
    is bounded by the sample, never the corpus.
    """
    rows = df.select(id_col, vec_col).collect()
    return pq_train_rows([(r[0], list(r[1])) for r in rows], m=m, ksub=ksub, iters=iters)


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[dict[int, list[float]]],
) -> DataFrame:
    """Encode every vector: per subspace the argmin code over its codebook
    plus the subspace quantization distance.  Output columns: ``id_col``,
    ``code_0..code_{m-1}`` (int), ``dist_0..dist_{m-1}`` (the L2 between
    the subvector and its centroid — the audit signal).  Pure codegen
    column expressions, row-local, no shuffle.

    The subspace width comes from the codebooks themselves (r14: probing
    the frame for ``size(vec)`` was one extra Spark job per encode; the
    codebooks already pin dsub, and a mismatched vector width surfaces in
    the slice arithmetic exactly as before)."""
    m = len(codebooks)
    dsub = len(next(iter(codebooks[0].values())))
    out_cols = [F.col(id_col)]
    passthrough = [c for c in df.columns if c not in (id_col, vec_col)]
    out_cols += [F.col(c) for c in passthrough]
    for j, cb in enumerate(codebooks):
        best = nearest_centroid(F.slice(F.col(vec_col), j * dsub + 1, dsub), cb)
        out_cols.append(best["cluster_id"].alias(f"code_{j}"))
        out_cols.append(best["dist"].alias(f"dist_{j}"))
    return df.select(*out_cols)


def _check_query_dim(
    codebooks: list[dict[int, list[float]]], query_vec: list[float]
) -> tuple[int, int]:
    m = len(codebooks)
    dsub = len(next(iter(codebooks[0].values())))
    if len(query_vec) != m * dsub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebooks' {m}x{dsub}"
        )
    return m, dsub


def _adc_luts(
    codebooks: list[dict[int, list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Per-subspace ksub-entry LUTs of squared subdistances for a query —
    the driver-side constant both the literal expression
    (``_adc_dist_expr``) and the Arrow batch-serve kernel
    (``mount/serve.py``) index with ``code_j``; sharing the builder keeps
    the two paths float-identical."""
    m, dsub = _check_query_dim(codebooks, query_vec)
    luts = []
    for j, cb in enumerate(codebooks):
        q = query_vec[j * dsub : (j + 1) * dsub]
        lut = []
        for _cid, cvec in sorted(cb.items()):
            s = 0.0
            for a, b in zip(q, cvec):
                d = float(a) - float(b)
                s += d * d
            lut.append(s)
        luts.append(lut)
    return luts


def _adc_dist_expr(
    codebooks: list[dict[int, list[float]]], query_vec: list[float]
):
    """The ADC distance column over ``code_0..code_{m-1}``: per subspace
    the query builds a ksub-entry LUT of squared subdistances driver-side
    (m·ksub floats — constant); the scan is m ``element_at`` lookups + a
    fixed-order sum, rounded to 6 (the engine-wide score contract)."""
    luts = _adc_luts(codebooks, query_vec)
    acc = None
    for j in range(len(luts)):
        term = F.element_at(vec_lit(luts[j]), F.col(f"code_{j}") + 1)
        acc = term if acc is None else acc + term
    return F.round(F.sqrt(acc), 6)


def pq_adc_topk(
    codes: DataFrame,
    id_col: str,
    codebooks: list[dict[int, list[float]]],
    query_vec: list[float],
    k: int,
) -> DataFrame:
    """Asymmetric-distance top-k over an ENCODED corpus: the
    ``_adc_dist_expr`` scan + one TakeOrderedAndProject.  Returns
    (id, adc_dist) ascending, ties by id.  Approximate by construction
    (quantization error); recall is audited against the exact scan in
    tests."""
    return (
        codes.select(
            F.col(id_col), _adc_dist_expr(codebooks, query_vec).alias("adc_dist")
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _centroid_map(centroids: DataFrame | list) -> dict:
    """``centroids`` — a (cluster_id, centroid) frame or the same rows
    already collected — as ``{cluster_id: [float, ...]}``."""
    rows = centroids if isinstance(centroids, list) else centroids.collect()
    return {r[0]: [float(x) for x in r[1]] for r in rows}


def _encode_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cmap: dict,
    codebooks: list[dict[int, list[float]]],
    cells: list,
    assign_col: str | None,
) -> DataFrame:
    """The rows of ``cells`` (a pushable ``assign_col IN cells`` scan
    filter; rows route to their nearest centroid inline when no
    assignment column is given), each PQ-encoded against its own cell's
    residual.  Columns: id, ``__v`` (the vector, carried for the bounded
    rerank so it needs no second scan), ``__cell_id``, ``code_*``,
    ``dist_*``."""
    if assign_col is None:
        df = df.withColumn("__cell", nearest_centroid(F.col(vec_col), cmap)["cluster_id"])
        assign_col = "__cell"
    rows = df.where(F.col(assign_col).isin(cells))
    return pq_encode(
        rows.select(
            F.col(id_col),
            residual_expr(vec_col, assign_col, cmap, cells).alias("__r"),
            F.col(vec_col).alias("__v"),
            F.col(assign_col).alias("__cell_id"),
        ),
        id_col,
        "__r",
        codebooks,
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | list,
    codebooks: list[dict[int, list[float]]],
    query_vec: list[float],
    k: int,
    n_probe: int = 1,
    rerank: int = 32,
    assign_col: str | None = None,
) -> DataFrame:
    """IVF-PQ serving — the composed billion-scale ANN shape (Jégou 2011
    §V; FAISS ``IndexIVFPQ``): route the query to its ``n_probe`` nearest
    IVF cells, ADC-scan ONLY those cells' PQ codes, then exact-rescore the
    ``rerank`` best ADC candidates and return the true-cosine top-k.

    The codes are PQ over RESIDUALS ``v − centroid(cell)`` (train the
    codebooks on residual vectors — ``_train_books_residual_rows``): each
    row is encoded against its own cell's residual, and the query builds
    ONE LUT PER PROBED CELL from ``q − centroid(cell)`` (n_probe·m·ksub
    driver floats — still constant).  Residuals concentrate near the
    origin, so the same codebook budget spends its centroids on a much
    smaller ball — the recall-per-byte reason production IVF-PQ encodes
    residuals.  The caller must pass ROUND-6-PINNED centroid vectors (the
    cross-engine determinism contract: an unrounded float avg folds
    differently per plan).

    Plan shape (the thing that must survive 100×): the cell predicate
    ``assign_col IN probes`` is a pushable scan filter, so the bytes read
    scale with n_probe/n_cells — NOT with N (plan- and probe-asserted in
    tests/test_pq.py and tools/scale_probe.py).  The ADC scan over the
    surviving rows is the ``pq_encode`` codegen argmin + m ``element_at``
    lookups, row-local, zero shuffles; one TakeOrderedAndProject keeps the
    ``rerank`` candidates (driver O(rerank)); the exact rescore runs on
    those rows alone — in production the full vectors come from a point
    store keyed by id, here the bounded candidate rows still carry them.

    ``centroids`` = (cluster_id, centroid array<double>), a driver-bounded
    frame exactly like ``ivf_topk``'s — or the same rows already collected
    as ``[(cluster_id, [float, ...])]`` (r14: callers that also need the
    centroid map driver-side pass the collected list so the aggregation
    runs once, not once per consumer); rows are routed by ``assign_col``
    when the table persists an assignment (the mount-time artifact shape),
    else assigned to their nearest centroid inline.  Returns
    (id_col, adc_dist, cos_sim), cos_sim descending, ties by id.
    """
    cmap = _centroid_map(centroids)
    probe_ids = probe_cells(cmap, query_vec, n_probe)
    enc = _encode_cells(df, id_col, vec_col, cmap, codebooks, probe_ids, assign_col)
    adc = cell_adc_expr(codebooks, query_vec, cmap, probe_ids, "__cell_id")
    cand = (
        enc.select(F.col(id_col), F.col("__v"), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(rerank)
    )
    qv = vec_lit(query_vec)
    return (
        cand.select(
            F.col(id_col),
            F.col("adc_dist"),
            F.round(cosine_similarity(F.col("__v"), qv), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_multi_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | list,
    codebooks: list[dict[int, list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int,
    n_probe: int = 1,
    rerank: int = 32,
    assign_col: str | None = None,
) -> DataFrame:
    """BATCH IVF-PQ serving — Q queries against ONE cell-routed scan (the
    shape a real retrieval pipeline runs: thousands of queries per batch;
    VERDICT r10 task 4).  Composes ``ann_multi_query_topk``'s
    Q-queries-one-scan pattern with ``ivf_pq_topk``'s residual ADC scan:

    1. every query routes to its ``n_probe`` nearest cells driver-side
       (``probe_cells``, as in the single-query path); the scan
       predicate is the UNION of all probed cells — one pushed ``IN``
       filter, bytes read ∝ |∪ probed cells| / n_cells, paid ONCE for the
       whole batch instead of once per query;
    2. each surviving row residual-encodes ONCE against its own cell
       (identical codes to the single-query path);
    3. per (row, query): the query's per-cell residual LUT fold, NULL when
       the row's cell is outside that query's probes — emitted as an
       exploded (query_id, adc_dist) pair list, so the scan stays single;
    4. per-query rerank selection is a rank-limit window
       (``row_number ≤ rerank`` — Spark's WindowGroupLimit keeps
       per-partition top-r heaps map-side, so the shuffle carries
       O(Q · rerank) rows per map partition, not the candidate set);
    5. exact cosine rescore per query (literal query vector selected by
       query_id) and a final per-query top-k rank window.

    Returns (query_id, id_col, adc_dist, cos_sim, rank), rank ≤ k per
    query.  The ``queries`` list must be sorted by query_id (determinism
    contract).
    """
    from pyspark.sql.window import Window

    cmap = _centroid_map(centroids)
    qs = [(int(qid), [float(x) for x in qv]) for qid, qv in queries]
    probes = {qid: probe_cells(cmap, qv, n_probe) for qid, qv in qs}
    union_cells = sorted({c for ps in probes.values() for c in ps})
    enc = _encode_cells(df, id_col, vec_col, cmap, codebooks, union_cells, assign_col)

    entries = [
        F.struct(
            F.lit(qid).alias("query_id"),
            cell_adc_expr(codebooks, qv, cmap, probes[qid], "__cell_id").alias("adc_dist"),
        )
        for qid, qv in qs
    ]
    cand = (
        enc.select(
            F.col(id_col), F.col("__v"), F.explode(F.array(*entries)).alias("q")
        )
        .select(
            id_col,
            "__v",
            F.col("q.query_id").alias("query_id"),
            F.col("q.adc_dist").alias("adc_dist"),
        )
        .where(F.col("adc_dist").isNotNull())
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    cand = (
        cand.withColumn("_rn", F.row_number().over(w_adc))
        .where(F.col("_rn") <= int(rerank))
        .drop("_rn")
    )

    cos = None
    for qid, qv in reversed(qs):
        c = cosine_similarity(F.col("__v"), vec_lit(qv))
        cos = c if cos is None else F.when(
            F.col("query_id") == F.lit(qid), c
        ).otherwise(cos)
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("cos_sim", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= int(k))
        .select("query_id", id_col, "adc_dist", "cos_sim", "rank")
    )
