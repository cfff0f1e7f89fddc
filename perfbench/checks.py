"""Independent re-computation of the program's answers in numpy/Python.

Each function here re-derives, from the generated inputs alone, what a
call should return, following the documented semantics (FIXTURES.md §F4:
rank on distances, scores rounded to 6 decimals, ties by id).  They share
no code with the program.
"""

from __future__ import annotations

import math

import numpy as np

DECAY = 0.05
TOL = 2e-6


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# --------------------------------------------------------------------------
# entity search
# --------------------------------------------------------------------------

def qgram_set(s: str, q: int = 3) -> frozenset:
    s = s.lower()
    n = max(len(s) - q + 1, 1)
    return frozenset(g for g in (s[i:i + q] for i in range(n)) if g)


def _jaccard_dist(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return 0.0 if union == 0 else 1.0 - len(a & b) / union


def facet_dist(cols: dict[str, np.ndarray], kind: str, value_cols: list[str], q) -> np.ndarray:
    """Distance of every row to the query value; NaN where the value is
    missing."""
    if kind == "numerical":
        return np.abs(cols[value_cols[0]].astype(np.float64) - float(q))
    if kind == "temporal":
        return np.abs(cols[value_cols[0]].astype(np.float64) - float(q))
    if kind == "spatial":
        dx = cols[value_cols[0]] - float(q[0])
        dy = cols[value_cols[1]] - float(q[1])
        return np.sqrt(dx * dx + dy * dy)
    if kind == "categorical":
        qs = frozenset(q)
        return np.array([_jaccard_dist(frozenset(v), qs) for v in cols[value_cols[0]]])
    if kind == "textual":
        qg = qgram_set(str(q))
        cache: dict[str, float] = {}
        out = np.empty(len(cols[value_cols[0]]))
        for i, v in enumerate(cols[value_cols[0]]):
            d = cache.get(v)
            if d is None:
                d = cache[v] = _jaccard_dist(qgram_set(v), qg)
            out[i] = d
        return out
    raise ValueError(kind)


def kth_scale(dist: np.ndarray, k: int) -> float:
    d = np.sort(dist[~np.isnan(dist)])
    return float(d[: k][-1]) if len(d) else float("nan")


def similarity(dist: np.ndarray, scale: float, kind: str) -> np.ndarray:
    safe = 1.0 if scale <= 0 else scale
    sim = np.exp(-DECAY * dist / safe)
    if kind in ("categorical", "textual"):
        sim = np.where(dist >= 1.0, 0.0, sim)
    return sim


def percentile(values: np.ndarray, p: float) -> float:
    v = np.sort(values)
    pos = p * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return float(v[lo] + (pos - lo) * (v[hi] - v[lo]))


def expected_single(cols, ids, mask, facet: dict, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, scores) of a single-facet top-k, ordered (dist asc, id asc)."""
    dist = facet_dist(cols, facet["kind"], facet["value_cols"], facet["q"])
    keep = mask & ~np.isnan(dist)
    d, i = dist[keep], ids[keep]
    scale = kth_scale(d, k)
    order = np.lexsort((i, d))[:k]
    sims = similarity(d[order], scale, facet["kind"])
    return i[order], np.round(sims, 6)


def expected_multi_scores(cols, facets: list[dict], k: int) -> list[np.ndarray]:
    """Per weight combination, the rounded aggregate score of every row."""
    sims = {}
    for f in facets:
        dist = facet_dist(cols, f["kind"], f["value_cols"], f["q"])
        s = similarity(dist, kth_scale(dist, k), f["kind"])
        sims[f["name"]] = np.nan_to_num(s, nan=0.0)
    n = len(next(iter(sims.values())))
    p = max(0.0, min(1.0, 1.0 - k / n))
    est = {f["name"]: percentile(sims[f["name"]], p) for f in facets if f["weights"] is None}
    n_combos = max((len(f["weights"]) for f in facets if f["weights"] is not None), default=1)
    out = []
    for j in range(n_combos):
        ws = {f["name"]: (f["weights"][j] if f["weights"] is not None else est[f["name"]])
              for f in facets}
        total = sum(ws.values())
        num = sum(sims[f["name"]] * ws[f["name"]] for f in facets)
        out.append(np.round(num / total, 6) if total else np.zeros(n))
    return out


def check_topk_answer(got_ids, got_scores, all_ids, all_scores, k: int) -> tuple[int, int]:
    """The returned rows are a valid top-k under ``score DESC`` (ties may
    resolve either way within the rounding tolerance).  Returns (hits, n):
    how many of the n expected rows were returned rows that belong to some
    valid top-k."""
    order = np.lexsort((all_ids, -all_scores))[:k]
    exp_scores = all_scores[order]
    require(len(got_ids) == len(order), f"{len(got_ids)} rows, expected {len(order)}")
    require(np.allclose(np.asarray(got_scores, float), exp_scores, atol=TOL, rtol=0),
            "score sequence differs from the recomputation")
    if not len(order):
        return 0, 0
    by_id = dict(zip(all_ids.tolist(), all_scores.tolist()))
    floor = exp_scores[-1] - TOL
    hits = 0
    for i, s in zip(got_ids, got_scores):
        require(abs(by_id[int(i)] - float(s)) <= TOL, f"id {i}: score {s} != {by_id[int(i)]}")
        hits += by_id[int(i)] >= floor
    return hits, len(order)


def check_ranked(rows: list[tuple], k: int) -> None:
    """Invariants of one combination's rows (id, score): at most k rows,
    scores in [0, 1], ordered by score DESC, id ASC, no repeated id."""
    require(len(rows) <= k, f"{len(rows)} rows > k={k}")
    for _i, s in rows:
        require(s is not None and 0.0 <= s <= 1.0, f"score {s} outside [0, 1]")
    for (i0, s0), (i1, s1) in zip(rows, rows[1:]):
        require((-s0, i0) < (-s1, i1), "rows not ordered by score DESC, id ASC")


# --------------------------------------------------------------------------
# vectors and text retrieval
# --------------------------------------------------------------------------

def exact_cosine_topk(mat: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    cos = np.where(norms == 0, 0.0, mat @ q / np.where(norms == 0, 1.0, norms))
    cos = np.round(cos, 6)
    order = np.lexsort((ids, -cos))[:k]
    return ids[order], cos[order], dict(zip(ids.tolist(), cos.tolist()))


def bm25_scores(doc_tokens: list[list[str]], terms: list[str], k1: float = 1.2, b: float = 0.75):
    """Robertson-Walker BM25 with the mount-time corpus statistics, folded
    left to right over the sorted query terms."""
    n_docs = len(doc_tokens)
    avgdl = sum(len(t) for t in doc_tokens) / n_docs if n_docs else 0.0
    terms = sorted(set(terms))
    df = {t: sum(1 for toks in doc_tokens if t in toks) for t in terms}
    idf = {t: math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0) for t in terms}
    out = np.empty(n_docs)
    for d, toks in enumerate(doc_tokens):
        norm = k1 * ((1.0 - b) + b * float(len(toks)) / (avgdl or 1.0))
        score = 0.0
        for t in terms:
            tf = float(toks.count(t))
            score = score + idf[t] * (tf * (k1 + 1.0)) / (tf + norm)
        out[d] = score
    return np.round(out, 6)


# --------------------------------------------------------------------------
# corpus dedup
# --------------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> frozenset:
    if text is None or not text.strip():
        return frozenset()
    w = text.split(" ")
    count = max(len(w) - (n - 1), 1)
    return frozenset(" ".join(w[i:i + n]) for i in range(count))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def check_pairs(pairs, texts: dict[int, str], threshold: float) -> None:
    """Every reported (id_a, id_b, jaccard) pair: ids ordered and distinct,
    the recomputed shingle Jaccard equal to the reported one and at or
    above the threshold."""
    seen = set()
    cache: dict[int, frozenset] = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    for a, b, j in pairs:
        require(a < b, f"pair ({a}, {b}) not ordered")
        require((a, b) not in seen, f"pair ({a}, {b}) repeated")
        seen.add((a, b))
        jj = jaccard(sh(a), sh(b))
        require(abs(jj - float(j)) <= TOL, f"pair ({a}, {b}): jaccard {j} != {jj}")
        require(jj >= threshold - TOL, f"pair ({a}, {b}): jaccard {jj} < {threshold}")


def components(pairs) -> dict[int, int]:
    """Union-find: id -> smallest id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
