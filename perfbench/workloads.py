"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation is sent
when the previous one has returned and been checked.  A workload provides

- ``setup()``: inputs and, where it has one, the mount (timed as set-up);
- ``warm_cycles``: how many whole cycles run before measuring, so the
  one-time cost of each request shape (JVM class loading, code
  generation, JIT) is paid outside the window;
- ``ops()``: an endless, seeded iterator of ``Op``s, grouped in cycles of
  ``cycle`` operations whose kinds repeat, so every run measures the same
  mix and only the inputs vary with the seed.

An ``Op`` runs the program, then checks the answer against an independent
re-computation (``checks``).  A check failure counts the op as failed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa

import checks
import gen
from checks import require


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    run: Callable[[], object]
    #: raises ``CheckFailed``; may return (hits, expected) for recall
    check: Callable[[object], tuple[int, int] | None] = lambda _r: None


@dataclass
class Context:
    spark: object
    seed: int
    sf: float
    run_dir: str
    tracer: object
    traced: bool = False
    notes: dict = field(default_factory=dict)


def _collect(ctx: Context, span: str, df):
    with ctx.tracer.span(span):
        return df.collect()


# ==========================================================================
# entity_search
# ==========================================================================

#: request classes, one cycle; each facet names an entry of ES_FACETS.
#: ``repeat`` re-issues the cycle's first request and requires identical rows
ES_CLASSES = [
    {"api": "multi", "table": "customer", "facets": ["acctbal", "tags"], "weights": "given", "combos": 1, "k": 10},
    {"api": "sql", "table": "orders", "facets": ["price", "odate"], "combos": 2, "k": 10},
    {"api": "single", "table": "orders", "facets": ["odate"], "k": 10, "filter": True},
    {"api": "multi", "table": "customer", "facets": ["acctbal", "loc", "tags", "nation"], "weights": "estimated", "k": 50},
    {"api": "sql", "table": "customer", "facets": ["acctbal", "name"], "combos": 3, "k": 1},
    {"api": "single", "table": "customer", "facets": ["loc"], "k": 50, "filter": True},
    {"api": "multi", "table": "customer", "facets": ["acctbal", "loc"], "weights": "given", "combos": 2, "k": 10},
    {"api": "single", "table": "customer", "facets": ["acctbal"], "k": 1},
    {"api": "multi", "table": "customer", "facets": ["nation", "acctbal"], "weights": "given", "combos": 1, "k": 1},
    {"api": "repeat"},
]
#: requests per cycle whose answer is recomputed in numpy (seeded choice)
ES_RECOMPUTED = 2

# facet name -> (kind, column(s)), per table
ES_FACETS = {
    "customer": {
        "acctbal": ("numerical", ["c_acctbal"]),
        "nation": ("numerical", ["c_nationkey"]),
        "name": ("textual", ["c_name"]),
        "loc": ("spatial", ["c_lon", "c_lat"]),
        "tags": ("categorical", ["c_tags"]),
    },
    "orders": {
        "price": ("numerical", ["o_totalprice"]),
        "odate": ("temporal", ["o_orderdate"]),
    },
}
ES_KEYS = {"customer": "c_custkey", "orders": "o_orderkey"}
ES_FILTERS = {
    "customer": ("c_mktsegment", gen.SEGMENTS),
    "orders": ("o_orderstatus", gen.STATUSES),
}


class EntitySearch:
    name = "entity_search"
    cycle = len(ES_CLASSES)
    # every request class runs once before measuring: a class's first
    # request costs two to three times its later ones
    warm_cycles = 1
    tables = ["customer", "orders"]

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 11])

    def setup(self) -> None:
        from simsearch_spark.sources import registry

        sf_dir = os.path.join(self.ctx.run_dir, "sf")
        made = gen.write_fixture_dir(self.ctx.seed, self.ctx.sf, sf_dir, self.tables)
        self.frames = {t: registry.load_table(self.ctx.spark, sf_dir, t) for t in self.tables}
        self.cols = {}
        for t, tbl in made.items():
            cols = {}
            for name in tbl.column_names:
                col = tbl.column(name)
                if pa.types.is_timestamp(col.type):
                    cols[name] = col.cast(pa.int64()).to_numpy() / 1e6
                elif pa.types.is_list(col.type) or pa.types.is_string(col.type):
                    cols[name] = col.to_pylist()
                else:
                    cols[name] = col.to_numpy()
            self.cols[t] = cols
        self.input_bytes = sum(t.nbytes for t in made.values())

    # -- request generation ------------------------------------------------
    def _query_value(self, col: str, kind: str):
        """(value handed to the program, value for the recomputation)"""
        r = self.rng
        if kind == "numerical":
            lo, hi = {"c_acctbal": (-500, 9500), "c_nationkey": (0, 24), "o_totalprice": (1e3, 5.5e5)}[col]
            v = round(float(r.uniform(lo, hi)), 2)
            return v, v
        if kind == "temporal":
            secs = gen.EPOCH_1992 + int(r.integers(0, gen.SPAN_7Y))
            iso = dt.datetime.fromtimestamp(secs, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
            return iso, float(secs)
        if kind == "spatial":
            v = (round(float(r.uniform(-180, 180)), 3), round(float(r.uniform(-90, 90)), 3))
            return v, v
        if kind == "categorical":
            v = sorted(set(r.choice(gen.TAGS, int(r.integers(1, 4))).tolist()))
            return v, v
        v = f"Customer#{int(r.integers(0, len(self.cols['customer']['c_custkey']))):09d}"
        return v, v

    def _request(self, cls: dict) -> dict:
        table = cls["table"]
        facets = []
        for name in cls["facets"]:
            kind, cols = ES_FACETS[table][name]
            qv, q = self._query_value(cols[0], kind)
            facets.append({"name": name, "kind": kind, "value_cols": cols, "qv": qv, "q": q, "weights": None})
        if cls["api"] == "sql" or cls.get("weights") == "given":
            combos = cls.get("combos", 1)
            for f in facets:
                f["weights"] = [round(float(self.rng.uniform(0.1, 1.0)), 2) for _ in range(combos)]
        filt = None
        if cls.get("filter"):
            col, values = ES_FILTERS[table]
            filt = (col, str(self.rng.choice(values)))
        if cls["api"] == "sql":
            for f in facets:  # the SQL front-end names each facet by its column
                f["name"] = f["value_cols"][0]
        return {**cls, "facets": facets, "filter": filt}

    def _sql_text(self, req: dict) -> str:
        conds = []
        for f in req["facets"]:
            v = f["qv"]
            if isinstance(v, list):
                v = "[" + ", ".join(f"'{t}'" for t in v) + "]"
            elif isinstance(v, str):
                v = f"'{v}'"
            conds.append(f"{f['name']} ~= {v}")
        combos = len(req["facets"][0]["weights"])
        weights = "; ".join(", ".join(str(f["weights"][j]) for f in req["facets"]) for j in range(combos))
        return f"SELECT * FROM {req['table']} WHERE {' AND '.join(conds)} WEIGHTS {weights} LIMIT {req['k']}"

    # -- execution ----------------------------------------------------------
    def _execute(self, req: dict) -> list[tuple]:
        from simsearch_spark.operators import rank_agg, topk
        from simsearch_spark.plans import sql_frontend
        from simsearch_spark.plans.spec import Facet, SearchRequest

        spark = self.ctx.spark
        df = self.frames[req["table"]]
        key = ES_KEYS[req["table"]]
        if req["api"] == "sql":
            out = sql_frontend.execute_search_sql(spark, df, req["table"], self._sql_text(req), key)
            rows = _collect(self.ctx, "operators.rank_agg.collect", out.select("combo", key, "score"))
            spark.catalog.clearCache()  # the documented cleanup for the lazy default mode
            return [tuple(r) for r in rows]
        facets = [
            Facet(name=f["name"], kind=f["kind"], value_cols=list(f["value_cols"]),
                  query_value=list(f["qv"]) if f["kind"] == "categorical" else f["qv"],
                  weights=f["weights"],
                  filter=(f"{req['filter'][0]} = '{req['filter'][1]}'" if req["filter"] else None))
            for f in req["facets"]
        ]
        if req["api"] == "single":
            out = topk.single_facet_topk(df, key, facets[0], req["k"])
            rows = _collect(self.ctx, "operators.topk.collect", out.select(key, "score", "rank"))
            return [tuple(r) for r in rows]
        sreq = SearchRequest(table=req["table"], key_column=key, facets=facets, k=req["k"])
        out = rank_agg.multi_facet_topk(df, sreq, eager_cleanup=True)
        rows = _collect(self.ctx, "operators.rank_agg.collect", out.select("combo", key, "score"))
        return [tuple(r) for r in rows]

    def _check(self, req: dict, rows: list[tuple], recompute: bool) -> tuple[int, int] | None:
        k = req["k"]
        cols = self.cols[req["table"]]
        ids = cols[ES_KEYS[req["table"]]]
        if req["api"] == "single":
            require([r[2] for r in rows] == list(range(1, len(rows) + 1)), "ranks not 1..n")
            require(len(rows) <= k, f"{len(rows)} rows > k")
            for _i, s, _rk in rows:
                require(0.0 <= s <= 1.0, f"score {s} outside [0, 1]")
            if not recompute:
                return None
            mask = np.ones(len(ids), bool)
            if req["filter"]:
                col, val = req["filter"]
                mask = np.asarray(cols[col]) == val
            exp_ids, exp_scores = checks.expected_single(cols, ids, mask, req["facets"][0], k)
            require([int(r[0]) for r in rows] == exp_ids.tolist(),
                    "single-facet ids differ from the recomputation")
            require(np.allclose([r[1] for r in rows], exp_scores, atol=checks.TOL, rtol=0),
                    "single-facet scores differ from the recomputation")
            return len(rows), len(exp_ids)
        combos = sorted({r[0] for r in rows})
        n_combos = len(req["facets"][0]["weights"]) if req["facets"][0]["weights"] else 1
        require(combos == list(range(n_combos)) or not rows, f"combos {combos}")
        for j in combos:
            checks.check_ranked([(int(r[1]), r[2]) for r in rows if r[0] == j], k)
        if not recompute:
            return None
        hits = n = 0
        for j, scores in enumerate(checks.expected_multi_scores(cols, req["facets"], k)):
            got = [(int(r[1]), r[2]) for r in rows if r[0] == j]
            h, m = checks.check_topk_answer([g[0] for g in got], [g[1] for g in got], ids, scores, k)
            hits, n = hits + h, n + m
        return hits, n

    def _op(self, req: dict, recompute: bool, expect: list | None = None, keep: bool = False) -> Op:
        def check(rows):
            if expect is not None:
                require(rows == expect, "a repeated request returned different rows")
            if keep:
                self.kept = (req, rows)
            return self._check(req, rows, recompute)

        return Op(f"{req['api']}:{req['table']}", "read", lambda: self._execute(req), check)

    def ops(self):
        while True:
            recompute = set(self.rng.choice(len(ES_CLASSES) - 1, ES_RECOMPUTED, replace=False).tolist())
            for n, cls in enumerate(ES_CLASSES):
                if cls["api"] == "repeat":
                    req, rows = self.kept
                    yield self._op(req, recompute=False, expect=rows)
                    continue
                yield self._op(self._request(cls), n in recompute, keep=n == 0)


# ==========================================================================
# mount_churn
# ==========================================================================

class MountChurn:
    """Mount a seeded corpus once (set-up), then a closed loop of serve
    reads beside writes at a fixed share.  Per cycle of thirteen
    operations: four writes (vector append, tombstone delete, document
    dedup-append, compaction alternating between the codes and the dedup
    index per cycle) and nine reads (seven IVF-PQ, two of them aimed at
    freshly appended vectors, and two BM25).  Traced runs end each cycle with one
    batch pass over the mounted documents (MinHash-LSH pairs, their
    connected components, banded SimHash pairs, repeated-passage removal);
    untraced runs leave it out, because its 7-10 s would push the driver's
    48 runs past their time limit.

    The mounted documents are ``gen.corpus``: base documents plus
    near-duplicate variants whose pairs are known, so the batch pass's
    pair recall is measured."""

    name = "mount_churn"
    warm_cycles = 0  # the mount itself warms the JVM
    threshold = 0.7

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.cycle = 14 if ctx.traced else 13
        self.rng = np.random.default_rng([ctx.seed, 13])
        self.mount_dir = os.path.join(ctx.run_dir, "mount")
        self.next_vec = 10_000_000
        self.next_doc = 10_000_000
        self.pending_tombstones = 0
        self.n_cycle = 0
        self.delta_dir = os.path.join(ctx.run_dir, "emb_deltas")

    def setup(self) -> None:
        from simsearch_spark.functions.text import ws_tokens
        from simsearch_spark.mount import artifacts
        from simsearch_spark.sources import registry
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        sf_dir = os.path.join(self.ctx.run_dir, "sf")
        made = gen.write_fixture_dir(self.ctx.seed, self.ctx.sf, sf_dir, ["embeddings"])
        self.corpus = gen.corpus(self.ctx.seed, gen.rows_for(self.ctx.sf)["documents"] // 10)
        made["documents"] = gen.with_doc_columns(self.corpus.table)
        gen.write(made["documents"], os.path.join(sf_dir, "documents.parquet"))
        artifacts.mount(spark, sf_dir, self.mount_dir)
        emb = made["embeddings"]
        self.vec_ids = emb.column("vec_id").to_numpy().copy()
        self.vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
        self.live = np.ones(len(self.vec_ids), bool)
        self.deleted: set[int] = set()
        docs = made["documents"]
        self.doc_text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        self.doc_ids = list(self.doc_text)
        self.bm25_ids = np.asarray(self.doc_ids)  # BM25 serves the mounted documents
        self.doc_tokens = [t.split() for t in docs.column("text").to_pylist()]
        self.docs_frame = registry.load_table(spark, sf_dir, "documents").withColumn(
            "toks", ws_tokens(F.col("text")))
        self.corpus_texts = dict(self.doc_text)
        self.n_docs = len(self.corpus_texts)
        self.first_pass: dict | None = None
        os.makedirs(self.delta_dir, exist_ok=True)
        shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), os.path.join(self.delta_dir, "base.parquet"))
        self.input_bytes = made["embeddings"].nbytes + made["documents"].nbytes
        self.fresh: list[int] = []
        self.centers = gen.centers(self.ctx.seed)
        self.vocab = gen.vocabulary()

    def _emb(self):
        # the full-vector store: base rows plus every appended delta
        return self.ctx.spark.read.parquet(self.delta_dir)

    # -- reads ----------------------------------------------------------------
    def _ivf_read(self, aim: str, k: int, n_probe: int) -> Op:
        from simsearch_spark.mount import serve

        if aim == "fresh" and self.fresh:
            target = int(self.rng.choice(self.fresh))
            q = self.vecs[np.flatnonzero(self.vec_ids == target)[0]].copy()
        else:
            target = None
            live = np.flatnonzero(self.live)
            q = self.vecs[int(self.rng.choice(live))] + 0.05 * self.rng.normal(size=gen.DIM)
        rerank = 64 if k == 50 else 32

        def run():
            out = serve.serve_ivfpq_topk(self.ctx.spark, self.mount_dir, self._emb(),
                                         [float(x) for x in q], k, n_probe=n_probe, rerank=rerank)
            rows = _collect(self.ctx, "mount.serve.ivfpq.collect", out)
            return [(int(r["id"]), float(r["cos_sim"])) for r in rows]

        def check(rows):
            require(0 < len(rows) <= k, f"{len(rows)} rows for k={k}")
            live = np.flatnonzero(self.live)
            exp_ids, _exp_cos, cos_of = checks.exact_cosine_topk(self.vecs[live], self.vec_ids[live], q, k)
            for i, c in rows:
                require(i not in self.deleted, f"deleted id {i} returned")
                require(i in cos_of, f"unknown id {i} returned")
                require(abs(cos_of[i] - c) <= checks.TOL, f"id {i}: cos {c} != {cos_of[i]}")
            for (i0, c0), (i1, c1) in zip(rows, rows[1:]):
                require((-c0, i0) < (-c1, i1), "rows not ordered by cos_sim DESC, id ASC")
            if target is not None:
                require(target in {i for i, _ in rows}, f"freshly appended id {target} not found")
            return len({i for i, _ in rows} & set(exp_ids.tolist())), len(exp_ids)

        return Op("serve_ivfpq", "read", run, check)

    def _bm25_read(self) -> Op:
        from simsearch_spark.mount import serve

        terms = sorted(set(self.rng.choice(self.vocab[:300], int(self.rng.integers(1, 4))).tolist()))
        k = 10

        def run():
            out = serve.serve_bm25_topk(self.ctx.spark, self.mount_dir, self.docs_frame, terms, k)
            rows = _collect(self.ctx, "mount.serve.bm25.collect", out)
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        def check(rows):
            scores = checks.bm25_scores(self.doc_tokens, terms)
            checks.check_topk_answer([r[0] for r in rows], [r[1] for r in rows],
                                     self.bm25_ids, scores, k)

        return Op("serve_bm25", "read", run, check)

    # -- writes ---------------------------------------------------------------
    def _append(self) -> Op:
        from simsearch_spark.mount import maintain

        n = 40
        ids = np.arange(self.next_vec, self.next_vec + n)
        self.next_vec += n
        v, _ = gen.unit_vectors(self.rng, self.centers, n)
        table = gen.embeddings_table(ids, v, None)
        path = os.path.join(self.delta_dir, f"delta-{ids[0]}.parquet")

        def run():
            spark = self.ctx.spark
            delta = spark.createDataFrame(table.to_pandas(), "vec_id long, embedding array<float>")
            return maintain.append_rows(spark, self.mount_dir, emb_delta=delta)

        def check(manifest):
            require(manifest["counts"]["n_vectors"] >= n, "append did not count the delta")
            gen.write(table, path)  # the appended vectors join the full-vector store
            self.vec_ids = np.concatenate([self.vec_ids, ids])
            self.vecs = np.concatenate([self.vecs, v.astype(np.float64)])
            self.live = np.concatenate([self.live, np.ones(n, bool)])
            self.fresh = ids.tolist()
            self.input_bytes += table.nbytes

        return Op("append_rows", "write", run, check)

    def _delete(self) -> Op:
        from simsearch_spark.mount import maintain

        live = np.flatnonzero(self.live)
        pick = self.vec_ids[self.rng.choice(live, size=5, replace=False)].tolist()

        def run():
            return maintain.delete_ids(self.ctx.spark, self.mount_dir, [int(i) for i in pick])

        def check(_r):
            self.deleted.update(int(i) for i in pick)
            self.live &= ~np.isin(self.vec_ids, pick)
            self.fresh = [i for i in self.fresh if i not in self.deleted]
            self.pending_tombstones += len(pick)

        return Op("delete_ids", "write", run, check)

    def _dedup_append(self) -> Op:
        from simsearch_spark.mount import dedup

        n, n_dup = 60, 20
        fresh = gen.documents(int(self.rng.integers(1 << 30)), n - n_dup, first_id=self.next_doc,
                              stream="delta")
        texts = dict(zip(fresh.column("doc_id").to_pylist(), fresh.column("text").to_pylist()))
        long_docs = [i for i in self.doc_ids if self.doc_text[i].count(" ") >= 40]
        injected = set()
        for j, src in enumerate(self.rng.choice(long_docs, size=n_dup, replace=False)):
            did = self.next_doc + (n - n_dup) + j
            texts[did] = gen.perturb(self.rng, self.doc_text[int(src)], share=0.02)
            injected.add((int(src), did))
        self.next_doc += n
        table = pa.table({"doc_id": np.array(list(texts), np.int64), "text": list(texts.values())})

        def run():
            spark = self.ctx.spark
            delta = spark.createDataFrame(table.to_pandas(), "doc_id long, text string")
            out = dedup.dedup_append(spark, self.mount_dir, delta)
            rows = _collect(self.ctx, "mount.dedup.collect", out)
            return [(int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])) for r in rows]

        def check(pairs):
            all_text = {**self.doc_text, **texts}
            checks.check_pairs(pairs, all_text, self.threshold)
            for a, b, _j in pairs:
                require(a in texts or b in texts, f"pair ({a}, {b}) touches no delta document")
            self.doc_text.update(texts)
            self.doc_ids.extend(texts)
            self.input_bytes += table.nbytes
            found = {(a, b) for a, b, _ in pairs}
            self.ctx.notes.setdefault("churn_dup_found", []).append(len(found & injected) / len(injected))

        return Op("dedup_append", "write", run, check)

    def _compact(self) -> Op:
        from simsearch_spark.mount import maintain

        codes = self.n_cycle % 2 == 0
        expect = self.pending_tombstones

        def run():
            if codes:
                return maintain.compact_codes(self.ctx.spark, self.mount_dir)
            return maintain.compact_dedup(self.ctx.spark, self.mount_dir)

        def check(n):
            if codes:
                require(n == expect, f"compact_codes reclaimed {n} rows, {expect} were tombstoned")
                self.pending_tombstones = 0
            else:
                require(n >= 0, f"compact_dedup returned {n}")

        return Op("compact_codes" if codes else "compact_dedup", "write", run, check)

    def _cycle(self):
        # built lazily: each op's inputs depend on the state the previous
        # ops left (fresh ids, tombstones)
        yield self._append()
        yield self._ivf_read("fresh", k=10, n_probe=2)
        yield self._bm25_read()
        yield self._ivf_read("any", k=10, n_probe=1)
        yield self._delete()
        yield self._ivf_read("any", k=50, n_probe=4)
        yield self._dedup_append()
        yield self._ivf_read("any", k=50, n_probe=gen.N_LABELS)  # every cell: the heaviest read
        yield self._ivf_read("fresh", k=50, n_probe=1)
        yield self._bm25_read()
        yield self._ivf_read("any", k=50, n_probe=2)
        # the heaviest read once more: with three heavy reads in nine, the
        # p90 tail sits inside their cluster, not on one slowest read
        yield self._ivf_read("any", k=50, n_probe=gen.N_LABELS)
        yield self._compact()
        if self.ctx.traced:
            yield self._corpus_pass()
        self.n_cycle += 1

    def ops(self):
        while True:
            yield from self._cycle()

    # -- batch ----------------------------------------------------------------
    def _corpus_pass(self) -> Op:
        from simsearch_spark.operators import dedup, winnow

        def run():
            frame = self.docs_frame.select("doc_id", "text")
            pairs = dedup.minhash_lsh_pairs(frame, "doc_id", "text", threshold=self.threshold)
            mh = _collect(self.ctx, "operators.dedup.minhash_collect", pairs)
            cc = _collect(self.ctx, "operators.dedup.components_collect",
                          dedup.connected_components(pairs))
            sh = _collect(self.ctx, "operators.dedup.simhash_collect",
                          dedup.simhash_pairs(frame, "doc_id", "text", banded=True))
            pr = _collect(self.ctx, "operators.winnow.collect",
                          winnow.passage_removal(frame, "doc_id", "text"))
            return {
                "minhash": sorted((int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])) for r in mh),
                "cc": sorted((int(r[0]), int(r[1])) for r in cc),
                "simhash": sorted((int(r["id_a"]), int(r["id_b"]), int(r["hamming"])) for r in sh),
                "passage": sorted(tuple(r) for r in pr),
            }

        def check(out):
            checks.check_pairs(out["minhash"], self.corpus_texts, self.threshold)
            comp = checks.components([(a, b) for a, b, _ in out["minhash"]])
            require(dict(out["cc"]) == comp, "connected components differ from union-find")
            for a, b, h in out["simhash"]:
                require(a < b and 0 <= h <= 6, f"simhash pair ({a}, {b}, {h}) invalid")
            require(len(out["passage"]) == self.n_docs, f"{len(out['passage'])} passage rows")
            for row in out["passage"]:
                _i, n_tok, n_rem, n_kept = row[:4]
                require(n_tok == n_rem + n_kept and n_rem >= 0, f"passage accounting {row}")
            if self.first_pass is None:
                self.first_pass = out
            else:
                require(out == self.first_pass, "a repeated pass returned different results")
            found = {(a, b) for a, b, _ in out["minhash"]}
            recall = len(found & self.corpus.injected) / len(self.corpus.injected)
            self.ctx.notes.setdefault("dup_pair_recall", []).append(recall)

        return Op("corpus_pass", "batch", run, check)

    def store_stats(self) -> tuple[int, int]:
        files = size = 0
        for root, _dirs, names in os.walk(self.mount_dir):
            for nm in names:
                files += 1
                size += os.path.getsize(os.path.join(root, nm))
        return files, size


WORKLOADS = {w.name: w for w in (EntitySearch, MountChurn)}
