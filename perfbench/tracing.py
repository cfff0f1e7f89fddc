"""Tracing from outside the program.

``Tracer`` records one span per call into a layer's public function by
replacing the module attribute with a timing wrapper; the program's source
is untouched.  Spans are kept in memory (name, start, end, parent, op) and
written out once at the end.

``Counters`` reads the counts that Spark keeps anyway: the scheduler's job
counter and the SQL status store for jobs and SQL executions, the
executor summaries of the status store for task time and shuffle bytes,
and a wrapper around the py4j gateway client's ``send_command`` for
driver-to-JVM round trips.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

#: layer -> public functions whose calls become spans.  Functions that run
#: inside Spark's Python workers (``functions.hashing``) cannot be seen from
#: the driver; the kernel microbench measures them instead.
LAYER_FUNCTIONS: dict[str, list[str]] = {
    "simsearch_spark.session": ["get_spark"],
    "simsearch_spark.sources.registry": ["load_table"],
    "simsearch_spark.plans.sql_frontend": ["parse_search_sql", "execute_search_sql"],
    "simsearch_spark.operators.topk": [
        "single_facet_topk", "facet_distance", "kth_distance", "resolve_query_value",
    ],
    "simsearch_spark.operators.rank_agg": ["multi_facet_topk", "estimate_weights"],
    "simsearch_spark.mount.artifacts": ["mount"],
    "simsearch_spark.mount.serve": ["serve_ivfpq_topk", "serve_bm25_topk"],
    "simsearch_spark.mount.maintain": [
        "append_rows", "delete_ids", "compact_codes", "compact_dedup",
    ],
    "simsearch_spark.mount.dedup": ["dedup_append"],
    "simsearch_spark.operators.dedup": [
        "minhash_lsh_pairs", "simhash_pairs", "connected_components",
    ],
    "simsearch_spark.operators.winnow": ["passage_removal"],
}


def layer_of(module: str) -> str:
    return module.removeprefix("simsearch_spark.").removesuffix(".registry")


class Tracer:
    """Spans in memory.  ``enabled`` off makes ``span`` a no-op, so the
    untraced phase of a run pays nothing but one attribute test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def patch_layers(self) -> None:
        for modname, names in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(modname)
            for fname in names:
                orig = getattr(mod, fname)
                setattr(mod, fname, self._wrap(f"{layer_of(modname)}.{fname}", orig))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def per_op_ms(self, names: list[str]) -> list[float]:
        """Wall ms spent in spans with one of ``names``, summed per
        operation; a span nested in another span of ``names`` is not
        counted twice."""
        wanted = set(names)
        out: dict[int | None, float] = {}
        for s in self.spans:
            if s["name"] not in wanted or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] not in wanted:
                p = self.spans[p]["parent"]
            if p is None:
                out[s["op"]] = out.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
        return list(out.values())

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": round(s["start"] - t0, 6),
             "end": None if s["end"] is None else round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f)


class Counters:
    """Job, SQL-execution, task-time, shuffle and py4j counts for one
    session, read from Spark's own status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.py4j_calls = 0
        self._counting = True
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self._counting:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextmanager
    def _quiet(self):
        # the counters' own round trips are not the program's
        self._counting = False
        try:
            yield
        finally:
            self._counting = True

    def snapshot(self) -> dict:
        with self._quiet():
            execs = self._jsc.statusStore().executorList(True)
            task_ms = shuffle = 0
            for i in range(execs.size()):
                e = execs.apply(i)
                task_ms += int(e.totalDuration())
                shuffle += int(e.totalShuffleRead()) + int(e.totalShuffleWrite())
            return {
                "jobs": int(self._jsc.dagScheduler().numTotalJobs()),
                "sql_execs": int(self._sql.executionsCount()),
                "py4j": self.py4j_calls,
                "task_ms": task_ms,
                "shuffle_bytes": shuffle,
            }

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}
