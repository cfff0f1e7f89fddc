#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload entity_search --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts one Spark session on
``local[N]`` (N = the CPUs this process may use), builds the workload's
inputs from ``--seed``, runs the workload's warm-up cycles, then runs a
closed loop with one client for ``--seconds`` seconds (rounded up to whole
cycles of the workload's operation mix) and checks every answer.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` records spans
and counts around every operation and prints the per-layer metrics, plus
the tracing overhead: the median traced read latency minus the median of
the same reads run again with spans off.  Its spans go to
``perfbench/.traces/`` (see ``tracing.py``).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Every file the run writes lives under one run directory that is removed
at exit, and the JVM and its Python workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)



def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale of the generated inputs (0.1: 15k customers, 150k orders)")
    return p.parse_args(argv)


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str, n: int) -> None:
    """Point every Spark and temp-file location into ``run_dir``, turn the
    console progress bar off, and let Spark's Python workers import the
    library from any working directory."""
    conf_dir = os.path.join(run_dir, "conf")
    for d in ("conf", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.local.dir {run_dir}/local\n"
            f"spark.sql.warehouse.dir {run_dir}/warehouse\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir}/tmp\n"
            # keep every job, stage and SQL execution for the counters
            "spark.ui.retainedJobs 100000\n"
            "spark.ui.retainedStages 100000\n"
            "spark.sql.ui.retainedExecutions 100000\n"
        )
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp"
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def source_digest() -> str:
    """Identifies the program under test: a hash of its Python sources
    (the checkout need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "simsearch_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(base, f), ROOT).encode())
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        return None
    return ref


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the 90th percentile, interpolated between
    the two nearest samples (``statistics.quantiles``, inclusive method).
    A run has 9 or 10 reads and 4 writes, too few for a percentile with
    ten samples beyond it, and the plain maximum moves with any one slow request."""
    if len(values) < 2:
        return values[0], 100.0, len(values)
    return statistics.quantiles(values, n=10, method="inclusive")[-1], 90.0, len(values)


def proc_peak_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for the JVM and the Python
    workers it started to be gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = children(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def run_phase(wl, ops_iter, seconds: float, counters=None, tracer=None,
              snap_files=False, twins: list | None = None) -> list[dict]:
    """Run ops until ``seconds`` have passed and the ops run form whole
    cycles of the workload's mix, or the ops run out.
    Returns one record per op.  With ``twins``, every read also runs once
    with spans off, alternately before and after the traced run, and its
    record goes to ``twins``: the paired baseline of the tracing overhead."""
    recs: list[dict] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(recs) % wl.cycle:
        op = next(ops_iter, None)
        if op is None:
            break
        twin = twins is not None and op.kind == "read"
        twin_first = twin and len(twins) % 2 == 0
        if twin_first:
            twins.append(run_twin(op, tracer))
        rec = run_op(op, counters, tracer, len(recs))
        if twin and not twin_first:
            twins.append(run_twin(op, tracer))
        if snap_files and op.kind == "write":
            rec["store"] = wl.store_stats()
        recs.append(rec)
    return recs


def run_twin(op, tracer) -> dict:
    tracer.enabled = False
    try:
        return run_op(op)
    finally:
        tracer.enabled = True


def run_op(op, counters=None, tracer=None, idx=0) -> dict:
    if tracer is not None:
        tracer.op = idx
    gc.collect()  # the benchmark's own garbage is not collected inside the window
    c0 = counters.snapshot() if counters else None
    t0 = time.perf_counter()
    err = None
    try:
        result = op.run()
    except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
        err = traceback.format_exc()
    ms = (time.perf_counter() - t0) * 1e3
    counts = counters.delta(c0, counters.snapshot()) if counters else None
    recall = None
    if err is None:
        try:
            recall = op.check(result)
        except Exception:  # noqa: BLE001
            err = traceback.format_exc()
    if err:
        sys.stderr.write(f"op {op.name} failed:\n{err}\n")
    sys.stderr.write(f"perfbench op {op.name} {op.kind} {ms:.1f} ms ok={err is None}\n")
    return {"name": op.name, "kind": op.kind, "ms": ms, "ok": err is None,
            "recall": recall, "counts": counts}


def summarize(recs: list[dict]) -> dict:
    reads = [r["ms"] for r in recs if r["kind"] == "read"]
    writes = [r["ms"] for r in recs if r["kind"] == "write"]
    batches = [r["ms"] for r in recs if r["kind"] == "batch"]
    out = {"n_ops": len(recs), "op_seconds": sum(r["ms"] for r in recs) / 1e3}
    if reads:
        out["read_p50_ms"] = statistics.median(reads)
        out["read_tail_ms"], out["read_tail_pct"], out["n_reads"] = tail(reads)
    if writes:
        out["write_p50_ms"] = statistics.median(writes)
        out["write_tail_ms"], out["write_tail_pct"], out["n_writes"] = tail(writes)
    if batches:
        out["batch_s"] = sum(batches) / 1e3
    # pooled over the run's checked answers: returned reference rows over
    # expected reference rows
    hits = [r["recall"] for r in recs if r["recall"] is not None]
    expected = sum(n for _h, n in hits)
    out["recall_at_k"] = sum(h for h, _n in hits) / expected if expected else None
    out["ops_per_s"] = len(recs) / out["op_seconds"] if recs else 0.0
    return out


def layer_metrics(tracer, recs, op_seconds, n, setup_spans) -> dict:
    """Per-layer numbers from the traced phase."""
    def mean_per_op(names) -> float:
        vals = tracer.per_op_ms(names)
        return statistics.mean(vals) if vals else 0.0

    def mean_count(key) -> float:
        return statistics.mean(r["counts"][key] for r in recs) if recs else 0.0

    task_ms = sum(r["counts"]["task_ms"] for r in recs)
    m = {
        "session.start_ms": setup_spans["session.start_ms"],
        "sources.load_ms": setup_spans["sources.load_ms"],
        "mount.artifacts.mount_ms": setup_spans["mount.artifacts.mount_ms"],
        "plans.sql_frontend.parse_ms": mean_per_op(["plans.sql_frontend.parse_search_sql"]),
        "operators.rank_agg.build_ms": mean_per_op(["operators.rank_agg.multi_facet_topk"]),
        "operators.rank_agg.collect_ms": mean_per_op(["operators.rank_agg.collect"]),
        "operators.topk.build_ms": mean_per_op(["operators.topk.single_facet_topk"]),
        "operators.topk.collect_ms": mean_per_op(["operators.topk.collect"]),
        "spark.jobs_per_op": mean_count("jobs"),
        "spark.sql_execs_per_op": mean_count("sql_execs"),
        "py4j.calls_per_op": mean_count("py4j"),
        "spark.task_ms_per_op": mean_count("task_ms"),
        "spark.busy_share": task_ms / (op_seconds * 1e3 * n),
        "spark.shuffle_bytes_per_op": mean_count("shuffle_bytes"),
        "mount.serve.ivfpq.build_ms": mean_per_op(["mount.serve.serve_ivfpq_topk"]),
        "mount.serve.ivfpq.collect_ms": mean_per_op(["mount.serve.ivfpq.collect"]),
        "mount.serve.bm25.build_ms": mean_per_op(["mount.serve.serve_bm25_topk"]),
        "mount.serve.bm25.collect_ms": mean_per_op(["mount.serve.bm25.collect"]),
        "mount.maintain.append_ms": mean_per_op(["mount.maintain.append_rows"]),
        "mount.maintain.delete_ms": mean_per_op(["mount.maintain.delete_ids"]),
        "mount.maintain.compact_ms": mean_per_op(
            ["mount.maintain.compact_codes", "mount.maintain.compact_dedup"]),
        "mount.dedup.append_ms": mean_per_op(["mount.dedup.dedup_append", "mount.dedup.collect"]),
        "operators.dedup.minhash_pairs_ms": mean_per_op(
            ["operators.dedup.minhash_lsh_pairs", "operators.dedup.minhash_collect"]),
        "operators.dedup.components_ms": mean_per_op(
            ["operators.dedup.connected_components", "operators.dedup.components_collect"]),
        "operators.dedup.simhash_pairs_ms": mean_per_op(
            ["operators.dedup.simhash_pairs", "operators.dedup.simhash_collect"]),
        "operators.winnow.passage_removal_ms": mean_per_op(
            ["operators.winnow.passage_removal", "operators.winnow.collect"]),
    }
    stores = [r["store"] for r in recs if "store" in r]
    m["mount.files"] = statistics.mean(s[0] for s in stores) if stores else 0.0
    m["mount.bytes"] = statistics.mean(s[1] for s in stores) if stores else 0.0
    return m


def metric_units() -> dict[str, str]:
    """Units by metric name, from ``BENCHMARK.json`` (the one place they
    are declared)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    import workloads  # noqa: E402 - after sys.path has the benchmark dir

    if args.workload not in workloads.WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}\n")
        return 2
    if not os.path.exists(os.path.join(ROOT, "simsearch_spark", "__init__.py")):
        sys.stderr.write(f"no simsearch_spark package under {ROOT}: nothing to measure\n")
        return 1
    n = n_cpus()
    runs = os.path.join(HERE, ".runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return run(args, n, run_dir, workloads)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)  # only when no other run is using it


def run(args, n: int, run_dir: str, workloads) -> int:
    prepare_env(run_dir, n)
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()
    from bench import cpu_calibration  # noqa: E402 - the repo's host-speed score
    from tracing import Counters, Tracer

    tracer = Tracer()
    if args.trace:
        tracer.patch_layers()
    tracer.enabled = bool(args.trace)
    from simsearch_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    try:
        ctx = workloads.Context(spark, args.seed, args.sf, run_dir, tracer, traced=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        setup_spans = {
            "session.start_ms": session_s * 1e3,
            "sources.load_ms": sum(tracer.per_op_ms(["sources.load_table"])),
            "mount.artifacts.mount_ms": sum(tracer.per_op_ms(["mount.artifacts.mount"])),
        }
        tracer.enabled = False
        ops = wl.ops()
        t2 = time.perf_counter()
        warm = [run_op(next(ops)) for _ in range(wl.warm_cycles * wl.cycle)]
        warm_s = time.perf_counter() - t2
        snap = args.workload == "mount_churn"  # walk the mount after each write
        twins: list[dict] = []
        if args.trace:
            counters = Counters(spark)
            tracer.enabled = True
        recs = run_phase(wl, ops, args.seconds, counters=counters if args.trace else None,
                         tracer=tracer if args.trace else None, snap_files=snap,
                         twins=twins if args.trace else None)
        tracer.enabled = False
        peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + proc_peak_kb(jvm_pid)) / 1024
    finally:
        stop_session(spark)
    calib = cpu_calibration()
    load_end = os.getloadavg()

    all_recs = warm + recs + twins
    attempted = len(all_recs)
    failed = sum(not r["ok"] for r in all_recs)
    s = summarize(recs)
    # a quality figure, not a timing: every checked answer of the run counts
    s["recall_at_k"] = summarize(warm + recs)["recall_at_k"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": n, "master": f"local[{n}]", "sf": args.sf,
        "calib": calib, "loadavg_start": load_start, "loadavg_end": load_end,
        "commit": git_commit(), "source_digest": source_digest(),
        "warm_s": round(warm_s, 3), "failed_share": failed / attempted, **s,
    }
    churn = args.workload == "mount_churn"
    n_batch = sum(r["kind"] == "batch" for r in recs)
    if n_batch:
        record["docs_per_s"] = wl.n_docs * n_batch / s["batch_s"]
        record["dup_pair_recall"] = statistics.mean(wl.ctx.notes["dup_pair_recall"])
    print("record: " + json.dumps(record, default=float))

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "read_p50_ms": s["read_p50_ms"],
            "read_tail_ms": s["read_tail_ms"],
            "ops_per_s": s["ops_per_s"],
            "peak_rss_mb": peak_rss_mb,
            "recall_at_k": s["recall_at_k"],
        }
    else:
        import kernels

        untraced_p50 = summarize(twins)["read_p50_ms"]
        layer = layer_metrics(tracer, recs, s["op_seconds"], n, setup_spans)
        layer["trace.overhead_ms"] = s["read_p50_ms"] - untraced_p50
        layer["trace.overhead_share"] = layer["trace.overhead_ms"] / untraced_p50
        layer["write_p50_ms"] = s.get("write_p50_ms", 0.0)
        layer["write_tail_ms"] = s.get("write_tail_ms", 0.0)
        layer["failed_share"] = failed / attempted
        layer["docs_per_s"] = record["docs_per_s"] if churn else 0.0
        layer["dup_pair_recall"] = record["dup_pair_recall"] if churn else 0.0
        layer["store_bytes_per_input_byte"] = wl.store_stats()[1] / wl.input_bytes if churn else 0.0
        names = ["functions.hashing.kgram_ms_per_mchar", "functions.hashing.fold_ms_per_mchar",
                 "functions.hashing.kgram_peak_bytes_per_char", "functions.hashing.fold_peak_bytes_per_char"]
        layer.update(kernels.run() if churn else dict.fromkeys(names, 0.0))
        values = layer
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        path = os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        tracer.dump(path, {"record": record, "metrics": layer,
                           "ops": [{k: r[k] for k in ("name", "kind", "ms", "counts")} for r in recs]})
        print(f"spans: {path}")

    units = metric_units()
    for name, v in values.items():
        extra = ""
        if name == "read_tail_ms":
            extra = f"  (p{s['read_tail_pct']}, n={s['n_reads']})"
        print(f"{name}: {v:.6g} {units[name]}{extra}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
