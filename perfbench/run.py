"""Graph-session benchmark: one seeded closed-loop workload over the
OnionNet facade.

Run from the repository root:

    python3 perfbench/run.py --workload ego_search --seed 1 --seconds 10 --trace 0

Set-up builds the graph from seeded TPC-H-shaped tables, written as
parquet, several times (a fresh Spark session each time) and reports
the median. One client then runs whole rounds of the workload's ops
back to back until ``--seconds`` have passed. Every result is checked
afterwards against DuckDB / driver-side references; a mismatch or an
exception counts the op as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
per-layer Spark counters instead (see README.md). Host-noise readings,
the op-list digest and per-op timings go to the second-to-last line of
standard output; the last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
SCALE = 0.25  # x TPC-H sf0.01 cardinalities: ~20k nodes, ~49k edges


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _isolate_scratch() -> str:
    """Keep every temporary file (Python, Spark, JVM) inside the checkout."""
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse pyspark-shell"
    )
    return tmp


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import bench
        from onionnet_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    import datagen
    import workloads
    from oracle import Oracle
    from layertrace import LAYERS, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tmp = _isolate_scratch()
    load1 = os.getloadavg()[0]
    ticks0 = bench._cpu_ticks()

    tables = datagen.make_tables(args.seed, SCALE)
    setup_tables, deltas = workloads.inputs(args.workload, args.seed, tables)
    ops = workloads.make_ops(args.workload, args.seed, tables, deltas)
    op_digest = workloads.digest(ops, tables)
    src = os.path.join(tmp, "src")
    workloads.write_sources(setup_tables, deltas, src)

    spans, setup = [], []
    spark = jvm = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                net.graph.unpersist()
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            jvm = spark.sparkContext._gateway.proc
            tracer = Tracer(spark, bool(args.trace))
            net, _ = tracer.call(
                "builder", "grow", lambda: workloads.build(spark, src)
            )
            setup.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                spans += tracer.spans

        session = workloads.Session(spark, net, src)
        done = []  # (op, result or exception)
        t0 = time.perf_counter()
        # closed loop, one client: whole rounds back to back until the
        # deadline, so every run does the same mix of op shapes
        for rnd in ops:
            for op in rnd:
                try:
                    res, _ = tracer.call(
                        workloads.LAYER_OF[op["kind"]], op["kind"], lambda: session.run(op)
                    )
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    print(f"perfbench: {op['kind']} op failed: {e!r}", file=sys.stderr)
                    res = e
                done.append((op, res))
            if time.perf_counter() - t0 >= args.seconds:
                break
        loop_s = time.perf_counter() - t0
        peak_rss = _jvm_peak_rss_mb(jvm.pid)
        cached_mb = tracer.cached_mb() if args.trace else 0.0
        spans += tracer.spans
        bookkeeping_s = tracer.bookkeeping_s
        views_built = tracer.new_persisted
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            # the gateway JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still holds its own subdirectory
    ticks1 = bench._cpu_ticks()

    # ---- correctness, off the clock ---------------------------------
    c0 = time.perf_counter()
    oracle = Oracle(setup_tables, deltas)
    op_spans = spans[-len(done):] if done else []
    failed = 0
    for (op, res), span in zip(done, op_spans):
        ok = not isinstance(res, Exception) and workloads.matches(
            op, res, workloads.expected(oracle, op)
        )
        span.ok = ok
        failed += not ok
    correct = failed == 0 and bool(done)

    lat = [s.wall_s for s in op_spans]
    ops_per_min = len(done) / loop_s * 60.0
    cpu_s_per_op = sum(s.cpu_s for s in op_spans) / len(op_spans) if op_spans else 0.0
    by_class = {"all": lat}
    for s in op_spans:
        if s.kind in workloads.CLASS_OF:
            by_class.setdefault(workloads.CLASS_OF[s.kind], []).append(s.wall_s)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "op_digest": op_digest, "scale": SCALE,
        "host": {
            "cpus": os.cpu_count(), "load1_start": load1,
            "steal_pct": bench._steal_pct(ticks0, ticks1),
        },
        "setup_s": setup, "loop_s": loop_s, "check_s": time.perf_counter() - c0,
        "ops_per_min": ops_per_min, "cpu_s_per_op": cpu_s_per_op,
        "peak_rss_mb": peak_rss,
        "p50_s": {c: {"value": statistics.median(v), "n": len(v)} for c, v in by_class.items()},
        "ops": [
            {"kind": s.kind, "layer": s.layer, "wall_s": round(s.wall_s, 4),
             "cpu_s": round(s.cpu_s, 2), "ok": s.ok,
             **({"jobs": int(s.counters["jobs"])} if s.counters else {})}
            for s in op_spans
        ],
    }
    if args.trace:
        metrics = {}
        for layer in LAYERS:
            ls = [s for s in spans if s.layer == layer]
            metrics[f"{layer}.calls"] = (len(ls), "count")
            metrics[f"{layer}.wall_s"] = (sum(s.wall_s for s in ls), "s")
            metrics[f"{layer}.cpu_s"] = (sum(s.cpu_s for s in ls), "s")
            metrics[f"{layer}.failed"] = (sum(not s.ok for s in ls), "count")
            for c, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                            ("exec_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                            ("driver_gap_s", "s")]:
                metrics[f"{layer}.{c}"] = (sum(s.counters.get(c, 0.0) for s in ls), unit)
        searches = [(s, res) for (op, res), s in zip(done, op_spans)
                    if op["kind"] == "search" and isinstance(res, set)]
        levels = sum(max(d for _, _, d in res) + 1 for _, res in searches)
        jobs = sum(s.counters["jobs"] for s, _ in searches)
        metrics["traversal.jobs_per_level"] = (jobs / levels if levels else 0.0, "count")
        metrics["core.views_built"] = (views_built / len(done) if done else 0.0, "count")
        metrics["core.cached_mb"] = (cached_mb, "MB")
        metrics["core.peak_rss_mb"] = (peak_rss, "MB")
        metrics["trace.op_p50_s"] = (statistics.median(lat) if lat else 0.0, "s")
        metrics["trace.bookkeeping_s"] = (bookkeeping_s, "s")
    else:
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "cpu_s_per_op": (cpu_s_per_op, "s"),
        }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct, "attempted": len(done), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
