"""Optimization-round probe: isolate queries with the noop sink.

Times each named registry key with `df.write.format("noop")` (eager
full-column materialization, guide §1.4) instead of bench.py's
`.count()` so the computation is measured without column-pruning
shortcuts. Reps are INTERLEAVED round-robin across the requested
keys (rep 0 of every key, then rep 1, ...) so ambient drift on this
box pollutes all keys equally rather than whichever ran last; use
an A/B pair of keys (or two worktrees) for change comparisons.

Usage:
  python tools/opt_probe.py [--reps 3] [--explain DIR] [--noop|--count]
                            [--threads] key...

Each rep line (`# rep<i> <key>: <t>s`) goes to stderr, where the
probe's session shows no console progress bar, so `2>&1 | grep
'^# rep'` keeps every rep; the JSON summary goes to stdout.

--explain DIR additionally writes DIR/<key>.txt with
`.explain("formatted")` output (the plans/r10 evidence files).

--threads splits the driver JVM's CPU per key by thread kind, read
from /proc/<pid>/task/*/stat around each rep: C1 and C2 JIT compiler
threads, executor task launch workers ("tasks"), py4j connection
threads (driver-side planning for the Python client), GC threads,
"other" live threads, and "exited" (threads that ended inside the rep;
the process total minus the live threads). A CPU claim can then show
whether it cut engine work or JIT work. Linux only.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from onionnet_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
THREAD_KINDS = ["c1", "c2", "tasks", "py4j", "gc", "other", "exited"]


def _thread_kind(comm: str) -> str:
    # comm is the thread name cut to 15 characters
    if comm.startswith("C1 Compiler"):
        return "c1"
    if comm.startswith("C2 Compiler"):
        return "c2"
    if comm.startswith("Executor task"):
        return "tasks"
    if re.fullmatch(r"Thread-\d+", comm):  # py4j leaves its threads unnamed
        return "py4j"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def _stat_ticks(path: str) -> tuple[str, int]:
    """(comm, utime + stime clock ticks) from a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    head, tail = stat.rsplit(")", 1)
    fields = tail.split()  # fields[0] is field 3 (state)
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def _cpu_snapshot(pid: int) -> tuple[int, dict[int, tuple[str, int]]]:
    """(process ticks, {tid: (kind, ticks)}) for the live threads."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, ticks = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # the thread exited while listing
            continue
        threads[int(tid)] = (_thread_kind(comm), ticks)
    return _stat_ticks(f"/proc/{pid}/stat")[1], threads


def _cpu_by_kind(before, after) -> dict[str, float]:
    """CPU seconds per thread kind between two snapshots."""
    hz = os.sysconf("SC_CLK_TCK")
    out = dict.fromkeys(THREAD_KINDS, 0)
    for tid, (kind, ticks) in after[1].items():
        out[kind] += ticks - before[1].get(tid, (kind, 0))[1]
    out["exited"] = after[0] - before[0] - sum(out.values())
    return {k: round(v / hz, 2) for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, metavar="DIR")
    ap.add_argument("--count", action="store_true",
                    help="time .count() (bench methodology) instead of noop")
    ap.add_argument("--threads", action="store_true",
                    help="driver JVM CPU per key by thread kind")
    ap.add_argument("keys", nargs="+")
    ns = ap.parse_args()

    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    print(f"# load_1min_start={load1} sf_dir={SF_DIR}", file=sys.stderr)

    # Spark's console progress bar redraws on stderr with carriage
    # returns and no newline, so a rep line printed after it would not
    # start a line: turn it off before the context starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_spark("onionnet-opt-probe")
    qs = entrymod.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).collect()

    if ns.explain:
        os.makedirs(ns.explain, exist_ok=True)
        for k in ns.keys:
            df = qs[k](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(ns.explain, f"{k}.txt"), "w") as f:
                f.write(txt)
            print(f"# wrote {ns.explain}/{k}.txt", file=sys.stderr)

    times: dict[str, list[float]] = {k: [] for k in ns.keys}
    threads: dict[str, list[dict[str, float]]] = {k: [] for k in ns.keys}
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid() if ns.threads else None
    for rep in range(ns.reps):
        for k in ns.keys:
            spark.sparkContext.setJobDescription(f"probe:{k}#rep{rep}")
            snap = _cpu_snapshot(jvm_pid) if jvm_pid else None
            t0 = time.time()
            df = qs[k](spark, SF_DIR)
            if ns.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            times[k].append(round(dt, 3))
            line = f"# rep{rep} {k}: {dt:.2f}s"
            if snap is not None:
                cpu = _cpu_by_kind(snap, _cpu_snapshot(jvm_pid))
                threads[k].append(cpu)
                line += " jvm cpu_s " + " ".join(
                    f"{kind}={v}" for kind, v in cpu.items()
                )
            print(line, file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    out = {}
    for k, ts in times.items():
        out[k] = {
            "reps": ts,
            "min": min(ts),
            "median": statistics.median(ts),
        }
        if ns.threads:
            out[k]["jvm_cpu_s"] = threads[k]
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
