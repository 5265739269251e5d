"""Compare two saved benchmark runs of the same workload and seed.

    python3 perfbench/compare.py BEFORE.out AFTER.out

Each file holds the standard output of one ``perfbench/run.py`` run
(its last two lines are read). Both runs must have used the same
number of CPUs and the same op-list digest (same workload, seed and
generated inputs); otherwise the pair is refused with exit code 2.

Two traced runs (``--trace 1``): prints every per-layer metric side by
side with the change. A traced and an untraced run: prints the tracing
overhead in wall and CPU seconds, per op and as the median relative
slow-down over the ops both runs completed.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if len(lines) < 2:
        raise SystemExit(f"{path}: expected a detail line and a result line")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (da, ra), (db, rb) = load(argv[0]), load(argv[1])
    for key in ("cpus",):
        if da["host"][key] != db["host"][key]:
            print(f"refused: {key} differs ({da['host'][key]} vs {db['host'][key]})",
                  file=sys.stderr)
            return 2
    if da["op_digest"] != db["op_digest"]:
        print(f"refused: op-list digest differs ({da['op_digest']} vs {db['op_digest']})",
              file=sys.stderr)
        return 2
    for d, r, path in ((da, ra, argv[0]), (db, rb, argv[1])):
        print(f"{path}: {d['workload']} seed={d['seed']} trace={d['trace']} "
              f"attempted={r['attempted']} failed={r['failed']} host={d['host']}")

    if da["trace"] and db["trace"]:
        ma, mb = ra["metrics"], rb["metrics"]
        print(f"{'metric':32s} {'before':>12s} {'after':>12s} {'change':>9s}")
        for name in ma:
            a, b = ma[name]["value"], mb.get(name, {}).get("value")
            if b is None:
                continue
            change = f"{(b - a) / a:+.1%}" if a else "n/a"
            print(f"{name:32s} {a:12.4f} {b:12.4f} {change:>9s}  {ma[name]['unit']}")
        return 0
    if da["trace"] == db["trace"]:
        print("two untraced runs: compare their end-to-end metrics directly", file=sys.stderr)
        return 2

    traced, plain = (da, db) if da["trace"] else (db, da)
    rel = {"wall_s": [], "cpu_s": []}
    print(f"{'op':4s} {'kind':12s} {'untraced_s':>11s} {'traced_s':>9s} "
          f"{'untraced_cpu_s':>15s} {'traced_cpu_s':>13s}")
    for i, (t, u) in enumerate(zip(traced["ops"], plain["ops"])):
        for key, r in rel.items():
            r.append((t[key] - u[key]) / u[key])
        print(f"{i:<4d} {t['kind']:12s} {u['wall_s']:11.4f} {t['wall_s']:9.4f} "
              f"{u['cpu_s']:15.2f} {t['cpu_s']:13.2f}")
    for key, r in rel.items():
        print(f"tracing overhead in {key}: median {statistics.median(r):+.1%} per op "
              f"over {len(r)} ops")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
