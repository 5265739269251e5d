"""Diff two bench JSON files: per-query deltas, sorted by change.

Usage: python tools/bench_compare.py [--force] OLD.json NEW.json
Accepts either the driver's wrapper format ({"cpus": ..., "parsed":
or "tail": nested JSON line}), bench.py's raw one-line JSON, or the
full artifact bench.py writes per run
(BENCH_FULL_c<cpus>_<UTC start>.json).

Refuses, unless --force is given, to compare a run stamped ambient
(load-polluted) or two runs taken with different `cpus` values: a
ratio across core counts measures the box, not the change.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return d
    # driver wrapper: the bench line is in "parsed", or embedded in
    # "tail" (whose head may be cut); the wrapper stamps the cpus
    candidates = [d.get("parsed")]
    for line in d.get("tail", "").splitlines():
        if line.strip().startswith("{"):
            try:
                candidates.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    for inner in candidates:
        if isinstance(inner, dict) and "queries" in inner:
            return {**inner, "cpus": inner.get("cpus", d.get("cpus"))}
    raise SystemExit(f"{path}: no bench queries found")


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv
    if len(argv) != 2:
        raise SystemExit(__doc__)
    a, b = load(argv[0]), load(argv[1])
    # Ambient-load gate (VERDICT r8 item 5): a ratio against a
    # load-polluted artifact is noise, not a regression signal.
    for path, d in ((argv[0], a), (argv[1], b)):
        if d.get("ambient") and not force:
            raise SystemExit(
                f"{path}: stamped ambient=true (1-min load "
                f"{d.get('load_1min_start')} at start) — refusing to "
                "ratio-compare a load-polluted run; pass --force to "
                "override"
            )
    if str(a.get("cpus")) != str(b.get("cpus")) and not force:
        raise SystemExit(
            f"cpus differ ({a.get('cpus')} vs {b.get('cpus')}) — refusing "
            "to ratio-compare runs on different core counts; pass "
            "--force to override"
        )
    qa, qb = a["queries"], b["queries"]
    rows = []
    for k in sorted(set(qa) | set(qb)):
        va, vb = qa.get(k), qb.get(k)
        if va is None or vb is None:
            rows.append((float("inf"), k, va, vb, None))
        else:
            rows.append((vb / va if va else float("inf"), k, va, vb, vb - va))
    rows.sort(key=lambda r: -(r[0] if r[0] != float("inf") else 1e9))
    print(f"{'query':32} {'old':>8} {'new':>8} {'ratio':>7}")
    for ratio, k, va, vb, _ in rows:
        if va is None:
            print(f"{k:32} {'—':>8} {vb:8.2f}   (new)")
        elif vb is None:
            print(f"{k:32} {va:8.2f} {'—':>8}   (removed)")
        else:
            print(f"{k:32} {va:8.2f} {vb:8.2f} {ratio:6.2f}x")
    ta = sum(v for v in qa.values())
    tb = sum(v for v in qb.values())
    both = set(qa) & set(qb)
    ca = sum(qa[k] for k in both)
    cb = sum(qb[k] for k in both)
    print(f"\ntotals: {ta:.1f}s -> {tb:.1f}s; comparable subset "
          f"({len(both)} queries): {ca:.1f}s -> {cb:.1f}s "
          f"({cb / ca if ca else 0:.2f}x)")


if __name__ == "__main__":
    main()
