"""tools/bench_compare.py refuses ratios across core counts unless
--force is given."""

import json
import os
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "bench_compare.py",
)


def _compare(*args):
    return subprocess.run(
        [sys.executable, TOOL, *map(str, args)],
        capture_output=True, text=True, timeout=60,
    )


def test_bench_compare_refuses_different_cpus_unless_forced(tmp_path):
    four = tmp_path / "four.json"  # bench.py's own artifact
    four.write_text(json.dumps(
        {"cpus": "4", "ambient": False, "queries": {"q1": 1.0, "q2": 2.0}}
    ))
    eight = tmp_path / "eight.json"  # the driver's wrapper
    eight.write_text(json.dumps(
        {"cpus": 8, "tail": "", "parsed": {"queries": {"q1": 0.5, "q2": 1.0}}}
    ))

    refused = _compare(four, eight)
    assert refused.returncode != 0
    assert "cpus differ (4 vs 8)" in refused.stderr

    forced = _compare("--force", four, eight)
    assert forced.returncode == 0, forced.stderr
    assert "0.50x" in forced.stdout

    same = _compare(four, four)
    assert same.returncode == 0, same.stderr
    assert "1.00x" in same.stdout
