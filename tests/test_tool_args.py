"""Every argument-taking tool prints usage and exits 2 on bad
arguments, never a traceback. Spark-free: argparse rejects the
arguments before any session starts."""

import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "tool, args",
    [
        ("remeasure.py", []),
        ("remeasure.py", ["--reps"]),
        ("remeasure.py", ["--reps", "x", "q"]),
        ("remeasure.py", ["--reps", "0", "q"]),
        ("query_metrics.py", []),
        ("query_metrics.py", ["--top"]),
        ("query_metrics.py", ["--top", "x"]),
        ("query_metrics.py", ["--top", "-1", "q"]),
        ("bench_compare.py", ["only_one.json"]),
        ("bench_compare.py", ["a.json", "b.json", "--top", "x"]),
        ("check_oracle.py", ["--queue"]),
        ("scale_probe.py", []),
        ("scale_probe.py", ["--copies", "0", "q"]),
        ("scale_probe.py", ["--copies", "x", "q"]),
    ],
)
def test_bad_arguments_exit_2_with_usage(tool, args):
    out = subprocess.run(
        [sys.executable, os.path.join(TOOLS, tool), *args],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 2, out.stderr
    assert "usage:" in out.stderr
    assert "Traceback" not in out.stderr
