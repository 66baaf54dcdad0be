"""Smoke self-test of the benchmark: every workload once at toy size.

    python3 perfbench/smoke.py

Run from the root of a source checkout.  For each workload it runs
``run.py --toy --trace 1`` and asserts that the run passed its checks, that
every per-layer metric of ``BENCHMARK.json`` is printed with its unit, that
the report holds every end-to-end metric with its unit, the decisions and
the tracing overhead, that the checks of the workload ran, and that no
process the run started is left.  Last, it runs the benchmark in a
directory holding only ``BENCHMARK.json`` and the benchmark's files, where
it must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

CHECKS = {
    "bulk": {"precision_recall", "unique_keys", "lineage_done"},
    "resume": {"precision_recall", "unique_keys", "lineage_done", "snapshot_equal",
               "replay_inserts_nothing"},
}


def leftover_processes() -> list[str]:
    """Processes whose environment points into this checkout's work dir."""
    marker = WORK_ROOT.encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if marker in env:
            found.append(f"{name}: {cmd[:120]}")
    return found


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=600,
    )


def check_workload(bench: dict, workload: dict) -> None:
    name = workload["name"]
    p = run(["--workload", name, "--seed", "3", "--seconds", "1", "--trace", "1", "--toy"],
            ROOT)
    assert p.returncode == 0, f"{name}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    for m in bench["per_layer"]:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{name}: per-layer metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{name}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{name}: {m['name']} = {got}"
    with open(os.path.join(WORK_ROOT, f"{name}-seed3.json")) as fh:
        report = json.load(fh)
    for m in bench["end_to_end"]:
        got = report["end_to_end"].get(m["name"])
        assert got is not None, f"{name}: end-to-end metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{name}: {m['name']} unit {got['unit']}"
        assert got["value"] > 0, f"{name}: {m['name']} = {got['value']}"
    for r in report["runs"]:
        missing = CHECKS[name] - set(r["checks"])
        assert not missing, f"{name}: checks not run: {missing}"
    trace = report["trace"]
    assert {"link_strategy", "native_scan", "alias_map"} <= set(trace["decisions"]), trace
    assert "overhead_frac" in trace["tracing_overhead"], trace
    left = leftover_processes()
    assert not left, f"{name}: processes left running: {left}"
    print(f"ok {name}: {len(report['runs'])} runs, decisions {trace['decisions']}")


def check_bare_directory() -> None:
    """Without the program's sources the benchmark fails and prints no result."""
    bare = os.path.join(WORK_ROOT, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = run(["--workload", "bulk", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0, "benchmark succeeded without the program's sources"
    assert '"metrics"' not in p.stdout, p.stdout
    print("ok bare directory: exit", p.returncode)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for workload in bench["workloads"]:
        check_workload(bench, workload)
    check_bare_directory()
    return 0


if __name__ == "__main__":
    sys.exit(main())
