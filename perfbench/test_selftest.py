"""Self-test of the benchmark runner: sf0.001, two keys per workload.

Run from the repository root with ``python3 -m pytest perfbench -q``. Every
case starts fresh engine processes, so the whole file takes a few minutes.
The small configuration is set by patching ``run``'s module constants in a
``python -c`` prelude, so the runner's command line keeps only the flags
the benchmark contract defines.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(HERE))
from run import WORKLOADS  # noqa: E402  (includes the hand-run workloads)


ARGS = ("--seed", "7", "--seconds", "30")

SMALL = f"""
import sys
sys.path.insert(0, {str(HERE)!r})
import run
run.SCALE = 0.001
run.WORKLOADS = {{
    name: run.Workload(w.timed_passes, w.keys[:2])
    for name, w in run.WORKLOADS.items()
}}
"""

#: Damages the first result the runner checks: it must count as failed.
CORRUPT_FIRST = """
check = run.Runner.verify
def damaged(self, key, pdf, _done=[]):
    if not _done:
        _done.append(key)
        pdf = pdf.iloc[:0] if len(pdf) else pdf.reindex(range(1))
    return check(self, key, pdf)
run.Runner.verify = damaged
"""


def _run(workload: str, trace: int, patch: str = ""):
    code = SMALL + patch + "sys.exit(run.main(sys.argv[1:]))\n"
    return subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, *ARGS,
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> tuple[list[str], dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    return lines, json.loads(lines[-1])


def _printed(lines: list[str], name: str, unit: str) -> bool:
    return any(
        line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_printed_with_units(workload):
    lines, result = _result(_run(workload, 0))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    for name, unit in want.items():
        assert _printed(lines, name, unit)
        assert result["metrics"][name]["value"] > 0
    assert any(line.startswith("failed_frac 0.0000 ratio") for line in lines)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_layers_and_spans_cover_queries(workload):
    lines, result = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    for name, unit in want.items():
        assert _printed(lines, name, unit)
    path = next(line.split(" to ", 1)[1] for line in lines
                if line.startswith("trace written to "))
    spans = json.loads(Path(path).read_text())["spans"]
    children: dict[int, float] = {}
    for s in spans:
        if s["name"] in ("construct", "plan", "exec_collect"):
            took = s["end"] - s["start"]
            children[s["parent"]] = children.get(s["parent"], 0.0) + took
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        covered = children[q["id"]] / (q["end"] - q["start"])
        assert 0.95 <= covered <= 1.0 + 1e-9, (q["qid"], covered)
    verified = {s["qid"] for s in spans if s["name"] == "verify"}
    assert verified == {q["qid"] for q in queries}


def test_corrupted_result_counts_in_failed_frac():
    lines, result = _result(_run("etl_load", 0, CORRUPT_FIRST))
    assert result["failed"] == 1 and not result["correct"]
    frac = next(line for line in lines if line.startswith("failed_frac "))
    assert float(frac.split()[1]) == pytest.approx(1 / result["attempted"], abs=1e-4)
    assert any(line.startswith("FAILED ") for line in lines)


def test_fails_without_engine_sources():
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "etl_load",
             *ARGS, "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=600,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
