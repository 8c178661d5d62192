"""Benchmark of the billing analytics engine: cold and warm pass latency.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 30 --trace 0

One run is one fresh engine process, the way a serverless invocation or a
batch job sees it. It generates the fixture tables into its own working
directory, starts a local Spark session (``local[nproc]``, one driver)
through ``session.get_spark``, and runs the workload's catalog keys through
the public entry points ``catalog()[key].fn(spark, sf_dir)`` and
``DataFrame.toPandas()``: one cold pass, ``WARMUP_PASSES`` warm-up passes
and the workload's fixed number of timed passes (closed loop, one client,
keys run sequentially). The cold pass runs the keys in their listed order;
every later pass runs them in an order permuted by ``--seed``.
The pass plan is the same on every run; it is sized to end within
``--seconds`` on a quiet host, and it is never cut short. Every result is
compared with the DuckDB oracle answer after its timer stops. The run
directory is deleted at the end.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans and
per-layer counters at the boundaries the runner calls, writes them to
``.perfbench/traces/`` and prints the per-layer metrics. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Warm-up passes after the cold pass. Fixed, like each workload's number
#: of timed passes, so that ``warm_pass_s`` always compares the same pass
#: indices between two commits.
WARMUP_PASSES = 1
#: Set-ups per run; ``setup_s`` is their median. All but the last run in
#: child processes, each a fresh interpreter and JVM; the last one starts
#: the session the passes use. Each costs a JVM start (7-10 s on a 4-core
#: VM), so a third would push 48 runs past a 3420 s check budget.
SETUPS = 2
#: Traced runs time 4 passes in traced/untraced/untraced/traced order, so a
#: linear drift in pass time cancels out of the tracing overhead.
TRACED_ORDER = (True, False, False, True)

#: Driver heap. The engine's default (48g) is more than a small host has;
#: a run's process tree stays under 3.5 GB resident with 4g.
DRIVER_MEMORY = "4g"
#: Scale factor of the generated tables (the fixture tiers' correctness sf).
SCALE = 0.01
#: Seed of the generated fixture tables. ``--seed`` permutes the key order of
#: the passes after the cold one; the tables stay the same, so runs differ
#: only in order and timing, not in how much work the data-dependent keys
#: (pair counts in the near-dup joins) have to do.
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    timed_passes: int  # their median is warm_pass_s
    keys: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # TPC-H and billing analytics: Catalyst planning plus scan, shuffle and
    # broadcast execution; no jobs inside fn(), no Python workers, no writes.
    # Not in BENCHMARK.json: a check makes 4 + 22 runs per workload within a
    # fixed time budget, and three workloads would leave too little of it
    # for a slower host (see README.md). Run it by hand as the control for
    # changes that should not touch plain SQL.
    "billing_sql": Workload(3, (
        "agg_q1_pricing", "agg_q6_forecast", "join_q2_min_cost",
        "join_q3_shipping", "join_q5_local_volume", "join_q9_profit_proxy",
        "join_q13_distribution", "join_q18_big_orders", "join_q20_excess_supply",
        "join_q21_waiting", "bill_churn_rate", "bill_credit_fifo",
        "bill_dso_fifo", "bill_ltv_triangle", "bill_mrr_waterfall",
        "bill_revenue_recognition", "bill_survival_km", "bill_usage_commitment",
    )),
    # Near-dup and ANN: the pair self-join of the shared near-dup core
    # (ext_neardup_jaccard: _corpus_with_dups, _hashed_shingle_tokens, the
    # prefix-filter self-join, a scoped persist), a job fired inside fn()
    # and a mapInPandas numpy kernel (ext_ann_lsh), and an embedding kNN.
    "llm_dedup": Workload(2, (
        "ext_neardup_jaccard", "ext_ann_lsh", "ext_knn_cosine",
    )),
    # The loader's own job: the ClickHouse sink, staged scans, a lake
    # upsert and an availableNow stream, with writes beside reads.
    "etl_load": Workload(2, (
        "sink_clickhouse", "scan_csv_malformed", "scan_partition_pruned",
        "cdc_merge_upsert", "stream_foreachbatch_sink",
    )),
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: Path) -> dict[str, Path]:
    """Point every scratch location of the engine into ``run_dir``.

    Must run before the engine is imported: ``sources.connectors`` fixes its
    staging root from ``tempfile.gettempdir()`` at import time, and the JVM
    and its Python workers inherit this process environment.
    """
    dirs = {
        "data": run_dir / "data",
        "tmp": run_dir / "tmp",
        "jvm_tmp": run_dir / "jvm-tmp",
        "spark_local": run_dir / "spark-local",
        "cwd": run_dir / "cwd",
    }
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["spark_local"])
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["BDL_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['jvm_tmp']} -XX:-UsePerfData"
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    tempfile.tempdir = None  # re-read TMPDIR on the next gettempdir()
    os.chdir(dirs["cwd"])  # the session's relative spark-warehouse/ lands here
    return dirs


def start_session():
    """``get_spark``, then the catalog import and ``catalog()``: the set-up
    a serverless invocation pays before its first query. Returns the
    session, the catalog and the timestamps before, between and after."""
    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    from billing_data_loader_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from billing_data_loader_spark.plans.catalog import catalog

    specs = catalog()
    t2 = time.perf_counter()
    return spark, specs, (t0, t1, t2)


def stop_session(spark) -> None:
    """Stop streams, the session and the JVM, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        gateway.shutdown()
    finally:
        # also after an interrupted py4j call has broken the gateway
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def setup_probe() -> None:
    """Child-process set-up: start a session, print its timings, stop it."""
    spark, _, (t0, t1, t2) = start_session()
    stop_session(spark)
    print(json.dumps({"get_spark_s": t1 - t0, "catalog_s": t2 - t1}))


def _child_setup() -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, "-c", "import run; run.setup_probe()"],
        cwd=os.getcwd(), env={**os.environ, "PYTHONPATH": str(HERE)},
        stdout=subprocess.PIPE, text=True, timeout=120, check=True,
    )
    return json.loads(proc.stdout.splitlines()[-1])


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


class Runner:
    """One benchmark run: fresh session, passes over the workload's keys."""

    def __init__(self, args, dirs: dict[str, Path], tracer=None):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.keys = list(self.workload.keys)
        self.sf_dir = str(dirs["data"])
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}
        self.tracer = tracer

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """Generate the tables, then set up ``SETUPS`` times; the medians
        of the set-up timings are reported."""
        from gen import write_fixtures

        write_fixtures(Path(self.sf_dir), DATA_SEED, SCALE)
        timings = [_child_setup() for _ in range(SETUPS - 1)]
        self.spark, self.specs, (t0, t1, t2) = start_session()
        self.setup_marks = (t0, t1, t2)
        timings.append({"get_spark_s": t1 - t0, "catalog_s": t2 - t1})
        missing = [
            k for k in self.keys if k not in self.specs or self.specs[k].oracle is None
        ]
        if missing:
            raise SystemExit(f"workload keys without a catalog oracle: {missing}")
        out = {n: statistics.median([t[n] for t in timings]) for n in timings[0]}
        out["setup_s"] = statistics.median([sum(t.values()) for t in timings])
        return out

    def compute_oracle(self) -> float:
        """DuckDB answers for every key, once per run, off the timed path."""
        from billing_data_loader_spark.oracle import run_oracle

        t0 = time.perf_counter()
        self.expected = {
            k: run_oracle(self.specs[k].oracle, self.sf_dir) for k in self.keys
        }
        return time.perf_counter() - t0

    # -- one query --------------------------------------------------------
    def verify(self, key: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the reason."""
        from billing_data_loader_spark.oracle import (
            compare_frames,
            driver_strict_issues,
        )

        want = self.expected[key]
        issues = driver_strict_issues(pdf, want)
        if issues:
            return "driver-strict: " + "; ".join(issues)
        ok, msg = compare_frames(pdf, want)
        return None if ok else msg

    def run_query(self, key: str, traced: bool) -> float:
        """Latency of one execution, also when it failed: an exception or
        an oracle mismatch is recorded in ``failures``."""
        self.attempted += 1
        spec = self.specs[key]
        t0 = time.perf_counter()
        try:
            if traced:
                seconds, pdf = self.tracer.query(key, spec.fn, self.sf_dir)
            else:
                pdf = spec.fn(self.spark, self.sf_dir).toPandas()
                seconds = time.perf_counter() - t0
        except Exception as exc:  # a failing key counts, the run goes on
            seconds = time.perf_counter() - t0
            self.failures.setdefault(key, []).append(
                f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            )
            if traced:
                self.tracer.abort_query()
            return seconds
        if traced:
            reason = self.tracer.verify(lambda: self.verify(key, pdf))
        else:
            reason = self.verify(key, pdf)
        if reason is not None:
            self.failures.setdefault(key, []).append(reason)
        return seconds

    def run_pass(self, index: int, traced: bool) -> dict:
        order = list(self.keys)
        if index > 0:
            # The cold pass keeps the listed order: its first key pays the
            # fresh JVM's warm-up, several seconds that differ by key.
            self.rng.shuffle(order)
        if traced:
            self.tracer.begin_pass(index)
        latencies = {key: self.run_query(key, traced) for key in order}
        record = {
            "index": index,
            "traced": traced,
            "wall_s": sum(latencies.values()),
            "latencies": latencies,
        }
        if traced:
            record["layers"] = self.tracer.end_pass()
        return record

    def run(self) -> list[dict]:
        """The fixed pass plan, never cut short, so that every run times
        the same pass indices."""
        trace = bool(self.args.trace)
        plan = [trace] * (1 + WARMUP_PASSES)
        plan += list(TRACED_ORDER) if trace else [False] * self.workload.timed_passes
        return [self.run_pass(index, traced) for index, traced in enumerate(plan)]

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            stop_session(spark)


def end_to_end(setup: dict, passes: list[dict]) -> dict[str, tuple[float, str]]:
    timed = passes[1 + WARMUP_PASSES:]
    samples = [s for p in timed for s in p["latencies"].values()]
    return {
        "setup_s": (setup["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median([p["wall_s"] for p in timed]), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_p90_s": (_p90(samples), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring budget the fixed pass plan is sized to")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "billing_data_loader_spark" / "plans" / "catalog.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = os.getloadavg()
    run_dir = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    cwd = os.getcwd()
    runner = None
    try:
        dirs = isolate(run_dir)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(dirs)
        runner = Runner(args, dirs, tracer)
        setup = runner.setup()
        if tracer is not None:
            tracer.bind(runner.spark, runner.setup_marks)
        oracle_s = runner.compute_oracle()
        measure_start = time.perf_counter()
        passes = runner.run()
        measured_s = time.perf_counter() - measure_start
    finally:
        try:
            if runner is not None:
                runner.stop()
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
    load_end = os.getloadavg()

    failed = sum(len(v) for v in runner.failures.values())
    failed_frac = failed / runner.attempted
    print(f"workload {args.workload}: {len(runner.keys)} keys at sf{SCALE}, "
          f"seed {args.seed}, {_cpus()} cores, 1 cold + {WARMUP_PASSES} warm-up + "
          f"{len(passes) - 1 - WARMUP_PASSES} timed passes in {measured_s:.1f} s "
          f"(--seconds {args.seconds:g})")
    if measured_s > args.seconds:
        print(f"passes took {measured_s:.1f} s, over the --seconds budget",
              file=sys.stderr)
    start, end = ("/".join(f"{x:.2f}" for x in la) for la in (load_start, load_end))
    print(f"load average 1/5/15 min: start {start}, end {end}")
    print(f"oracle answers computed in {oracle_s:.2f} s (untimed)")
    print("pass walls (s): " + " ".join(
        f"{p['index']}{'t' if p['traced'] else ''}={p['wall_s']:.3f}" for p in passes))
    print(f"failed_frac {failed_frac:.4f} ratio ({failed} of {runner.attempted} "
          "executions)")
    for key, reasons in sorted(runner.failures.items()):
        print(f"FAILED {key}: {len(reasons)}x {reasons[0]}")

    timed = passes[1 + WARMUP_PASSES:]
    for key in runner.keys:
        xs = [p["latencies"][key] for p in timed]
        print(f"key {key}: cold {passes[0]['latencies'][key]:.3f} s, "
              f"timed median {statistics.median(xs):.3f} s")
    if args.trace:
        metrics = tracer.report(setup, passes, WARMUP_PASSES)
        path = tracer.write(ROOT / ".perfbench" / "traces",
                                   f"{args.workload}-seed{args.seed}", passes)
        print(f"trace written to {path}")
    else:
        metrics = end_to_end(setup, passes)
        print(f"query latency samples: {sum(len(p['latencies']) for p in timed)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
