"""Spans and per-layer counters for a traced benchmark run.

Spans are recorded from the benchmark's own side of each layer boundary:
``setup`` (``get_spark``, ``catalog``), then ``run`` > ``pass`` > ``query``,
and inside each query ``construct`` (the key's ``fn()``), ``plan`` (forcing
the executed plan) and ``exec_collect`` (``toPandas()``). ``verify`` follows
the query span and shares its query id. Counters are read at the same
boundaries from Spark's status tracker and status store, the codegen
counters, ``/proc`` and the run's scratch directories. Everything is kept in
memory and written out once at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

MB = 1024 * 1024
#: Name prefixes of the streaming checkpoint directories the engine creates
#: under the temp dir (``streaming/jobs.py``).
_CHECKPOINT_PREFIXES = ("bdl_ckpt_", "bdl_ss_coord_")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")

#: Per-pass layer metrics: name -> unit. A pass sums its queries, except
#: ``session.rss_after_query_mb`` (the largest resident size of the process
#: tree read after a query returned), ``spark.core_busy_frac`` (a ratio) and
#: ``session.cpu_s`` (the process tree's CPU time over the whole pass).
PASS_METRICS = {
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.keys_with_construct_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_collect_s": "s",
    "spark.result_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_wait_s": "s",
    "spark.task_run_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.codegen_compiles": "count",
    "spark.codegen_compile_s": "s",
    "spark.failed_tasks": "count",
    "session.cached_rdds": "count",
    "session.rss_after_query_mb": "MB",
    "session.cpu_s": "s",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "streaming.fn_s": "s",
    "streaming.checkpoint_mb": "MB",
    "oracle.verify_s": "s",
    "oracle.mismatches": "count",
}

#: Layer metrics also reported for the cold pass, where JIT, codegen and
#: first-time staging make them differ most from the warm passes.
COLD_METRICS = (
    "operators.construct_s",
    "operators.construct_jobs",
    "spark.exec_collect_s",
    "spark.codegen_compiles",
    "spark.codegen_compile_s",
    "sources.bytes_written_mb",
    "streaming.fn_s",
)


def _process_tree(root: int) -> tuple[float, float]:
    """Resident MB and CPU seconds (user + system, including reaped
    children) of ``root`` and all its descendants: JVM and Python workers.
    CPU time excludes time stolen by the hypervisor, unlike wall time."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue  # exited while listing
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    rss_pages, ticks, stack = 0, 0, [root]
    while stack:
        pid = stack.pop()
        fields = stats.get(pid)
        if fields is None:
            continue
        ticks += sum(int(x) for x in fields[11:15])
        rss_pages += int(fields[21])
        stack.extend(children.get(pid, ()))
    return rss_pages * _PAGE / MB, ticks / _TICKS


def _snapshot(dirs: list[Path]) -> dict[str, tuple[int, int]]:
    files: dict[str, tuple[int, int]] = {}
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                p = os.path.join(base, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue  # removed while walking
                files[p] = (st.st_size, st.st_mtime_ns)
    return files


class Tracer:
    def __init__(self, dirs: dict[str, Path]):
        self.t0 = time.perf_counter()
        self.write_dirs = [dirs["tmp"], dirs["cwd"]]
        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self.open: list[dict] = []
        self.pass_span: dict | None = None
        self.pass_queries: list[dict] = []

    # -- spans -----------------------------------------------------------
    def _begin(self, name: str, parent: dict | None, qid: str | None = None) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "qid": qid,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(span)
        self.open.append(span)
        return span

    def _end(self, span: dict) -> float:
        span["end"] = time.perf_counter() - self.t0
        self.open.remove(span)
        return span["end"] - span["start"]

    def bind(self, spark, marks: tuple[float, float, float]) -> None:
        """Attach to the started session; ``marks`` are the setup
        timestamps (before ``get_spark``, after it, after ``catalog()``)."""
        self.spark = spark
        self.sc = spark.sparkContext
        self.ssc = self.sc._jsc.sc()
        self.store = self.ssc.statusStore()
        self.tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self.codegen = codegen.CodeGenerator
        metrics = jvm.org.apache.spark.metrics.source
        self.compile_hist = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.cores = int(self.sc.defaultParallelism)
        a, b, c = (m - self.t0 for m in marks)
        setup = {"id": len(self.spans), "name": "setup", "parent": None,
                 "qid": None, "start": a, "end": c}
        self.spans.append(setup)
        for name, s, e in (("get_spark", a, b), ("catalog", b, c)):
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": setup["id"], "qid": None,
                               "start": s, "end": e})
        self.run_span = self._begin("run", None)
        self.next_job = 0
        self.files = _snapshot(self.write_dirs)

    def begin_pass(self, index: int) -> None:
        # skip the jobs of untraced passes run since the last traced query
        self._new_jobs()
        self.files = _snapshot(self.write_dirs)
        self.pass_index = index
        self.pass_span = self._begin("pass", self.run_span, f"p{index}")
        self.pass_queries = []
        self.pass_cpu = _process_tree(os.getpid())[1]

    # -- one query ---------------------------------------------------------
    def _codegen(self) -> tuple[int, int]:
        return int(self.compile_hist.getCount()), int(self.codegen.compileTime())

    def query(self, key: str, fn, sf_dir: str):
        """Run one traced execution; returns (query seconds, pandas result)."""
        qid = f"p{self.pass_index}/{key}"
        self.qid = qid
        cg0 = self._codegen()
        q = self._begin("query", self.pass_span, qid)
        s = self._begin("construct", q, qid)
        self.sc.setJobGroup(f"{qid}/construct", key)
        df = fn(self.spark, sf_dir)
        construct_s = self._end(s)
        s = self._begin("plan", q, qid)
        df._jdf.queryExecution().executedPlan()
        plan_s = self._end(s)
        s = self._begin("exec_collect", q, qid)
        self.sc.setJobGroup(f"{qid}/exec", key)
        pdf = df.toPandas()
        exec_s = self._end(s)
        query_s = self._end(q)
        self.sc._jsc.clearJobGroup()
        cg1 = self._codegen()
        rec = {
            "qid": qid,
            "key": key,
            "query_s": query_s,
            "operators.construct_s": construct_s,
            "spark.plan_s": plan_s,
            "spark.exec_collect_s": exec_s,
            "spark.result_rows": len(pdf),
            "spark.codegen_compiles": cg1[0] - cg0[0],
            "spark.codegen_compile_s": (cg1[1] - cg0[1]) / 1e9,
        }
        rec.update(self._jobs(f"{qid}/exec"))
        rec.update(self._side_effects())
        rec["streaming.fn_s"] = construct_s if key.startswith("stream_") else 0.0
        self.current = rec
        return query_s, pdf

    def abort_query(self) -> None:
        """Close the spans a failed execution left open."""
        for span in list(self.open):
            if span["name"] in ("query", "construct", "plan", "exec_collect"):
                span["error"] = True
                self._end(span)
        self.sc._jsc.clearJobGroup()
        self._new_jobs()
        self.files = _snapshot(self.write_dirs)
        self.current = None

    def verify(self, check) -> str | None:
        span = self._begin("verify", self.pass_span, self.qid)
        reason = check()
        rec = self.current
        rec["oracle.verify_s"] = self._end(span)
        rec["oracle.mismatches"] = 0 if reason is None else 1
        self.queries.append(rec)
        self.pass_queries.append(rec)
        return reason

    def _new_jobs(self, known: set[int] = frozenset()) -> dict[int, list[int]]:
        """Stage ids of every job started since the last call. Job ids are
        sequential, so probe upwards until the tracker knows no more."""
        self.ssc.listenerBus().waitUntilEmpty()
        jobs: dict[int, list[int]] = {}
        jid = self.next_job
        while True:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                break
            jobs[jid] = list(info.stageIds)
            jid += 1
        self.next_job = max([jid, *(j + 1 for j in known)])
        return jobs

    def _jobs(self, exec_group: str) -> dict:
        """Jobs, stages and tasks of the query: every job started since the
        previous query; those outside the exec group ran inside ``fn()``."""
        exec_ids = set(self.tracker.getJobIdsForGroup(exec_group))
        jobs = self._new_jobs(exec_ids)
        construct_jobs = sum(1 for j in jobs if j not in exec_ids)
        out = {
            "spark.jobs": len(jobs),
            "operators.construct_jobs": construct_jobs,
            "operators.keys_with_construct_jobs": int(construct_jobs > 0),
            "spark.stages": 0, "spark.tasks": 0, "spark.failed_tasks": 0,
            "spark.stage_wait_s": 0.0, "spark.task_run_s": 0.0,
            "spark.shuffle_write_mb": 0.0, "spark.shuffle_read_mb": 0.0,
            "spark.spill_mb": 0.0,
        }
        for sid in sorted({s for stages in jobs.values() for s in stages}):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted from the store
                continue
            done = int(st.numCompleteTasks())
            out["spark.failed_tasks"] += int(st.numFailedTasks())
            if done == 0:
                continue  # skipped: its output was reused
            out["spark.stages"] += 1
            out["spark.tasks"] += done
            out["spark.task_run_s"] += st.executorRunTime() / 1000
            out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spark.spill_mb"] += st.diskBytesSpilled() / MB
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                wait_ms = first.get().getTime() - sub.get().getTime()
                out["spark.stage_wait_s"] += max(wait_ms, 0) / 1000
        return out

    def _side_effects(self) -> dict:
        files = _snapshot(self.write_dirs)
        written = [p for p, v in files.items() if self.files.get(p) != v]
        self.files = files
        checkpoint = [
            p for p in written
            if any(part.startswith(_CHECKPOINT_PREFIXES) for part in Path(p).parts)
        ]
        return {
            "session.cached_rdds": int(self.sc._jsc.getPersistentRDDs().size()),
            "session.rss_after_query_mb": _process_tree(os.getpid())[0],
            "sources.bytes_written_mb": sum(files[p][0] for p in written) / MB,
            "sources.files_written": len(written),
            "streaming.checkpoint_mb": sum(files[p][0] for p in checkpoint) / MB,
        }

    def end_pass(self) -> dict:
        self._end(self.pass_span)
        qs = self.pass_queries
        own = ("session.rss_after_query_mb", "spark.core_busy_frac", "session.cpu_s")
        agg = {n: sum(q[n] for q in qs) for n in PASS_METRICS if n not in own}
        agg["session.cpu_s"] = _process_tree(os.getpid())[1] - self.pass_cpu
        agg["session.rss_after_query_mb"] = max(
            (q["session.rss_after_query_mb"] for q in qs), default=0.0
        )
        query_wall = sum(q["query_s"] for q in qs)
        agg["spark.core_busy_frac"] = (
            agg["spark.task_run_s"] / (query_wall * self.cores) if query_wall else 0.0
        )
        return agg

    # -- output ------------------------------------------------------------
    def report(self, setup: dict, passes: list[dict], warmup: int) -> dict:
        """Per-layer metrics: median over the traced timed passes, the cold
        pass for ``COLD_METRICS``, and the tracing overhead."""
        self._end(self.run_span)
        timed = passes[1 + warmup:]
        traced = [p for p in timed if p["traced"]]
        plain = [p for p in timed if not p["traced"]]
        out: dict[str, tuple[float, str]] = {
            "session.get_spark_s": (setup["get_spark_s"], "s"),
            "plans.catalog_s": (setup["catalog_s"], "s"),
        }
        for name, unit in PASS_METRICS.items():
            out[name] = (statistics.median(p["layers"][name] for p in traced), unit)
        for name in COLD_METRICS:
            out[f"cold.{name}"] = (passes[0]["layers"][name], PASS_METRICS[name])
        traced_wall = statistics.mean(p["wall_s"] for p in traced)
        plain_wall = statistics.mean(p["wall_s"] for p in plain)
        out["trace.warm_pass_s"] = (traced_wall, "s")
        out["trace.overhead_s"] = (traced_wall - plain_wall, "s")
        return out

    def write(self, out_dir: Path, stem: str, passes: list[dict]) -> Path:
        """Spans, per-query records and per-pass totals as one JSON file."""
        out_dir.mkdir(parents=True, exist_ok=True)
        path = out_dir / f"{stem}.json"
        path.write_text(json.dumps(
            {"spans": self.spans, "queries": self.queries, "passes": passes}
        ))
        return path
