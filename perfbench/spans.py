"""Per-layer tracing from outside the program.

``Tracer.install`` wraps the program's public layer functions (listing,
manifest, actions, ingest) in every module that holds a reference to them,
and ``Tracer.span`` marks the steps a workload runs itself (building a
registered query, its noop write). Each call becomes a span: its wall time
is recorded, and every Spark job it starts is tagged with a job group unique
to the span. Jobs a pass starts outside any span get the pass's own group.
After the session stops, the uncompressed event log is read once, and each
job, stage and task is attributed to its span and pass through the group.

Outcome counts (listing entries, files acted on, rows ingested) are taken
from what the spans returned after the pass has ended, so the tracer's own
Spark jobs are not inside any timed span. Spans are kept in memory; nothing
is written while passes run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

# public layer functions the CLI and the workloads call: span name -> (module, attribute)
TARGETS = {
    "listing.list_tree": ("ftp_blueprints_spark.sources.listing", "list_tree"),
    "manifest.match_files": ("ftp_blueprints_spark.operators.manifest", "match_files"),
    "manifest.require_matches": ("ftp_blueprints_spark.operators.manifest", "require_matches"),
    "manifest.with_destination": ("ftp_blueprints_spark.operators.manifest", "with_destination"),
    "actions.download": ("ftp_blueprints_spark.operators.actions", "download"),
    "ingest.ingest_csv": ("ftp_blueprints_spark.sources.ingest", "ingest_csv"),
}

# every metric ``layer_metrics`` returns besides the per-query ``plans.*``
# ones; a layer a workload does not use reads 0
LAYER_METRICS = (
    "listing.list_tree_s", "listing.jobs", "listing.entries",
    "manifest.match_s", "manifest.destination_s", "manifest.jobs",
    "actions.download_s", "actions.jobs", "actions.tasks", "actions.files_ok",
    "actions.files_failed",
    "ingest.ingest_csv_s", "ingest.jobs", "ingest.rows",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_share",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb",
)


def plan_metrics(queries) -> tuple[str, ...]:
    """``plans.<query>.*`` metric names: build and execute time, and the
    jobs, stages and tasks of both."""
    return tuple(f"plans.{q}.{m}" for q in queries
                 for m in ("build_s", "execute_s", "jobs", "stages", "tasks"))


_GROUP = "spark.jobGroup.id"
_TRACE_GROUP = "trace"  # jobs the tracer itself starts; never attributed to a pass


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` arguments for an uncompressed, single-file
    event log in ``log_dir``."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


class Tracer:
    def __init__(self, spark, plan_queries=()):
        self.sc = spark.sparkContext
        self.plan_queries = tuple(plan_queries)
        self.passes: list[dict] = []
        self._pass: dict | None = None
        self._seq = 0

    # --- spans ------------------------------------------------------------

    def install(self) -> None:
        for span, (modname, attr) in TARGETS.items():
            __import__(modname)
            orig = getattr(sys.modules[modname], attr)
            wrapper = self._wrap(span, orig)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("ftp_blueprints_spark"):
                    continue
                for name, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, name, wrapper)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block and tag the Spark jobs it starts; outside a pass
        it does nothing."""
        if self._pass is None:
            yield
            return
        self._seq += 1
        group = f"{self._pass['tag']}|{name}|{self._seq}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._pass["spans"].append((name, group, time.perf_counter() - t0))
            self.sc.setLocalProperty(_GROUP, prev)

    def _wrap(self, span: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span):
                result = fn(*args, **kwargs)
            if self._pass is not None:
                self._pass["results"].append((span, result))
            return result

        return wrapper

    def _observe(self, p: dict) -> None:
        """Outcome counts of what a pass's spans returned. Runs after the
        pass, under the tracer's own job group."""
        counts = p["counts"]
        self.sc.setLocalProperty(_GROUP, _TRACE_GROUP)
        try:
            for span, result in p.pop("results"):
                if span == "listing.list_tree":
                    counts["listing.entries"] += result.count()
                elif span.startswith("actions.") and isinstance(result, dict):
                    counts["actions.files_ok"] += result.get("ok", 0)
                    counts["actions.files_failed"] += result.get("failed", 0)
                elif span == "ingest.ingest_csv":
                    counts["ingest.rows"] += int(result)
        finally:
            self.sc.setLocalProperty(_GROUP, None)

    # --- passes -----------------------------------------------------------

    def begin_pass(self, tag: str) -> None:
        self._pass = {
            "tag": tag, "spans": [], "results": [], "counts": defaultdict(int),
            "t0_ms": time.time() * 1000.0,
        }
        self.sc.setLocalProperty(_GROUP, f"{tag}|pass")

    def end_pass(self, timed_s: float) -> None:
        """Close the pass; ``timed_s`` is the part of it spent in the
        program's calls, the base of ``spark.job_busy_share``."""
        p = self._pass
        p["t1_ms"] = time.time() * 1000.0
        p["timed_ms"] = timed_s * 1000.0
        self.sc.setLocalProperty(_GROUP, None)
        self._pass = None
        self._observe(p)
        self.passes.append(p)

    # --- event log --------------------------------------------------------

    @staticmethod
    def read_event_log(log_dir: str) -> list[dict]:
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        with open(files[0]) as f:
            return [json.loads(line) for line in f if line.strip()]

    def layer_metrics(self, jobs: dict[str, dict], tag: str) -> dict:
        """Per-layer numbers of one traced pass, from its spans and the
        event log's jobs by group (``jobs_by_group``)."""
        p = next(x for x in self.passes if x["tag"] == tag)
        prefix = f"{tag}|"
        names = LAYER_METRICS + plan_metrics(self.plan_queries)
        out = dict.fromkeys(names, 0.0)
        for span, group, elapsed in p["spans"]:
            stat = jobs.get(group, _EMPTY)
            if span.startswith("plans."):
                # plans.<query>.build or plans.<query>.execute
                query = span[len("plans."):].rpartition(".")[0]
                out[f"{span}_s"] += elapsed
                for k in ("jobs", "stages", "tasks"):
                    out[f"plans.{query}.{k}"] += stat[k]
                continue
            layer = span.split(".")[0]
            if span == "manifest.with_destination":
                out["manifest.destination_s"] += elapsed
            elif layer == "manifest":
                out["manifest.match_s"] += elapsed
            else:
                out[f"{span}_s"] += elapsed
            out[f"{layer}.jobs"] += stat["jobs"]
            if layer == "actions":
                out["actions.tasks"] += stat["result_tasks"]
        out.update(p["counts"])
        pass_jobs = _merge(v for g, v in jobs.items() if g.startswith(prefix))
        busy_ms = _union_ms(pass_jobs["intervals"], p["t0_ms"], p["t1_ms"])
        out["spark.job_busy_share"] = busy_ms / p["timed_ms"] if p["timed_ms"] > 0 else 0.0
        out["spark.task_cpu_s"] = pass_jobs["cpu_ns"] / 1e9
        out["spark.gc_s"] = pass_jobs["gc_ms"] / 1e3
        out["spark.shuffle_write_mb"] = pass_jobs["shuffle_write"] / 2**20
        out["spark.spill_mb"] = pass_jobs["spill"] / 2**20
        out["spark.jobs"] = pass_jobs["jobs"]
        out["spark.stages"] = pass_jobs["stages"]
        out["spark.tasks"] = pass_jobs["tasks"]
        if set(out) != set(names):
            raise RuntimeError(f"unlisted layer metrics: {sorted(set(out) - set(names))}")
        return out


_EMPTY = {"jobs": 0, "stages": 0, "tasks": 0, "result_tasks": 0, "last_job": -1,
          "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0, "intervals": []}


def jobs_by_group(events: list[dict]) -> dict[str, dict]:
    """Job group -> jobs, stages and tasks run, task metrics, job intervals."""
    job_group, job_start, job_end = {}, {}, {}
    stage_job: dict[int, int] = {}
    job_stages: dict[int, list[int]] = defaultdict(list)
    stage_tasks: dict[int, int] = {}
    task_sums: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get(_GROUP) or ""
            job_start[jid] = ev["Submission Time"]
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)  # a stage runs in the first job that needs it
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage_tasks[sid] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = task_sums[ev["Stage ID"]]
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s["spill"] += m.get("Disk Bytes Spilled", 0)
    for sid in stage_tasks:
        if sid in stage_job:
            job_stages[stage_job[sid]].append(sid)
    out: dict[str, dict] = {}
    for jid, group in job_group.items():
        g = out.setdefault(group, {**_EMPTY, "intervals": []})
        ran = job_stages.get(jid, [])
        g["jobs"] += 1
        g["stages"] += len(ran)
        g["tasks"] += sum(stage_tasks[s] for s in ran)
        if ran and jid > g["last_job"]:
            # the sink is the span's last job; its result stage's tasks are
            # the sessions it opened
            g["last_job"], g["result_tasks"] = jid, stage_tasks[max(ran)]
        for s in ran:
            for k, v in task_sums[s].items():
                g[k] += v
        if jid in job_end:
            g["intervals"].append((job_start[jid], job_end[jid]))
    return out


def _merge(stats) -> dict:
    total = {**_EMPTY, "intervals": []}
    for s in stats:
        for k, v in s.items():
            total[k] = total[k] + v
    return total


def _union_ms(intervals, lo: float, hi: float) -> float:
    busy, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            busy += b - a
            end = b
    return busy
