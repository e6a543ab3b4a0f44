"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fetch_small_files --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. One run is one fresh process: it
generates the workload's inputs from the seed, starts the benchmark's FTP
server, sets up a Spark session the way every CLI invocation does (timed as
``setup_s``), runs one first pass and a fixed number of warm passes, which
are not measured, then measured passes in a closed loop until ``--seconds``
have passed since the last warm pass ended, checking the outputs of every
pass. ``corpus_queries`` also checks each query's result against its DuckDB
oracle once, after the last pass.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics declared in ``BENCHMARK.json``; with
``--trace 1`` the run records spans and a Spark event log and the metrics
are the per-layer ones. The lines before it give every metric by name with
its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# a fixed delay before every FTP reply: the round trip to a remote server
REPLY_DELAY_S = 0.003

# server-side counters reported as connector.<name>: name -> stub verb
_VERB_COUNTS = {"nlst": "NLST", "cwd": "CWD", "size": "SIZE", "retr": "RETR"}
_SERVER_COUNTS = ("logins", "commands", "data_conns", "error_replies", "peak_sessions",
                  "bytes_sent", "server_busy_s")


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def program_missing() -> str | None:
    for rel in ("ftp_blueprints_spark/cli/blueprints.py", "tests/ftp_stub_server.py",
                "tests/oracle_util.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(REPO, rel)):
            return rel
    return None


# --- process tree ----------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) every 250 ms and keeps the peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree_pids(os.getpid())))
            self._halt.wait(0.25)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


# --- session ---------------------------------------------------------------

def configure_env(work: str, cpus: int, trace: bool) -> None:
    """Environment the driver JVM and the executor Python workers inherit.

    Executors import the program from the repository root, so it must be on
    their ``PYTHONPATH``; Spark's scratch files stay inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        from perfbench.spans import event_log_conf

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def set_up(workload) -> tuple[object, dict]:
    """What every CLI invocation pays before its first pass: the session,
    the query registry import, and the first ``ftp_manifest`` load."""
    times = {}
    t0 = time.perf_counter()
    from ftp_blueprints_spark import session

    spark = session.get_spark()
    t1 = time.perf_counter()
    import __spark_entry__  # noqa: F401

    t2 = time.perf_counter()
    from ftp_blueprints_spark.sources.datasource import ManifestDataSource

    spark.dataSource.register(ManifestDataSource)
    reader_options(spark, workload, "").load()
    t3 = time.perf_counter()
    times["session.get_spark_s"] = t1 - t0
    times["session.entry_import_s"] = t2 - t1
    times["session.datasource_init_s"] = t3 - t2
    times["setup_s"] = t3 - t0
    return spark, times


def reader_options(spark, workload, folder: str):
    """An ``ftp_manifest`` reader over the workload's server."""
    spec = workload.spec()
    return (spark.read.format("ftp_manifest")
            .option("kind", "ftp").option("host", spec.host).option("port", str(spec.port))
            .option("username", spec.username).option("password", spec.password)
            .option("timeout", str(spec.timeout))
            .option("max_connections", str(spec.max_connections))
            .option("folder", folder))


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    # the session is stopped: end its Python workers too, and wait for them
    alive = [p for p in pids if p != os.getpid()]
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        for p in alive:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)


# --- run -------------------------------------------------------------------

def connector_metrics(stats: dict, files: int) -> dict:
    out = {f"connector.{k}": stats.get(f"verb.{v}", 0) for k, v in _VERB_COUNTS.items()}
    out.update({f"connector.{k}": stats.get(k, 0) for k in _SERVER_COUNTS})
    out["connector.commands_per_file"] = stats.get("commands", 0) / files
    return out


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.ftpserver import BenchFtpServer
    from perfbench.workloads import USERS, WORKLOADS, CorpusQueries

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(REPO, ".perfbench", workload_name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cpus, trace)

    ftp_root = os.path.join(work, "ftp")
    os.makedirs(ftp_root)
    server = BenchFtpServer(ftp_root, USERS, reply_delay_s=REPLY_DELAY_S)
    with server as (host, port):
        wl = WORKLOADS[workload_name](work, seed, cpus, host, port)
        wl.generate()
        rss = PeakRss()
        rss.start()
        spark, setup = set_up(wl)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if trace:
            from perfbench.spans import Tracer, jobs_by_group

            tracer = Tracer(spark, CorpusQueries.QUERIES)
            tracer.install()
            wl.span = tracer.span

        # closed loop: a first pass, the workload's fixed number of warm
        # passes, then measured passes while less than `seconds` have passed
        # since the last warm pass ended (at least one). Every run, of any
        # program version, is measured from the same pass index on.
        first_measured = 1 + wl.warm_up_passes
        results, server_stats = [], []
        while True:
            if len(results) == first_measured:
                window_start = time.perf_counter()
            if (len(results) > first_measured
                    and time.perf_counter() - window_start >= seconds):
                break
            server.reset()
            if tracer:
                tracer.begin_pass(f"p{len(results)}")
            res = wl.run_pass(spark)
            server_stats.append(server.stats())
            if tracer:
                tracer.end_pass(res.seconds)
            results.append(res)
            for problem in res.problems:
                print(f"check failed in pass {len(results) - 1}: {problem}", file=sys.stderr)
        measured = list(range(first_measured, len(results)))
        final = wl.final_check(spark)
        if final is not None:
            results.append(final)
            for problem in final.problems:
                print(f"check failed after the last pass: {problem}", file=sys.stderr)
        partitions = 0
        if trace and workload_name == "ingest_csv_tree":
            partitions = reader_options(spark, wl, "ingest").option(
                "with_content", "true").load().rdd.getNumPartitions()
        peak_rss = rss.stop()
        stop_spark(spark, tree_pids(os.getpid()))

    pass_s = statistics.median([results[i].seconds for i in measured])
    metrics = {
        "setup_s": setup["setup_s"],
        "pass_s": pass_s,
        "files_per_s": wl.files / pass_s,
        "mb_per_s": wl.payload_bytes / 2**20 / pass_s,
    }
    run_info = {
        "run.first_pass_s": results[0].seconds,
        "run.peak_rss_mb": peak_rss / 2**20,
        "run.measured_passes": len(measured),
    }
    info = {**run_info, "sizes": wl.sizes(),
            "pass_times_s": [round(results[i].seconds, 3) for i in range(len(server_stats))],
            "measured_pass_indices": measured,
            "rows_per_s": wl.rows / pass_s if wl.rows else None}
    if trace:
        jobs = jobs_by_group(tracer.read_event_log(os.path.join(work, "eventlog")))
        per_pass = []
        for i in measured:
            m = tracer.layer_metrics(jobs, f"p{i}")
            m.update(connector_metrics(server_stats[i], wl.files))
            per_pass.append(m)
        metrics = {k: statistics.median([m[k] for m in per_pass]) for k in per_pass[0]}
        metrics.update({k: v for k, v in setup.items() if k.startswith("session.")})
        metrics.update(run_info)
        metrics["datasource.partitions"] = partitions
        metrics["trace.pass_s"] = pass_s
        # counts that should repeat exactly in every measured pass
        info["varying_counts"] = sorted(
            k for k in per_pass[0]
            if (k.startswith("connector.") and not k.endswith(("_s", "peak_sessions")))
            or k.endswith((".jobs", ".stages", ".tasks"))
            if len({m[k] for m in per_pass}) > 1
        )
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    info["failed_share"] = failed / attempted if attempted else 1.0
    return {"metrics": metrics, "attempted": attempted, "failed": failed, "info": info}


def report(workload_name: str, out: dict, trace: bool) -> dict:
    """Print every metric by name with its unit; return the result line."""
    units = declared_metrics(trace)
    if set(units) != set(out["metrics"]):
        raise RuntimeError(
            "measured metrics differ from BENCHMARK.json: not measured "
            f"{sorted(set(units) - set(out['metrics']))}, not declared "
            f"{sorted(set(out['metrics']) - set(units))}"
        )
    for name, unit in units.items():
        print(f"{workload_name}: {name} = {out['metrics'][name]:.6g} {unit}")
    for name, value in out["info"].items():
        if value is not None and name not in units:
            print(f"{workload_name}: {name} = {value}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": out["metrics"][n], "unit": u} for n, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"cannot run: {missing} not found; run from the repository root", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result = report(args.workload, out, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
