"""Tests of the benchmark's own code: seeded inputs, the FTP server's
counters, the tracer's span and event-log arithmetic, and the command's
output.

    python -m pytest perfbench -q

The tests that run the command itself take about a minute each.
"""

from __future__ import annotations

import ftplib
import io
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import inputs
from perfbench.ftpserver import BenchFtpServer
from perfbench.spans import Tracer, jobs_by_group, plan_metrics, _union_ms

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
USERS = {"u": "pw"}


def _all_trees(root: str, seed: int) -> None:
    inputs.fetch_tree(os.path.join(root, "fetch"), seed, 2, 2, 20, 256)
    inputs.ingest_tree(os.path.join(root, "ingest"), seed, 2, 2, 50)
    inputs.query_tables(os.path.join(root, "tables"), seed, 400, 50)


def test_same_seed_same_tree_digest(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _all_trees(str(tmp_path / name), seed)
    digest = {n: inputs.tree_digest(str(tmp_path / n)) for n in "abc"}
    assert digest["a"] == digest["b"]
    assert digest["a"] != digest["c"]


def test_sizes_do_not_depend_on_seed(tmp_path):
    def shape(seed):
        root = str(tmp_path / f"s{seed}")
        matched = inputs.fetch_tree(root, seed, 3, 2, 30, 512)
        sizes = sorted(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(root) for f in fs)
        dirs = sum(len(ds) for _, ds, _ in os.walk(root))
        return len(matched), sizes, dirs

    assert shape(1) == shape(2) == (15, [512] * 30, 3 + 9)


def test_server_counts_equal_scripted_session(tmp_path):
    root = tmp_path / "root"
    (root / "sub").mkdir(parents=True)
    (root / "sub" / "a.bin").write_bytes(b"x" * 1000)
    server = BenchFtpServer(str(root), USERS)
    with server as (host, port):
        ftp = ftplib.FTP()
        ftp.connect(host, port)
        ftp.login("u", "pw")                                    # USER PASS
        ftp.cwd("sub")                                          # CWD
        names = ftp.nlst()                                      # TYPE PASV NLST
        size = ftp.size("a.bin")                                # SIZE
        with pytest.raises(ftplib.error_perm):
            ftp.cwd("a.bin")                                    # CWD -> 550
        got = io.BytesIO()
        ftp.retrbinary("RETR a.bin", got.write)                # TYPE PASV RETR
        ftp.storbinary("STOR b.bin", io.BytesIO(b"y" * 500))   # TYPE PASV STOR
        ftp.rename("b.bin", "c.bin")                            # RNFR RNTO
        ftp.mkd("d")                                            # MKD
        ftp.delete("c.bin")                                     # DELE
        ftp.quit()                                              # QUIT
        stats = server.stats()
    assert names == ["a.bin"] and size == 1000 and got.getvalue() == b"x" * 1000
    verbs = {k[len("verb."):]: v for k, v in stats.items() if k.startswith("verb.")}
    assert verbs == {
        "USER": 1, "PASS": 1, "CWD": 2, "TYPE": 3, "PASV": 3, "NLST": 1, "SIZE": 1,
        "RETR": 1, "STOR": 1, "RNFR": 1, "RNTO": 1, "MKD": 1, "DELE": 1, "QUIT": 1,
    }
    assert stats["commands"] == sum(verbs.values()) == 19
    assert stats["logins"] == 1
    assert stats["data_conns"] == 3
    assert stats["error_replies"] == 1
    assert stats["peak_sessions"] == 1
    # data-connection payload: the listing and the file out, the file in
    assert stats["bytes_sent"] == len(b"a.bin\r\n") + 1000
    assert stats["bytes_received"] == 500
    assert (root / "sub" / "d").is_dir() and not (root / "sub" / "c.bin").exists()


def test_reply_delay_and_peak_sessions(tmp_path):
    server = BenchFtpServer(str(tmp_path), USERS, reply_delay_s=0.05)
    with server as (host, port):
        t0 = time.perf_counter()
        a = ftplib.FTP()
        a.connect(host, port)
        a.login("u", "pw")
        b = ftplib.FTP()
        b.connect(host, port)
        b.login("u", "pw")
        a.quit()
        b.quit()
        elapsed = time.perf_counter() - t0
        stats = server.stats()
    # two sessions, each 220, 331, 230, 221: eight delayed replies
    assert elapsed >= 8 * 0.05
    assert stats["peak_sessions"] == 2 and stats["logins"] == 2
    assert stats["server_busy_s"] < 8 * 0.05  # the delay is not server work


def test_transfers_do_not_stall_on_nagle(tmp_path):
    (tmp_path / "f").write_bytes(b"z" * 100)
    with BenchFtpServer(str(tmp_path), USERS) as (host, port):
        ftp = ftplib.FTP()
        ftp.connect(host, port)
        ftp.login("u", "pw")
        t0 = time.perf_counter()
        for _ in range(30):
            ftp.retrbinary("RETR f", lambda _: None)
        elapsed = time.perf_counter() - t0
        ftp.quit()
    # a Nagle/delayed-ACK stall costs ~40 ms per transfer: 30 would take > 1 s
    assert elapsed < 0.6


def test_jobs_attributed_to_groups_and_busy_union():
    def start(job, group, t, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}

    def done(stage, tasks):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": stage, "Number of Tasks": tasks}}

    def task(stage, cpu_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 1}}

    events = [
        start(0, "p1|a", 100, [0, 1]), done(0, 4), done(1, 2), task(0, 5), task(1, 7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 200},
        # stage 1 is reused, skipped, by job 1
        start(1, "p1|a", 150, [1, 2]), done(2, 3), task(2, 11),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 260},
    ]
    g = jobs_by_group(events)["p1|a"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (2, 3, 9)
    assert g["result_tasks"] == 3  # the last job's result stage
    assert g["cpu_ns"] == 23 and g["gc_ms"] == 3
    assert _union_ms(g["intervals"], 0, 1000) == 160
    assert _union_ms(g["intervals"], 120, 180) == 60


class _Context:
    """The two SparkContext calls the tracer makes."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def test_plan_spans_attribute_jobs_per_query():
    tracer = Tracer(_Session(), ["qa", "qb"])
    tracer.begin_pass("p0")
    groups = []
    for name in ("plans.qa.build", "plans.qa.execute", "plans.qb.execute"):
        with tracer.span(name):
            groups.append(tracer.sc.getLocalProperty("spark.jobGroup.id"))
    tracer.end_pass(1.0)
    assert tracer.sc.getLocalProperty("spark.jobGroup.id") is None
    jobs = {g: {"jobs": n, "stages": n, "tasks": 2 * n, "result_tasks": 0, "last_job": 0,
                "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0, "intervals": []}
            for g, n in zip(groups, (1, 2, 4))}
    m = tracer.layer_metrics(jobs, "p0")
    assert set(plan_metrics(["qa", "qb"])) <= set(m)
    assert (m["plans.qa.jobs"], m["plans.qa.stages"], m["plans.qa.tasks"]) == (3, 3, 6)
    assert (m["plans.qb.jobs"], m["plans.qb.tasks"]) == (4, 8)
    assert m["plans.qb.build_s"] == 0 and m["plans.qb.execute_s"] > 0
    assert m["spark.jobs"] == 7


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "fetch_small_files", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "{" not in p.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
def test_emitted_metrics_are_the_declared_ones(trace):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    p = _run(REPO, "--workload", "fetch_small_files", "--seed", "3", "--seconds", "1",
             "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    for name in declared:
        assert f"fetch_small_files: {name} = " in p.stdout


def test_record_covers_declared_metrics_and_sizes():
    """record.json maps every per-layer metric to the end-to-end metric it
    should move, and states the sizes the workloads really use."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(REPO, "perfbench", "record.json")) as f:
        record = json.load(f)
    covered = set()
    for key in record["layer_to_end_to_end"]:
        covered.update(k.strip() for k in key.split(","))
    for m in spec["per_layer"]:
        name = m["name"]
        prefix = name.split(".")[0] + ".*"
        assert name in covered or prefix in covered, name
    for w in spec["workloads"]:
        assert w["name"] in record["workloads"]
    for name, cls in WORKLOADS.items():
        wl = cls("", 0, 1, "", 0)
        assert record["workloads"][name]["sizes"] == wl.sizes(), name
