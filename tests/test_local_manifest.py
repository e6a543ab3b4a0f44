"""The listed manifest stays in the JVM: ``session.local_frame`` builds
driver-held rows as an Arrow-backed ``LocalRelation``, the numbering
pass adds per-partition offsets as plan literals instead of joining an
offsets frame, and the F7 no-match guard runs no job over it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from ftp_blueprints_spark.errors import NoMatchesFound
from ftp_blueprints_spark.operators.manifest import (
    match_files,
    require_matches,
    with_destination,
    with_file_numbers,
)
from ftp_blueprints_spark.session import local_frame
from ftp_blueprints_spark.sources.connector import ClientSpec
from ftp_blueprints_spark.sources.listing import MANIFEST_SCHEMA, list_tree

from .ftp_stub_server import FtpStubServer

TREE = {
    "reports/2024/jan.csv": b"jan-data",
    "reports/2024/feb.csv": b"feb-data",
    "reports/2024/notes.txt": b"notes",
    "reports/summary.csv": b"summary",
    "raw/a.bin": b"\x00\x01\x02",
}
USERS = {"alice": "secret"}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_run_by(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


# --------------------------------------------------------- local_frame


def test_local_frame_round_trip(spark):
    rows = [
        ("a/ü.csv", "a", "ü.csv", False, 2**53 + 1),
        ("a/日本.txt", "a", "日本.txt", False, None),
        ("a/sub", "a", "sub", True, None),
        ("a/big", "a", "big", False, 2**63 - 1),
    ]
    df = local_frame(spark, rows, MANIFEST_SCHEMA)
    assert df.schema.simpleString() == (
        "struct<path:string,folder:string,name:string,is_dir:boolean,size:bigint>"
    )
    assert [tuple(r) for r in df.collect()] == rows
    assert df.filter(F.col("size").isNull()).count() == 2
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_frame_empty_keeps_schema(spark):
    df = local_frame(spark, [], MANIFEST_SCHEMA)
    assert df.columns == ["path", "folder", "name", "is_dir", "size"]
    assert dict(df.dtypes)["size"] == "bigint"
    assert df.collect() == []
    assert "LocalTableScan" in _executed_plan(df)


# ------------------------------------------------- plan shape over list_tree


def _write_tree(root) -> None:
    for rel, data in TREE.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)


def _check_manifest_stays_in_jvm(spark, manifest) -> None:
    matched = match_files(manifest, pattern="[.]csv$")
    match_plan = _executed_plan(matched)
    assert "LocalTableScan" in match_plan
    assert "ExistingRDD" not in match_plan
    assert _jobs_run_by(spark, "require-matches-local", lambda: require_matches(matched)) == []

    out = with_destination(matched, "out", "x.csv")
    plan = _executed_plan(out)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    # the one RDD the plan scans is the numbering checkpoint
    assert plan.count("Scan ExistingRDD") == 1
    assert sorted((r["path"], r["dest_path"]) for r in out.collect()) == [
        ("reports/2024/feb.csv", "out/x_1.csv"),
        ("reports/2024/jan.csv", "out/x_2.csv"),
        ("reports/summary.csv", "out/x_3.csv"),
    ]


def test_list_tree_manifest_is_a_local_relation(spark, tmp_path):
    _write_tree(tmp_path)
    spec = ClientSpec(kind="local", root=str(tmp_path), max_connections=4)
    _check_manifest_stays_in_jvm(spark, list_tree(spark, spec, ""))


def test_list_tree_manifest_is_a_local_relation_over_ftp(spark, tmp_path):
    _write_tree(tmp_path)
    with FtpStubServer(str(tmp_path), USERS) as (host, port):
        spec = ClientSpec(
            kind="ftp", host=host, port=port, username="alice",
            password="secret", timeout=10, max_connections=4,
        )
        manifest = list_tree(spark, spec, "")
    _check_manifest_stays_in_jvm(spark, manifest)


def test_pruned_missing_seed_is_an_empty_local_relation(spark, tmp_path):
    _write_tree(tmp_path)
    spec = ClientSpec(kind="local", root=str(tmp_path), max_connections=4)
    mf = list_tree(spark, spec, "", path_pattern="^nowhere/.*")
    assert "LocalTableScan" in _executed_plan(mf)
    assert _jobs_run_by(
        spark, "require-matches-empty",
        lambda: pytest.raises(NoMatchesFound, require_matches, mf),
    ) == []


# ------------------------------------------------------ numbering offsets


@pytest.mark.parametrize("n", [1, 2, 3, 1000])
def test_file_numbers_equal_global_row_number(spark, n):
    """Literal offsets number exactly like a global row_number, whether
    the range exchange fills one partition (n=1) or spreads the matches
    over n (n=2, 3) or 32 (n=1000) partitions."""
    rows = [
        (f"d{i % 7}/f{(i * 7919) % 100003:06d}.csv", f"d{i % 7}",
         f"f{(i * 7919) % 100003:06d}.csv", False, i)
        for i in range(n)
    ]
    # without coalescing, the range exchange keeps up to 32 partitions
    confs = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        matched = match_files(local_frame(spark, rows, MANIFEST_SCHEMA), pattern="[.]csv$")
        got = sorted(
            tuple(r) for r in with_file_numbers(matched).select("path", "file_number").collect()
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    want = sorted(
        tuple(r)
        for r in matched.select(
            "path", F.row_number().over(Window.orderBy("path")).alias("file_number")
        ).collect()
    )
    assert len(got) == n
    assert got == want
