"""Seeded inputs for the benchmark's workloads.

Every generator takes the run's seed and writes files whose sizes and
counts are the same for every seed; the seed changes names, placement
and content. The same seed always gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# stream ids keep each generator's random stream independent of the others
_FETCH, _INGEST, _QUERIES = 1, 3, 4

LINEITEM_SCHEMA = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate date"
)

_ARROW_TYPES = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "string": pa.string(),
    "date": pa.date32(),
}


def lineitem_arrow_types() -> dict[str, pa.DataType]:
    """Column name -> Arrow type of ``LINEITEM_SCHEMA``."""
    out = {}
    for field in LINEITEM_SCHEMA.split(","):
        name, typ = field.split()
        out[name] = _ARROW_TYPES[typ]
    return out


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _token(rng: np.random.Generator, n: int = 6) -> str:
    return "".join(chr(c) for c in rng.integers(97, 123, size=n))


def _csv_bytes(rng: np.random.Generator, size: int) -> bytes:
    """``size`` bytes of digit fields, 8 per line, comma-separated."""
    buf = rng.integers(48, 58, size=size, dtype=np.uint8)
    buf[7::8] = ord(",")
    buf[63::64] = ord("\n")
    buf[-1] = ord("\n")
    return buf.tobytes()


def _write(path: str, payload: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(payload)


def fetch_tree(root: str, seed: int, fanout: int, depth: int, files: int,
               file_bytes: int) -> list[str]:
    """A folder tree ``depth`` levels deep with ``fanout`` subfolders per
    folder, holding ``files`` files of ``file_bytes`` bytes spread evenly
    over all its folders. Half of the files are named ``rep_*.csv`` (the
    ones the fetch regex selects), the rest ``log_*.csv``.

    Returns the relative paths of the ``rep_*`` files."""
    rng = _rng(seed, _FETCH)
    folders = [""]
    level = [""]
    for _ in range(depth):
        nxt = []
        for parent in level:
            for i in range(fanout):
                name = f"d{i}_{_token(rng, 4)}"
                nxt.append(f"{parent}/{name}" if parent else name)
        folders += nxt
        level = nxt
    for folder in folders:
        os.makedirs(os.path.join(root, folder), exist_ok=True)
    order = rng.permutation(len(folders))
    matched = []
    for i in range(files):
        folder = folders[order[i % len(folders)]]
        prefix = "rep" if i % 2 == 0 else "log"
        name = f"{prefix}_{_token(rng)}_{i:05d}.csv"
        rel = f"{folder}/{name}" if folder else name
        _write(os.path.join(root, rel), _csv_bytes(rng, file_bytes))
        if prefix == "rep":
            matched.append(rel)
    return matched


def lineitem_table(rng: np.random.Generator, first_key: int, rows: int,
                   parts: int = 20_000) -> pa.Table:
    """TPC-H-style lineitem rows (the columns of ``LINEITEM_SCHEMA``), about
    four lines per order, part keys drawn from ``range(parts)``."""
    qty = rng.integers(1, 51, size=rows).astype(np.float64)
    price = np.round(qty * rng.integers(90_000, 210_000, size=rows) / 100.0, 2)
    day0 = np.datetime64("1995-01-02", "D").astype(np.int32)
    cols = {
        "l_orderkey": np.sort(rng.integers(first_key, first_key + rows // 4 + 1, size=rows)),
        "l_partkey": rng.integers(0, parts, size=rows),
        "l_suppkey": rng.integers(0, 1_000, size=rows),
        "l_linenumber": rng.integers(1, 8, size=rows).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, size=rows) / 100.0,
        "l_tax": rng.integers(0, 9, size=rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=rows)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=rows)],
        "l_shipdate": (day0 + rng.integers(0, 2499, size=rows)).astype("datetime64[D]"),
    }
    types = lineitem_arrow_types()
    return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})


def ingest_tree(root: str, seed: int, folders: int, files_per_folder: int,
                rows_per_file: int) -> list[str]:
    """``folders`` x ``files_per_folder`` lineitem CSV files with a header
    line, ``rows_per_file`` rows each. Returns the relative paths."""
    rng = _rng(seed, _INGEST)
    paths = []
    key = 0
    opts = pacsv.WriteOptions(include_header=True, quoting_style="needed")
    for f in range(folders):
        folder = f"region{f}_{_token(rng, 4)}"
        for i in range(files_per_folder):
            rel = f"{folder}/lineitem_{_token(rng)}_{i:02d}.csv"
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pacsv.write_csv(lineitem_table(rng, key, rows_per_file), path, opts)
            key += rows_per_file
            paths.append(rel)
    return paths


# every table the DuckDB oracle helper (tests/oracle_util.run_oracle) maps
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                 "events", "documents", "embeddings")


def query_tables(root: str, seed: int, rows: int, parts: int) -> None:
    """A table directory the registered queries and their oracles read:
    ``lineitem.parquet`` with ``rows`` rows over ``parts`` part keys
    (``l_shipdate`` a timestamp, as in the TPC-H-style test tables), and an
    empty placeholder for every other table the oracle helper maps."""
    os.makedirs(root, exist_ok=True)
    li = lineitem_table(_rng(seed, _QUERIES), 0, rows, parts)
    i = li.schema.get_field_index("l_shipdate")
    li = li.set_column(i, "l_shipdate", li.column(i).cast(pa.timestamp("us")))
    pq.write_table(li, os.path.join(root, "lineitem.parquet"))
    empty = pa.table({"placeholder": pa.array([], pa.int32())})
    for name in ORACLE_TABLES:
        if name != "lineitem":
            pq.write_table(empty, os.path.join(root, f"{name}.parquet"))


def file_sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def tree_digest(root: str) -> str:
    """SHA-256 over every file's relative path and content under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            h.update(file_sha256(path).encode())
    return h.hexdigest()
