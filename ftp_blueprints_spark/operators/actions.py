"""Action sinks — the reference's act phase (SURVEY.md §2A S6-S11,
D1-D3) as ``foreachPartition`` sinks over a destination-projected
manifest (columns ``path`` and, where applicable, ``dest_path``).

Execution model: the manifest is repartitioned to exactly
``spec.max_connections`` partitions (FTP servers throttle sessions, and
the budget is also the parallelism a sink should use), each partition
opens ONE client (connector.ClientSpec.connect) on its first row and
streams its rows; a partition with no rows never logs in. Bytes flow
executor<->server and never touch the driver.

Reference error-semantic asymmetries preserved (behavioral parity):
- download skips failed rows and keeps going, removing the partial
  file (D1, download_file.py:280-281; cleanup :202) — here hardened to
  write-to-temp + atomic rename;
- upload raises on first failure (D2, upload_file.py:190) but silently
  skips non-file sources (upload_file.py:181-183);
- move fails the job with exit code 202 on first failure
  (move_file.py:113);
- delete fails with exit code 201 on first failure (delete_file.py:85
  — the reference exits inside the callee, making its caller's
  per-file try/except dead code; we keep the observable fail-fast);
- destination folders are created idempotently before any transfer
  (S8 upload_file.py:159-171 remote, S11 download_file.py:242-245
  local true mkdir -p).
"""

from __future__ import annotations

import logging
import os
from contextlib import closing

from pyspark.sql import DataFrame

from ..errors import InvalidFilePath, MoveError, UploadError, typed_from_message
from ..sources.connector import ClientSpec

log = logging.getLogger("ftp_blueprints_spark")


def _progress(action: str, n_ok: int, n_other: int = 0, other: str = "") -> None:
    """D4 progress logging (the reference prints per-file lines,
    download_file.py:197,268,276; here one record per partition so logs
    stay bounded at scale)."""
    extra = f", {n_other} {other}" if other else ""
    log.info("[%s] partition done: %d ok%s", action, n_ok, extra)


def _bounded(df: DataFrame, spec: ClientSpec) -> DataFrame:
    """Spread the sink over exactly ``max_connections`` partitions, one
    session each: the budget bounds the fan-out AND is the parallelism
    the sink runs at. ``repartition(n)`` is a REPARTITION_BY_NUM shuffle,
    which AQE never coalesces, so a one-partition manifest still fans
    out to every session."""
    return df.repartition(max(1, spec.max_connections))


def _connected(spec: ClientSpec, rows):
    """Yield ``(client, row)`` per row over ONE client that connects on
    the first row, so an empty partition never logs in. The connect
    happens outside the sinks' per-row error handling: a login failure
    aborts the partition (exit 3), it is never a skipped row."""
    client = None
    try:
        for row in rows:
            if client is None:
                client = spec.connect()
            yield client, row
    finally:
        if client is not None:
            client.close()


def _rethrow_typed(err: Exception) -> None:
    """Executor exceptions surface as Py4J strings; map back to the
    typed error (and its exit code) at the driver boundary. Covers
    IncorrectCredentials too: a sink's spec.connect() runs INSIDE its
    partition, so a bad login fails executor-side and must still exit 3."""
    typed = typed_from_message(err)
    if typed is not None:
        raise typed from err
    raise err


def download(manifest: DataFrame, spec: ClientSpec, dest_root: str) -> dict:
    """S6+S11+D1: stream each matched remote file to ``dest_root``.

    Per-row skip on failure; partial output is impossible (temp file +
    atomic rename replaces the reference's delete-on-error). Returns
    {'ok': n, 'failed': n} from accumulators."""
    sc = manifest.sparkSession.sparkContext
    ok, failed = sc.accumulator(0), sc.accumulator(0)

    def sink(rows) -> None:
        n_ok = n_failed = 0
        with closing(_connected(spec, rows)) as pairs:
            for client, row in pairs:
                dest = os.path.join(dest_root, row["dest_path"])
                os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
                tmp = f"{dest}.inprogress"
                try:
                    with open(tmp, "wb") as f:
                        client.retrieve(row["path"], f)
                    os.replace(tmp, dest)
                    n_ok += 1
                    ok.add(1)
                except Exception:
                    if os.path.exists(tmp):
                        os.remove(tmp)
                    n_failed += 1
                    failed.add(1)  # D1: skip and continue
        _progress("download", n_ok, n_failed, "failed")

    try:
        # per-ROW failures are skipped inside the sink (D1), but a
        # connect()/login failure aborts the partition and must map back
        # to exit 3, not a raw Py4J traceback
        _bounded(manifest.select("path", "dest_path"), spec).foreachPartition(sink)
    except Exception as e:
        _rethrow_typed(e)
    return {"ok": ok.value, "failed": failed.value}


def upload(manifest: DataFrame, spec: ClientSpec, source_root: str = "") -> dict:
    """S7+S8+D2: stream each local file to its remote dest_path.

    Non-file sources are skipped without error; any transfer failure
    aborts the job (UploadError)."""
    sc = manifest.sparkSession.sparkContext
    ok, skipped = sc.accumulator(0), sc.accumulator(0)

    def sink(rows) -> None:
        made: set[str] = set()  # one mkdir -p per folder per partition,
        n_ok = n_skip = 0  # not per row (control-channel round-trips)
        with closing(_connected(spec, rows)) as pairs:
            for client, row in pairs:
                src = os.path.join(source_root, row["path"]) if source_root else row["path"]
                if not os.path.isfile(src):
                    n_skip += 1
                    skipped.add(1)
                    continue
                folder = row["dest_path"].rsplit("/", 1)[0] if "/" in row["dest_path"] else ""
                try:
                    if folder and folder not in made:
                        client.makedirs(folder)
                        made.add(folder)
                    with open(src, "rb") as f:
                        client.store(f, row["dest_path"])
                    n_ok += 1
                    ok.add(1)
                except Exception as e:
                    raise UploadError(f"failed to upload {src}: {e}") from e
        _progress("upload", n_ok, n_skip, "skipped")

    try:
        _bounded(manifest.select("path", "dest_path"), spec).foreachPartition(sink)
    except Exception as e:
        _rethrow_typed(e)
    return {"ok": ok.value, "skipped": skipped.value}


def move(manifest: DataFrame, spec: ClientSpec) -> dict:
    """S9+S8+D2: server-side rename per row — metadata-only, no data
    plane. First failure aborts with exit-202 semantics (MoveError)."""
    sc = manifest.sparkSession.sparkContext
    ok = sc.accumulator(0)

    def sink(rows) -> None:
        made: set[str] = set()  # memoized like the upload sink
        n_ok = 0
        with closing(_connected(spec, rows)) as pairs:
            for client, row in pairs:
                folder = row["dest_path"].rsplit("/", 1)[0] if "/" in row["dest_path"] else ""
                try:
                    if folder and folder not in made:
                        client.makedirs(folder)
                        made.add(folder)
                    client.rename(row["path"], row["dest_path"])
                    n_ok += 1
                    ok.add(1)
                except Exception as e:
                    raise MoveError(f"failed to move {row['path']}: {e}") from e
        _progress("move", n_ok)

    try:
        _bounded(manifest.select("path", "dest_path"), spec).foreachPartition(sink)
    except Exception as e:
        _rethrow_typed(e)
    return {"ok": ok.value}


def delete(manifest: DataFrame, spec: ClientSpec) -> dict:
    """S10: delete each matched remote file; first failure aborts with
    exit-201 semantics (InvalidFilePath)."""
    sc = manifest.sparkSession.sparkContext
    ok = sc.accumulator(0)

    def sink(rows) -> None:
        n_ok = 0
        with closing(_connected(spec, rows)) as pairs:
            for client, row in pairs:
                try:
                    client.delete(row["path"])
                    n_ok += 1
                    ok.add(1)
                except Exception as e:
                    raise InvalidFilePath(f"failed to delete {row['path']}: {e}") from e
        _progress("delete", n_ok)

    try:
        _bounded(manifest.select("path"), spec).foreachPartition(sink)
    except Exception as e:
        _rethrow_typed(e)
    return {"ok": ok.value}
