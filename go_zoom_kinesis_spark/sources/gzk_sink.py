"""Checkpoint-style SINK: the reference's at-least-once checkpoint
commit (src/store/mod.rs trait + src/processor.rs:1542-1560 batch fold
→ save) re-expressed as a two-phase Spark writer, with two entry points
that write the same row format and the same manifest:

- ``commit_batch(df, path, batch_id)`` — the ``foreachBatch`` sink the
  ``StreamProcessor`` calls once per micro-batch. Serialisation runs on
  the JVM: ``to_json`` over the sorted columns, written as text into a
  staging dir ``<path>/tmp/<uuid>/`` in ONE Spark job, with an
  ``Observation`` on that same job yielding the manifest's row count
  and max sequence number (no second pass, no Python worker).
- the Spark 4 Python DataSource writer (``gzk_checkpoint_sink``) — each
  task serialises its partition in Python (``_write_partition``) to a
  uniquely-named temp file under ``<path>/tmp/`` and returns a commit
  message (file, row count, max sequence seen).

Protocol (the shape every transactional Spark sink uses):

1. Executors stage files under ``<path>/tmp/``. A failed or retried
   task leaves only a temp file — never visible data.
2. The driver publishes: temp files move into ``<path>/`` as
   ``*.part.jsonl`` (same-filesystem rename) and ONE manifest line
   records the batch — files not in the manifest are not data.
   ``abort()`` (or a failed ``commit_batch`` job) deletes the temps.
3. Streaming commits key the manifest by ``batchId``: re-committing an
   already-manifested batch is a NO-OP, which is what makes micro-batch
   replay after a checkpoint rollback idempotent. ``commit_batch``
   checks the manifest before launching anything, so a replay runs no
   Spark job at all.

Row format (both entry points): one JSON object per line, keys sorted,
nulls kept, timestamps as UTC ``YYYY-MM-DDTHH:MM:SS.ffffffZ`` (NTZ
timestamps as wall-clock without the ``Z``), dates ISO.

Scale: executors never coordinate (files are per task, no renames until
the driver commit); the manifest is O(batches), not O(rows); rows never
leave the executors.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import date, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

MANIFEST = "_manifest.jsonl"
SEQ_COL = "sequence_number"

# The one row format, spelled for both serialisers: Spark's ``to_json``
# (``commit_batch``) and Python's ``json`` (``_write_partition``).
_JSON_OPTIONS = {
    "ignoreNullFields": "false",
    "timeZone": "UTC",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "dateFormat": "yyyy-MM-dd",
}
_PY_TS_FORMAT = "%Y-%m-%dT%H:%M:%S.%fZ"
_PY_TS_NTZ_FORMAT = "%Y-%m-%dT%H:%M:%S.%f"


class GzkCommitMessage(WriterCommitMessage):
    def __init__(self, fname: str, n_rows: int, max_seq: int | None):
        self.fname = fname
        self.n_rows = n_rows
        self.max_seq = max_seq


def _renderers(schema) -> dict:
    """Per-column JSON renderers for the datetime columns of ``schema``.
    PySpark hands a ``TimestampType`` value to the writer as a NAIVE
    datetime in the worker's local timezone, so it is made aware
    (``astimezone`` reads naive as local) and rendered in UTC — the
    output must not depend on the host's TZ."""
    out = {}
    for f in schema.fields:
        if isinstance(f.dataType, TimestampType):
            out[f.name] = lambda v: v.astimezone(timezone.utc).strftime(_PY_TS_FORMAT)
        elif isinstance(f.dataType, TimestampNTZType):
            out[f.name] = lambda v: v.strftime(_PY_TS_NTZ_FORMAT)
        elif isinstance(f.dataType, DateType):
            out[f.name] = date.isoformat
    return out


def _write_partition(path: str, iterator, schema) -> GzkCommitMessage:
    tmp_dir = os.path.join(path, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    fname = f"{uuid.uuid4().hex}.part.jsonl"
    render = _renderers(schema)
    n, max_seq = 0, None
    with open(os.path.join(tmp_dir, fname), "w") as f:
        for row in iterator:
            d = row.asDict(recursive=True)
            for k, fn in render.items():
                if d[k] is not None:
                    d[k] = fn(d[k])
            if d.get(SEQ_COL) is not None:
                s = int(d[SEQ_COL])
                max_seq = s if max_seq is None else max(max_seq, s)
            f.write(json.dumps(d, sort_keys=True) + "\n")
            n += 1
    return GzkCommitMessage(fname, n, max_seq)


def _manifest_entries(path: str) -> list[dict]:
    """Parse manifest lines, TOLERATING a torn trailing line: a driver
    crash mid-append may leave a partial JSON line, and the recovery
    path (replay → read manifest → re-commit) must not be the one that
    breaks on it. A malformed line is skipped — its batch was never
    durably committed, which is exactly the at-least-once contract
    (the batch replays and re-appends)."""
    mf = os.path.join(path, MANIFEST)
    if not os.path.exists(mf):
        return []
    out: list[dict] = []
    with open(mf) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                out.append(json.loads(line))
            except ValueError:
                continue  # torn line from a mid-append crash
    return out


def _manifest_batches(path: str) -> set:
    return {e["batch_id"] for e in _manifest_entries(path)}


def _append_manifest(path: str, entry: dict) -> None:
    """Crash-atomic append: rewrite via temp file + os.replace so a
    crash leaves either the old manifest or the new one, never a torn
    line. O(batches) bytes per commit — the manifest is batch-grain,
    not row-grain, so this stays driver-trivial at any data scale."""
    mf = os.path.join(path, MANIFEST)
    lines = [json.dumps(e, sort_keys=True) for e in _manifest_entries(path)]
    lines.append(json.dumps(entry, sort_keys=True))
    tmp = mf + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, mf)


def _publish(path: str, staged: list[tuple[str, str]], batch_id, n_rows: int,
             max_seq: int | None) -> None:
    """Driver-side phase 2 shared by both entry points: move each staged
    ``(src, fname)`` file to ``<path>/<fname>`` and append ONE manifest
    line for the batch."""
    for src, fname in staged:
        os.replace(src, os.path.join(path, fname))
    _append_manifest(
        path,
        {
            "batch_id": batch_id,
            "files": sorted(fname for _, fname in staged),
            "n_rows": n_rows,
            "checkpoint_seq": max_seq,
        },
    )


def _commit_files(path: str, messages, batch_id, overwrite: bool = False) -> None:
    """DataSource writer commit: publish the tasks' temp files.
    Idempotent per batch_id — a replayed commit is a no-op. With
    ``overwrite`` (batch writer ``mode('overwrite')``) the existing
    manifest and data files are cleared first, so the committed state
    is exactly this job's output."""
    messages = [m for m in messages if m is not None]
    if batch_id is not None and batch_id in _manifest_batches(path):
        _abort_files(path, messages)  # replay: drop the re-written temps
        return
    if overwrite:
        # truncate-then-publish: drop the manifest first (readers see
        # "no committed data", never a mix of old manifest + missing
        # files), then the now-unreferenced data files
        mf = os.path.join(path, MANIFEST)
        if os.path.exists(mf):
            os.remove(mf)
        for fname in os.listdir(path):
            if fname.endswith(".part.jsonl"):
                os.remove(os.path.join(path, fname))
    seqs = [m.max_seq for m in messages if m.max_seq is not None]
    _publish(
        path,
        [(os.path.join(path, "tmp", m.fname), m.fname) for m in messages],
        batch_id,
        sum(m.n_rows for m in messages),
        max(seqs) if seqs else None,
    )


def _abort_files(path: str, messages) -> None:
    for m in messages:
        if m is None:
            continue
        tmp = os.path.join(path, "tmp", m.fname)
        if os.path.exists(tmp):
            os.remove(tmp)


class GzkBatchWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool = False):
        self._path = options["path"]
        self._schema = schema
        self._overwrite = overwrite

    def write(self, iterator) -> GzkCommitMessage:
        return _write_partition(self._path, iterator, self._schema)

    def commit(self, messages) -> None:
        _commit_files(self._path, messages, None, overwrite=self._overwrite)

    def abort(self, messages) -> None:
        _abort_files(self._path, messages)


class GzkStreamWriter(DataSourceStreamWriter):
    def __init__(self, options, schema):
        self._path = options["path"]
        self._schema = schema

    def write(self, iterator) -> GzkCommitMessage:
        return _write_partition(self._path, iterator, self._schema)

    def commit(self, messages, batchId: int) -> None:
        _commit_files(self._path, messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        _abort_files(self._path, messages)


class GzkSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gzk_checkpoint_sink"

    def writer(self, schema, overwrite: bool) -> GzkBatchWriter:
        return GzkBatchWriter(self.options, schema, overwrite=overwrite)

    def streamWriter(self, schema, overwrite: bool) -> GzkStreamWriter:
        return GzkStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(GzkSinkDataSource)


def commit_batch(df, path: str, batch_id: int) -> None:
    """``foreachBatch`` sink: commit one micro-batch under ``batch_id``
    — the composition point between ``StreamProcessor`` (which owns the
    micro-batch loop) and this sink's two-phase protocol.

    A ``batch_id`` already in the manifest is a replay after a
    checkpoint rollback: it returns before any Spark job runs. Otherwise
    the JVM serialises the rows (``to_json`` of the sorted columns, the
    same format ``_write_partition`` writes) into a staging dir
    ``<path>/tmp/<uuid>/`` in one job; an ``Observation`` on that job
    yields the row count and the max sequence number for the manifest,
    so neither a second pass nor a Python worker runs. The driver then
    publishes the non-empty ``part-*`` files and removes the staging
    dir, whether the job succeeded or failed. Rows never leave the
    executors; the driver sees file names and two numbers."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..streaming.checkpoint import max_seq

    if batch_id in _manifest_batches(path):
        return
    stats = [F.count(F.lit(1)).alias("n_rows")]
    if SEQ_COL in df.columns:
        stats.append(max_seq(df.schema[SEQ_COL].dataType, SEQ_COL).alias("max_seq"))
    obs = Observation()
    stage_id = uuid.uuid4().hex
    stage = os.path.join(path, "tmp", stage_id)
    try:
        (
            df.observe(obs, *stats)
            .select(F.to_json(F.struct(*sorted(df.columns)), _JSON_OPTIONS))
            .write.text(stage)
        )
        metrics = obs.get
        parts = [
            os.path.join(stage, name)
            for name in sorted(os.listdir(stage))
            if name.startswith("part-") and os.path.getsize(os.path.join(stage, name))
        ]
        staged = [(src, f"{stage_id}-{i}.part.jsonl") for i, src in enumerate(parts)]
        seq = metrics.get("max_seq")
        _publish(
            path, staged, batch_id, metrics["n_rows"], int(seq) if seq is not None else None
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def read_committed(path: str) -> list[dict]:
    """Read back ONLY manifested rows (the sink's visibility rule);
    torn trailing manifest lines are skipped, not fatal."""
    out: list[dict] = []
    for entry in _manifest_entries(path):
        for fname in entry["files"]:
            with open(os.path.join(path, fname)) as pf:
                out.extend(json.loads(ln) for ln in pf if ln.strip())
    return out
