"""Two-phase checkpoint sink: batch and streaming writes (Python
DataSource writer API) and ``commit_batch`` (JVM serialisation) publish
only driver-committed files in one row format, and a replayed
micro-batch commit is a no-op."""

from __future__ import annotations

import json
import os
import time
from datetime import date, datetime, timezone

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_zoom_kinesis_spark.io import load_table
from go_zoom_kinesis_spark.sources.gzk_sink import (
    GzkCommitMessage,
    _commit_files,
    _manifest_entries,
    _write_partition,
    commit_batch,
    read_committed,
    register,
)
from tests.util import spark_jobs


def _events_slice(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("sequence_number"),
            "user_id",
            "event_type",
        )
    )


def test_batch_write_commits_all_partitions(spark, sf_dir, tmp_path):
    register(spark)
    path = str(tmp_path / "sink_batch")
    df = _events_slice(spark, sf_dir)
    df.write.format("gzk_checkpoint_sink").mode("append").save(path)

    rows = read_committed(path)
    exp = [r.asDict() for r in df.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(rows, key=key) == sorted(exp, key=key)
    # phase-2 visibility rule: nothing left un-published
    assert os.listdir(os.path.join(path, "tmp")) == []
    # manifest checkpoint fold = max sequence across partitions
    with open(os.path.join(path, "_manifest.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    assert len(entries) == 1
    assert entries[0]["checkpoint_seq"] == max(e["sequence_number"] for e in exp)
    assert entries[0]["n_rows"] == len(exp)


def test_stream_write_equals_batch(spark, sf_dir, tmp_path):
    register(spark)
    src = str(tmp_path / "sink_src")
    batch = _events_slice(spark, sf_dir)
    batch.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    path = str(tmp_path / "sink_stream")
    q = (
        stream.writeStream.format("gzk_checkpoint_sink")
        .option("path", path)
        .option("checkpointLocation", str(tmp_path / "ck_sink"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"

    rows = read_committed(path)
    exp = [r.asDict() for r in batch.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(rows, key=key) == sorted(exp, key=key)
    with open(os.path.join(path, "_manifest.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    assert all(e["batch_id"] is not None for e in entries)


def test_replayed_batch_commit_is_noop(tmp_path):
    """The at-least-once contract: re-committing an already-manifested
    batchId publishes nothing and drops the replayed temp files."""
    path = str(tmp_path / "sink_replay")
    os.makedirs(os.path.join(path, "tmp"))

    def stage(fname, rows):
        with open(os.path.join(path, "tmp", fname), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return GzkCommitMessage(fname, len(rows), max(r["sequence_number"] for r in rows))

    m1 = stage("a.part.jsonl", [{"sequence_number": 1}, {"sequence_number": 7}])
    _commit_files(path, [m1], 0)
    assert len(read_committed(path)) == 2

    # micro-batch 0 replays after a checkpoint rollback: same batchId,
    # fresh temp file — must NOT double-publish
    m2 = stage("b.part.jsonl", [{"sequence_number": 1}, {"sequence_number": 7}])
    _commit_files(path, [m2], 0)
    assert len(read_committed(path)) == 2
    assert os.listdir(os.path.join(path, "tmp")) == []

    # a NEW batch still publishes
    m3 = stage("c.part.jsonl", [{"sequence_number": 9}])
    _commit_files(path, [m3], 1)
    assert len(read_committed(path)) == 3


def test_torn_manifest_line_tolerated(tmp_path):
    """Crash-recovery hardening (r7 advice): a driver crash mid-append
    can leave a partial JSON line; every subsequent read AND commit
    must skip it instead of raising — the un-manifested batch simply
    replays (at-least-once)."""
    from go_zoom_kinesis_spark.sources.gzk_sink import MANIFEST, _manifest_batches

    path = str(tmp_path / "sink_torn")
    os.makedirs(os.path.join(path, "tmp"))

    def stage(fname, rows):
        with open(os.path.join(path, "tmp", fname), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return GzkCommitMessage(
            fname, len(rows), max(r["sequence_number"] for r in rows)
        )

    _commit_files(path, [stage("a.part.jsonl", [{"sequence_number": 1}])], 0)
    # simulate the crash: torn half-written line at the tail
    with open(os.path.join(path, MANIFEST), "a") as f:
        f.write('{"batch_id": 1, "files": ["b.part.jso')

    assert _manifest_batches(path) == {0}
    assert len(read_committed(path)) == 1
    # the recovery commit (replay of batch 1) must succeed and heal the
    # manifest (atomic rewrite drops the torn line)
    _commit_files(path, [stage("b.part.jsonl", [{"sequence_number": 2}])], 1)
    assert _manifest_batches(path) == {0, 1}
    assert len(read_committed(path)) == 2
    with open(os.path.join(path, MANIFEST)) as f:
        for line in f:
            json.loads(line)  # every surviving line is whole


def test_batch_overwrite_mode_truncates(spark, sf_dir, tmp_path):
    """``mode('overwrite')`` must replace the committed state, not
    silently append (r7 advice: the writer used to ignore the flag)."""
    register(spark)
    path = str(tmp_path / "sink_overwrite")
    df = _events_slice(spark, sf_dir)

    df.write.format("gzk_checkpoint_sink").mode("append").save(path)
    n1 = len(read_committed(path))
    assert n1 > 0

    # append doubles; overwrite resets to exactly one copy
    df.write.format("gzk_checkpoint_sink").mode("append").save(path)
    assert len(read_committed(path)) == 2 * n1
    df.write.format("gzk_checkpoint_sink").mode("overwrite").save(path)
    rows = read_committed(path)
    assert len(rows) == n1
    exp = [r.asDict() for r in df.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(rows, key=key) == sorted(exp, key=key)
    # no orphaned data files outside the manifest
    manifested = {f for e in __import__(
        "go_zoom_kinesis_spark.sources.gzk_sink", fromlist=["_manifest_entries"]
    )._manifest_entries(path) for f in e["files"]}
    on_disk = {f for f in os.listdir(path) if f.endswith(".part.jsonl")}
    assert on_disk == manifested


# --- commit_batch: the JVM-serialised foreachBatch entry point ---------

TS = datetime(2026, 1, 1, 12, 34, 56, 123456, tzinfo=timezone.utc)
WALL = datetime(2026, 3, 4, 5, 6, 7, 8)  # TIMESTAMP_NTZ: no zone at all
DAY = date(2026, 2, 3)
SEQ_56 = "4" * 56  # Kinesis-width sequence number: overflows a long
ROW_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.StringType()),
        T.StructField("sequence_number", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("note", T.StringType()),
        T.StructField("wall", T.TimestampNTZType()),
        T.StructField("day", T.DateType()),
    ]
)


def test_both_entry_points_write_one_row_format(spark, tmp_path, monkeypatch):
    """The DataSource writer (Python, per task) and ``commit_batch``
    (JVM ``to_json``) write lines that parse to equal dicts: sorted
    keys, nulls kept, timestamps in UTC whatever the session's or the
    worker's timezone, NTZ timestamps as wall clock, dates ISO."""
    register(spark)
    df = spark.createDataFrame([("shard-0", SEQ_56, TS, None, WALL, DAY)], ROW_SCHEMA)
    ds_path, cb_path = str(tmp_path / "ds"), str(tmp_path / "cb")
    df.write.format("gzk_checkpoint_sink").mode("append").save(ds_path)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        commit_batch(df, cb_path, 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)

    want = {
        "day": "2026-02-03",
        "note": None,
        "sequence_number": SEQ_56,
        "shard_id": "shard-0",
        "ts": "2026-01-01T12:34:56.123456Z",
        "wall": "2026-03-04T05:06:07.000008",
    }
    assert read_committed(ds_path) == read_committed(cb_path) == [want]
    for path in (ds_path, cb_path):
        (line,) = [
            ln
            for e in _manifest_entries(path)
            for f in e["files"]
            for ln in open(os.path.join(path, f))
        ]
        assert list(json.loads(line)) == sorted(want)
        (entry,) = _manifest_entries(path)
        assert entry["checkpoint_seq"] == int(SEQ_56)

    # the Python writer on a worker whose local zone is not UTC: PySpark
    # hands it the timestamp as a naive local datetime
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        local = TS.astimezone().replace(tzinfo=None)
        row = Row(
            shard_id="shard-0", sequence_number=SEQ_56, ts=local, note=None,
            wall=WALL, day=DAY,
        )
        tz_path = str(tmp_path / "tz")
        msg = _write_partition(tz_path, iter([row]), ROW_SCHEMA)
        with open(os.path.join(tz_path, "tmp", msg.fname)) as f:
            assert json.loads(f.read()) == want
    finally:
        monkeypatch.undo()
        time.tzset()


def test_commit_batch_seq_wider_than_long(spark, tmp_path):
    """A 100-digit string sequence column: the manifest's
    ``checkpoint_seq`` is the true numeric maximum as an int — not a
    lexicographic maximum, a null or a wrapped long."""
    seqs = ["1" + "0" * 99, "9" * 99, "123"]
    df = spark.createDataFrame(
        [("shard-0", s) for s in seqs], "shard_id string, sequence_number string"
    )
    path = str(tmp_path / "wide")
    commit_batch(df, path, 0)
    (entry,) = _manifest_entries(path)
    assert entry["checkpoint_seq"] == 10**99
    assert entry["n_rows"] == 3
    assert sorted(r["sequence_number"] for r in read_committed(path)) == sorted(seqs)
    assert os.listdir(os.path.join(path, "tmp")) == []


def _tree_bytes(path: str) -> dict:
    out = {}
    for root, dirs, files in os.walk(path):
        out[os.path.relpath(root, path)] = sorted(dirs)
        for name in files:
            with open(os.path.join(root, name), "rb") as f:
                out[os.path.relpath(os.path.join(root, name), path)] = f.read()
    return out


def test_commit_batch_one_job_and_replay_runs_none(spark, sf_dir, tmp_path):
    """A commit is ONE Spark job (serialisation, staging and the
    observed count/max together); replaying a manifested ``batch_id``
    is decided from the manifest before any job is launched, and leaves
    the sink byte-identical."""
    df = _events_slice(spark, sf_dir)
    path = str(tmp_path / "sink_jobs")
    with spark_jobs(spark) as first:
        commit_batch(df, path, 0)
    assert len(first) == 1
    before = _tree_bytes(path)

    with spark_jobs(spark) as replay:
        commit_batch(df, path, 0)
    assert replay == []
    assert _tree_bytes(path) == before

    exp = [r.asDict() for r in df.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(read_committed(path), key=key) == sorted(exp, key=key)
    (entry,) = _manifest_entries(path)
    assert entry["n_rows"] == len(exp)
    assert entry["checkpoint_seq"] == max(e["sequence_number"] for e in exp)


def test_commit_batch_failed_job_leaves_nothing(spark, tmp_path):
    """A job that fails mid-write publishes nothing and leaves no
    staging dir behind; the same batch then commits cleanly."""
    df = spark.createDataFrame(
        [("shard-0", i) for i in range(10)], "shard_id string, sequence_number long"
    )
    path = str(tmp_path / "sink_fail")
    broken = df.withColumn(
        "x", F.when(F.col("sequence_number") == 7, F.raise_error(F.lit("boom")))
    )
    with pytest.raises(Exception, match="boom"):
        commit_batch(broken, path, 0)
    assert os.listdir(os.path.join(path, "tmp")) == []
    assert _manifest_entries(path) == []

    commit_batch(df, path, 0)
    assert sorted(r["sequence_number"] for r in read_committed(path)) == list(range(10))
