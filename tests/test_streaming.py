"""Behavioral tests for the streaming capability layer — ports of the
reference's scenario assertions (SURVEY.md §5, FIXTURES.md §B):
backoff math, retry engine, checkpoint stores, soft/hard
classification, checkpoint-resume, initial positions, validation
barrier, monitoring event sequences, and a real Structured Streaming
end-to-end run."""

from __future__ import annotations

import random
import threading
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from go_zoom_kinesis_spark.streaming import (
    AtSequenceNumber,
    AtTimestamp,
    ExponentialBackoff,
    FixedBackoff,
    InMemoryCheckpointStore,
    JsonFileCheckpointStore,
    Latest,
    MetricsAggregator,
    ProcessorConfig,
    RetryExhausted,
    RetryHandle,
    ShutdownRequested,
    StreamProcessor,
    TrimHorizon,
)
from go_zoom_kinesis_spark.streaming import (
    limit_shard_concurrency,
    record_timeout_transform,
)
from go_zoom_kinesis_spark.streaming import monitoring as M

# --- backoff (↔ src/retry/backoff.rs:153-232) ---------------------------


def test_exponential_backoff_growth_and_cap():
    b = ExponentialBackoff(initial=0.1, maximum=3.0, multiplier=2.0, jitter_factor=0)
    assert b.delay(0) == pytest.approx(0.1)
    assert b.delay(1) == pytest.approx(0.2)
    assert b.delay(2) == pytest.approx(0.4)
    assert b.delay(10) == pytest.approx(3.0)  # capped


def test_backoff_jitter_bounds():
    b = ExponentialBackoff(initial=1.0, maximum=10.0, jitter_factor=0.5, rng=random.Random(7))
    for _ in range(200):
        d = b.delay(0)
        assert 0.5 <= d <= 1.5


def test_fixed_backoff():
    assert FixedBackoff(0.25).delay(5) == 0.25


# --- retry engine (↔ src/retry/mod.rs:125-288) --------------------------


def test_retry_success_after_n():
    calls = []

    def op(attempt):
        calls.append(attempt)
        if attempt < 2:
            raise ValueError("soft")
        return "ok"

    h = RetryHandle(max_retries=5, backoff=ExponentialBackoff(0.001, 0.002))
    assert h.retry(op) == "ok"
    assert calls == [0, 1, 2]


def test_retry_exhausted():
    h = RetryHandle(max_retries=2, backoff=ExponentialBackoff(0.001, 0.002))
    with pytest.raises(RetryExhausted) as ei:
        h.retry(lambda a: (_ for _ in ()).throw(ValueError("boom")))
    assert ei.value.attempts == 3  # initial + 2 retries


def test_retry_shutdown_interrupts_sleep():
    shutdown = threading.Event()
    h = RetryHandle(max_retries=None, backoff=ExponentialBackoff(5.0, 10.0, jitter_factor=0), shutdown=shutdown)

    def trip(attempt):
        shutdown.set()  # set during first attempt; sleep must abort
        raise ValueError("always")

    t0 = time.monotonic()
    with pytest.raises(ShutdownRequested):
        h.retry(trip)
    assert time.monotonic() - t0 < 1.0  # did not serve the 5 s backoff


# --- checkpoint stores (↔ src/store/memory.rs, dynamodb.rs) -------------


def test_memory_store_roundtrip():
    s = InMemoryCheckpointStore()
    assert s.get_checkpoint("shard-1") is None
    s.save_checkpoint("shard-1", "42")
    assert s.get_checkpoint("shard-1") == "42"


def test_json_store_roundtrip_and_prefix(tmp_path):
    s = JsonFileCheckpointStore(str(tmp_path), key_prefix="app1-")
    hundred_digit = "9" * 100  # boundary (initial_position_tests.rs:717)
    s.save_checkpoint("shard-1", hundred_digit)
    assert s.get_checkpoint("shard-1") == hundred_digit
    assert s.all_checkpoints() == {"shard-1": hundred_digit}
    # distinct prefixes do not collide
    s2 = JsonFileCheckpointStore(str(tmp_path), key_prefix="app2-")
    assert s2.get_checkpoint("shard-1") is None


# --- processor fixtures -------------------------------------------------

N_SHARDS = 4


@pytest.fixture()
def records(spark, sf_dir):
    from go_zoom_kinesis_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(N_SHARDS)).cast("string").alias("shard_id"),
        F.col("event_id").alias("sequence_number"),
        "ts",
        "event_type",
        F.col("props").alias("data"),
        "value",
    )


def classifier(df):
    """hard on event_type='error'; soft on seq%17==0 for the first
    attempt only (mock-style scripted failure, mocks.rs:306-326)."""
    return df.withColumn(
        "outcome",
        F.when(F.col("event_type") == "error", F.lit("hard"))
        .when(
            (F.col("sequence_number") % 17 == 0) & (F.col("attempt") < 1),
            F.lit("soft"),
        )
        .otherwise(F.lit("success")),
    )


def make_processor(spark, tmp_path, store=None, **kwargs):
    cfg_kwargs = {}
    for k in ("initial_position", "max_attempts", "prefer_stored_checkpoint", "validation_max_attempts", "max_concurrent_shards", "checkpoint_max_retries"):
        if k in kwargs:
            cfg_kwargs[k] = kwargs.pop(k)
    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "ckpt"),
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        **cfg_kwargs,
    )
    sunk: list = []
    dlq: list = []
    proc = StreamProcessor(
        spark,
        processor=classifier,
        store=store or InMemoryCheckpointStore(),
        config=cfg,
        sink=lambda df, e: sunk.extend(df.collect()),
        dlq_sink=lambda df, e: dlq.extend(df.collect()),
        sleep=lambda s: None,
        **kwargs,
    )
    return proc, sunk, dlq


# --- classification semantics (↔ test_suite3.rs:66-238) -----------------


def test_soft_records_retried_not_lost(spark, tmp_path, records):
    proc, sunk, dlq = make_processor(spark, tmp_path)
    proc.run_batch(records)
    total = records.count()
    n_hard = records.filter(F.col("event_type") == "error").count()
    # every non-hard record lands in the sink exactly once
    assert len(sunk) == total - n_hard
    seqs = [r["sequence_number"] for r in sunk]
    assert len(seqs) == len(set(seqs))
    # soft records appear with attempt=1 (retried once then succeeded)
    soft_seqs = {r["sequence_number"] for r in sunk if r["attempt"] == 1}
    expected_soft = {
        r["sequence_number"]
        for r in records.filter(
            (F.col("sequence_number") % 17 == 0) & (F.col("event_type") != "error")
        ).collect()
    }
    assert soft_seqs == expected_soft


def test_hard_records_quarantined(spark, tmp_path, records):
    proc, sunk, dlq = make_processor(spark, tmp_path)
    proc.run_batch(records)
    n_hard = records.filter(F.col("event_type") == "error").count()
    hard_rows = [r for r in dlq if r["dlq_reason"] == "hard_failure"]
    assert len(hard_rows) == n_hard


def test_soft_exhaustion_quarantines(spark, tmp_path, records):
    def always_soft(df):
        return df.withColumn("outcome", F.lit("soft"))

    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "c2"),
        max_attempts=2,
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
    )
    dlq: list = []
    proc = StreamProcessor(
        spark, always_soft, InMemoryCheckpointStore(), cfg,
        dlq_sink=lambda df, e: dlq.extend(df.collect()), sleep=lambda s: None,
    )
    small = records.limit(20)
    proc.run_batch(small)
    assert len(dlq) == 20
    assert all(r["dlq_reason"] == "soft_exhausted" for r in dlq)


# --- checkpoint semantics (↔ test_suite2.rs:116-168) --------------------


def test_checkpoint_is_max_success_seq(spark, tmp_path, records):
    store = InMemoryCheckpointStore()
    proc, sunk, dlq = make_processor(spark, tmp_path, store=store)
    proc.run_batch(records)
    expected = {
        str(r["shard_id"]): str(r["m"])
        for r in records.filter(F.col("event_type") != "error")
        .groupBy("shard_id")
        .agg(F.max("sequence_number").alias("m"))
        .collect()
    }
    assert store.all_checkpoints() == expected


def scripted(df):
    """Outcome from the record's ``kind``: soft fails on attempt 0
    only, hard always."""
    return df.withColumn(
        "outcome",
        F.when(F.col("kind") == "hard", F.lit("hard"))
        .when((F.col("kind") == "soft") & (F.col("attempt") == 0), F.lit("soft"))
        .otherwise(F.lit("success")),
    )


def _run_scripted(spark, tmp_path, rows, seq_type, sink=None, dlq_sink=None):
    store = InMemoryCheckpointStore()
    proc = StreamProcessor(
        spark,
        scripted,
        store,
        ProcessorConfig(
            checkpoint_location=str(tmp_path / "scripted"),
            backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        ),
        sink=sink,
        dlq_sink=dlq_sink,
        sleep=lambda s: None,
    )
    df = spark.createDataFrame(
        rows, f"shard_id string, sequence_number {seq_type}, kind string"
    )
    proc.run_batch(df)
    return store


def test_checkpoint_fold_across_retries(spark, tmp_path):
    """The checkpoint is the per-shard max over the success rows of
    EVERY attempt: a shard's highest sequence that fails soft on
    attempt 0 and succeeds on attempt 1 is its checkpoint; a shard with
    only hard failures saves none."""
    rows = [
        ("a", 1, "ok"), ("a", 5, "ok"), ("a", 9, "soft"),  # max after retry
        ("b", 2, "soft"), ("b", 7, "ok"),  # retry below attempt-0 max
        ("c", 3, "hard"), ("c", 4, "hard"),  # nothing succeeds
    ]
    store = _run_scripted(spark, tmp_path, rows, "long")
    assert store.all_checkpoints() == {"a": "9", "b": "7"}


def test_checkpoint_fold_seq_wider_than_long(spark, tmp_path):
    """100-digit string sequence numbers through ``run_batch``: the
    fold across attempts compares numerically (padded), so a shorter
    but lexicographically larger retry does not win."""
    big = "1" + "0" * 99
    rows = [
        ("a", big, "ok"), ("a", "9" * 99, "soft"),  # retry is smaller
        ("b", "5" * 99, "ok"), ("b", "7" * 100, "soft"),  # retry is larger
        ("c", "8" * 100, "hard"),
    ]
    store = _run_scripted(spark, tmp_path, rows, "string")
    assert store.all_checkpoints() == {"a": big, "b": "7" * 100}


def test_run_batch_spark_job_count(spark, tmp_path):
    """Pin the Spark jobs of one micro-batch with both real sinks: 8
    shards × 100 records, 8 soft and 1 hard. Attempt 0 and attempt 1
    each run ONE rollup action — three jobs under adaptive execution
    (the cached transform, the shuffle map stage, the result) — then
    the sink and the DLQ one ``commit_batch`` job each, and nothing
    else: no Python-worker hop, no separate checkpoint aggregation."""
    from go_zoom_kinesis_spark.sources.gzk_sink import commit_batch, read_committed
    from tests.util import spark_jobs

    soft = {(s, 10 * s + 5) for s in range(8)}
    hard = {(3, 42)}
    rows = [
        (
            f"shard-{s}",
            q,
            "hard" if (s, q) in hard else "soft" if (s, q) in soft else "ok",
        )
        for s in range(8)
        for q in range(100)
    ]
    sink, dlq = str(tmp_path / "sink"), str(tmp_path / "dlq")
    with spark_jobs(spark) as jobs:
        store = _run_scripted(
            spark, tmp_path, rows, "long",
            sink=lambda df, e: commit_batch(df, sink, e),
            dlq_sink=lambda df, e: commit_batch(df, dlq, e),
        )
    assert len(jobs) == 2 * 3 + 2
    assert len(read_committed(sink)) == 799
    assert [(r["shard_id"], r["sequence_number"]) for r in read_committed(dlq)] == [
        ("shard-3", 42)
    ]
    assert store.all_checkpoints() == {f"shard-{s}": "99" for s in range(8)}


def test_mixed_failures_one_quarantine_frame_per_attempt(spark, tmp_path):
    """hard, timeout and soft-exhausted rows in ONE batch
    (``max_attempts=2``): every DLQ row carries its outcome's reason,
    whichever attempt failed it, ``BatchMetrics.records_failed`` counts
    them all, and the DLQ is still one ``commit_batch`` job."""
    from go_zoom_kinesis_spark.sources.gzk_sink import commit_batch, read_committed
    from tests.util import spark_jobs

    def transform(df):
        retry = F.col("attempt") > 0
        kind = F.col("kind")
        return df.withColumn(
            "outcome",
            F.when(kind.isin("hard", "timeout", "soft"), kind)
            .when(
                kind.startswith("soft_then_"),
                F.when(retry, F.regexp_replace(kind, "^soft_then_", "")).otherwise("soft"),
            )
            .otherwise(F.lit("success")),
        )

    rows = [
        ("a", 1, "ok"), ("a", 2, "hard"), ("a", 3, "timeout"), ("a", 4, "soft"),
        ("a", 5, "soft_then_success"), ("b", 6, "soft"), ("b", 7, "hard"),
        ("b", 8, "ok"), ("b", 9, "soft_then_hard"), ("b", 10, "soft_then_timeout"),
    ]
    dlq_path = str(tmp_path / "dlq")
    dlq_jobs: list[int] = []

    def dlq_sink(df, epoch):
        with spark_jobs(spark) as jobs:
            commit_batch(df, dlq_path, epoch)
        dlq_jobs.append(len(jobs))

    sunk: list = []
    agg = MetricsAggregator()
    proc = StreamProcessor(
        spark, transform, InMemoryCheckpointStore(),
        ProcessorConfig(
            checkpoint_location=str(tmp_path / "mixed"),
            max_attempts=2,
            backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        ),
        aggregator=agg,
        sink=lambda df, e: sunk.extend(df.collect()),
        dlq_sink=dlq_sink,
        sleep=lambda s: None,
    )
    proc.run_batch(
        spark.createDataFrame(rows, "shard_id string, sequence_number long, kind string")
    )

    assert sorted(r["sequence_number"] for r in sunk) == [1, 5, 8]
    assert dlq_jobs == [1]
    dlq = read_committed(dlq_path)
    assert len(dlq) == 7
    assert {r["sequence_number"]: r["dlq_reason"] for r in dlq} == {
        2: "hard_failure", 3: "processing_timeout", 4: "soft_exhausted",
        6: "soft_exhausted", 7: "hard_failure", 9: "hard_failure",
        10: "processing_timeout",
    }
    (bm,) = [e.detail["metrics"] for e in agg.events if e.event_type == M.BATCH_METRICS]
    assert (bm.records_success, bm.records_failed, bm.attempt_passes) == (3, 7, 2)


def test_resume_filter_thousands_of_shards(spark, tmp_path):
    """Stored checkpoints for 2 048 shards: the resume filter stays one
    map lookup (a per-shard OR chain overflows the JVM stack at this
    size). Each shard resumes strictly after its own checkpoint; shards
    with none start at the configured AtSequenceNumber."""
    n = 2048
    store = InMemoryCheckpointStore()
    for i in range(n):
        store.save_checkpoint(f"s{i}", str(i + 1))
    rows = [(f"s{i}", i + d) for i in range(n) for d in range(3)]
    rows += [(f"new-{j}", q) for j in range(4) for q in (4998, 4999, 5000, 5001)]
    sunk: list = []
    proc = StreamProcessor(
        spark,
        lambda df: df.withColumn("outcome", F.lit("success")),
        store,
        ProcessorConfig(
            checkpoint_location=str(tmp_path / "wide"),
            initial_position=AtSequenceNumber("5000"),
        ),
        sink=lambda df, e: sunk.extend(df.collect()),
    )
    proc.run_batch(spark.createDataFrame(rows, "shard_id string, sequence_number long"))

    expected = {(f"s{i}", i + 2) for i in range(n)}
    expected |= {(f"new-{j}", q) for j in range(4) for q in (5000, 5001)}
    assert {(r["shard_id"], r["sequence_number"]) for r in sunk} == expected
    assert len(sunk) == len(expected)


def test_checkpoint_preferred_resume(spark, tmp_path, records):
    store = InMemoryCheckpointStore()
    ckpt = 500
    for shard in range(N_SHARDS):
        store.save_checkpoint(str(shard), str(ckpt))
    proc, sunk, dlq = make_processor(spark, tmp_path, store=store)
    proc.run_batch(records)
    # first processed record strictly after the stored checkpoint
    assert min(r["sequence_number"] for r in sunk) > ckpt


def test_initial_position_at_sequence(spark, tmp_path, records):
    proc, sunk, dlq = make_processor(
        spark, tmp_path, initial_position=AtSequenceNumber("800"),
        prefer_stored_checkpoint=False,
    )
    proc.run_batch(records)
    assert min(r["sequence_number"] for r in sunk) >= 800


def test_initial_position_at_timestamp(spark, tmp_path, records):
    cut = datetime(2024, 1, 20)
    proc, sunk, dlq = make_processor(
        spark, tmp_path, initial_position=AtTimestamp(cut),
        prefer_stored_checkpoint=False,
    )
    proc.run_batch(records)
    assert min(r["ts"] for r in sunk) >= cut


def test_initial_position_latest_empty(spark, tmp_path, records):
    proc, sunk, dlq = make_processor(
        spark, tmp_path, initial_position=Latest(), prefer_stored_checkpoint=False
    )
    proc.run_batch(records)
    assert sunk == []  # nothing strictly after the snapshot max


def test_position_validation_rejects_bad_config():
    with pytest.raises(ValueError):
        AtSequenceNumber("")
    with pytest.raises(ValueError):
        AtTimestamp(datetime(1960, 1, 1))


# --- checkpoint-save retry (↔ dynamodb.rs:137-163, retry/mod.rs:29) -----


class FlakyStore(InMemoryCheckpointStore):
    """Scripted transient save failures: the first ``fail_times`` saves
    per shard raise (mock-style, ref src/tests/mocks.rs)."""

    def __init__(self, fail_times: int):
        super().__init__()
        self.fail_times = fail_times
        self.fail_counts: dict = {}

    def save_checkpoint(self, shard_id, seq):
        n = self.fail_counts.get(shard_id, 0)
        if n < self.fail_times:
            self.fail_counts[shard_id] = n + 1
            raise RuntimeError("transient store outage")
        super().save_checkpoint(shard_id, seq)


def test_checkpoint_save_retries_then_succeeds(spark, tmp_path, records):
    """Two scripted save failures then success must complete the batch
    WITHOUT stream redelivery — the reference's stall-don't-fail
    checkpoint semantic ('checkpoint loss is worse than stalling')."""
    agg = MetricsAggregator()
    store = FlakyStore(fail_times=2)
    proc, sunk, dlq = make_processor(
        spark, tmp_path, store=store, aggregator=agg
    )
    proc.run_batch(records.limit(100))
    ckpts = store.all_checkpoints()
    assert ckpts  # every shard eventually committed
    types = agg.event_types()
    assert types[-1] == M.BATCH_COMPLETE  # batch completed, no raise
    assert types.count(M.CHECKPOINT_FAILURE) == 2 * len(ckpts)
    assert types.count(M.CHECKPOINT_SUCCESS) == len(ckpts)
    # retry-forever default still records each failure in shard metrics
    assert all(
        agg.metrics(s).checkpoint_failures == 2 for s in ckpts
    )


def test_checkpoint_save_bounded_retries_exhaust(spark, tmp_path, records):
    """With checkpoint_max_retries bounded below the failure count the
    commit surfaces RetryExhausted (batch fails ⇒ redelivery)."""
    from go_zoom_kinesis_spark.streaming.retry import RetryExhausted

    store = FlakyStore(fail_times=5)
    proc, sunk, dlq = make_processor(
        spark, tmp_path, store=store, checkpoint_max_retries=1
    )
    with pytest.raises(RetryExhausted):
        proc.run_batch(records.limit(100))
    assert store.all_checkpoints() == {}


def test_checkpoint_save_retry_interruptible_by_shutdown(
    spark, tmp_path, records
):
    """An always-failing store stalls the commit; a shutdown signal
    interrupts the retry sleep (ref src/retry/mod.rs:95-108)."""
    import threading

    from go_zoom_kinesis_spark.streaming.retry import ShutdownRequested

    store = FlakyStore(fail_times=10**9)
    proc, sunk, dlq = make_processor(spark, tmp_path, store=store)
    timer = threading.Timer(0.05, proc.shutdown.set)
    timer.start()
    try:
        with pytest.raises(ShutdownRequested):
            proc.run_batch(records.limit(100))
    finally:
        timer.cancel()
    assert store.all_checkpoints() == {}


# --- before_checkpoint barrier (↔ test_suite3.rs:239-541) ---------------


def test_validation_soft_blocks_checkpoint(spark, tmp_path, records):
    store = InMemoryCheckpointStore()

    from go_zoom_kinesis_spark.streaming.processor import SoftValidationError

    def always_soft_validation(items, epoch):
        raise SoftValidationError("not yet")

    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "c3"),
        validation_max_attempts=3,
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
    )
    proc = StreamProcessor(
        spark, classifier, store, cfg,
        before_checkpoint=always_soft_validation, sleep=lambda s: None,
    )
    with pytest.raises(SoftValidationError):
        proc.run_batch(records.limit(50))
    assert store.all_checkpoints() == {}  # commit stayed blocked


def test_validation_hard_proceeds(spark, tmp_path, records):
    store = InMemoryCheckpointStore()
    from go_zoom_kinesis_spark.streaming.processor import HardValidationError

    def hard_validation(items, epoch):
        raise HardValidationError("give up validating")

    cfg = ProcessorConfig(checkpoint_location=str(tmp_path / "c4"))
    proc = StreamProcessor(
        spark, classifier, store, cfg,
        before_checkpoint=hard_validation, sleep=lambda s: None,
    )
    proc.run_batch(records.limit(50))
    assert store.all_checkpoints() != {}  # proceeded to commit


def test_validation_succeeds_after_retries(spark, tmp_path, records):
    store = InMemoryCheckpointStore()
    from go_zoom_kinesis_spark.streaming.processor import SoftValidationError

    fails = {"n": 0}

    def flaky(items, epoch):
        if fails["n"] < 2:
            fails["n"] += 1
            raise SoftValidationError("retry me")

    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "c5"), validation_max_attempts=5,
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
    )
    proc = StreamProcessor(
        spark, classifier, store, cfg, before_checkpoint=flaky, sleep=lambda s: None
    )
    proc.run_batch(records.limit(50))
    assert fails["n"] == 2  # exactly 2 failures then success
    assert store.all_checkpoints() != {}


# --- monitoring (↔ monitoring_utils.rs:264-283) -------------------------


def test_monitoring_event_sequence(spark, tmp_path, records):
    agg = MetricsAggregator()
    proc, sunk, dlq = make_processor(spark, tmp_path, aggregator=agg)
    proc.run_batch(records.limit(100))
    types = agg.event_types()
    assert types[0] == M.BATCH_START
    assert types[-1] == M.BATCH_COMPLETE
    assert M.RECORD_SUCCESS in types
    assert M.CHECKPOINT_SUCCESS in types
    # ordering: all checkpoints after all record events
    assert max(i for i, t in enumerate(types) if t == M.RECORD_SUCCESS) < min(
        i for i, t in enumerate(types) if t == M.CHECKPOINT_SUCCESS
    )
    # typed batch-metrics payload (ProcessingEventType::BatchMetrics,
    # ref src/monitoring/types.rs:52-123) precedes BATCH_COMPLETE
    assert types[-2] == M.BATCH_METRICS
    (bm_event,) = [e for e in agg.events if e.event_type == M.BATCH_METRICS]
    bm = bm_event.detail["metrics"]
    assert isinstance(bm, M.BatchMetrics)
    assert bm.records_success == len(sunk)
    assert bm.checkpoints_saved == len(proc.store.all_checkpoints())
    assert bm.duration_ms > 0
    assert bm.attempt_passes >= 1


def test_metrics_aggregation_counts(spark, tmp_path, records):
    agg = MetricsAggregator()
    proc, sunk, dlq = make_processor(spark, tmp_path, aggregator=agg)
    proc.run_batch(records)
    total_ok = sum(
        m.records_processed for m in agg.emit_metrics().values() if m.shard_id != "GLOBAL"
    )
    assert total_ok == len(sunk)


def test_observe_batch_metrics(spark, sf_dir):
    """DataFrame.observe: in-pass counters must equal the same facts
    computed by a separate aggregation (M1's BatchComplete counts on
    the data path, no extra scan)."""
    from go_zoom_kinesis_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    observed, obs = M.observe_batch_metrics(ev)
    n_collected = observed.count()
    got = obs.get
    assert got["n_rows"] == n_collected
    assert got["n_null_keys"] == ev.filter(ev.event_id.isNull()).count()


def test_metrics_idle_eviction():
    agg = MetricsAggregator(window_seconds=0.01)
    agg.emit("shard-1", M.RECORD_SUCCESS, count=1)
    time.sleep(0.05)
    assert "shard-1" not in agg.emit_metrics()


# --- structured streaming end-to-end ------------------------------------


def test_streaming_end_to_end(spark, tmp_path, records):
    src_dir = str(tmp_path / "stream_src")
    records.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)

    store = InMemoryCheckpointStore()
    sunk: list = []
    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "sckpt"),
        total_timeout=120.0,
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
    )
    proc = StreamProcessor(
        spark, classifier, store, cfg,
        sink=lambda df, e: sunk.extend(df.collect()), sleep=lambda s: None,
    )
    q = proc.run_stream(stream, source_snapshot=spark.read.parquet(src_dir))
    assert proc.await_with_timeout(q)
    n_expected = records.filter(F.col("event_type") != "error").count()
    assert len(sunk) == n_expected
    assert len(store.all_checkpoints()) == N_SHARDS


# --- parallel stress (↔ test_suite.rs:707-815) --------------------------


def test_parallel_stress_8x80(spark, tmp_path):
    """The reference's flagship stress scenario: 8 shards × 80 records
    with mixed soft/hard failures — every non-hard record lands exactly
    once, every hard record quarantines, per-shard checkpoints equal
    the max successful sequence, within a small wall-clock bound
    (reference: 5 s with fully mocked I/O; here real Spark jobs run,
    so the bound is proportionally generous)."""
    n_shards, per_shard = 8, 80
    recs = spark.range(n_shards * per_shard).select(
        F.pmod(F.col("id"), F.lit(n_shards)).cast("string").alias("shard_id"),
        F.col("id").alias("sequence_number"),
        F.lit("stress").alias("event_type"),
        F.col("id").cast("string").alias("data"),
    )

    def stress_classifier(df):
        return df.withColumn(
            "outcome",
            F.when(F.col("sequence_number") % 101 == 0, F.lit("hard"))
            .when(
                (F.col("sequence_number") % 13 == 0) & (F.col("attempt") < 2),
                F.lit("soft"),
            )
            .otherwise(F.lit("success")),
        )

    store = InMemoryCheckpointStore()
    sunk: list = []
    dlq: list = []
    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "stress_ckpt"),
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        max_attempts=5,
    )
    proc = StreamProcessor(
        spark,
        processor=stress_classifier,
        store=store,
        config=cfg,
        sink=lambda df, e: sunk.extend(df.collect()),
        dlq_sink=lambda df, e: dlq.extend(df.collect()),
        sleep=lambda s: None,
    )
    t0 = time.monotonic()
    proc.run_batch(recs)
    wall = time.monotonic() - t0

    n_hard = (n_shards * per_shard + 100) // 101  # seq % 101 == 0
    assert len(sunk) == n_shards * per_shard - n_hard
    seqs = [r["sequence_number"] for r in sunk]
    assert len(seqs) == len(set(seqs))  # exactly-once per record
    assert {r["sequence_number"] for r in dlq} == {
        s for s in range(0, n_shards * per_shard, 101)
    }
    # soft records took exactly 2 retries
    assert {r["attempt"] for r in sunk if r["sequence_number"] % 13 == 0
            and r["sequence_number"] % 101 != 0} == {2}
    # per-shard checkpoint = max successful sequence on that shard
    for shard in range(n_shards):
        expected = max(
            s for s in range(shard, n_shards * per_shard, n_shards)
            if s % 101 != 0
        )
        assert store.get_checkpoint(str(shard)) == str(expected)
    assert wall < 60.0, f"stress run took {wall:.1f}s"

# --- per-record timeout T3 (↔ test_suite.rs:257-292) --------------------


def test_record_timeout_quarantines_and_batch_completes(spark, tmp_path):
    # defined in-test so cloudpickle ships it by value to executors
    def _hang_aware(rec):
        if rec["event_type"] == "hang":
            time.sleep(30.0)  # far past the guard deadline
        return "success"

    recs = spark.range(20).select(
        F.lit("0").alias("shard_id"),
        F.col("id").alias("sequence_number"),
        F.when(F.col("id") == 7, "hang").otherwise("ok").alias("event_type"),
    )
    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "t3ckpt"),
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
    )
    store = InMemoryCheckpointStore()
    sunk: list = []
    dlq: list = []
    proc = StreamProcessor(
        spark,
        processor=record_timeout_transform(_hang_aware, timeout_s=0.5),
        store=store,
        config=cfg,
        sink=lambda df, e: sunk.extend(df.collect()),
        dlq_sink=lambda df, e: dlq.extend(df.collect()),
        sleep=lambda s: None,
    )
    t0 = time.monotonic()
    proc.run_batch(recs)
    wall = time.monotonic() - t0
    # the hung record is quarantined with the timeout reason; every
    # other record still lands (batch completes — the quarantine
    # variant of the reference's ProcessingTimeout error)
    assert len(sunk) == 19
    assert [r["sequence_number"] for r in dlq] == [7]
    assert dlq[0]["dlq_reason"] == "processing_timeout"
    # checkpoint advanced past the timed-out record's successors
    assert store.get_checkpoint("0") == "19"
    # the batch did NOT wait out the 30 s hang; the generous
    # margin absorbs Spark scheduling overhead on a loaded machine
    assert wall < 30.0


# --- shard-concurrency limiter P2 (↔ test_suite2.rs:215-273) ------------


def test_concurrency_limit_enforced_wall_clock(spark):
    def _sleep_per_shard(batches):
        seen = set()
        for pdf in batches:
            for s in pdf["shard_id"].unique():
                if s not in seen:
                    seen.add(s)
                    time.sleep(0.2)  # the reference's 200 ms pre-process delay
            yield pdf

    recs = spark.range(4 * 5).select(
        F.pmod(F.col("id"), F.lit(4)).cast("string").alias("shard_id"),
        F.col("id").alias("sequence_number"),
    )
    limited = limit_shard_concurrency(recs, "shard_id", 2)
    assert limited.rdd.getNumPartitions() == 2
    t0 = time.monotonic()
    limited.mapInPandas(_sleep_per_shard, schema=recs.schema).collect()
    elapsed = time.monotonic() - t0
    # 4 shards × 200 ms at ≤2 concurrent ⇒ ≥400 ms (the reference's
    # exact wall-clock assertion)
    assert elapsed >= 0.4, f"{elapsed:.3f}s — limiter not enforced"


def test_concurrency_limit_preserves_semantics(spark, tmp_path, records):
    store = InMemoryCheckpointStore()
    proc, sunk, dlq = make_processor(
        spark, tmp_path, store=store, max_concurrent_shards=2
    )
    proc.run_batch(records)
    total = records.count()
    n_hard = records.filter(F.col("event_type") == "error").count()
    assert len(sunk) == total - n_hard
    seqs = [r["sequence_number"] for r in sunk]
    assert len(seqs) == len(set(seqs))
    assert len(store.all_checkpoints()) == N_SHARDS


# --- resharding pickup P7 + per-shard initial-position fallback ---------


def test_resharding_new_shards_picked_up(spark, tmp_path, records):
    """After a 4→8 reshard, re-listing must pick up child shards
    (src/processor.rs:535-548, test_suite2.rs:53-114). Checkpointed
    parents resume after their checkpoint; children absent from the
    store fall back to the CONFIGURED initial position (AtSequenceNumber
    here), not TrimHorizon (src/processor.rs:801-868)."""
    store = InMemoryCheckpointStore()
    proc, sunk, dlq = make_processor(spark, tmp_path, store=store)
    proc.run_batch(records)
    ckpts = {k: int(v) for k, v in store.all_checkpoints().items()}
    assert set(ckpts) == {str(s) for s in range(N_SHARDS)}

    # reshard: same stream, now keyed into 8 shards
    resharded = records.withColumn(
        "shard_id", F.pmod(F.col("sequence_number"), F.lit(8)).cast("string")
    )
    proc2, sunk2, dlq2 = make_processor(
        spark, tmp_path, store=store,
        initial_position=AtSequenceNumber("800"),
    )
    proc2.run_batch(resharded)

    got = {r["sequence_number"] for r in sunk2}
    ckpt_expr = F.create_map(
        *[x for k, v in ckpts.items() for x in (F.lit(k), F.lit(v))]
    )
    expected_df = resharded.filter(F.col("event_type") != "error").filter(
        F.when(
            F.col("shard_id").isin(list(ckpts)),
            F.col("sequence_number") > ckpt_expr[F.col("shard_id")],
        ).otherwise(F.col("sequence_number") >= 800)
    )
    expected = {r["sequence_number"] for r in expected_df.collect()}
    assert got == expected
    # the new child shards were genuinely picked up and processed
    assert {r["shard_id"] for r in sunk2} >= {"4", "5", "6", "7"}
    # and only from the configured initial position onward
    assert min(
        int(r["sequence_number"]) for r in sunk2 if r["shard_id"] in "4567"
    ) >= 800
    # children now have checkpoints of their own
    assert {str(s) for s in range(8)} <= set(store.all_checkpoints())


def test_latest_without_snapshot_warns(spark, tmp_path, records):
    proc, sunk, dlq = make_processor(
        spark, tmp_path, initial_position=Latest(), prefer_stored_checkpoint=False
    )
    with pytest.warns(UserWarning, match="Latest"):
        proc._resolve_position_filter(None)


def test_latest_auto_snapshot_true_latest(spark, tmp_path, records):
    """True Latest with no caller snapshot (src/processor.rs:825-837:
    Latest never reprocesses history): config.source_path lets the
    processor pin the stream head itself. History written before start
    must be skipped with NO degradation warning; records arriving after
    start must be processed; the pinned head must survive a query
    restart on the same processor."""
    import warnings as _w

    src_dir = str(tmp_path / "latest_src")
    history = records.filter(F.col("sequence_number") < 500)
    history.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    store = InMemoryCheckpointStore()
    sunk: list = []
    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "latest_ckpt"),
        initial_position=Latest(),
        prefer_stored_checkpoint=False,
        total_timeout=120.0,
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        source_path=src_dir,
    )
    proc = StreamProcessor(
        spark, classifier, store, cfg,
        sink=lambda df, e: sunk.extend(df.collect()), sleep=lambda s: None,
    )

    stream = spark.readStream.schema(schema).parquet(src_dir)
    with _w.catch_warnings():
        _w.simplefilter("error")  # any TrimHorizon degradation = fail
        q = proc.run_stream(stream)
        assert proc.await_with_timeout(q)
    assert sunk == []  # history precedes the pinned head

    # post-start arrivals: restart the query on the same processor
    # (same offset log); the memoized head keeps the original cut
    records.filter(F.col("sequence_number") >= 500).write.mode(
        "append"
    ).parquet(src_dir)
    stream2 = spark.readStream.schema(schema).parquet(src_dir)
    with _w.catch_warnings():
        _w.simplefilter("error")
        q2 = proc.run_stream(stream2)
        assert proc.await_with_timeout(q2)
    got = sorted(r["sequence_number"] for r in sunk)
    expected = sorted(
        r["sequence_number"]
        for r in records.filter(
            (F.col("sequence_number") >= 500)
            & (F.col("event_type") != "error")
        ).collect()
    )
    assert got == expected


def test_latest_snapshot_head_wider_than_long(spark, tmp_path):
    """Latest through ``source_snapshot`` over 100-digit string
    sequences: the head is the snapshot's numeric max, and only rows
    numerically above it pass — a shorter sequence that sorts above the
    head as a plain string does not."""
    head = "1" + "0" * 99
    history = [("a", head), ("b", "3" * 60)]
    arrivals = [
        ("a", "9" * 99), ("b", "5" * 50),  # above the head as strings only
        ("a", "1" + "0" * 98 + "1"), ("b", "2" + "0" * 99),
    ]
    schema = "shard_id string, sequence_number string"
    src_dir = str(tmp_path / "wide_src")
    spark.createDataFrame(history + arrivals, schema).write.parquet(src_dir)

    sunk: list = []
    proc = StreamProcessor(
        spark,
        lambda df: df.withColumn("outcome", F.lit("success")),
        InMemoryCheckpointStore(),
        ProcessorConfig(
            checkpoint_location=str(tmp_path / "wide_ckpt"),
            initial_position=Latest(),
            total_timeout=120.0,
        ),
        sink=lambda df, e: sunk.extend(df.collect()),
    )
    q = proc.run_stream(
        spark.readStream.schema(schema).parquet(src_dir),
        source_snapshot=spark.createDataFrame(history, schema),
    )
    assert proc.await_with_timeout(q)
    assert sorted(r["sequence_number"] for r in sunk) == sorted(
        ["1" + "0" * 98 + "1", "2" + "0" * 99]
    )


# --- iterator-expiry recovery P5 (↔ test_suite.rs:102-256) --------------


def test_iterator_expiry_recovery_sequence(spark, tmp_path, records):
    """The required monitoring sequence on expiry recovery:
    iterator_expired → iterator_renewed → record_success
    (src/tests/monitoring_utils.rs:264-283), with the renewal counted
    per shard and processing resuming after the stored checkpoint."""
    agg = MetricsAggregator()
    store = InMemoryCheckpointStore()
    proc, sunk, dlq = make_processor(
        spark, tmp_path, store=store, aggregator=agg
    )
    first_half = records.filter(F.col("sequence_number") < 500)
    proc.run_batch(first_half)
    n_first = len(sunk)

    proc.recover_iterator("1")
    proc.process_batch(records, epoch_id=1)

    evs = [e.event_type for e in agg.events if e.shard_id == "1"]
    i_exp = evs.index(M.ITERATOR_EXPIRED)
    assert evs[i_exp + 1] == M.ITERATOR_RENEWED
    assert M.RECORD_SUCCESS in evs[i_exp + 2 :]
    assert agg.metrics("1").iterator_renewals == 1
    # renewal resumed from the checkpoint: no pre-checkpoint replay
    post = [r["sequence_number"] for r in sunk[n_first:]]
    assert post and min(post) >= 500


def test_iterator_renewal_history_ring(spark, tmp_path, records):
    """r10 parity (src/processor.rs:904-908, :1387-1389): each shard
    keeps the last 10 renewals as a bounded ring — an expiry storm of
    15 renewals leaves exactly the newest 10 (resumed_from, ts) pairs,
    oldest evicted first, timestamps nondecreasing."""
    from go_zoom_kinesis_spark.streaming.monitoring import (
        ITERATOR_HISTORY_MAX,
    )

    agg = MetricsAggregator()
    store = InMemoryCheckpointStore()
    proc, sunk, dlq = make_processor(
        spark, tmp_path, store=store, aggregator=agg
    )
    proc.run_batch(records.filter(F.col("sequence_number") < 500))
    for i in range(15):
        store.save_checkpoint("1", str(500 + i))
        proc.recover_iterator("1")
    m = agg.metrics("1")
    assert m.iterator_renewals == 15
    hist = list(m.iterator_history)
    assert len(hist) == ITERATOR_HISTORY_MAX == 10
    # the newest 10 renewals survive, in order
    assert [h[0] for h in hist] == [str(500 + i) for i in range(5, 15)]
    ts = [h[1] for h in hist]
    assert ts == sorted(ts)
    # a storm on shard 1 leaves other shards' rings untouched
    assert not agg.metrics("2") or not agg.metrics("2").iterator_history


# --- monitoring rate limit M1 (↔ src/monitoring/types.rs:34) ------------


def test_monitoring_rate_limit_drops_and_recovers():
    now = [1000.0]
    agg = MetricsAggregator(rate_limit=5, clock=lambda: now[0])
    for _ in range(8):
        agg.emit("s", M.RECORD_SUCCESS, count=1)
    assert len(agg.events) == 5
    assert agg.dropped_events == 3
    # dropped events never reach the metrics fold
    assert agg.metrics("s").records_processed == 5
    # next second: budget refreshes
    now[0] += 1.0
    agg.emit("s", M.RECORD_SUCCESS, count=1)
    assert len(agg.events) == 6
    assert agg.metrics("s").records_processed == 6


def test_idempotent_sink_exactly_once_under_replay(spark, tmp_path, sf_dir):
    """Exactly-once file output from an at-least-once stream: after a
    full checkpoint wipe (worst-case replay — every batch re-fires with
    its original batch_id), the sink directory must contain each input
    record exactly once."""
    import shutil

    from pyspark.sql import functions as F

    from go_zoom_kinesis_spark.io import load_table
    from go_zoom_kinesis_spark.streaming.sinks import start_idempotent_stream

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    src = str(tmp_path / "sink_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "sink_out")
    ck = str(tmp_path / "sink_ck")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = start_idempotent_stream(stream, out, ck)
        assert q.awaitTermination(120), "streaming query did not finish in 120s"

    run()
    n_expected = events.count()
    first = spark.read.parquet(out)
    assert first.count() == n_expected

    # wipe the checkpoint: the restarted query replays EVERY batch
    shutil.rmtree(ck)
    run()
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_expected, "replay must not duplicate rows"
    assert replayed.select(F.countDistinct("event_id")).collect()[0][0] == n_expected


def test_graceful_shutdown_pending_records_redeliver(spark, tmp_path, records):
    """Graceful shutdown with pending records (↔ test_suite.rs
    test_graceful_shutdown_with_pending_records): a shutdown that fires
    during the soft-retry backoff must abort the batch BEFORE the next
    pass — no checkpoint is written, so a restarted processor over the
    same store redelivers and completes the full batch (at-least-once,
    nothing lost, nothing half-committed)."""
    store = InMemoryCheckpointStore()
    small = records.limit(40)

    def slow_soft(df):
        # soft for two passes: the batch still has pending records
        # when the shutdown lands during the first backoff sleep
        return df.withColumn(
            "outcome",
            F.when(
                (F.col("sequence_number") % 5 == 0) & (F.col("attempt") < 2),
                F.lit("soft"),
            ).otherwise(F.lit("success")),
        )

    def build(interrupt):
        cfg = ProcessorConfig(
            checkpoint_location=str(tmp_path / "ck_shut"),
            max_attempts=5,
            backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
        )
        sunk: list = []
        proc = StreamProcessor(
            spark, slow_soft, store, cfg,
            sink=lambda df, e: sunk.extend(df.collect()),
            sleep=lambda s: None,
        )
        if interrupt:
            proc._sleep = lambda s: proc.shutdown.set()
        return proc, sunk

    proc, sunk = build(interrupt=True)
    with pytest.raises(ShutdownRequested):
        proc.run_batch(small)
    # aborted batch: nothing sunk, no checkpoint committed
    for s in range(N_SHARDS):
        assert store.get_checkpoint(str(s)) is None
    assert sunk == []

    # restart: fresh processor, same store — the redelivered batch
    # completes exactly as if the shutdown never happened
    proc2, sunk2 = build(interrupt=False)
    proc2.run_batch(small)
    assert len(sunk2) == small.count()
    seqs = [r["sequence_number"] for r in sunk2]
    assert len(seqs) == len(set(seqs))
