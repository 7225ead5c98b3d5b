"""The two streaming workloads, both driven through the package's public
API: a source → ``StreamProcessor.run_stream`` → ``JsonFileCheckpointStore``
→ ``gzk_sink.commit_batch`` for the sink and the dead-letter queue (DLQ).

- ``poll_small``: a closed-loop poller. One parquet file per GetRecords
  round (8 shards × 100 records, the reference's default GetRecords
  limit), ``maxFilesPerTrigger=1`` so each micro-batch is one round.
  Fixed per-batch work dominates.
- ``drain_bulk``: the Kinesis-shaped ``gzk_stream`` DataSource, 8 shards
  × 62 500 records drained in one micro-batch. Per-record work
  dominates.

Both use one user map: a record whose class ``(payload_hash + salt) mod
1000`` is 0 fails hard (0.1 %, DLQ), 1..10 fails soft on its first
attempt (1 %, retried once, then succeeds); everything else succeeds.
The salt comes from the seed.

Records are keyed ``shard * KEY_SHARD + sequence_number`` in the output
checks, so whole runs compare as sorted integer arrays.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np

from . import harness
from .trace import NullTracer, durations_ms

SHARDS = 8
ROUND_RECORDS_PER_SHARD = 100  # reference GetRecords default
CLASSES = 1000
HARD_CLASS = 0  # 0.1 % of records
SOFT_CLASSES = range(1, 11)  # 1 % of records
# poll_small rounds hold exact counts, so every micro-batch does the same
# kind of work: 1 hard (0.125 %) and 8 soft (1 %) records of 800
HARD_PER_ROUND, SOFT_PER_ROUND = 1, 8
P = 2_147_483_647  # modulus of the source's payload hash
KEY_SHARD = 10**13  # sequence numbers stay below this

# poll_small: warm-up micro-batches; the steady ones size the measured run
WARMUP_ROUNDS = 5
# drain_bulk: records per shard in a measured drain and in the small
# drains that warm up each session
DRAIN_RECORDS_PER_SHARD = 62_500
WARMUP_DRAIN_RECORDS_PER_SHARD = 500
ONE_CORE_DRAIN_RECORDS_PER_SHARD = 10_000


def salt_for(seed: int) -> int:
    return random.Random(f"classes-{seed}").randrange(CLASSES)


def user_map(salt: int):
    """The user transform: tag each record success/soft/hard."""
    from pyspark.sql import functions as F

    def transform(df):
        c = F.pmod(F.col("payload_hash") + F.lit(salt), F.lit(CLASSES))
        outcome = (
            F.when(c == HARD_CLASS, F.lit("hard"))
            .when(
                (c >= SOFT_CLASSES.start)
                & (c < SOFT_CLASSES.stop)
                & (F.col("attempt") == 0),
                F.lit("soft"),
            )
            .otherwise(F.lit("success"))
        )
        return df.withColumn("payload_len", F.length("payload")).withColumn(
            "outcome", outcome
        )

    return transform


@dataclass
class Expected:
    """Sorted keys the sink and the DLQ must hold once the run is over."""

    ok: np.ndarray
    dlq: np.ndarray

    @classmethod
    def from_hashes(cls, keys: np.ndarray, payload_hash: np.ndarray, salt: int):
        hard = (payload_hash + salt) % CLASSES == HARD_CLASS
        return cls(np.sort(keys[~hard]), np.sort(keys[hard]))

    @property
    def records(self) -> int:
        return len(self.ok) + len(self.dlq)

    def checkpoints(self) -> dict[str, int]:
        """Per shard, the highest sequence number that succeeded."""
        shard = self.ok // KEY_SHARD
        return {
            f"shard-{s}": int((self.ok[shard == s] % KEY_SHARD).max())
            for s in np.unique(shard)
        }


# --- the pipeline under test ------------------------------------------


class Pipeline:
    """One ``StreamProcessor`` with its own checkpoint store, sink, DLQ
    and Spark checkpoint location under ``root``. With a live tracer the
    processor, store and sinks run inside spans."""

    def __init__(self, spark, root: str, salt: int, tracer, op_prefix: str):
        from go_zoom_kinesis_spark.sources.gzk_sink import commit_batch
        from go_zoom_kinesis_spark.streaming import (
            ExponentialBackoff,
            JsonFileCheckpointStore,
            MetricsAggregator,
            ProcessorConfig,
            StreamProcessor,
        )

        self.sink_path = os.path.join(root, "sink")
        self.dlq_path = os.path.join(root, "dlq")
        self.store = JsonFileCheckpointStore(os.path.join(root, "store"))
        # large enough to keep every event of a run
        self.aggregator = MetricsAggregator(buffer_size=10_000_000)
        self.tracer = tracer
        self.traced_store = TracedStore(self.store, tracer) if tracer.enabled else None

        def sink(df, epoch):
            with tracer.span("sink.commit"):
                commit_batch(df, self.sink_path, epoch)

        def dlq(df, epoch):
            with tracer.span("dlq.commit"):
                commit_batch(df, self.dlq_path, epoch)

        class Processor(StreamProcessor):
            def process_batch(self, batch_df, epoch_id):
                with tracer.span("processor.batch", op=f"{op_prefix}-{epoch_id}"):
                    super().process_batch(batch_df, epoch_id)

        self.processor = Processor(
            spark,
            processor=user_map(salt),
            store=self.traced_store or self.store,
            config=ProcessorConfig(
                checkpoint_location=os.path.join(root, "spark-checkpoint"),
                # a short fixed retry pause: the benchmark measures
                # processing cost, not the reference's 100 ms back-off
                backoff=ExponentialBackoff(0.01, 0.01, jitter_factor=0.0),
            ),
            aggregator=self.aggregator,
            sink=sink,
            dlq_sink=dlq,
        )

    def run(self, stream_df):
        """Run the query to termination. Returns ``(wall_s, cpu_s,
        query, error)``: wall time, CPU time of the whole process tree,
        and the exception the query died with, if it did. Sets
        ``python_peak_mb``, this driver process's peak resident set
        while the query ran (the benchmark's own checks do not count)."""
        harness.reset_vm_hwm()
        cpu0, t0 = harness.tree_cpu_s(), time.perf_counter()
        query = self.processor.run_stream(stream_df)
        error = None
        try:
            query.awaitTermination()
        except Exception as e:  # the query died: its batches count as failed
            error = e
        wall, cpu = time.perf_counter() - t0, harness.tree_cpu_s() - cpu0
        self.python_peak_mb = harness.vm_hwm_mb()
        return wall, cpu, query, error

    def batch_metrics(self):
        from go_zoom_kinesis_spark.streaming import monitoring as M

        return [
            e.detail["metrics"]
            for e in self.aggregator.events
            if e.event_type == M.BATCH_METRICS
        ]


class TracedStore:
    """Delegating ``CheckpointStore`` that records a span per save and
    counts saves and failures."""

    def __init__(self, inner, tracer):
        self.inner = inner
        self.tracer = tracer
        self.saves = 0
        self.failures = 0

    def get_checkpoint(self, shard_id):
        return self.inner.get_checkpoint(shard_id)

    def all_checkpoints(self):
        return self.inner.all_checkpoints()

    def save_checkpoint(self, shard_id, sequence_number):
        with self.tracer.span("checkpoint.save"):
            try:
                self.inner.save_checkpoint(shard_id, sequence_number)
            except Exception:
                self.failures += 1
                raise
        self.saves += 1


# --- output checks (outside the timed region) --------------------------


def read_committed(path: str) -> tuple[np.ndarray, dict]:
    """Keys of every row the sink's manifest publishes, in file order,
    and the sizes of those rows and of the manifest."""
    import duckdb

    sizes = {"rows": 0, "row_bytes": 0, "manifest_bytes": 0}
    manifest = os.path.join(path, "_manifest.jsonl")
    if not os.path.exists(manifest):
        return np.empty(0, dtype=np.int64), sizes
    sizes["manifest_bytes"] = os.path.getsize(manifest)
    with open(manifest) as f:
        files = [
            os.path.join(path, name)
            for line in f
            if line.strip()
            for name in json.loads(line)["files"]
        ]
    sizes["row_bytes"] = sum(os.path.getsize(p) for p in files)
    with duckdb.connect() as con:
        keys = con.execute(
            f"""SELECT CAST(split_part(shard_id, '-', 2) AS BIGINT) * {KEY_SHARD}
                       + sequence_number AS k
                FROM read_json(?, format = 'newline_delimited',
                    columns = {{'shard_id': 'VARCHAR', 'sequence_number': 'BIGINT'}})""",
            [files],
        ).fetchnumpy()["k"]
    sizes["rows"] = len(keys)
    return np.asarray(keys, dtype=np.int64), sizes


def _compare(what: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    got = np.sort(got)
    if np.array_equal(got, want):
        return []
    dup = len(got) - len(np.unique(got))
    missing = len(np.setdiff1d(want, got))
    extra = len(np.setdiff1d(got, want))
    return [f"{what}: {missing} missing, {extra} unexpected, {dup} duplicated"]


def check_outputs(pipe: Pipeline, expected: Expected) -> list[str]:
    """Compare the sink, the DLQ and the checkpoint store with what the
    run must have produced, and look for orphaned sink temp files.
    Returns the problems found."""
    problems = _compare("sink", read_committed(pipe.sink_path)[0], expected.ok)
    problems += _compare("dlq", read_committed(pipe.dlq_path)[0], expected.dlq)
    got = {s: int(v) for s, v in pipe.store.all_checkpoints().items()}
    if got != expected.checkpoints():
        problems.append(f"checkpoint store: {got} != {expected.checkpoints()}")
    for path in (pipe.sink_path, pipe.dlq_path):
        tmp = os.path.join(path, "tmp")
        if os.path.isdir(tmp) and os.listdir(tmp):
            problems.append(f"orphaned temp files under {tmp}")
    return problems


# --- per-layer metrics ---------------------------------------------------


def batch_progress(query) -> list:
    """Progress of every micro-batch that read input."""
    return [p for p in query.recentProgress if p.numInputRows > 0]


STREAM_PHASES = {
    "spark_stream.latest_offset_ms": "latestOffset",
    "spark_stream.query_planning_ms": "queryPlanning",
    "spark_stream.wal_commit_ms": "walCommit",
    "spark_stream.add_batch_ms": "addBatch",
    "spark_stream.commit_offsets_ms": "commitOffsets",
}


def layer_metrics(spark, pipe: Pipeline, query, expected: Expected) -> dict:
    """The per-layer table of one traced query (see README.md)."""
    tr = pipe.tracer
    progress = batch_progress(query)
    n_batches = max(len(progress), 1)
    out = {
        name: harness.median([p.durationMs.get(key, 0) for p in progress])
        for name, key in STREAM_PHASES.items()
    }
    jobs, tasks = harness.jobs_and_tasks(spark, str(query.runId))
    bm = pipe.batch_metrics()
    attempts = sum(m.records_success + m.records_failed + m.soft_retries for m in bm)
    sink = read_committed(pipe.sink_path)[1]
    dlq = read_committed(pipe.dlq_path)[1]
    dlq_ms = durations_ms(tr.named("dlq.commit"))
    out.update(
        {
            "processor.batch_ms": harness.median(durations_ms(tr.named("processor.batch"))),
            "processor.self_ms": harness.median(tr.self_ms("processor.batch")),
            "processor.spark_jobs_per_batch": jobs / n_batches,
            "processor.spark_tasks_per_batch": tasks / n_batches,
            "processor.attempt_passes": harness.median([m.attempt_passes for m in bm]),
            "processor.soft_retries": sum(m.soft_retries for m in bm),
            "processor.useful_ratio": expected.records / attempts,
            "checkpoint.saves_per_batch": pipe.traced_store.saves / n_batches,
            "checkpoint.save_ms": harness.median(durations_ms(tr.named("checkpoint.save"))),
            "checkpoint.failures": pipe.traced_store.failures,
            "sink.commit_ms": harness.median(durations_ms(tr.named("sink.commit"))),
            "sink.rows": sink["rows"],
            "sink.bytes_per_row": sink["row_bytes"] / max(sink["rows"], 1),
            "sink.manifest_bytes": sink["manifest_bytes"],
            "dlq.commit_ms": harness.median(dlq_ms) if dlq_ms else 0.0,
            "dlq.rows": dlq["rows"],
            "monitoring.events": len(pipe.aggregator.events),
            "monitoring.dropped_events": pipe.aggregator.dropped_events,
        }
    )
    return out


def _result(ops: int, problems: list[str], records: int, walls: list[float],
            cpus: list[float], cycles: list[float], python_peak_mb: float) -> dict:
    return {
        "attempted": ops,
        "failed": ops if problems else 0,
        "problems": problems,
        "cycles": cycles,
        "e2e": {
            "records_per_s": records / sum(walls),
            "cycle_p50_s": harness.median(cycles),
        },
        "cpu_ms_per_record": 1000.0 * sum(cpus) / records,
        "python_peak_mb": python_peak_mb,
    }


# --- poll_small ----------------------------------------------------------


def write_rounds(src: str, rounds: range, salt: int, rng: np.random.Generator) -> Expected:
    """One parquet file per GetRecords round, holding every shard's next
    100 records, with the hard and soft records at seeded positions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    n = SHARDS * ROUND_RECORDS_PER_SHARD
    shard = np.repeat(np.arange(SHARDS), ROUND_RECORDS_PER_SHARD)
    base_ts = np.datetime64(datetime(2026, 1, 1), "us")
    keys, hashes = [], []
    for r in rounds:
        seq = r * ROUND_RECORDS_PER_SHARD + np.tile(np.arange(ROUND_RECORDS_PER_SHARD), SHARDS)
        cls = rng.integers(SOFT_CLASSES.stop, CLASSES, n)
        special = rng.choice(n, HARD_PER_ROUND + SOFT_PER_ROUND, replace=False)
        cls[special[:HARD_PER_ROUND]] = HARD_CLASS
        cls[special[HARD_PER_ROUND:]] = rng.integers(
            SOFT_CLASSES.start, SOFT_CLASSES.stop, SOFT_PER_ROUND
        )
        payload_hash = rng.integers(0, P // CLASSES, n) * CLASSES + (cls - salt) % CLASSES
        tag = rng.integers(0, 2**32, n)
        table = pa.table(
            {
                "shard_id": [f"shard-{s}" for s in shard],
                "sequence_number": seq,
                "ts": base_ts + seq * np.timedelta64(1, "s"),
                "payload": [f"rec-{s}-{q}-{t:08x}" for s, q, t in zip(shard, seq, tag)],
                "payload_hash": payload_hash,
            }
        )
        path = os.path.join(src, f"round-{r:06d}.parquet")
        pq.write_table(table, path)
        # the file source takes files in modification-time order
        os.utime(path, (1_700_000_000 + r, 1_700_000_000 + r))
        keys.append(shard * KEY_SHARD + seq)
        hashes.append(payload_hash)
    return Expected.from_hashes(np.concatenate(keys), np.concatenate(hashes), salt)


class PollSmall:
    """Closed-loop poller: a round is read only after the previous
    micro-batch committed."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool):
        self.spark, self.work = spark, work
        self.salt = salt_for(seed)
        self.rng = np.random.default_rng([seed, 1])
        self.next_round = 0
        # warm-up: JIT, Python workers and first-query costs land in
        # set-up, and the steady cycles size the measured runs
        src, expected = self._rounds(WARMUP_ROUNDS)
        pipe = Pipeline(spark, src + "-out", self.salt, NullTracer(), "warm")
        _, _, query, error = pipe.run(self._stream(src))
        problems = [f"query failed: {error}"] if error else check_outputs(pipe, expected)
        if problems:
            raise RuntimeError(f"warm-up failed: {problems}")
        steady = [p.durationMs["triggerExecution"] / 1000 for p in batch_progress(query)[1:]]
        n = min(max(int(seconds / harness.median(steady)) + 1, 10), 5000)
        self.inputs = [self._rounds(n) for _ in range(2 if traced else 1)]

    def _rounds(self, n: int):
        src = os.path.join(self.work, f"rounds-{self.next_round}")
        rounds = range(self.next_round, self.next_round + n)
        self.next_round += n
        return src, write_rounds(src, rounds, self.salt, self.rng)

    def _stream(self, src: str):
        from go_zoom_kinesis_spark.sources import file_stream
        from go_zoom_kinesis_spark.sources.gzk_datasource import SCHEMA

        # the rounds carry the gzk_stream record schema
        return file_stream(self.spark, src, SCHEMA, max_files_per_trigger=1)

    def measure(self, tracer) -> dict:
        src, expected = self.inputs.pop(0)
        pipe = Pipeline(self.spark, src + "-out", self.salt, tracer, "batch")
        wall, cpu, query, error = pipe.run(self._stream(src))
        cycles = [p.durationMs["triggerExecution"] / 1000 for p in batch_progress(query)]
        problems = [f"query failed: {error}"] if error else check_outputs(pipe, expected)
        out = _result(
            len(os.listdir(src)), problems, expected.records, [wall], [cpu], cycles,
            pipe.python_peak_mb,
        )
        if tracer.enabled:
            out["layers"] = layer_metrics(self.spark, pipe, query, expected)
        return out

    def extra_layers(self, traced: dict) -> dict:
        return traced["layers"]


# --- drain_bulk ----------------------------------------------------------


def _char_hash(s: str) -> int:
    acc = 0
    for c in s:
        acc = (acc * 31 + ord(c)) % P
    return acc


def drain_expected(start: int, per_shard: int, salt: int) -> Expected:
    """What a drain of sequences ``[start, start + per_shard)`` must
    produce. The ``gzk_stream`` source's payload is ``rec-<shard>-<seq>``
    and its ``payload_hash`` the payload's polynomial hash (base 31,
    mod P), computed here digit by digit over whole arrays."""
    digits = len(str(start))
    if len(str(start + per_shard - 1)) != digits:
        raise ValueError("a drain's sequence numbers must share a digit count")
    seq = np.arange(start, start + per_shard, dtype=np.int64)
    keys, hashes = [], []
    for s in range(SHARDS):
        h = np.full(per_shard, _char_hash(f"rec-{s}-"), dtype=np.int64)
        for i in range(digits - 1, -1, -1):
            h = (h * 31 + ord("0") + (seq // 10**i) % 10) % P
        keys.append(s * KEY_SHARD + seq)
        hashes.append(h)
    return Expected.from_hashes(np.concatenate(keys), np.concatenate(hashes), salt)


class DrainBulk:
    """Drain a backlog from the ``gzk_stream`` source in one micro-batch,
    again and again, each drain over fresh sequence numbers and a fresh
    pipeline, for about ``seconds`` of query time: at least one drain,
    and another only while it is expected to end less than half a drain
    past ``seconds``."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool):
        self.work, self.seconds = work, seconds
        self.salt = salt_for(seed)
        # eleven-digit sequence numbers from a seeded block (the source
        # stamps record ``seq`` at ``seq`` seconds past 2026, so they must
        # stay below ~2.5e11); every drain takes the next block
        self.next_start = random.Random(f"drain-{seed}").randrange(10**4, 9 * 10**4) * 10**6
        self.drains = 0
        self._use(spark)

    def _use(self, spark) -> None:
        """Adopt a session: register the source, warm it up."""
        from go_zoom_kinesis_spark.sources import gzk_datasource

        self.spark = spark
        gzk_datasource.register(spark)
        res = self._drain(WARMUP_DRAIN_RECORDS_PER_SHARD, NullTracer())
        if res["problems"]:
            raise RuntimeError(f"warm-up failed: {res['problems']}")

    def _options(self, start: int, per_shard: int) -> dict:
        return {
            "shards": SHARDS,
            "start_sequence": start,
            "records_per_shard": start + per_shard,
            # the source falls back to one batch under availableNow; the
            # limit lets that batch take the whole backlog
            "batch_limit": per_shard,
        }

    def _drain(self, per_shard: int, tracer) -> dict:
        start = self.next_start
        self.next_start += 10**6
        root = os.path.join(self.work, f"drain-{self.drains}")
        self.drains += 1
        pipe = Pipeline(self.spark, root, self.salt, tracer, f"drain-{self.drains}")
        stream = (
            self.spark.readStream.format("gzk_stream")
            .options(**self._options(start, per_shard))
            .option("progress_path", os.path.join(root, "source-progress.json"))
            .load()
        )
        wall, cpu, query, error = pipe.run(stream)
        expected = drain_expected(start, per_shard, self.salt)
        problems = [f"query failed: {error}"] if error else check_outputs(pipe, expected)
        res = {"wall": wall, "cpu": cpu, "records": expected.records, "problems": problems,
               "options": self._options(start, per_shard),
               "python_peak_mb": pipe.python_peak_mb}
        if tracer.enabled:
            res["layers"] = layer_metrics(self.spark, pipe, query, expected)
        shutil.rmtree(root, ignore_errors=True)
        return res

    def measure(self, tracer) -> dict:
        drains = []
        while not drains or (
            sum(d["wall"] for d in drains) + drains[-1]["wall"] / 2 < self.seconds
        ):
            drains.append(self._drain(DRAIN_RECORDS_PER_SHARD, tracer))
        walls = [d["wall"] for d in drains]
        out = _result(
            len(drains),
            [p for d in drains for p in d["problems"]],
            sum(d["records"] for d in drains),
            walls,
            [d["cpu"] for d in drains],
            walls,
            max(d["python_peak_mb"] for d in drains),
        )
        if tracer.enabled:
            out["last"] = drains[-1]
        return out

    def extra_layers(self, traced: dict) -> dict:
        """The last traced drain's layers, plus a standalone scan of its
        shard ranges and the same kind of drain on ``local[1]``."""
        last = traced["last"]
        layers = dict(last["layers"])
        t0 = time.perf_counter()
        (
            self.spark.read.format("gzk_stream")
            .options(**last["options"])
            .load()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        read_s = time.perf_counter() - t0
        layers["source.read_s"] = read_s
        layers["source.records_per_s"] = last["records"] / read_s

        self.spark.stop()
        self._use(harness.start_spark(self.work, cpus=1))
        one = self._drain(ONE_CORE_DRAIN_RECORDS_PER_SHARD, NullTracer())
        if one["problems"]:
            raise RuntimeError(f"one-core drain failed: {one['problems']}")
        layers["scaling.drain_records_per_s_1core"] = one["records"] / one["wall"]
        return layers
