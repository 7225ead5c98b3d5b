"""StreamProcessor — the reference's ``KinesisProcessor`` re-expressed
on Structured Streaming (SURVEY.md §3.1 stage mapping).

Reference pipeline (Rust, `/root/reference/src/processor.rs`):
shard-parallel ordered consumption → per-record user map with soft/hard
retry classification → before_checkpoint validation → at-least-once
checkpoint → monitoring events.

Spark mapping:
- source            ⇒ any streaming DataFrame with the record-envelope
                      columns (file source in tests; the AWS Kinesis
                      connector emits the same envelope in production)
- shard parallelism ⇒ input partitions (P1/P2 are free)
- positioning (S2)  ⇒ envelope filters (TrimHorizon/Latest/AtSequence
                      Number/AtTimestamp, src/processor.rs:313-322)
- checkpoint-preferred resume (S3, src/processor.rs:801-868)
                    ⇒ per-shard lower bounds read from the store at
                      start and applied as a filter
- user map + retry classification (T1/T2, src/processor.rs:1490-1525)
                    ⇒ inside ``foreachBatch``: the user transform tags
                      rows success/soft/hard; soft rows re-run with
                      attempt+1 up to ``max_attempts`` with backoff
                      (deliberate semantic change from the reference's
                      retry-forever: bounded + quarantine, SURVEY §7),
                      hard rows quarantine immediately (DLQ)
- before_checkpoint barrier (K2, src/processor.rs:1580-1603)
                    ⇒ validation hook before the commit; soft
                      validation errors retry then fail the batch
                      (stream redelivers ⇒ at-least-once), hard errors
                      skip validation but proceed — exactly the
                      reference's branch semantics
- checkpoint (K1)   ⇒ store.save_checkpoint(shard, max success seq)
                      per batch + Spark's own checkpointLocation
- total timeout (T4, src/processor.rs:624-670)
                    ⇒ awaitTermination(timeout) + stop()
- graceful shutdown (P6) ⇒ query.stop() between micro-batches
- monitoring (M1)   ⇒ MetricsAggregator events + StreamingQueryListener

Per-record processing timeout (T3): JVM expression pipelines cannot
hang per-record; the guard applies to the opaque-user-code path via
``limits.record_timeout_transform`` (mapInPandas race against a
deadline, src/processor.rs:1520-1522) — rows that overrun come back
with outcome ``timeout`` and are quarantined with reason
``processing_timeout``. Shard-concurrency limiting (P2) is
``ProcessorConfig.max_concurrent_shards`` via shard-keyed partition
count (``limits.limit_shard_concurrency``).
"""

from __future__ import annotations

import functools
import threading
import time
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime
from typing import Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .retry import ShutdownRequested

from . import monitoring as M
from .backoff import ExponentialBackoff
from .checkpoint import CheckpointStore, max_seq, pad_seq, seq_key
from .monitoring import MetricsAggregator

# --- initial positions (src/processor.rs:313-322) -----------------------


@dataclass
class TrimHorizon:
    pass


@dataclass
class Latest:
    """Records strictly after the max sequence present at start."""


@dataclass
class AtSequenceNumber:
    sequence_number: str

    def __post_init__(self):
        if not self.sequence_number:
            # src/processor.rs:1701-1717 rejects empty sequence numbers
            raise ValueError("AtSequenceNumber requires a non-empty sequence")


@dataclass
class AtTimestamp:
    timestamp: datetime

    def __post_init__(self):
        if self.timestamp.timestamp() < 0:
            # src/processor.rs:1701-1717 rejects pre-epoch timestamps
            raise ValueError("AtTimestamp requires a post-epoch timestamp")


InitialPosition = Union[TrimHorizon, Latest, AtSequenceNumber, AtTimestamp]


class SoftValidationError(Exception):
    """before_checkpoint soft failure ⇒ retry, block commit
    (src/error.rs:238-246)."""


class HardValidationError(Exception):
    """before_checkpoint hard failure ⇒ stop validating, proceed
    (src/error.rs:247-255)."""


@dataclass
class ProcessorConfig:
    """↔ ProcessorConfig (src/processor.rs:339-385 defaults)."""

    checkpoint_location: str
    batch_size: int = 100  # GetRecords limit analog (src/processor.rs:373)
    max_attempts: int = 3  # bounded soft retries (semantic change, SURVEY §7)
    initial_position: InitialPosition = field(default_factory=TrimHorizon)
    prefer_stored_checkpoint: bool = True  # src/processor.rs:362
    total_timeout: float | None = None  # seconds (src/processor.rs:624-670)
    # P2: bound on concurrently-processing shards (src/processor.rs:679-695);
    # enforced as shard-keyed partition count (see limits.py)
    max_concurrent_shards: int | None = None
    validation_max_attempts: int = 3
    # Checkpoint-save retries: None = retry forever (reference default —
    # "checkpoint loss is worse than stalling", src/store/dynamodb.rs:
    # 137-163 + src/retry/mod.rs:29); the loop is interruptible via
    # StreamProcessor.shutdown, so stall-don't-fail never wedges a
    # graceful stop.
    checkpoint_max_retries: int | None = None
    backoff: ExponentialBackoff = field(default_factory=ExponentialBackoff)
    shard_col: str = "shard_id"
    seq_col: str = "sequence_number"
    ts_col: str = "ts"
    # True-Latest support (src/processor.rs:825-837: Latest never
    # reprocesses history): when set, Latest with no caller-provided
    # source_snapshot batch-reads this path at run_stream start to pin
    # the stream head, instead of degrading to TrimHorizon.
    source_path: str | None = None
    source_format: str = "parquet"


# The user transform: DataFrame (+ attempt column) → DataFrame with an
# `outcome` column (a key of OUTCOMES) and output columns.
UserTransform = Callable[[DataFrame], DataFrame]
ValidationHook = Callable[[DataFrame, int], None]


# outcome → (monitoring event, DLQ reason); None = never quarantined.
# ``soft`` quarantines only once its retries are exhausted.
OUTCOMES = {
    "success": (M.RECORD_SUCCESS, None),
    "soft": (M.RECORD_ATTEMPT, "soft_exhausted"),
    "hard": (M.RECORD_FAILURE, "hard_failure"),
    "timeout": (M.RECORD_FAILURE, "processing_timeout"),
}


def _union(frames: list[DataFrame]) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, frames) if frames else None


class StreamProcessor:
    def __init__(
        self,
        spark: SparkSession,
        processor: UserTransform,
        store: CheckpointStore,
        config: ProcessorConfig,
        before_checkpoint: ValidationHook | None = None,
        aggregator: MetricsAggregator | None = None,
        sink: Callable[[DataFrame, int], None] | None = None,
        dlq_sink: Callable[[DataFrame, int], None] | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.spark = spark
        self.processor = processor
        self.store = store
        self.config = config
        self.before_checkpoint = before_checkpoint
        self.aggregator = aggregator or MetricsAggregator()
        self.sink = sink
        self.dlq_sink = dlq_sink
        self._sleep = sleep
        self._position_bounds: dict[str, str] | None = None
        # Latest auto-snapshot head: pinned ONCE per processor (the
        # reference pins the stream head at subscriber start, not per
        # iterator renewal) so a restart of the streaming query on the
        # same processor keeps the original cut — without this, a
        # re-resolve after new arrivals would re-read the source and
        # silently skip records that arrived after start.
        self._latest_head_resolved = False
        self._latest_head: str | None = None
        # graceful-shutdown signal (P6): interrupts checkpoint-save
        # retry sleeps exactly like the reference's shutdown receiver
        # (src/retry/mod.rs:95-108)
        self.shutdown = threading.Event()

    # --- positioning (S2/S3) -------------------------------------------

    def _stream_head(self, df: DataFrame) -> str | None:
        """The padded max sequence in ``df`` (None when empty): a full
        scan of the sequence column, one aggregate row back."""
        col = self.config.seq_col
        m = df.select(max_seq(df.schema[col].dataType, col).alias("m")).first()["m"]
        return None if m is None else pad_seq(m)

    def _initial_position_predicate(self, source_snapshot: DataFrame | None):
        """The configured initial position as an envelope predicate
        (src/processor.rs:313-322)."""
        cfg = self.config
        pos = cfg.initial_position
        key = seq_key(cfg.seq_col)
        if isinstance(pos, TrimHorizon):
            return F.lit(True)
        if isinstance(pos, Latest):
            if source_snapshot is not None:
                head = self._stream_head(source_snapshot)
            elif cfg.source_path is not None:
                # Auto-snapshot: batch-read the stream's source path to
                # pin the head, so only records arriving after processor
                # start are processed (true Latest, src/processor.rs:
                # 825-837). Memoized so restarts of the query on this
                # processor keep the original cut.
                if not self._latest_head_resolved:
                    self._latest_head = self._stream_head(
                        self.spark.read.format(cfg.source_format).load(cfg.source_path)
                    )
                    self._latest_head_resolved = True
                head = self._latest_head
            else:
                # Without a snapshot or a source_path there is no "max
                # sequence at start": the filter degrades to
                # TrimHorizon. Warn loudly — the reference's Latest
                # never reprocesses history.
                warnings.warn(
                    "initial_position=Latest with no source_snapshot or "
                    "config.source_path: cannot determine the stream "
                    "head, falling back to TrimHorizon (full history). "
                    "Pass either for true Latest semantics.",
                    stacklevel=3,
                )
                return F.lit(True)
            return F.lit(True) if head is None else key > F.lit(head)
        if isinstance(pos, AtSequenceNumber):
            return key >= F.lit(pad_seq(pos.sequence_number))
        if isinstance(pos, AtTimestamp):
            return F.col(cfg.ts_col) >= F.lit(pos.timestamp)
        raise TypeError(f"unknown initial position {pos!r}")

    def _resolve_position_filter(self, source_snapshot: DataFrame | None):
        """Build the envelope filter from stored checkpoints (preferred)
        and the configured initial position — the get_initial_iterator
        branch (src/processor.rs:801-868).

        Shards with a stored checkpoint resume strictly after it; shards
        absent from the store (e.g. children that appeared after a
        reshard, P7) fall back to the *configured initial position*,
        exactly the reference's per-shard branch — not TrimHorizon. The
        checkpoints are ONE map literal, so the plan stays the same size
        whatever the shard count."""
        cfg = self.config
        init_pred = self._initial_position_predicate(source_snapshot)
        if not (cfg.prefer_stored_checkpoint and hasattr(self.store, "all_checkpoints")):
            return init_pred
        ckpts = self.store.all_checkpoints()
        if not ckpts:
            return init_pred
        resume_after = F.create_map(
            *[F.lit(x) for shard, seq in ckpts.items() for x in (shard, pad_seq(seq))]
        )[F.col(cfg.shard_col).cast("string")]
        return F.when(resume_after.isNull(), init_pred).otherwise(
            seq_key(cfg.seq_col) > resume_after
        )

    # --- the foreachBatch body (T1/T2/K1/K2) ---------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        cfg = self.config
        agg = self.aggregator
        agg.emit("GLOBAL", M.BATCH_START, epoch=epoch_id)

        batch_df = batch_df.filter(self._position_filter)
        if cfg.max_concurrent_shards is not None:
            from .limits import limit_shard_concurrency

            batch_df = limit_shard_concurrency(
                batch_df, cfg.shard_col, cfg.max_concurrent_shards
            )

        pending = batch_df.withColumn("attempt", F.lit(0))
        successes: list[DataFrame] = []
        quarantined: list[DataFrame] = []
        cached: list[DataFrame] = []
        attempt = 0
        batch_t0 = time.perf_counter()
        n_success = n_failed = n_soft_retries = 0
        # per-shard max successful sequence across attempts: the
        # checkpoint fold (src/processor.rs:1542-1560), kept unpadded
        checkpoints: dict[str, str] = {}
        try:
            while True:
                t0 = time.perf_counter()
                out = self.processor(pending).cache()
                cached.append(out)
                # ONE action per attempt: the O(shards × outcomes) rollup
                # fills the monitoring events, yields the global outcome
                # counts AND carries the checkpoint fold — its max_seq
                # on the success rows (src/processor.rs:1490-1525
                # classifies per record; the rollup is its batched
                # equivalent)
                seq_max = max_seq(out.schema[cfg.seq_col].dataType, cfg.seq_col)
                outcome_rows = (
                    out.groupBy(cfg.shard_col, "outcome")
                    .agg(F.count(F.lit(1)).alias("count"), seq_max.alias("max_seq"))
                    .collect()
                )
                ms = (time.perf_counter() - t0) * 1000
                totals: dict[str, int] = {}
                for shard_row in outcome_rows:
                    outcome = shard_row["outcome"]
                    etype, reason = OUTCOMES[outcome]
                    shard = str(shard_row[cfg.shard_col])
                    totals[outcome] = totals.get(outcome, 0) + shard_row["count"]
                    if outcome == "success" and shard_row["max_seq"] is not None:
                        seq = shard_row["max_seq"].lstrip("0") or "0"
                        prev = checkpoints.get(shard)
                        if prev is None or pad_seq(seq) > pad_seq(prev):
                            checkpoints[shard] = seq
                    agg.emit(
                        shard,
                        etype,
                        count=shard_row["count"],
                        processing_ms=ms,
                        **({"reason": reason} if etype == M.RECORD_FAILURE else {}),
                    )
                n_soft = totals.get("soft", 0)
                n_success += totals.get("success", 0)
                if totals.get("success", 0):
                    successes.append(out.filter(F.col("outcome") == "success"))

                # hard and timeout rows quarantine on every attempt
                # (src/processor.rs:1511-1514, 1520-1522); soft rows only
                # once retries are exhausted (bounded-retry semantic
                # change from the reference's retry-forever)
                last = attempt + 1 >= cfg.max_attempts
                failed = [o for o, (_, r) in OUTCOMES.items() if r and (o != "soft" or last)]
                n_quarantined = sum(totals.get(o, 0) for o in failed)
                n_failed += n_quarantined
                if n_quarantined:
                    reasons = F.create_map(
                        *[F.lit(x) for o in failed for x in (o, OUTCOMES[o][1])]
                    )
                    quarantined.append(
                        out.filter(F.col("outcome").isin(failed)).withColumn(
                            "dlq_reason", reasons[F.col("outcome")]
                        )
                    )
                if n_soft == 0 or last:
                    break
                n_soft_retries += n_soft
                # graceful shutdown with pending records (P6,
                # src/tests/test_suite.rs test_graceful_shutdown_with_
                # pending_records): abort BEFORE the next retry pass —
                # the batch fails un-checkpointed, so the stream
                # redelivers every pending record on restart
                # (at-least-once preserved, nothing half-committed)
                if self.shutdown.is_set():
                    raise ShutdownRequested()
                # retry only the soft subset with attempt+1
                # (src/processor.rs:1506-1510: attempt increments, same record)
                attempt += 1
                self._sleep(cfg.backoff.delay(attempt - 1))
                pending = (
                    out.filter(F.col("outcome") == "soft")
                    .drop("outcome", "attempt")
                    .withColumn("attempt", F.lit(attempt))
                )

            self._finish_batch(
                _union(successes),
                _union(quarantined),
                epoch_id,
                checkpoints,
                batch_t0,
                records_success=n_success,
                records_failed=n_failed,
                soft_retries=n_soft_retries,
                attempt_passes=attempt + 1,
            )
        finally:
            # per-attempt caches would otherwise accumulate for the
            # lifetime of the streaming query (executor storage leak)
            for c in cached:
                c.unpersist()

    def _finish_batch(
        self,
        items: DataFrame | None,
        dlq: DataFrame | None,
        epoch_id: int,
        checkpoints: dict[str, str],
        t0: float,
        records_success: int,
        records_failed: int,
        soft_retries: int,
        attempt_passes: int,
    ) -> None:
        cfg = self.config
        agg = self.aggregator

        # --- before_checkpoint barrier (K2) ----------------------------
        if self.before_checkpoint is not None and items is not None:
            v_attempt = 0
            while True:
                try:
                    self.before_checkpoint(items, epoch_id)
                    break
                except HardValidationError:
                    # stop validating but proceed (src/processor.rs:1595-1603)
                    agg.emit("GLOBAL", M.VALIDATION_FAILURE, kind="hard")
                    break
                except SoftValidationError:
                    agg.emit("GLOBAL", M.VALIDATION_FAILURE, kind="soft")
                    v_attempt += 1
                    if v_attempt >= cfg.validation_max_attempts:
                        # checkpoint stays blocked: fail the batch; the
                        # stream redelivers it (at-least-once), exactly
                        # the reference's "retry validation forever"
                        # semantics with a bounded local loop
                        raise
                    self._sleep(cfg.backoff.delay(v_attempt - 1))

        # --- sinks ------------------------------------------------------
        if items is not None and self.sink is not None:
            self.sink(items, epoch_id)
        if dlq is not None and self.dlq_sink is not None:
            self.dlq_sink(dlq, epoch_id)

        # --- checkpoint commit (K1): max success seq per shard ----------
        # ``checkpoints`` is the fold the attempt rollups already
        # returned. Save failures retry with backoff rather than failing
        # the batch — the reference's stall-don't-fail semantic
        # ("checkpoint loss is worse than stalling",
        # src/store/dynamodb.rs:137-163) with retry-forever as the
        # default (src/retry/mod.rs:29). Shutdown interrupts the sleep,
        # surfacing ShutdownRequested.
        n_ckpt = 0
        if checkpoints:
            from .retry import RetryHandle

            handle = RetryHandle(
                max_retries=cfg.checkpoint_max_retries,
                backoff=cfg.backoff,
                shutdown=self.shutdown,
            )
            for shard, seq in checkpoints.items():

                def save(attempt: int, shard: str = shard, seq: str = seq):
                    try:
                        self.store.save_checkpoint(shard, seq)
                    except Exception:
                        agg.emit(shard, M.CHECKPOINT_FAILURE, attempt=attempt)
                        raise

                handle.retry(save)
                agg.emit(shard, M.CHECKPOINT_SUCCESS, seq=seq)
                n_ckpt += 1

        # duration covers the WHOLE batch: attempts, validation, sinks,
        # and the checkpoint commit that just finished
        agg.emit(
            "GLOBAL",
            M.BATCH_METRICS,
            metrics=M.BatchMetrics(
                epoch=epoch_id,
                duration_ms=(time.perf_counter() - t0) * 1000,
                records_success=records_success,
                records_failed=records_failed,
                soft_retries=soft_retries,
                attempt_passes=attempt_passes,
                checkpoints_saved=n_ckpt,
            ),
        )
        agg.emit("GLOBAL", M.BATCH_COMPLETE, epoch=epoch_id)

    # --- run (streaming) -----------------------------------------------

    def run_stream(self, stream_df: DataFrame, source_snapshot: DataFrame | None = None):
        """Start the streaming query; returns the StreamingQuery.
        ``total_timeout`` races the run exactly like the reference's
        tokio::select! (src/processor.rs:624-670)."""
        self._position_filter = self._resolve_position_filter(source_snapshot)
        query = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.config.checkpoint_location)
            .trigger(availableNow=True)
            .start()
        )
        return query

    def run_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        """Process a static DataFrame as one batch (test/replay path)."""
        self._position_filter = self._resolve_position_filter(df)
        self.process_batch(df, epoch_id)

    # --- iterator-expiry recovery (P5) ---------------------------------

    def recover_iterator(
        self, shard_id: str, source_snapshot: DataFrame | None = None
    ) -> None:
        """The iterator-expiry fallback chain (src/processor.rs:870-994):
        when a shard's iterator expires, the reference renews it from the
        stored checkpoint (falling back to the initial position when none
        exists) and resumes — emitting ``iterator_expired`` then
        ``iterator_renewed``, after which processing continues and the
        monitoring stream shows ``record_success``
        (src/tests/test_suite.rs:102-256's required sequence).

        The Spark analog: connectors renew iterators internally, so
        expiry surfaces here as a source-level retry. This re-resolves
        the position filter from the checkpoint store (the renewal), logs
        the event pair, and counts the renewal per shard."""
        ckpt = self.store.get_checkpoint(shard_id)
        self.aggregator.emit(
            shard_id,
            M.ITERATOR_EXPIRED,
            had_checkpoint=ckpt is not None,
        )
        self._position_filter = self._resolve_position_filter(source_snapshot)
        self.aggregator.emit(
            shard_id,
            M.ITERATOR_RENEWED,
            resumed_from=ckpt if ckpt is not None else "initial_position",
        )

    def await_with_timeout(self, query) -> bool:
        """awaitTermination with the configured total timeout; stops the
        query on expiry (TotalProcessingTimeout analog). Returns True if
        the query finished on its own."""
        if self.config.total_timeout is None:
            query.awaitTermination()
            return True
        done = query.awaitTermination(timeout=self.config.total_timeout)
        if not done:
            query.stop()
        return done
