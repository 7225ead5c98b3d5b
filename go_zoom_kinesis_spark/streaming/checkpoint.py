"""Pluggable checkpoint stores — parity with the reference's
``CheckpointStore`` trait (`/root/reference/src/store/mod.rs:13-20`).

In Spark the engine's own offset/commit log (``checkpointLocation``)
already provides exactly-once stream resume; these stores cover the
reference's *application-level* checkpoint surface (max successfully
processed sequence per shard), used by the processor's
checkpoint-preferred resume (src/processor.rs:801-868).

- InMemoryCheckpointStore ↔ src/store/memory.rs:8-67 (test store)
- JsonFileCheckpointStore ↔ src/store/dynamodb.rs:52-213 (durable KV
  with key prefix; DynamoDB itself is out of scope in this container —
  the same interface maps 1:1 onto a put_item/get_item client)

Sequence numbers are compared as zero-padded strings — the reference's
sequences are arbitrary-precision decimal strings (a 100-digit value in
src/tests/initial_position_tests.rs:717 exceeds Decimal(38,0)).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from typing import Protocol

SEQ_PAD = 128  # > the 100-digit boundary test value


def pad_seq(seq: str | int) -> str:
    return str(seq).zfill(SEQ_PAD)


def seq_key(seq_col: str):
    """Column expression: ``seq_col`` as a string that orders like
    ``pad_seq``."""
    from pyspark.sql import functions as F

    return F.lpad(F.col(seq_col).cast("string"), SEQ_PAD, "0")


def max_seq(seq_type, seq_col: str):
    """Aggregate expression: the max of ``seq_col`` as a string that
    orders like ``pad_seq`` (the driver strips leading zeros or calls
    ``int``).

    Integral columns aggregate natively and render ONE string per
    group: for non-negative integers zero-padded lexicographic order IS
    numeric order, so ``max(lpad(x)) == lpad(max(x))``, and padding per
    row would build a 128-char string for every record just to
    compare. Any other type (Kinesis's up-to-128-digit decimal strings
    overflow ``long``) takes the max over zero-padded strings."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if isinstance(seq_type, integral):
        return F.max(F.col(seq_col)).cast("string")
    return F.max(seq_key(seq_col))


class CheckpointStore(Protocol):
    def get_checkpoint(self, shard_id: str) -> str | None: ...

    def save_checkpoint(self, shard_id: str, sequence_number: str) -> None: ...


class InMemoryCheckpointStore:
    """Dict behind a lock (reference: HashMap behind RwLock)."""

    def __init__(self) -> None:
        self._data: dict[str, str] = {}
        self._lock = threading.Lock()

    def get_checkpoint(self, shard_id: str) -> str | None:
        with self._lock:
            return self._data.get(shard_id)

    def save_checkpoint(self, shard_id: str, sequence_number: str) -> None:
        with self._lock:
            self._data[shard_id] = str(sequence_number)

    def all_checkpoints(self) -> dict[str, str]:
        with self._lock:
            return dict(self._data)


class JsonFileCheckpointStore:
    """Durable KV store: one JSON file per shard under a prefix dir,
    written atomically (tmp + rename). The ``key_prefix`` mirrors the
    DynamoDB store's prefixed keys (src/store/dynamodb.rs:74-77)."""

    def __init__(self, root: str, key_prefix: str = "") -> None:
        self.root = root
        self.key_prefix = key_prefix
        os.makedirs(root, exist_ok=True)

    def _path(self, shard_id: str) -> str:
        safe = f"{self.key_prefix}{shard_id}".replace("/", "_")
        return os.path.join(self.root, f"{safe}.json")

    def get_checkpoint(self, shard_id: str) -> str | None:
        path = self._path(shard_id)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)["sequence_number"]

    def save_checkpoint(self, shard_id: str, sequence_number: str) -> None:
        path = self._path(shard_id)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {"shard_id": shard_id, "sequence_number": str(sequence_number)}, f
                )
            os.replace(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def all_checkpoints(self) -> dict[str, str]:
        out = {}
        for name in os.listdir(self.root):
            if name.endswith(".json"):
                with open(os.path.join(self.root, name)) as f:
                    rec = json.load(f)
                out[rec["shard_id"]] = rec["sequence_number"]
        return out
