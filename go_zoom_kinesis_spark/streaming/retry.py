"""Bounded, interruptible retry engine — parity with the reference's
``RetryHandle`` (`/root/reference/src/retry/mod.rs:38-123`):

- ``max_retries=None`` ⇒ retry forever (the reference's default for
  checkpoint saves, src/retry/mod.rs:29)
- every sleep is interruptible by a shutdown event (src/retry/mod.rs:95-108)
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import TypeVar

from .backoff import ExponentialBackoff

T = TypeVar("T")


class RetryExhausted(Exception):
    def __init__(self, attempts: int, last_error: BaseException):
        super().__init__(f"retry exhausted after {attempts} attempts: {last_error!r}")
        self.attempts = attempts
        self.last_error = last_error


class ShutdownRequested(Exception):
    """Raised when a shutdown event interrupts a retry sleep."""


class RetryHandle:
    def __init__(
        self,
        max_retries: int | None = 3,
        backoff: ExponentialBackoff | None = None,
        shutdown: threading.Event | None = None,
    ):
        self.max_retries = max_retries
        self.backoff = backoff or ExponentialBackoff()
        self.shutdown = shutdown or threading.Event()

    def retry(self, op: Callable[[int], T]) -> T:
        """Run ``op(attempt)`` until success / exhaustion / shutdown."""
        attempt = 0
        while True:
            if self.shutdown.is_set():
                raise ShutdownRequested()
            try:
                return op(attempt)
            except Exception as exc:  # noqa: BLE001 - classify below
                if self.max_retries is not None and attempt >= self.max_retries:
                    raise RetryExhausted(attempt + 1, exc) from exc
                delay = self.backoff.delay(attempt)
                # interruptible sleep: wait on the shutdown event
                if self.shutdown.wait(timeout=delay):
                    raise ShutdownRequested() from exc
                attempt += 1
