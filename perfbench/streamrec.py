"""Per-micro-batch recorder built on a StreamingQueryListener.

Each progress event is stored under its own stream id and trigger
timestamp. The listener bus delivers events asynchronously, so a batch
is attributed later by where its timestamp falls among the benchmark's
query windows, never by "events seen since the last query started".
"""

from __future__ import annotations

import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# durationMs phases recorded per batch.
PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def _epoch_ms(iso: str) -> float:
    # Progress timestamps are ISO-8601 UTC, e.g. 2026-01-01T00:00:00.123Z.
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def batch_record(progress) -> dict:
    """Flatten one StreamingQueryProgress into plain numbers."""
    dur = progress.durationMs or {}
    ops = progress.stateOperators or []
    return {
        "id": str(progress.id),
        "batch_id": progress.batchId,
        "ts_ms": _epoch_ms(progress.timestamp),
        "input_rows": progress.numInputRows,
        **{p: dur.get(p, 0) for p in PHASES},
        "state_rows": sum(op.numRowsTotal for op in ops),
        "state_bytes": sum(op.memoryUsedBytes for op in ops),
        "state_commit_ms": sum(op.commitTimeMs for op in ops),
    }


class BatchRecorder(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._batches: dict[tuple[str, int], dict] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        rec = batch_record(event.progress)
        with self._lock:
            self._batches[(rec["id"], rec["ts_ms"])] = rec

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self) -> list[dict]:
        with self._lock:
            return sorted(self._batches.values(), key=lambda r: r["ts_ms"])

    def settle(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
        """Wait until no new progress event arrived for ``quiet_s``."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self._batches)
            if n == seen:
                return
            seen = n
            time.sleep(quiet_s)
