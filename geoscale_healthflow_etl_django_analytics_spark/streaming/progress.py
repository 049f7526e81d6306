"""§2.10 — per-batch progress tracking as a StreamingQueryListener.

The reference tracks long ETL uploads with a Mongo progress doc —
{process_id, stage, progress, message, updated_at, error, completed} —
upserted from inside its 100-row batch loop
(progress_tracker.py:61-100, batch_processor.py:77-106). Spark's
native equivalent is the StreamingQueryListener: the engine already
emits one progress event per micro-batch with row counts and stage
durations, so progress reporting becomes an observer instead of code
threaded through the hot loop — the batch pipeline stays oblivious.

The listener keeps the same doc shape keyed by query id (the
process_id analogue). Events arrive asynchronously on the listener
bus; readers should poll (tests use ``wait_for``).
"""

from __future__ import annotations

import threading
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

STAGE_STARTED = "processing"
STAGE_COMPLETED = "completed"
STAGE_FAILED = "failed"


class ProgressTrackerListener(StreamingQueryListener):
    """Maintains one reference-shaped progress doc per streaming query
    plus a per-batch history (batch_id, rows, duration) — the
    information the reference surfaced as percent-complete, which is
    well-defined only for its fixed-size uploads; an unbounded stream
    reports cumulative batches/rows instead."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.docs: dict[str, dict] = {}
        self.history: dict[str, list[dict]] = {}

    @staticmethod
    def _now() -> str:
        return datetime.now(timezone.utc).isoformat()

    def _update(self, qid: str, **fields) -> None:
        with self._lock:
            doc = self.docs.setdefault(
                qid,
                {
                    "process_id": qid,
                    "stage": STAGE_STARTED,
                    "message": "",
                    "batches": 0,
                    "total_rows": 0,
                    "completed": False,
                    "error": None,
                },
            )
            doc.update(fields, updated_at=self._now())

    # -- listener callbacks (async, engine-invoked) ---------------------
    def onQueryStarted(self, event) -> None:
        self._update(
            str(event.id), stage=STAGE_STARTED, message=f"query {event.name or event.id} started"
        )

    def onQueryProgress(self, event) -> None:
        p = event.progress
        qid = str(p.id)
        with self._lock:
            self.history.setdefault(qid, []).append(
                {
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                    "timestamp": p.timestamp,
                }
            )
        doc = self.docs.get(qid, {})
        self._update(
            qid,
            batches=doc.get("batches", 0) + 1,
            total_rows=doc.get("total_rows", 0) + (p.numInputRows or 0),
            message=f"batch {p.batchId}: {p.numInputRows} rows",
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        err = getattr(event, "exception", None)
        self._update(
            str(event.id),
            stage=STAGE_FAILED if err else STAGE_COMPLETED,
            completed=True,
            error=str(err) if err else None,
            message="terminated with error" if err else "completed",
        )

    # -- reader helpers -------------------------------------------------
    def doc(self, qid: str) -> dict | None:
        with self._lock:
            d = self.docs.get(str(qid))
            return dict(d) if d else None

    def wait_for(self, qid: str, predicate) -> dict:
        """Poll up to 30 s until predicate(doc) holds (listener bus is
        async)."""
        import time

        deadline = time.time() + 30.0
        while time.time() < deadline:
            d = self.doc(qid)
            if d is not None and predicate(d):
                return d
            time.sleep(0.1)
        raise TimeoutError(f"progress doc for {qid} never satisfied predicate")
