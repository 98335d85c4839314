"""Observability (O1/O2): the reference's EventEmitter surface + stats
counters (lib/Sarkac.js:15,29-36,55-68,101-109; HTTP /status payload
lib/HttpServer.js:55-66, Stream.js:176-189) re-expressed as a
StreamingQueryListener + a plain counter object with subscribable
callbacks.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable
from typing import Any

try:  # StreamingQueryListener import path (pyspark >= 3.4)
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover
    StreamingQueryListener = object  # type: ignore[assignment,misc]


class EventBus:
    """Minimal emitter matching the reference's event names: ``anomaly``,
    ``message``, ``error``, ``created-topics``, ``deleted-topics``,
    ``discovered-topics``, ``discovered-fields``."""

    def __init__(self) -> None:
        self._subs: dict[str, list[Callable[[Any], None]]] = defaultdict(list)

    def on(self, event: str, fn: Callable[[Any], None]) -> None:
        self._subs[event].append(fn)

    def emit(self, event: str, payload: Any = None) -> None:
        for fn in self._subs[event]:
            fn(payload)


class StatsCounters:
    """The reference's counters (Sarkac.js:29-36): scanRuns,
    anomaliesDetected, analysedMessages, topicUpdates, fieldUpdates,
    errors."""

    def __init__(self) -> None:
        self.scan_runs = 0
        self.anomalies_detected = 0
        # detected-but-not-bus-emitted under the per-epoch emission cap
        # (anomaly storms; the persisted store still has every row)
        self.anomalies_dropped = 0
        self.analysed_messages = 0
        self.topic_updates = 0
        self.field_updates = 0
        self.errors = 0

    def as_dict(self) -> dict[str, int]:
        return dict(self.__dict__)


class SigmaQueryListener(StreamingQueryListener):  # pragma: no cover - thin
    """Bridges ONE StreamingQuery's events onto the bus/counters —
    ``message`` per input row batch, ``error`` on termination with cause.

    A listener sees every query in the session (a discovery sidecar, a
    caller's own queries), so only events whose query id equals
    ``query_id`` count; ``None`` counts nothing. Set it to the started
    query's ``id`` right after ``start()`` returns (progress is posted
    only when a batch completes); the checkpoint keeps that id stable
    across restarts."""

    def __init__(self, bus: EventBus, counters: StatsCounters) -> None:
        self.bus = bus
        self.counters = counters
        self.query_id: str | None = None

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if str(event.progress.id) != self.query_id:
            return
        rows = int(event.progress.numInputRows)
        self.counters.scan_runs += 1
        self.counters.analysed_messages += rows
        self.bus.emit("message", rows)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.id) == self.query_id and event.exception is not None:
            self.counters.errors += 1
            self.bus.emit("error", event.exception)


def status(counters: StatsCounters, stored_events: int | None = None) -> dict:
    """The /status document (HttpServer.js:55-66): counters + stored-event
    count (A4)."""
    out = {"stats": counters.as_dict()}
    if stored_events is not None:
        out["storedEvents"] = stored_events
    return out
