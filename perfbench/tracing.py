"""In-memory spans around the program's layer boundaries, for traced runs.

The tracer wraps public functions of each module from outside (the program
itself is unchanged): it swaps a module or class attribute for a wrapper that
records a span ``(name, start, end, parent, request)`` and calls through.
Spans are kept in a list and written out once, when the run ends.

Whether a call is recorded is decided per request: the client thread marks
each request traced or untraced, so one run can compare the two and report
the tracing overhead. A job handed to the worker thread inherits the flag and
request id of the upload that queued it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    request: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self.queue_waits: list[float] = []  # traced jobs: submit -> process_job
        self.busy: list[float] = []  # every job: process_job duration
        self.active = False  # only the timed window is recorded
        self._local = threading.local()
        self._jobs: dict[str, tuple[bool, str | None, float]] = {}
        self._lock = threading.Lock()
        self._undo: list[tuple[Any, str, Any]] = []

    # -- request context ---------------------------------------------------

    def request(self, request_id: str | None, traced: bool) -> None:
        """Mark the calling thread's next calls as one request."""
        self._local.request = request_id
        self._local.traced = traced
        self._local.stack = []

    def _on(self) -> bool:
        return self.active and getattr(self._local, "traced", False)

    def count(self, name: str, n: int = 1) -> None:
        if self._on():
            with self._lock:
                self.counts[name] += n

    # -- wrapping ----------------------------------------------------------

    def patch(self, owner: Any, attr: str, wrapper: Callable) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def span(self, owner: Any, attr: str, name: str, under: str | None = None) -> None:
        """Record a span per call of ``owner.attr``; with ``under``, only
        calls made directly inside a span of that name."""
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._on():
                return fn(*args, **kwargs)
            stack = self._local.stack
            parent = stack[-1] if stack else None
            if under is not None and (parent is None or self.spans[parent].name != under):
                return fn(*args, **kwargs)
            span = Span(name, time.perf_counter(), 0.0, parent, self._local.request)
            with self._lock:
                idx = len(self.spans)
                self.spans.append(span)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()

        self.patch(owner, attr, wrapper)

    def hand_off(self, job_id: str) -> None:
        """Remember the submitting request's context for a queued job."""
        with self._lock:
            self._jobs[job_id] = (
                self._on(),
                getattr(self._local, "request", None),
                time.perf_counter(),
            )

    def pick_up(self, job_id: str) -> float | None:
        """Adopt a queued job's context on the worker thread; returns the
        time the job waited in the queue when it is traced."""
        with self._lock:
            traced, request, queued_at = self._jobs.pop(job_id, (False, None, 0.0))
        self.request(request, traced)
        return time.perf_counter() - queued_at if self._on() else None

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- results -----------------------------------------------------------

    def write(self, path: Path) -> None:
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")

    def self_times(self, name: str) -> list[float]:
        """Duration minus the part covered by child spans, per span."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [
            s.end - s.start - child[i] for i, s in enumerate(self.spans) if s.name == name
        ]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
