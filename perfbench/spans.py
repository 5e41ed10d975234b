"""Outside-in spans for the traced run.

The benchmark wraps public functions of the engine's modules from the
outside (nothing inside ``df_spark`` is instrumented). Each call
records a span: name, start, end, parent and the iteration it ran in.
Spans stay in memory until the run ends. A span opened with
``job_group=True`` also tags the Spark jobs its thread submits with the
span's id (``spark.jobGroup.id``), so the event log can be joined back
to the span that caused the work.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc  # SparkContext; None = no job-group tagging
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "iter": self.iteration, "start": time.time(), "end": None, **attrs}
        prev_group = None
        if job_group and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"span-{rec['id']}")
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if job_group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str, job_group: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by
        ``unwrap_all``)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, job_group=job_group):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner: object, attr: str, value: object) -> None:
        """Set ``owner.attr`` until ``unwrap_all``."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

