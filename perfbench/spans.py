"""In-memory spans for the traced run.

A span has an id, a name, a start and an end (epoch seconds, so spans
taken from Spark's status store line up with the client's own), its
parent span, and the id of the op it belongs to, which all spans of one
statement share. Spans stay in memory until the run ends; ``dump``
writes them out as JSON.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from .stats import self_time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, *, op: int,
            parent: int | None) -> int:
        """Record a finished span; returns its id."""
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "op": op})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, *, op: int, parent: int | None = None):
        """Time the body as a span. Yields the span record; its ``id`` is
        set on entry so spans opened inside can name it as their parent."""
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def self_times_by_op(self) -> dict[tuple[int, str], float]:
        """Self time in seconds, summed per (op, span name)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[tuple[int, str], float] = defaultdict(float)
        for s in self.spans:
            out[(s["op"], s["name"])] += self_time((s["start"], s["end"]), children[s["id"]])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Py4jCounter:
    """Counts py4j client round trips by wrapping the gateway client's
    ``send_command``; ``close`` restores it."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig
