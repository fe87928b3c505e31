"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent and round id. While job tagging
is on (a traced round), each span also tags the Spark jobs started inside
it with the job group ``pb-<span id>``, so the event log can attribute
task time to it.

:func:`instrument` wraps the public layer functions that ``run_round``
calls internally (table reads, writes and commits; seen-set builds) while
a traced round runs and restores them afterwards. Nothing in the engine
is edited; untraced rounds never see the wrappers.
"""

from __future__ import annotations

import contextlib
import json
import time

GROUP_PREFIX = "pb-"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self._sc = None

    def tag_jobs(self, sc) -> None:
        """Tag the Spark jobs started from now on with the enclosing span's
        job group; ``None`` clears the group and stops tagging."""
        if sc is None:
            self._set_group(None)
        self._sc = sc
        if sc is not None:
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, round_no: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if round_no is None and parent is not None:
            round_no = parent["round"]
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "round": round_no,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f, indent=1)


def _wrap_method(tracer: Tracer, fn, span_name):
    def wrapped(self, *args, **kwargs):
        name = span_name(args, kwargs) if callable(span_name) else span_name
        with tracer.span(name):
            return fn(self, *args, **kwargs)

    return wrapped


def _wrap_build(tracer: Tracer, cls, mode: str):
    build = cls.__dict__["build"].__func__

    def wrapped(klass, *args, **kwargs):
        with tracer.span("dedup.build", mode=mode):
            return build(klass, *args, **kwargs)

    return classmethod(wrapped)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Record a span around each call into ``sources.tables`` and the
    ``operators.dedup`` seen-set builds while the block runs."""
    from webscraper_spark.operators.dedup import (
        BloomSeenSet,
        BloomShardStore,
        CuckooSeenSet,
    )
    from webscraper_spark.sources.tables import TableStore

    patches = [
        (TableStore, "read_snapshot", _wrap_method(
            tracer, TableStore.read_snapshot, "tables.read")),
        (TableStore, "read_delta", _wrap_method(
            tracer, TableStore.read_delta, "tables.read")),
        (TableStore, "write", _wrap_method(
            tracer, TableStore.write,
            lambda a, k: f"tables.write_{k.get('name', a[0] if a else '?')}")),
        (TableStore, "commit_round", _wrap_method(
            tracer, TableStore.commit_round, "tables.commit")),
        (BloomSeenSet, "build", _wrap_build(tracer, BloomSeenSet, "broadcast")),
        (BloomShardStore, "build", _wrap_build(tracer, BloomShardStore, "sharded")),
        (CuckooSeenSet, "build", _wrap_build(tracer, CuckooSeenSet, "cuckoo")),
    ]
    saved = [(cls, attr, cls.__dict__[attr]) for cls, attr, _ in patches]
    try:
        for cls, attr, new in patches:
            setattr(cls, attr, new)
        yield
    finally:
        for cls, attr, old in saved:
            setattr(cls, attr, old)
