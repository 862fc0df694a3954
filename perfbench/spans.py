"""In-memory spans recorded around public calls into the engine, and the
``IceliteTable`` subclass that yields one span per bucket group.

Span tree of one pass::

    pass -> pipeline.run -> group -> icelite.merge | icelite.append
                                   -> icelite.patch_metadata

``ExtractionPipeline`` calls ``merge`` then ``patch_metadata`` once per
group, so a group span runs from the end of the previous group (or the
start of ``pipeline.run``) to the end of its ``patch_metadata``: it covers
the driver-side planning of the group as well as its jobs and commit.
Times are wall-clock epoch seconds so they line up with the Spark event
log's millisecond timestamps.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from ocr_spark.sources.icelite import IceliteTable


def union_s(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """Single-threaded span recorder (the pipeline runs with
    ``max_concurrent=1``, so calls nest strictly)."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[dict] = []

    def begin(self, name: str, start: float | None = None, **attrs) -> dict:
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time() if start is None else start,
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec)
        return rec

    def end(self, rec: dict) -> dict:
        """Close ``rec`` and any span still open inside it (a group left
        open by a merge that raised)."""
        if rec not in self._stack:
            raise RuntimeError(f"span {rec['name']!r} is not open")
        now = time.time()
        while True:
            top = self._stack.pop()
            top["end"] = now
            if top is rec:
                return rec

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.begin(name, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def children(self, rec: dict, name: str | None = None) -> list[dict]:
        return [
            r
            for r in self.records
            if r["parent"] == rec["id"] and (name is None or r["name"] == name)
        ]

    def tree(self) -> list[dict]:
        """Closed spans with durations and self time (duration minus the
        part of the interval its children cover)."""
        out = []
        for r in self.records:
            dur = r["end"] - r["start"]
            covered = union_s((c["start"], c["end"]) for c in self.children(r))
            out.append({**r, "dur_s": dur, "self_s": dur - covered})
        return out


class TracedTable(IceliteTable):
    """An ``IceliteTable`` that records a span around each public call the
    pipeline makes, plus the group span that encloses them."""

    def __init__(self, root: str, key_col: str, n_buckets: int, spans: Spans):
        super().__init__(root, key_col=key_col, n_buckets=n_buckets)
        self.spans = spans
        self.group_mark: float | None = None
        self._group: dict | None = None

    def start_run(self) -> None:
        """Called when ``pipeline.run`` starts: the first group begins here."""
        self.group_mark = time.time()

    def merge(self, df, metadata=None, touched_buckets=None):
        if self._group is None:
            self._group = self.spans.begin(
                "group",
                start=self.group_mark,
                buckets=list((metadata or {}).get("bucket_group", [])),
            )
        with self.spans.span("icelite.merge"):
            return super().merge(df, metadata, touched_buckets)

    def append(self, df, metadata=None):
        with self.spans.span("icelite.append"):
            return super().append(df, metadata)

    def patch_metadata(self, sid, updates):
        with self.spans.span("icelite.patch_metadata"):
            super().patch_metadata(sid, updates)
        if self._group is not None:
            self.spans.end(self._group)
            self._group = None
        self.group_mark = time.time()
