"""Spans recorded from the benchmark's own files around calls into the
program's public functions.

A span is ``{id, parent, name, start, end}`` kept in memory and written
out when the benchmark ends.  While a span is open its id is set as the
Spark local property ``perfbench.span``, so every Spark job carries the
innermost enclosing span in its JobStart properties and the event-log
parser can attribute stages to layers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from data_quality_check_spark import api
from data_quality_check_spark.plans import checkpoint as CP
from data_quality_check_spark.plans.catalog import LocalParquetCatalog

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, sc=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                # None removes the property when no span is open
                self._sc.setLocalProperty(
                    SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_s": {str(k): v for k, v in self_times(self.spans).items()}},
                      f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class TracingCatalog(LocalParquetCatalog):
    """LocalParquetCatalog whose public methods each open a
    ``plans.catalog.<method>`` span."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self._tracer = tracer

    def _traced(self, method: str, *args):
        with self._tracer.span(f"plans.catalog.{method}"):
            return getattr(super(), method)(*args)

    def read_table(self, name):
        return self._traced("read_table", name)

    def table_exists(self, name):
        return self._traced("table_exists", name)

    def overwrite_partitions(self, name, df, keys):
        return self._traced("overwrite_partitions", name, df, keys)

    def append_small(self, name, rows, schema, spark):
        return self._traced("append_small", name, rows, schema, spark)

    def append_rows(self, name, rows):
        return self._traced("append_rows", name, rows)


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the layer entry points ``plans.checkpoint.run`` resolves
    from its own module namespace, plus ``api.Suite.run``."""
    patches = [
        (CP, "detect_hot_buckets", "operators.salt.detect_hot_buckets"),
        (CP, "quality_frame", "plans.pipeline.quality_frame"),
        (CP, "pending_buckets", "plans.checkpoint.pending_buckets"),
        (api.Suite, "run", "api.Suite.run"),
    ]
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in patches]
    try:
        for owner, attr, name in patches:
            setattr(owner, attr, tracer.wrap(name, owner.__dict__[attr]))
        yield tracer
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
