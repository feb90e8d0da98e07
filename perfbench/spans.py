"""Layer spans for the traced run, recorded from outside the engine.

``install`` replaces the public entry points of each engine layer with a
wrapper that records one span per call: name, start, end, parent span,
the operation it belongs to, and the number of Spark jobs the call ran.
Jobs are attributed by giving every span its own Spark job group
(``spark.jobGroup.id`` local property, restored on exit) and reading
``statusTracker().getJobIdsForGroup`` after the run, so a span's job
count is its SELF count: jobs of wrapped callees land in their own
groups. Self time is a span's duration minus its direct children's.

Nothing here edits engine code: module attributes and ``LakeTable``
methods are swapped for wrappers at run time, only when ``--trace 1`` is
given. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Recorder:
    """In-memory span store. ``enabled`` gates recording so a run can
    alternate traced and untraced operations (the tracing overhead is the
    difference between the two)."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op = None  # (kind, index) of the operation being measured
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        gid = f"perfbench-{sid}"
        stack = self._stack()
        if stack:
            parent, prev = stack[-1]
        else:
            parent, prev = None, self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, gid)
        stack.append((sid, gid))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev)
            self.spans.append({
                "id": sid, "name": name, "parent": parent, "t0": t0,
                "t1": t1, "group": gid, "op": self.op,
            })

    def resolve_jobs(self) -> None:
        """Fill each span's self job count from its job group. Done once,
        after the timed region, so the lookups cost the spans nothing;
        the session retains enough finished jobs for this."""
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s["jobs"] = len(tracker.getJobIdsForGroup(s["group"]))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(rec: Recorder) -> None:
    """Wrap each layer's public functions where the engine looks them up.

    Layers: the micro-batch callback (``stream.batch``), admission
    (``pipeline.admit``), the replay driver with its DDL split and
    ``collect`` (``merge.replay``) and its offsets (``merge.offsets``), ``keep_last``
    (``dedup.keep_last``) and the lake write paths and snapshot loads
    (``lake.merge``, ``lake.append_delta``, ``lake.compact``,
    ``lake.load``). Read-side spans are opened by the benchmark around its
    own ``point_lookup``/``read`` calls."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from chunjun_spark.operators import merge
    from chunjun_spark.plans import lake
    from chunjun_spark.streaming import pipeline

    pipeline.admit_batch_with_offsets = rec.wrap(
        "pipeline.admit", pipeline.admit_batch_with_offsets)
    keep_last = rec.wrap("dedup.keep_last", pipeline.keep_last)
    pipeline.keep_last = keep_last
    merge.keep_last = keep_last
    lake.keep_last = keep_last
    merge.replay = rec.wrap("merge.replay", merge.replay)
    merge.partition_offsets = rec.wrap("merge.offsets", merge.partition_offsets)

    LT = lake.LakeTable
    LT.merge = rec.wrap("lake.merge", LT.merge)
    LT.append_delta = rec.wrap("lake.append_delta", LT.append_delta)
    LT.compact = rec.wrap("lake.compact", LT.compact)
    LT.committed_batches = rec.wrap("lake.load", LT.committed_batches)
    LT.load = classmethod(rec.wrap("lake.load", LT.__dict__["load"].__func__))

    foreach_batch = DataStreamWriter.foreachBatch

    def traced_foreach_batch(self, func):
        return foreach_batch(self, rec.wrap("stream.batch", func))

    DataStreamWriter.foreachBatch = traced_foreach_batch


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the durations of its direct children."""
    out = {s["id"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= s["t1"] - s["t0"]
    return out
