"""Metrics plane with the reference's accumulator names.

Reference analog: ChunJun's LongCounter accumulators and their documented
names (flinkx-core/.../constants/Metrics.java; docs/statistics.md):
numRead, byteRead, readDuration, numWrite, byteWrite, writeDuration,
nErrors, nullErrors, duplicateErrors, conversionErrors, otherErrors,
snapshotWrite. The reference pulls global values from the JobMaster on a
timer (metrics/AccumulatorCollector.java:107-141); on Spark the driver
sees accumulator totals directly, so the collector thread disappears.

Surfaces: ``render_prometheus`` renders any flat metric map (``run_job``'s
result, ``LakeTable.lineage_totals()``) in the Prometheus exposition
format, and ``StreamMetricsListener`` folds pushed streaming progress
into per-query totals.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

# --------------------------------------------------- Prometheus exposition

_HELP = {
    "numRead": "rows read from the source",
    "byteRead": "bytes read from the source",
    "readDuration": "read stage wall clock (ms)",
    "numWrite": "rows written to the sink",
    "byteWrite": "bytes written to the sink",
    "writeDuration": "write stage wall clock (ms)",
    "nErrors": "total dirty/error rows",
    "nullErrors": "dirty rows: null constraint",
    "duplicateErrors": "dirty rows: duplicate key",
    "conversionErrors": "dirty rows: type conversion",
    "otherErrors": "dirty rows: other",
    "snapshotWrite": "rows written during checkpoint snapshot",
}

# metrics that are point-in-time readings, not monotone accumulations —
# a wrong TYPE makes rate()/increase() over them silently meaningless
_GAUGES = {
    "active", "duration", "readDuration", "writeDuration",
    "lastTriggerMs", "endLocation", "snapshotWrite",
}

_CAMEL = re.compile(r"(?<!^)(?=[A-Z])")


def _prom_type(name: str) -> str:
    return "gauge" if name in _GAUGES or name.startswith("last") else "counter"


def _prom_name(name: str, prefix: str = "chunjun") -> str:
    """numRead → chunjun_num_read (Prometheus snake_case convention —
    the reference reporter exports Flink metric names verbatim; we follow
    the exposition-format naming rules instead)."""
    return f"{prefix}_{_CAMEL.sub('_', name).lower()}"


def _render_labels(labels: dict[str, str] | None) -> str:
    if not labels:
        return ""
    body = ",".join(
        '{}="{}"'.format(
            k,
            str(v).replace("\\", r"\\").replace('"', r"\"").replace(
                "\n", r"\n"
            ),
        )
        for k, v in sorted(labels.items())
    )
    return "{" + body + "}"


def render_prometheus(
    metrics: dict,
    labels: dict[str, str] | None = None,
    prefix: str = "chunjun",
) -> str:
    """Render a metrics snapshot in the Prometheus text exposition format
    — the reference's CustomPrometheusReporter surface
    (flinkx-core/.../metrics/CustomPrometheusReporter.java: pushes every
    accumulator to a gateway at job end; here the driver renders the
    same counters for any scraper/pushgateway to consume).

    Accepts any flat metric dict (e.g. ``run_job``'s result, lake
    ``lineage_totals()``); non-numeric
    and private (``_``-prefixed) entries are skipped. Labels (job_id,
    batch_id, ...) attach to every sample; values are escaped per the
    exposition spec."""
    lab = _render_labels(labels)
    lines = []
    for name in sorted(metrics):
        v = metrics[name]
        if name.startswith("_") or isinstance(v, bool) or not isinstance(
            v, (int, float)
        ):
            continue
        pn = _prom_name(name, prefix)
        if name in _HELP:
            lines.append(f"# HELP {pn} {_HELP[name]}")
        lines.append(f"# TYPE {pn} {_prom_type(name)}")
        lines.append(f"{pn}{lab} {v}")
    return "\n".join(lines) + "\n"

# ------------------------------------------- streaming progress listener


class StreamMetricsListener:
    """Per-query streaming progress folded into the metrics plane.

    Reference analog: the AccumulatorCollector timer thread that pulls
    live job counters for reporting (flinkx-core/.../metrics/
    AccumulatorCollector.java:107-141) feeding CustomPrometheusReporter.
    Structured Streaming already PUSHES progress per micro-batch, so
    the collector inverts into a ``StreamingQueryListener``: totals
    (micro-batches, input rows) and last-progress gauges (rows/sec,
    trigger wall) per query, snapshottable and renderable in the same
    exposition format as the batch counters.

    Driver-side only and lock-guarded (listener callbacks arrive on the
    JVM event thread); cost per micro-batch is O(1) dict updates — no
    Spark jobs, nothing on the executor hot path.

    Usage::

        from pyspark.sql.streaming import StreamingQueryListener
        listener = StreamMetricsListener.attach(spark)
        ... run streams ...
        listener.render()    # Prometheus exposition, one block per query
    """

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self._queries: dict[str, dict] = {}

    # --- StreamingQueryListener surface (duck-typed; see attach()) ---
    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._queries.setdefault(str(event.id), {
                "name": event.name or str(event.id),
                "numBatches": 0, "numInputRows": 0,
                "lastInputRowsPerSecond": 0.0,
                "lastProcessedRowsPerSecond": 0.0,
                "lastTriggerMs": 0, "active": 1,
            })

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            d = self._queries.setdefault(str(p.id), {
                "name": p.name or str(p.id), "numBatches": 0,
                "numInputRows": 0, "lastInputRowsPerSecond": 0.0,
                "lastProcessedRowsPerSecond": 0.0, "lastTriggerMs": 0,
                "active": 1,
            })
            d["numBatches"] += 1
            d["numInputRows"] += int(p.numInputRows or 0)
            d["lastInputRowsPerSecond"] = float(p.inputRowsPerSecond or 0.0)
            d["lastProcessedRowsPerSecond"] = float(
                p.processedRowsPerSecond or 0.0
            )
            d["lastTriggerMs"] = int(
                (p.durationMs or {}).get("triggerExecution", 0)
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            d = self._queries.get(str(event.id))
            if d is not None:
                d["active"] = 0

    # ------------------------------------------------------- reporting
    def snapshot(self) -> dict[str, dict]:
        with self._lock:
            return {qid: dict(d) for qid, d in self._queries.items()}

    def render(self, prefix: str = "chunjun_stream") -> str:
        """Exposition samples grouped BY METRIC (one HELP/TYPE line per
        metric name, then one labeled sample per query) — the format
        rejects a second TYPE line for an already-seen metric, so the
        per-query-block layout was invalid for >1 query."""
        snap = sorted(self.snapshot().items())
        names = sorted({
            k for _, d in snap for k, v in d.items()
            if k != "name" and not isinstance(v, bool)
            and isinstance(v, (int, float))
        })
        lines = []
        for name in names:
            pn = _prom_name(name, prefix)
            if name in _HELP:
                lines.append(f"# HELP {pn} {_HELP[name]}")
            lines.append(f"# TYPE {pn} {_prom_type(name)}")
            for qid, d in snap:
                if name in d:
                    lab = _render_labels(
                        {"query": d["name"], "query_id": qid}
                    )
                    lines.append(f"{pn}{lab} {d[name]}")
        return "\n".join(lines) + "\n"

    @classmethod
    def attach(cls, spark: SparkSession) -> "StreamMetricsListener":
        """Register on the session's stream manager. Subclassing happens
        here (not at module import) so importing the metrics plane never
        drags the streaming listener machinery in."""
        from pyspark.sql.streaming import StreamingQueryListener

        inner = cls()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                inner.onQueryStarted(event)

            def onQueryProgress(self, event):
                inner.onQueryProgress(event)

            def onQueryIdle(self, event):
                inner.onQueryIdle(event)

            def onQueryTerminated(self, event):
                inner.onQueryTerminated(event)

        inner._registered = _L()
        spark.streams.addListener(inner._registered)
        return inner

    def detach(self, spark: SparkSession) -> None:
        reg = getattr(self, "_registered", None)
        if reg is not None:
            spark.streams.removeListener(reg)
            self._registered = None
