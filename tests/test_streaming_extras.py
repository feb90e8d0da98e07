"""Multi-table routing, poison-pill failure, restart loops, byte-rate
limiter, Spark jobs per replay-stream micro-batch."""

import datetime
import os

import pytest
from pyspark.sql import types as T

from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.streaming import pipeline as pl

TS = datetime.datetime(2024, 1, 1)

PAYLOAD = T.StructType(
    [T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
     T.StructField("commit", T.StringType()), T.StructField("lang", T.StringType()),
     T.StructField("content", T.StringType())]
)
SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("op_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("before", PAYLOAD),
        T.StructField("after", PAYLOAD),
        T.StructField("ddl", T.StringType()),
    ]
)


def _ev(op, seq, table, repo, content, ddl=None):
    img = (repo, f"p{seq}.py", f"c{seq}", "py", content)
    return (op, "lake", table, TS + datetime.timedelta(seconds=seq), seq, 0, seq,
            img if op == "DELETE" else None,
            img if op != "DELETE" else None, ddl)


def test_multi_table_routing(spark, tmp_root):
    binlog = os.path.join(tmp_root, "binlog")
    lake = os.path.join(tmp_root, "lake")
    ckpt = os.path.join(tmp_root, "ckpt")
    rows = [
        _ev("INSERT", 1, "alpha", "r1", "a1"),
        _ev("INSERT", 2, "beta", "r2", "b1"),
        _ev("INSERT", 3, "alpha", "r3", "a2"),
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(binlog)

    events = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(binlog)
    )
    q = pl.start_multi_table_stream(events, lake, ckpt, job_id="mt")
    assert q.awaitTermination(120)

    alpha = LakeTable.load(spark, os.path.join(lake, "alpha"))
    beta = LakeTable.load(spark, os.path.join(lake, "beta"))
    assert alpha.read().count() == 2
    assert beta.read().count() == 1
    # per-table batch ids recorded → per-table idempotence
    assert any(b.startswith("mt:alpha:") for b in alpha.committed_batches())


def test_multi_table_json_wire_heterogeneous_payloads(spark, tmp_root):
    """JSON wire + multi-table routing: two tables with DIFFERENT payload
    schemas ride ONE fixed wire schema; each micro-batch decodes per
    table against that table's own schema — impossible with a typed
    nested payload column."""
    import json as _json

    from chunjun_spark.sources.changelog import json_event_schema

    binlog = os.path.join(tmp_root, "jmbinlog")
    lake = os.path.join(tmp_root, "jmlake")
    ckpt = os.path.join(tmp_root, "jmckpt")

    users = T.StructType([T.StructField("uid", T.LongType()),
                          T.StructField("name", T.StringType())])
    orders = T.StructType([T.StructField("oid", T.LongType()),
                           T.StructField("amount", T.DoubleType()),
                           T.StructField("note", T.StringType())])
    LakeTable.create(spark, os.path.join(lake, "users"), users, pk=["uid"], n_buckets=2)
    LakeTable.create(spark, os.path.join(lake, "orders"), orders, pk=["oid"], n_buckets=2)

    def wire_row(op, seq, table, payload):
        return (op, "lake", table, TS + datetime.timedelta(seconds=seq),
                seq, None, 0, seq, None, _json.dumps(payload), None)

    rows = [
        wire_row("INSERT", 1, "users", {"uid": 1, "name": "ada"}),
        wire_row("INSERT", 2, "orders", {"oid": 10, "amount": 9.5, "note": "x"}),
        wire_row("INSERT", 3, "users", {"uid": 2, "name": "bo"}),
    ]
    spark.createDataFrame(rows, json_event_schema()).coalesce(1).write.parquet(binlog)

    events = (
        spark.readStream.schema(json_event_schema())
        .option("maxFilesPerTrigger", 1).parquet(binlog)
    )
    q = pl.start_multi_table_stream(events, lake, ckpt, job_id="jmt",
                                    wire_format="json")
    assert q.awaitTermination(120)

    u = {r["uid"]: r["name"] for r in
         LakeTable.load(spark, os.path.join(lake, "users")).read().collect()}
    o = {r["oid"]: (r["amount"], r["note"]) for r in
         LakeTable.load(spark, os.path.join(lake, "orders")).read().collect()}
    assert u == {1: "ada", 2: "bo"}
    assert o == {10: (9.5, "x")}


def test_multi_table_ddl_only_batch_applies_ddl(spark, tmp_root):
    """A micro-batch whose only rows for a table are DDL must still
    apply that DDL: the checkpoint commits the batch, so the DDL row
    never re-arrives — the old data-only routing dropped it forever
    (later payloads would silently decode against the stale schema)."""
    import json as _json

    binlog = os.path.join(tmp_root, "dbinlog")
    lake = os.path.join(tmp_root, "dlake")
    ckpt = os.path.join(tmp_root, "dckpt")

    # file 0: alpha data only; file 1: a gamma DDL ONLY (no gamma data);
    # maxFilesPerTrigger=1 -> the DDL arrives in its own micro-batch
    f0 = [_ev("INSERT", 1, "alpha", "r1", "a1")]
    f1 = [_ev("DDL", 2, "gamma", None, None,
              ddl=_json.dumps({"action": "add_column", "name": "stars",
                               "type": "int"}))]
    os.makedirs(binlog)
    stage = os.path.join(tmp_root, "dstage")
    spark.createDataFrame(f0, SCHEMA).coalesce(1).write.parquet(
        os.path.join(stage, "b0"))
    spark.createDataFrame(f1, SCHEMA).coalesce(1).write.parquet(
        os.path.join(stage, "b1"))
    import glob as _glob
    import time as _time
    flat = sorted(_glob.glob(os.path.join(stage, "b*", "part-*")))
    for i, p in enumerate(flat):
        dst = os.path.join(binlog, f"seg{i}.parquet")
        os.replace(p, dst)
        t = _time.time() - 10 + i
        os.utime(dst, (t, t))

    events = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(binlog)
    )
    q = pl.start_multi_table_stream(events, lake, ckpt, job_id="ddlonly")
    assert q.awaitTermination(120)

    gamma = LakeTable.load(spark, os.path.join(lake, "gamma"))
    assert "stars" in gamma.schema.names()  # created on DDL sight + evolved
    assert gamma.read().count() == 0
    alpha = LakeTable.load(spark, os.path.join(lake, "alpha"))
    assert alpha.read().count() == 1


def test_poison_pill_fails_stream(spark, tmp_root):
    binlog = os.path.join(tmp_root, "pbinlog")
    lake = os.path.join(tmp_root, "plake")
    ckpt = os.path.join(tmp_root, "pckpt")
    LakeTable.create(spark, lake, PAYLOAD, pk=["repo", "path"], n_buckets=4)
    rows = [
        _ev("INSERT", 1, "t", "r1", "x"),
        _ev("ERROR", 2, "t", None, None, ddl="heartbeat lost"),
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(binlog)
    events = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 4).parquet(binlog)
    )
    q = pl.start_replay_stream(events, lake, ckpt, job_id="poison")
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "in-band source failure" in str(ei.value)


def test_restart_loop_retries_then_succeeds(spark, tmp_root):
    calls = {"n": 0}

    class FakeQuery:
        def __init__(self, fail):
            self.fail = fail

        def awaitTermination(self, _timeout):
            if self.fail:
                raise RuntimeError("transient")
            return True

        def stop(self):
            pass

    def start():
        calls["n"] += 1
        return FakeQuery(fail=calls["n"] < 3)

    pl.run_stream_with_restart(start, max_attempts=5, delay_sec=0.01)
    assert calls["n"] == 3

    def always_fail():
        return FakeQuery(fail=True)

    with pytest.raises(RuntimeError, match="after 2 attempts"):
        pl.run_stream_with_restart(always_fail, max_attempts=2, delay_sec=0.01)


def test_failure_rate_restart_spread_failures_keep_restarting():
    """Failures spread wider than the interval never trip the bound —
    the sliding window forgets them (RestartConfig STRATEGY_FAILURE_RATE
    semantics); a burst inside the interval gives up."""
    calls = {"n": 0}
    clock = {"t": 0.0}

    class FakeQuery:
        def __init__(self, fail):
            self.fail = fail

        def awaitTermination(self, _timeout):
            clock["t"] += 30.0  # each attempt runs 30s of fake time
            if self.fail:
                raise RuntimeError("transient")
            return True

        def stop(self):
            pass

    def start():
        calls["n"] += 1
        return FakeQuery(fail=calls["n"] < 6)

    # failures land 30s apart: any 25s window holds at most 1 < bound 2
    # -> survives (at interval >= 30 two in-window failures WOULD trip
    # the bound — the Nth in-window failure gives up, Flink semantics)
    out = pl.run_stream_with_failure_rate_restart(
        start, max_failures_per_interval=2, failure_interval_sec=25.0,
        delay_sec=0.0, _clock=lambda: clock["t"],
    )
    assert out == {"restarts": 5, "gave_up": False}
    assert calls["n"] == 6


def test_failure_rate_restart_burst_gives_up():
    clock = {"t": 0.0}
    calls = {"n": 0}

    class Crash:
        def awaitTermination(self, _timeout):
            clock["t"] += 1.0  # crashes 1s apart: a burst
            raise RuntimeError("boom")

        def stop(self):
            pass

    def start():
        calls["n"] += 1
        return Crash()

    with pytest.raises(RuntimeError, match="giving up"):
        pl.run_stream_with_failure_rate_restart(
            start, max_failures_per_interval=3, failure_interval_sec=60.0,
            delay_sec=0.0, _clock=lambda: clock["t"],
        )
    assert calls["n"] == 3  # the 3rd in-window failure trips the bound


def test_byte_rate_limiter_throttles_to_budget():
    """Token-bucket feedback: pushing 2× the per-second budget in under a
    second must block until the cumulative rate is back at the budget."""
    import time

    lim = pl.ByteRateLimiter(bytes_per_sec=100_000)
    t0 = time.monotonic()
    lim.throttle(100_000)
    lim.throttle(100_000)  # 200 KB into a 100 KB/s budget → ~2 s floor
    elapsed = time.monotonic() - t0
    assert elapsed >= 1.5
    assert lim.sleeps > 0

    unlimited = pl.ByteRateLimiter(bytes_per_sec=-1)
    t0 = time.monotonic()
    unlimited.throttle(10**12)
    assert time.monotonic() - t0 < 0.1


def test_byte_rate_limiter_feedback_in_stream(spark, tmp_root):
    """End-to-end: the limiter samples real row width from the first
    micro-batch (feedback, not config) and stretches a multi-batch drain
    to the byte budget."""
    import time

    from chunjun_spark.sources.binlog import generate_binlog

    binlog = os.path.join(tmp_root, "binlog")
    lake = os.path.join(tmp_root, "lake")
    ckpt = os.path.join(tmp_root, "ckpt")
    generate_binlog(spark, n_events=400, seed=3, n_partitions=4).write.parquet(binlog)
    LakeTable.create(spark, lake, PAYLOAD, pk=["repo", "path"], n_buckets=4)

    events = pl.read_binlog_stream(spark, binlog, max_files_per_trigger=2)
    # width is measured from the stream itself; budget = ~half the total
    # bytes per second so the drain must sleep at least ~1 s
    lim = pl.ByteRateLimiter(bytes_per_sec=60_000)
    t0 = time.monotonic()
    q = pl.start_replay_stream(events, lake, ckpt, job_id="rate",
                               rate_limiter=lim)
    assert q.awaitTermination(120)
    elapsed = time.monotonic() - t0
    assert lim.bytes_per_row and lim.bytes_per_row > 50  # sampled, not guessed
    assert lim.total_bytes > 0
    floor = lim.total_bytes / lim.bytes_per_sec
    assert elapsed >= min(floor, 1.0)
    table = LakeTable.load(spark, lake)
    assert table.read().count() > 0


def test_windowed_counts_watermark_drops_late_events(spark, tmp_root):
    """Append-mode event-time windows under a 2h watermark: a row arriving
    3h+ late (its window end already below the watermark) is dropped; each
    closed window emits exactly once."""
    import time

    from chunjun_spark.streaming.windows import windowed_counts

    src = os.path.join(tmp_root, "ev")
    os.makedirs(src)
    base = datetime.datetime(2024, 1, 1)

    def _rows(hours):
        return [(base + datetime.timedelta(hours=h), "click", 1.0) for h in hours]

    schema = "ts timestamp_ntz, event_type string, value double"
    # batch 1: two events in hour-0, one in hour-1, one at hour-10
    # (advances the watermark to 8h once processed)
    spark.createDataFrame(_rows([0.1, 0.5, 1.2, 10.0]), schema).coalesce(
        1
    ).write.parquet(os.path.join(src, "f1"))
    time.sleep(1.1)  # distinct mtime → file source preserves batch order
    # batch 2: on-time event at hour-11. Spark's two-watermark design
    # (SPARK-24634) lags the LATE-EVENT filter one batch behind the
    # EVICTION watermark, so the drop only applies from the batch after
    # the advance propagates.
    spark.createDataFrame(_rows([11.0]), schema).coalesce(1).write.parquet(
        os.path.join(src, "f2")
    )
    time.sleep(1.1)
    # batch 3: a 10h-late event for hour-0 (window end 1h is far below
    # the 8-9h late-event watermark by now → dropped) and hour-12
    spark.createDataFrame(_rows([0.7, 12.0]), schema).coalesce(1).write.parquet(
        os.path.join(src, "f3")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = windowed_counts(stream, ts_col="ts", keys=("event_type",),
                          window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    got = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in rows
    }
    # each closed window emitted exactly once (no duplicate appends from
    # a late re-opened window)
    assert len(rows) == len(got)
    h = 3600
    t0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    # hour-0 window: 2 on-time events, late arrival dropped
    assert got[(t0, "click")] == 2
    # hour-1 window emitted once the watermark passed it
    assert got[(t0 + h, "click")] == 1
    # hour-10+ windows never close before the stream drains — append
    # mode holds them in state, not in the sink
    assert (t0 + 10 * h, "click") not in got
    # the drop is observable in the state-operator metrics
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"]
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped >= 1


def test_windowed_counts_batch_matches_naive_groupby(spark):
    """The same builder on a batch frame == a hand-rolled epoch-floor
    group-by (the shape the DuckDB oracle checks at sf0.01)."""
    import pyspark.sql.functions as F

    from chunjun_spark.streaming.windows import windowed_counts

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (base + datetime.timedelta(minutes=m), "a" if m % 2 else "b", float(m))
        for m in range(0, 200, 7)
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, event_type string, value double")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_counts(df).collect()
    }
    want = {
        (r["ws"], r["event_type"]): (r["n"], r["s"])
        for r in df.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("ws"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    }
    assert got == want


def test_pave_unpave_roundtrip(spark):
    """pave → unpave is lossless on the canonical event shape, including
    NULL-side collapse (DELETE has only before, data events only after)."""
    from chunjun_spark.sources.binlog import generate_binlog
    from chunjun_spark.sources.changelog import pave, unpave

    ev = generate_binlog(spark, n_events=300, seed=9, n_partitions=2).drop("ddl")
    paved = pave(ev)
    assert "before_repo" in paved.columns and "after_content" in paved.columns
    assert "before" not in paved.columns
    back = unpave(paved)
    # identical names + types (nullability relaxes through the rebuild —
    # generated literals are non-nullable, struct members come back nullable)
    assert back.schema.simpleString() == ev.schema.simpleString()
    a = sorted(ev.collect(), key=lambda r: r["seq"])
    b = sorted(back.collect(), key=lambda r: r["seq"])
    assert a == b
    # DELETE rows keep only the before image after the roundtrip
    dels = back.filter("op = 'DELETE'")
    if dels.count() > 0:
        assert dels.filter("after IS NOT NULL").count() == 0
        assert dels.filter("before IS NULL").count() == 0


def _counted_batch(spark, rows, acc):
    """Batch DataFrame whose every full evaluation re-runs the source RDD
    (the stand-in for a file source re-reading its input files): the
    accumulator counts rows produced = source evaluations * n_rows."""
    def bump(r):
        acc.add(1)
        return r

    rdd = spark.sparkContext.parallelize(rows, 2).map(bump)
    return spark.createDataFrame(rdd, SCHEMA)


def test_admit_batch_one_source_evaluation(spark):
    """Fused micro-batch admission (r02 verdict scale-killer #2): poison
    detection + DDL extraction must evaluate the source exactly ONCE —
    the old shape (poison filter+collect, then ddl.collect) read it twice
    before the write even started."""
    import json

    rows = [
        _ev("INSERT", 1, "t", "r", "a"),
        _ev("DDL", 2, "t", "r", None,
            ddl=json.dumps({"action": "add_column", "name": "x",
                            "type": "int"})),
        _ev("INSERT", 3, "t", "r", "b"),
    ]
    acc = spark.sparkContext.accumulator(0)
    df = _counted_batch(spark, rows, acc)
    data, ddl_rows, *_ = pl.admit_batch_with_offsets(df)
    assert acc.value == len(rows), (
        f"admission evaluated the source {acc.value / len(rows):.1f} times"
    )
    assert [r["seq"] for r in ddl_rows] == [2]
    assert json.loads(ddl_rows[0]["ddl"])["action"] == "add_column"
    got = sorted(r["seq"] for r in data.collect())
    assert got == [1, 3]
    # admission + the one wide pass the write performs = two total
    assert acc.value == 2 * len(rows)


def test_admit_batch_poison_raises_and_tolerates_missing_cols(spark):
    rows = [_ev("INSERT", 1, "t", "r", "a"), _ev("ERROR", 2, "t", "r", None,
                                                 ddl="boom")]
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(pl.InBandFailure, match="boom"):
        pl.admit_batch_with_offsets(df)
    # no op column -> no control rows, zero evaluations, frame passes through
    acc = spark.sparkContext.accumulator(0)
    rdd = spark.sparkContext.parallelize([(1, "x")], 1).map(
        lambda r: (acc.add(1), r)[1]
    )
    plain = spark.createDataFrame(rdd, "id long, v string")
    out, ddl_rows, *_ = pl.admit_batch_with_offsets(plain)
    assert ddl_rows == [] and out is plain
    assert acc.value == 0


def test_admit_multi_batch_one_source_evaluation(spark):
    """Multi-table admission folds poison + per-table DDL + the routing
    list into one narrow aggregate (previously three separate scans); a
    table seeing only DDL this batch has has_data=False (no merge, no
    offsets) but its DDL row still comes back for the caller to apply."""
    import json

    rows = [
        _ev("INSERT", 1, "ta", "r", "a"),
        _ev("DDL", 2, "ta", "r", None,
            ddl=json.dumps({"action": "add_column", "name": "x",
                            "type": "int"})),
        _ev("INSERT", 3, "tb", "r", "b"),
        _ev("DDL", 4, "tc", "r", None,
            ddl=json.dumps({"action": "add_column", "name": "y",
                            "type": "int"})),
    ]
    acc = spark.sparkContext.accumulator(0)
    df = _counted_batch(spark, rows, acc)
    data, ddl_rows, _, _, offsets = pl.admit_batch_with_offsets(df)
    names = sorted(offsets)
    assert acc.value == len(rows), (
        f"admission evaluated the source {acc.value / len(rows):.1f} times"
    )
    assert names == ["ta", "tb"]  # tc had only DDL -> no data to merge
    assert sorted(r["seq"] for r in ddl_rows) == [2, 4]
    assert sorted(r["seq"] for r in data.collect()) == [1, 3]
    # per-table FormatState offsets ride the same single pass; counts are
    # data rows only (numRead), but the high-water INCLUDES consumed DDL
    # offsets — a restore must not re-deliver a consumed DDL
    assert set(offsets) == {"ta", "tb"}
    assert sum(v["n"] for v in offsets["ta"].values()) == 1
    assert sum(v["n"] for v in offsets["tb"].values()) == 1
    assert offsets["ta"]["0"]["max_offset"] == 2  # ta's DDL rode offset 2


def test_admit_multi_batch_ddl_only_partition_keeps_offset(spark):
    """A table with data in one partition and ONLY a DDL in another must
    record the DDL partition's consumed offset in its high-water — the
    per-(table, partition) grouping otherwise drops it (has_data is
    false for that group) and a restore would re-deliver the DDL."""
    import json

    rows = [
        _ev("INSERT", 1, "ta", "r", "a"),  # partition 0, offset 1
        _ev("DDL", 9, "ta", "r", None,
            ddl=json.dumps({"action": "add_column", "name": "z",
                            "type": "int"})),
    ]
    # move the DDL row to partition 1
    rows[1] = rows[1][:5] + (1,) + rows[1][6:]
    df = spark.createDataFrame(rows, SCHEMA)
    _, ddl_rows, _, _, offsets = pl.admit_batch_with_offsets(df)
    names = sorted(offsets)
    assert names == ["ta"] and [r["seq"] for r in ddl_rows] == [9]
    assert offsets["ta"]["0"] == {"max_offset": 1, "n": 1}
    assert offsets["ta"]["1"] == {"max_offset": 9, "n": 0}


def test_admit_multi_batch_poison(spark):
    rows = [_ev("INSERT", 1, "ta", "r", "a"),
            _ev("ERROR", 2, "tb", "r", None, ddl="kaput")]
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(pl.InBandFailure, match="kaput"):
        pl.admit_batch_with_offsets(df)


def test_stream_metrics_listener(spark, tmp_root):
    """StreamMetricsListener (AccumulatorCollector/Prometheus-reporter
    analog for the streaming path): totals fold per query from pushed
    progress events and render in exposition format."""
    import os
    import time

    from chunjun_spark.metrics import StreamMetricsListener
    from chunjun_spark.plans.lake import LakeTable
    from chunjun_spark.sources.binlog import (
        PAYLOAD_SCHEMA,
        generate_binlog,
        write_binlog_files,
    )
    from chunjun_spark.streaming.pipeline import run_stream_to_completion

    listener = StreamMetricsListener.attach(spark)
    try:
        n = 6000
        events = generate_binlog(spark, n, n_keys=1200, dup_rate=0.0)
        binlog_dir = os.path.join(tmp_root, "binlog")
        write_binlog_files(events, binlog_dir, n_files=4)
        table = LakeTable.create(
            spark, os.path.join(tmp_root, "lake"), PAYLOAD_SCHEMA,
            pk=["repo", "path"], n_buckets=4,
        )
        run_stream_to_completion(
            spark, binlog_dir, table.root, os.path.join(tmp_root, "ckpt"),
            max_files_per_trigger=2,
        )
        # listener callbacks arrive on the JVM event thread — poll
        deadline = time.time() + 60
        snap = {}
        while time.time() < deadline:
            snap = listener.snapshot()
            if any(d["numInputRows"] >= n and d["active"] == 0
                   for d in snap.values()):
                break
            time.sleep(0.5)
        ours = [d for d in snap.values() if d["numInputRows"] >= n]
        assert ours, snap
        d = ours[0]
        assert d["numBatches"] >= 2  # 4 files / 2 per trigger
        # numInputRows counts every source re-read in a trigger: the
        # fused narrow admission pass + keep_last's winner-agg side +
        # the one wide payload pass = at most 3 evaluations per batch
        # (was 4 before admission and offsets were fused)
        assert n <= d["numInputRows"] <= 3 * n, d
        assert d["active"] == 0

        text = listener.render()
        assert "chunjun_stream_num_input_rows" in text
        assert "chunjun_stream_num_batches" in text
        assert 'query_id="' in text
    finally:
        listener.detach(spark)


def test_listener_render_valid_exposition_for_multiple_queries():
    """The text exposition format rejects a second TYPE line for an
    already-seen metric name, so >1 query must render grouped BY METRIC
    (one TYPE line each, one labeled sample per query) — and point-in-
    time readings (active, last*) must be gauges, not counters."""
    from types import SimpleNamespace

    from chunjun_spark.metrics import StreamMetricsListener

    li = StreamMetricsListener()

    def prog(qid, name, rows):
        return SimpleNamespace(progress=SimpleNamespace(
            id=qid, name=name, numInputRows=rows, inputRowsPerSecond=rows / 2,
            processedRowsPerSecond=rows / 2.0,
            durationMs={"triggerExecution": 7},
        ))

    li.onQueryProgress(prog("q-aaa", "alpha", 10))
    li.onQueryProgress(prog("q-bbb", "beta", 20))
    text = li.render()
    lines = text.strip().split("\n")
    type_names = [ln.split()[2] for ln in lines if ln.startswith("# TYPE ")]
    assert len(type_names) == len(set(type_names)), type_names
    types = {ln.split()[2]: ln.split()[3] for ln in lines
             if ln.startswith("# TYPE ")}
    assert types["chunjun_stream_active"] == "gauge"
    assert types["chunjun_stream_last_input_rows_per_second"] == "gauge"
    assert types["chunjun_stream_num_input_rows"] == "counter"
    # one sample per query per metric, labeled
    samples = [ln for ln in lines
               if ln.startswith("chunjun_stream_num_input_rows{")]
    assert len(samples) == 2
    assert any('query="alpha"' in s for s in samples)
    assert any('query="beta"' in s for s in samples)


# Spark jobs of a two-micro-batch start_replay_stream run (local[4],
# 4-bucket table, 300 events per micro-batch), measured (twice) before
# the stream's commit moved into operators/merge.commit_window: cow 30
# (15 per micro-batch), mor 16 (8 per micro-batch).
_STREAM_JOB_BOUNDS = {"cow": 30, "mor": 16}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_stream_jobs_per_micro_batch(spark, tmp_root, mode):
    """Each micro-batch of the replay stream runs at most its pinned
    number of Spark jobs (the query's job group is its run id)."""
    from chunjun_spark.sources.binlog import (
        PAYLOAD_SCHEMA,
        generate_binlog,
        write_binlog_files,
    )

    ev = generate_binlog(spark, 600, n_keys=200, seed=5, dup_rate=0.2)
    binlog = os.path.join(tmp_root, "binlog")
    write_binlog_files(ev, binlog, n_files=2)
    root = os.path.join(tmp_root, "lake")
    LakeTable.create(spark, root, PAYLOAD_SCHEMA, pk=["repo", "path"],
                     n_buckets=4)
    q = pl.start_replay_stream(
        pl.read_binlog_stream(spark, binlog, max_files_per_trigger=1),
        root, os.path.join(tmp_root, "ckpt"), mode=mode,
    )
    assert q.awaitTermination(180)
    assert len(LakeTable.load(spark, root).committed_batches()) == 2
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) <= _STREAM_JOB_BOUNDS[mode]
