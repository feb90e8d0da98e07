"""DDL-event-driven schema evolution through batch replay and streaming."""

import datetime
import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from chunjun_spark.operators.ddl import apply_ddl_events, ddl_event
from chunjun_spark.operators.merge import admit_batch_with_offsets
from chunjun_spark.operators.merge import replay
from chunjun_spark.plans.lake import LakeTable

TS = datetime.datetime(2024, 1, 1)


def _payload(extra=None):
    fields = [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
    if extra:
        fields.append(T.StructField(extra, T.IntegerType()))
    return T.StructType(fields)


def _event_schema(extra=None):
    p = _payload(extra)
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("schema_name", T.StringType()),
            T.StructField("table_name", T.StringType()),
            T.StructField("op_ts", T.TimestampType()),
            T.StructField("seq", T.LongType()),
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("before", p),
            T.StructField("after", p),
            T.StructField("ddl", T.StringType()),
        ]
    )


def _ev(op, seq, key, val, extra_val=None, ddl=None, extra=None):
    payload = (key, val) if extra is None else (key, val, extra_val)
    return (
        op,
        "lake",
        "t",
        TS + datetime.timedelta(seconds=seq),
        seq,
        0,
        seq,
        payload if op == "DELETE" else None,
        payload if op != "DELETE" else None,
        ddl,
    )


def test_ddl_add_column_mid_replay(spark, tmp_root):
    root = os.path.join(tmp_root, "lake")
    table = LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)

    # batch 1: old schema
    b1 = spark.createDataFrame(
        [_ev("INSERT", 1, "a", 10), _ev("INSERT", 2, "b", 20)], _event_schema()
    )
    replay(b1, table, batch_id="b1")

    # batch 2: DDL add_column(stars) + events written under the NEW schema
    ddl = json.dumps({"action": "add_column", "name": "stars", "type": "int"})
    b2 = spark.createDataFrame(
        [
            _ev("DDL", 3, None, None, ddl=ddl, extra="stars"),
            _ev("UPDATE", 4, "a", 11, extra_val=5, extra="stars"),
            _ev("INSERT", 5, "c", 30, extra_val=7, extra="stars"),
        ],
        _event_schema("stars"),
    )
    table = LakeTable.load(spark, root)
    replay(b2, table, batch_id="b2")

    out = {r["k"]: r for r in LakeTable.load(spark, root).read().collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["a"]["v"] == 11 and out["a"]["stars"] == 5
    assert out["b"]["stars"] is None  # old-schema row reads NULL
    assert out["c"]["stars"] == 7


def test_ddl_rename_and_widen(spark, tmp_root):
    root = os.path.join(tmp_root, "lake2")
    table = LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)
    b1 = spark.createDataFrame([_ev("INSERT", 1, "a", 10)], _event_schema())
    replay(b1, table, batch_id="b1")

    rows = [
        ddl_event(2, TS + datetime.timedelta(seconds=2), "rename_column",
                  old="v", new="version_count"),
        ddl_event(3, TS + datetime.timedelta(seconds=3), "widen_type",
                  name="version_count", type="bigint"),
    ]
    table = apply_ddl_events(LakeTable.load(spark, root), rows)
    out = table.read()
    assert "version_count" in out.columns and "v" not in out.columns
    row = out.collect()[0]
    assert row["version_count"] == 10  # old file read through rename+widen
    assert dict(out.dtypes)["version_count"] == "bigint"


def test_ddl_idempotent_reapply(spark, tmp_root):
    root = os.path.join(tmp_root, "lake3")
    table = LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)
    rows = [
        ddl_event(1, TS, "add_column", name="stars", type="int"),
        ddl_event(2, TS, "widen_type", name="stars", type="bigint"),
    ]
    table = apply_ddl_events(table, rows)
    sv = table.manifest["schema_version"]
    # re-delivery of the same DDL batch must be a no-op
    table = apply_ddl_events(table, rows)
    assert table.manifest["schema_version"] == sv


def test_ddl_idempotent_reapply_superseding_window(spark, tmp_root):
    """Re-delivery of a window whose LATER actions rename/widen/drop the
    columns EARLIER actions touch: each action must recognize its effect
    under the column's FINAL name and skip — the add must not re-add the
    pre-rename name, the rename must not fail on 'new already exists'."""
    root = os.path.join(tmp_root, "lake3b")
    table = LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)
    rows = [
        ddl_event(1, TS, "add_column", name="stars", type="int"),
        ddl_event(2, TS, "widen_type", name="stars", type="bigint"),
        ddl_event(3, TS, "rename_column", old="stars", new="rating"),
        ddl_event(4, TS, "add_column", name="tmpc", type="int"),
        ddl_event(5, TS, "drop_column", name="tmpc"),
    ]
    table = apply_ddl_events(table, rows)
    names = table.schema.names()
    assert "rating" in names and "stars" not in names and "tmpc" not in names
    sv = table.manifest["schema_version"]
    table = apply_ddl_events(table, rows)  # crash re-delivery
    assert table.manifest["schema_version"] == sv
    assert table.schema.names() == names


def test_ddl_drop_column_no_resurrect(spark, tmp_root):
    """Drop hides the column from reads of OLD data files; re-adding a
    column with the same name allocates a fresh field id, so the dropped
    values do NOT resurface (Iceberg never-reuse-id rule)."""
    root = os.path.join(tmp_root, "lake4")
    table = LakeTable.create(spark, root, _payload("stars"), pk=["k"], n_buckets=4)
    b1 = spark.createDataFrame(
        [_ev("INSERT", 1, "a", 10, extra_val=5, extra="stars")],
        _event_schema("stars"),
    )
    replay(b1, table, batch_id="b1")

    rows = [ddl_event(2, TS + datetime.timedelta(seconds=2), "drop_column", name="stars")]
    table = apply_ddl_events(LakeTable.load(spark, root), rows)
    out = table.read()
    assert "stars" not in out.columns
    assert out.collect()[0]["v"] == 10  # remaining columns intact

    # re-deliver the same drop: idempotent no-op
    sv = table.manifest["schema_version"]
    table = apply_ddl_events(table, rows)
    assert table.manifest["schema_version"] == sv

    # re-add a column NAMED stars: fresh id, old values stay buried
    table = apply_ddl_events(
        table,
        [ddl_event(3, TS + datetime.timedelta(seconds=3), "add_column",
                   name="stars", type="int")],
    )
    row = table.read().collect()[0]
    assert row["stars"] is None, "dropped column's old value resurfaced"
    ids = {f["name"]: f["id"] for f in table.schema.fields}
    hist = table.manifest["schemas"]["0"]
    old_id = next(f["id"] for f in hist if f["name"] == "stars")
    assert ids["stars"] != old_id

    # merges after the drop still accept events that carry the old column
    b2 = spark.createDataFrame(
        [_ev("UPDATE", 4, "a", 11, extra_val=9, extra="stars")],
        _event_schema("stars"),
    )
    replay(b2, table.refresh(), batch_id="b2")
    got = LakeTable.load(spark, root).read().collect()[0]
    assert got["v"] == 11 and got["stars"] == 9  # new-id column takes new writes


def test_ddl_drop_protected_column_rejected(spark, tmp_root):
    root = os.path.join(tmp_root, "lake5")
    table = LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)
    with pytest.raises(ValueError, match="cannot drop"):
        table.apply_ddl("drop_column", name="k")


def test_split_ddl(spark):
    df = spark.createDataFrame(
        [
            _ev("INSERT", 1, "a", 1),
            _ev("DDL", 2, None, None,
                ddl=json.dumps({"action": "add_column", "name": "x", "type": "int"})),
        ],
        _event_schema(),
    )
    data, ddl_rows, *_ = admit_batch_with_offsets(df)
    assert data.count() == 1 and len(ddl_rows) == 1
    assert ddl_rows[0]["op"] == "DDL"


def test_streaming_ddl_evolution(spark, tmp_root):
    from chunjun_spark.streaming.pipeline import run_stream_to_completion

    root = os.path.join(tmp_root, "slake")
    binlog = os.path.join(tmp_root, "sbinlog")
    ckpt = os.path.join(tmp_root, "sckpt")
    LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)

    os.makedirs(binlog)
    seg1 = spark.createDataFrame(
        [_ev("INSERT", 1, "a", 10), _ev("INSERT", 2, "b", 20)], _event_schema()
    )
    # segment 2 carries the DDL and new-schema rows; written second so the
    # file stream delivers it in a later micro-batch
    ddl = json.dumps({"action": "add_column", "name": "stars", "type": "int"})
    seg2 = spark.createDataFrame(
        [
            _ev("DDL", 3, None, None, ddl=ddl, extra="stars"),
            _ev("UPDATE", 4, "b", 21, extra_val=9, extra="stars"),
        ],
        _event_schema("stars"),
    )
    seg1.coalesce(1).write.mode("append").parquet(binlog)
    seg2.coalesce(1).write.mode("append").parquet(binlog)

    # NOTE: the file-stream schema must be the WIDEST event schema so new
    # payload fields survive; production streams use a self-describing
    # format (the padded schema here mirrors a Debezium topic with schema
    # registry evolution)
    import chunjun_spark.streaming.pipeline as pl
    events = (
        spark.readStream.schema(_event_schema("stars"))
        .option("maxFilesPerTrigger", 1)
        .parquet(binlog)
    )
    q = pl.start_replay_stream(events, root, ckpt, job_id="ddl-stream")
    q.awaitTermination(120)

    out = {r["k"]: r for r in LakeTable.load(spark, root).read().collect()}
    assert out["b"]["v"] == 21 and out["b"]["stars"] == 9
    assert out["a"]["stars"] is None


def test_streaming_ddl_evolution_json_wire(spark, tmp_root):
    """JSON envelope wire format: the stream's source schema is FIXED
    (payload rides as JSON strings), yet a column added by a mid-stream
    DDL flows through — no widest-schema pre-declaration, no query
    restart. This is the gap the nested-wire test above has to paper
    over with its padded-schema NOTE."""
    import chunjun_spark.streaming.pipeline as pl
    from chunjun_spark.sources.changelog import encode_json_events

    root = os.path.join(tmp_root, "jlake")
    binlog = os.path.join(tmp_root, "jbinlog")
    ckpt = os.path.join(tmp_root, "jckpt")
    LakeTable.create(spark, root, _payload(), pk=["k"], n_buckets=4)

    os.makedirs(binlog)
    seg1 = spark.createDataFrame(
        [_ev("INSERT", 1, "a", 10), _ev("INSERT", 2, "b", 20)], _event_schema()
    )
    ddl = json.dumps({"action": "add_column", "name": "stars", "type": "int"})
    seg2 = spark.createDataFrame(
        [
            _ev("DDL", 3, None, None, ddl=ddl, extra="stars"),
            _ev("UPDATE", 4, "b", 21, extra_val=9, extra="stars"),
            _ev("INSERT", 5, "c", 30, extra_val=7, extra="stars"),
        ],
        _event_schema("stars"),
    )
    # both segments encode to the SAME wire schema despite different payloads
    encode_json_events(seg1).coalesce(1).write.mode("append").parquet(binlog)
    encode_json_events(seg2).coalesce(1).write.mode("append").parquet(binlog)

    events = pl.read_binlog_stream_json(spark, binlog, max_files_per_trigger=1)
    q = pl.start_replay_stream(events, root, ckpt, job_id="ddl-json-stream",
                               wire_format="json")
    q.awaitTermination(120)

    out = {r["k"]: r for r in LakeTable.load(spark, root).read().collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["b"]["v"] == 21 and out["b"]["stars"] == 9
    assert out["c"]["stars"] == 7
    assert out["a"]["stars"] is None  # pre-DDL row reads NULL
