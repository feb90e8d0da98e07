"""Streaming fan-out: ONE binlog read + one keep_last fold applied to
N sinks (lake + live-Derby mart), each exactly-once behind its own
idempotence guard — a crash between sinks re-delivers the batch and
only the not-yet-applied sinks act."""

import os

import pyspark.sql.functions as F
import pytest

from chunjun_spark.job import run_job
from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.sources.binlog import (
    PAYLOAD_SCHEMA,
    generate_binlog,
    write_binlog_files,
)
from chunjun_spark.sources.jdbc_live import (
    DERBY_DRIVER,
    execute_sql,
    query_scalar,
)
from chunjun_spark.streaming.pipeline import (
    read_binlog_stream,
    start_fanout_stream,
)

from .conftest import df_state, sha256_state

PK = ["repo", "path"]


def _db(name: str) -> str:
    return f"jdbc:derby:memory:{name};create=true"


def _mk_target(spark, url: str, table: str = "tgt") -> None:
    execute_sql(
        spark, url,
        [f'CREATE TABLE {table} (repo VARCHAR(128), path VARCHAR(256), '
         '"COMMIT" VARCHAR(64), lang VARCHAR(16), content VARCHAR(4000), '
         "PRIMARY KEY (repo, path))"],
        driver=DERBY_DRIVER,
    )


def _jdbc_state(spark, url, table="tgt"):
    df = (spark.read.format("jdbc").option("url", url)
          .option("dbtable", table).option("driver", DERBY_DRIVER).load())
    return sorted((r["REPO"], r["PATH"], r["COMMIT"]) for r in df.collect())


def _expected_final(spark, ev):
    from chunjun_spark.operators.dedup import keep_last
    from chunjun_spark.operators.merge import events_with_pk

    w = keep_last(events_with_pk(ev, PK), pk=PK, order=("op_ts", "seq"))
    rows = w.filter(F.col("op") != "DELETE").select("after.*").collect()
    return sorted((r["repo"], r["path"], r["commit"]) for r in rows)


def _fixture(spark, tmp_root, n=4000, n_keys=600):
    ev = generate_binlog(spark, n, n_keys=n_keys, seed=21, dup_rate=0.2)
    binlog = os.path.join(tmp_root, "binlog")
    write_binlog_files(ev, binlog, n_files=4)
    return ev, binlog


def test_fanout_lake_plus_jdbc_converge(spark, tmp_root):
    ev, binlog = _fixture(spark, tmp_root)
    url = _db("fanout1")
    _mk_target(spark, url)
    lake_root = os.path.join(tmp_root, "lake")
    LakeTable.create(spark, lake_root, PAYLOAD_SCHEMA, pk=PK, n_buckets=4)

    metrics: dict = {}
    q = start_fanout_stream(
        read_binlog_stream(spark, binlog, max_files_per_trigger=2),
        sinks=[
            {"type": "lake", "root": lake_root},
            {"type": "jdbc", "url": url, "table": "tgt", "pk": PK,
             "driver": DERBY_DRIVER},
        ],
        checkpoint_dir=os.path.join(tmp_root, "ckpt"),
        job_id="fan",
        metrics_out=metrics,
    )
    assert q.awaitTermination(300)

    want = _expected_final(spark, ev)
    t = LakeTable.load(spark, lake_root)
    got_lake = sorted(
        (r["repo"], r["path"], r["commit"])
        for r in t.read().select("repo", "path", "commit").collect()
    )
    assert got_lake == want
    assert _jdbc_state(spark, url) == want
    assert metrics["numRead"] == ev.count()
    assert metrics["numBatches"] >= 2  # maxFilesPerTrigger split it


def test_fanout_crash_between_sinks_is_exactly_once_on_both(spark, tmp_root, monkeypatch):
    """Kill the query after the LAKE applied but before the JDBC sink:
    the restart re-delivers the batch; the lake skips via its batch-id
    guard (no double-merge), the mart applies — both converge."""
    import chunjun_spark.sources.jdbc_live as jl

    ev, binlog = _fixture(spark, tmp_root)
    url = _db("fanout2")
    _mk_target(spark, url)
    lake_root = os.path.join(tmp_root, "lake")
    LakeTable.create(spark, lake_root, PAYLOAD_SCHEMA, pk=PK, n_buckets=4)
    ckpt = os.path.join(tmp_root, "ckpt")
    sinks = [
        {"type": "lake", "root": lake_root},
        {"type": "jdbc", "url": url, "table": "tgt", "pk": PK,
         "driver": DERBY_DRIVER},
    ]

    real = jl.apply_changelog_jdbc_exactly_once
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between sinks")
        return real(*a, **k)

    monkeypatch.setattr(jl, "apply_changelog_jdbc_exactly_once", boom)
    q = start_fanout_stream(
        read_binlog_stream(spark, binlog, max_files_per_trigger=2),
        sinks=sinks, checkpoint_dir=ckpt, job_id="fan",
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
        q.processAllAvailable()
    # batch 0 fully applied; batch 1 applied the lake, crashed pre-jdbc
    monkeypatch.setattr(jl, "apply_changelog_jdbc_exactly_once", real)

    q2 = start_fanout_stream(
        read_binlog_stream(spark, binlog, max_files_per_trigger=2),
        sinks=sinks, checkpoint_dir=ckpt, job_id="fan",
    )
    assert q2.awaitTermination(300)

    want = _expected_final(spark, ev)
    t = LakeTable.load(spark, lake_root)
    got_lake = sorted(
        (r["repo"], r["path"], r["commit"])
        for r in t.read().select("repo", "path", "commit").collect()
    )
    assert got_lake == want
    assert _jdbc_state(spark, url) == want
    # each micro-batch committed into the lake lineage exactly once
    bids = [b for b in t.committed_batches() if b.startswith("fan:")]
    assert len(bids) == len(set(bids))


def test_fanout_validation(spark, tmp_root):
    ev = read_binlog_stream(spark, tmp_root)
    with pytest.raises(ValueError, match="at least one sink"):
        start_fanout_stream(ev, [], tmp_root + "/c", "j")
    with pytest.raises(ValueError, match="unknown fan-out sink"):
        start_fanout_stream(ev, [{"type": "pulsar"}], tmp_root + "/c", "j")
    with pytest.raises(ValueError, match="needs a pk"):
        start_fanout_stream(ev, [{"type": "jdbc", "url": "u", "table": "t"}],
                            tmp_root + "/c", "j")
    with pytest.raises(ValueError, match="needs a pk"):
        start_fanout_stream(ev, [{"type": "kafka", "topic_dir": "d"}],
                            tmp_root + "/c", "j")
    with pytest.raises(ValueError, match="needs a topic_dir"):
        start_fanout_stream(ev, [{"type": "kafka", "pk": PK}],
                            tmp_root + "/c", "j")
    with pytest.raises(ValueError, match="requires mode='cow'"):
        start_fanout_stream(
            ev, [{"type": "lake", "root": "r", "mode": "mor",
                  "update_mode": "patch"}], tmp_root + "/c", "j")


def test_fanout_job_refuses_restore_from_lineage(spark, tmp_root):
    """restoreFromLineage on a fan-out job fails at config time, before
    any stream starts: only a single lake sink keeps the per-partition
    offsets a lineage restore seeks to."""
    ckpt = os.path.join(tmp_root, "ckpt")
    job = {"job": {
        "content": [{
            "reader": {"name": "binlogreader",
                       "parameter": {"path": tmp_root}},
            "writer": [
                {"name": "hudiwriter",
                 "parameter": {"path": os.path.join(tmp_root, "lake")}},
                {"name": "jdbcwriter",
                 "parameter": {"url": "jdbc:derby:memory:unused",
                               "table": "mart", "updateKey": PK}},
            ],
        }],
        "setting": {"restore": {"isStream": True, "checkpointDir": ckpt,
                                "restoreFromLineage": True}},
    }}
    with pytest.raises(ValueError, match="restoreFromLineage"):
        run_job(spark, job)
    assert not os.path.exists(ckpt) and not spark.streams.active


def test_fanout_job_json_two_lakes_and_mart(spark, tmp_root):
    """writer as a LIST in the job JSON: lake (cow) + lake (mor) + JDBC
    mart, one source read."""
    from chunjun_spark.sources import kafka_sim as ks

    ev, binlog = _fixture(spark, tmp_root, n=3000, n_keys=400)
    url = _db("fanout3")
    _mk_target(spark, url, "mart")
    execute_sql(spark, url, ["CREATE TABLE PRE_LOG (N INT)",
                             "CREATE TABLE POST_LOG (N INT)"],
                driver=DERBY_DRIVER)
    cow_root = os.path.join(tmp_root, "cow")
    mor_root = os.path.join(tmp_root, "mor")
    for root in (cow_root, mor_root):
        LakeTable.create(spark, root, PAYLOAD_SCHEMA, pk=PK, n_buckets=4)
    topic = os.path.join(tmp_root, "topic")
    ks.create_topic(topic, n_partitions=2)

    job = {
        "job": {
            "content": [{
                "reader": {"name": "binlogreader",
                           "parameter": {"path": binlog}},
                "writer": [
                    {"name": "hudiwriter", "parameter": {"path": cow_root}},
                    {"name": "hudiwriter",
                     "parameter": {"path": mor_root, "mode": "mor"}},
                    {"name": "jdbcwriter",
                     "parameter": {"url": url, "table": "mart",
                                   "driver": DERBY_DRIVER,
                                   "updateKey": PK,
                                   "preSql": ["INSERT INTO PRE_LOG "
                                              "VALUES (1)"],
                                   "postSql": ["INSERT INTO POST_LOG "
                                               "VALUES (1)"]}},
                    {"name": "kafkawriter",
                     "parameter": {"topic": topic, "updateKey": PK}},
                ],
            }],
            "setting": {
                "speed": {"channel": 2},
                "restore": {
                    "isStream": True,
                    "checkpointDir": os.path.join(tmp_root, "jckpt"),
                },
            },
        }
    }
    m = run_job(spark, job)
    want_hash = None
    for root in (cow_root, mor_root):
        t = LakeTable.load(spark, root)
        h = sha256_state(df_state(t.read(), PK))
        want_hash = want_hash or h
        assert h == want_hash
    assert _jdbc_state(spark, url, "mart") == _expected_final(spark, ev)
    for log in ("PRE_LOG", "POST_LOG"):  # each hook ran exactly once
        assert query_scalar(spark, url, f"SELECT COUNT(*) FROM {log}",
                            driver=DERBY_DRIVER) == 1
    assert m["numRead"] == ev.count()
    assert m["nErrors"] == 0
    # the kafkawriter leg relayed every batch's winners to the topic
    from chunjun_spark.sources.kafka import decode_events

    relayed = decode_events(ks.read_topic_batch(spark, topic), ev.schema)
    assert _expected_final(spark, relayed) == _expected_final(spark, ev)


def test_fanout_kafka_topic_leg_roundtrips_and_skips_replay(spark, tmp_root):
    """Lake + kafka-topic fan-out: the topic receives the per-batch
    folded changelog through the transactional-producer analog; a full
    re-run of the stream (fresh checkpoint, same job id) leaves the
    topic byte-identical, and replaying the topic into a fresh lake
    reproduces the source final state."""
    from chunjun_spark.operators.merge import replay
    from chunjun_spark.sources import kafka_sim as ks
    from chunjun_spark.sources.kafka import decode_events

    ev, binlog = _fixture(spark, tmp_root)
    lake_root = os.path.join(tmp_root, "lake")
    LakeTable.create(spark, lake_root, PAYLOAD_SCHEMA, pk=PK, n_buckets=4)
    topic = os.path.join(tmp_root, "topic")
    ks.create_topic(topic, n_partitions=4)
    sinks = [
        {"type": "lake", "root": lake_root},
        {"type": "kafka", "topic_dir": topic, "pk": PK},
    ]
    metrics: dict = {}
    q = start_fanout_stream(
        read_binlog_stream(spark, binlog, max_files_per_trigger=2),
        sinks=sinks, checkpoint_dir=os.path.join(tmp_root, "ckpt"),
        job_id="fan", metrics_out=metrics,
    )
    assert q.awaitTermination(300)
    want = _expected_final(spark, ev)

    ends1 = ks.topic_meta(topic)["ends"]
    n1 = ks.read_topic_batch(spark, topic).count()
    assert n1 > 0 and sum(int(e) for e in ends1.values()) == n1
    assert sum(v for k, v in metrics.items()
               if k.startswith("numWrite_kafka")) == n1

    # replay the TOPIC into a fresh lake: winners-of-winners == source
    dec = decode_events(ks.read_topic_batch(spark, topic), ev.schema)
    lake2 = os.path.join(tmp_root, "lake2")
    t2 = LakeTable.create(spark, lake2, PAYLOAD_SCHEMA, pk=PK, n_buckets=4)
    replay(dec, t2, batch_id="from-topic")
    got = sorted(
        (r["repo"], r["path"], r["commit"])
        for r in t2.refresh().read().select("repo", "path", "commit").collect()
    )
    assert got == want

    # full stream re-run (fresh checkpoint, SAME job id → same batch
    # ids): every sink skips; the topic must not grow
    q2 = start_fanout_stream(
        read_binlog_stream(spark, binlog, max_files_per_trigger=2),
        sinks=sinks, checkpoint_dir=os.path.join(tmp_root, "ckpt2"),
        job_id="fan",
    )
    assert q2.awaitTermination(300)
    assert ks.topic_meta(topic)["ends"] == ends1
    assert ks.read_topic_batch(spark, topic).count() == n1


def test_fanout_kafka_sink_creates_topic_on_demand(spark, tmp_root):
    """Review r4: the kafka leg's pending check opened topic meta
    unguarded — a fresh machine running the shipped example died with
    FileNotFoundError before the first produce. The topic is now
    created on demand like the lake sinks."""
    import os

    from chunjun_spark.sources.binlog import generate_binlog, write_binlog_files
    from chunjun_spark.sources.kafka_sim import topic_meta
    from chunjun_spark.streaming.pipeline import (
        read_binlog_stream,
        start_fanout_stream,
    )

    ev = generate_binlog(spark, 1_000, n_keys=150, seed=12)
    src = os.path.join(tmp_root, "fk_binlog")
    write_binlog_files(ev, src, n_files=2)
    topic = os.path.join(tmp_root, "fk_topic")  # never create_topic()'d
    q = start_fanout_stream(
        read_binlog_stream(spark, src),
        sinks=[{"type": "kafka", "topic_dir": topic, "n_partitions": 2,
                "pk": ["repo", "path"]}],
        checkpoint_dir=os.path.join(tmp_root, "fk_ckpt"),
        job_id="fk-job",
    )
    assert q.awaitTermination(120)
    meta = topic_meta(topic)
    assert meta["n_partitions"] == 2
    assert sum(int(v) for v in meta["ends"].values()) > 0  # produced
