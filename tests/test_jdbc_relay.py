"""CDC changelog → JDBC relay: the reference's primary deployment shape
(binlogreader → jdbcwriter under semantic=exactly-once) — net per-key
fold applied to a live Derby target in one audited transaction; DELETE
winners delete, the rest upsert; replayed batches are no-ops."""

import os

import pyspark.sql.functions as F
import pytest

from chunjun_spark.job import run_job
from chunjun_spark.sources.binlog import generate_binlog
from chunjun_spark.sources.jdbc_live import (
    DERBY_DRIVER,
    apply_changelog_jdbc_exactly_once,
    execute_sql,
    query_scalar,
)


def _db(name: str) -> str:
    return f"jdbc:derby:memory:{name};create=true"


def _mk_target(spark, url: str, table: str = "tgt") -> None:
    execute_sql(
        spark, url,
        # "commit" is an SQL reserved word — the source-code-repo row
        # shape forces delimited identifiers end to end (which is exactly
        # what the relay's generated SQL does)
        [f'CREATE TABLE {table} (repo VARCHAR(128), path VARCHAR(256), '
         '"COMMIT" VARCHAR(64), lang VARCHAR(16), content VARCHAR(4000), '
         "PRIMARY KEY (repo, path))"],
        driver=DERBY_DRIVER,
    )


def _expected_final(spark, ev):
    """Driver-side oracle: last (op_ts, seq) wins per (repo, path);
    DELETE winners vanish."""
    from chunjun_spark.operators.dedup import keep_last
    from chunjun_spark.operators.merge import events_with_pk

    w = keep_last(events_with_pk(ev, ["repo", "path"]),
                  pk=["repo", "path"], order=("op_ts", "seq"))
    rows = w.filter(F.col("op") != "DELETE").select("after.*").collect()
    return sorted((r["repo"], r["path"], r["commit"]) for r in rows)


def _target_state(spark, url, table="tgt"):
    df = (spark.read.format("jdbc").option("url", url)
          .option("dbtable", table).option("driver", DERBY_DRIVER).load())
    return sorted((r["REPO"], r["PATH"], r["COMMIT"]) for r in df.collect())


def test_changelog_apply_upserts_and_deletes_exactly_once(spark):
    url = _db("relay1")
    _mk_target(spark, url)
    ev = generate_binlog(spark, 3000, n_keys=400, seed=9, dup_rate=0.3)
    want = _expected_final(spark, ev)
    assert any(r["op"] == "DELETE" for r in ev.select("op").distinct().collect())

    res = apply_changelog_jdbc_exactly_once(
        ev, url, "tgt", job_id="relay", batch_id="w1",
        pk=["repo", "path"], driver=DERBY_DRIVER,
    )
    assert not res["skipped"]
    assert _target_state(spark, url) == want

    # replayed batch id: audited no-op, state unchanged
    res2 = apply_changelog_jdbc_exactly_once(
        ev, url, "tgt", job_id="relay", batch_id="w1",
        pk=["repo", "path"], driver=DERBY_DRIVER,
    )
    assert res2["skipped"]
    assert _target_state(spark, url) == want

    # a second window updates + deletes on top of window 1
    ev2 = generate_binlog(spark, 3000, n_keys=400, seed=10, dup_rate=0.3)\
        .withColumn("seq", F.col("seq") + 10_000_000)\
        .withColumn("op_ts", F.col("op_ts") + F.expr("INTERVAL 1 HOUR"))
    apply_changelog_jdbc_exactly_once(
        ev2, url, "tgt", job_id="relay", batch_id="w2",
        pk=["repo", "path"], driver=DERBY_DRIVER,
    )
    want12 = _expected_final(spark, ev.unionByName(ev2))
    assert _target_state(spark, url) == want12


def test_job_json_cdc_write_mode(spark, tmp_root):
    """writeMode=cdc on jdbcwriter: binlogreader → changelog apply,
    implied exactly-once (re-run with the same batchId is a no-op)."""
    url = _db("relay2")
    _mk_target(spark, url)
    binlog = os.path.join(tmp_root, "binlog")
    ev = generate_binlog(spark, 2000, n_keys=300, seed=4, dup_rate=0.2)
    ev.write.mode("overwrite").parquet(binlog)
    want = _expected_final(spark, spark.read.parquet(binlog))

    cfg = {"job": {"jobId": "cdcjob", "content": [{
        "reader": {"name": "binlogreader", "parameter": {"path": binlog}},
        "writer": {"name": "jdbcwriter", "parameter": {
            "url": url, "table": "tgt", "driver": DERBY_DRIVER,
            "writeMode": "cdc", "updateKey": ["repo", "path"],
            "jobId": "cdcjob", "batchId": "b1",
        }},
    }]}}
    m = run_job(spark, cfg)
    assert m["numRead"] == 2000
    assert _target_state(spark, url) == want
    m2 = run_job(spark, cfg)  # same batchId: skip, no hang, no re-apply
    assert m2["jdbcBatchSkipped"] and m2["numRead"] == 0
    assert _target_state(spark, url) == want


def test_streaming_relay_matches_batch_fold_and_resumes(spark, tmp_root):
    """File-backed binlog → streaming relay (a one-jdbc-sink fan-out)
    into Derby: final target state equals the one-shot fold; a restarted
    query over the same checkpoint re-delivers nothing (audit markers
    make replays no-ops)."""
    from chunjun_spark.sources.binlog import write_binlog_files
    from chunjun_spark.streaming.pipeline import start_fanout_stream

    url = _db("relay3")
    _mk_target(spark, url)
    ev = generate_binlog(spark, 4000, n_keys=500, seed=6, dup_rate=0.2)
    binlog = os.path.join(tmp_root, "rbinlog")
    write_binlog_files(ev, binlog, n_files=4)
    want = _expected_final(spark, ev)
    sinks = [{"type": "jdbc", "url": url, "table": "tgt",
              "pk": ["repo", "path"], "driver": DERBY_DRIVER}]

    events = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(binlog))
    ckpt = os.path.join(tmp_root, "rckpt")
    q = start_fanout_stream(events, sinks, ckpt, job_id="rjob")
    assert q.awaitTermination(180)
    assert _target_state(spark, url) == want
    n_markers = query_scalar(
        spark, url,
        "SELECT COUNT(*) FROM CHUNJUN_BATCHES WHERE JOB_ID = 'rjob'",
        driver=DERBY_DRIVER)
    assert int(n_markers) >= 4  # one per micro-batch

    # restart over the same checkpoint: nothing new, state unchanged
    events2 = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(binlog))
    q2 = start_fanout_stream(events2, sinks, ckpt, job_id="rjob")
    assert q2.awaitTermination(180)
    assert _target_state(spark, url) == want
    assert int(query_scalar(
        spark, url,
        "SELECT COUNT(*) FROM CHUNJUN_BATCHES WHERE JOB_ID = 'rjob'",
        driver=DERBY_DRIVER)) == int(n_markers)


def test_relay_forwards_add_column_ddl_idempotently(spark, tmp_root):
    """add_column DDL in the stream ALTERs the target (idempotent under
    micro-batch re-delivery); other DDL actions fail the query loudly."""
    import datetime
    import json as _json

    from pyspark.sql import types as T

    from chunjun_spark.sources.jdbc_live import relay_apply_ddl

    url = _db("relay4")
    _mk_target(spark, url)
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        {"op_ts": ts, "seq": 1,
         "ddl": _json.dumps({"action": "add_column", "name": "stars",
                             "type": "int"})},
    ]
    relay_apply_ddl(spark, url, "tgt", rows, DERBY_DRIVER, None, None)
    cols = (spark.read.format("jdbc").option("url", url)
            .option("dbtable", "tgt").option("driver", DERBY_DRIVER)
            .load().columns)
    assert "STARS" in cols
    # re-delivery: column exists -> skip, no error
    relay_apply_ddl(spark, url, "tgt", rows, DERBY_DRIVER, None, None)

    bad = [{"op_ts": ts, "seq": 2,
            "ddl": _json.dumps({"action": "truncate_table"})}]
    with pytest.raises(ValueError, match="cannot apply DDL action"):
        relay_apply_ddl(spark, url, "tgt", bad, DERBY_DRIVER, None, None)


def test_relay_forwards_rename_widen_drop_ddl(spark, tmp_root):
    """The full schema-evolution surface reaches the JDBC target:
    rename via RENAME COLUMN, numeric widen via the portable
    add-copy-drop-rename rebuild (Derby can't widen INT in place), drop
    via DROP COLUMN — each idempotent under micro-batch re-delivery."""
    import datetime
    import json as _json

    from chunjun_spark.sources.jdbc_live import relay_apply_ddl

    url = _db("relay_ddl2")
    _mk_target(spark, url)
    execute_sql(spark, url,
                ["ALTER TABLE tgt ADD COLUMN stars INT",
                 "INSERT INTO tgt (repo, path, stars) "
                 "VALUES ('r1', 'a.py', 41), ('r1', 'b.py', 7)"],
                driver=DERBY_DRIVER)
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        {"op_ts": ts, "seq": 1,
         "ddl": _json.dumps({"action": "widen_type", "name": "stars",
                             "type": "bigint"})},
        {"op_ts": ts, "seq": 2,
         "ddl": _json.dumps({"action": "rename_column", "old": "stars",
                             "new": "rating"})},
        {"op_ts": ts, "seq": 3,
         "ddl": _json.dumps({"action": "add_column", "name": "notes",
                             "type": "string"})},
        {"op_ts": ts, "seq": 4,
         "ddl": _json.dumps({"action": "drop_column", "name": "lang"})},
    ]
    relay_apply_ddl(spark, url, "tgt", rows, DERBY_DRIVER, None, None)

    def _load():
        return (spark.read.format("jdbc").option("url", url)
                .option("dbtable", "tgt").option("driver", DERBY_DRIVER)
                .load())

    df = _load()
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["RATING"] == "bigint" and "STARS" not in types
    assert "NOTES" in types and "LANG" not in types
    # widen preserved the data through the column rebuild
    got = sorted((r["PATH"], r["RATING"]) for r in df.collect())
    assert got == [("a.py", 41), ("b.py", 7)]
    # full re-delivery of the same DDL window: every action skips
    relay_apply_ddl(spark, url, "tgt", rows, DERBY_DRIVER, None, None)
    assert _load().count() == 2


def test_relay_add_then_rename_window_redelivery(spark, tmp_root):
    """An add_column whose column a LATER action in the same ordered
    window renames: on re-delivery the add must recognize its effect
    under the FINAL name and skip — not re-add the pre-rename name and
    then die when the rename hits 'new already exists'."""
    import datetime
    import json as _json

    from chunjun_spark.sources.jdbc_live import relay_apply_ddl

    url = _db("relay_ddl4")
    _mk_target(spark, url)
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        {"op_ts": ts, "seq": 1,
         "ddl": _json.dumps({"action": "add_column", "name": "grade",
                             "type": "int"})},
        {"op_ts": ts, "seq": 2,
         "ddl": _json.dumps({"action": "rename_column", "old": "grade",
                             "new": "score"})},
    ]
    relay_apply_ddl(spark, url, "tgt", rows, DERBY_DRIVER, None, None)
    relay_apply_ddl(spark, url, "tgt", rows, DERBY_DRIVER, None, None)
    df = (spark.read.format("jdbc").option("url", url)
          .option("dbtable", "tgt").option("driver", DERBY_DRIVER).load())
    assert "SCORE" in df.columns and "GRADE" not in df.columns


def test_relay_widen_resumes_from_crash_states(spark, tmp_root):
    """A crash between the widen recipe's statements leaves a state the
    re-run recognizes: an orphaned tmp column (mid-copy) is rebuilt; a
    missing original with tmp present (post-drop) is just renamed."""
    import datetime
    import json as _json

    from chunjun_spark.sources.jdbc_live import relay_apply_ddl

    ts = datetime.datetime(2024, 1, 1)
    widen = [{"op_ts": ts, "seq": 1,
              "ddl": _json.dumps({"action": "widen_type", "name": "stars",
                                  "type": "bigint"})}]

    # state A: crashed after ADD tmp, before the copy finished
    url = _db("relay_ddl3a")
    _mk_target(spark, url)
    execute_sql(spark, url,
                ["ALTER TABLE tgt ADD COLUMN stars INT",
                 "INSERT INTO tgt (repo, path, stars) VALUES ('r', 'p', 5)",
                 'ALTER TABLE tgt ADD COLUMN "STARS__WIDEN" BIGINT'],
                driver=DERBY_DRIVER)
    relay_apply_ddl(spark, url, "tgt", widen, DERBY_DRIVER, None, None)
    df = (spark.read.format("jdbc").option("url", url)
          .option("dbtable", "tgt").option("driver", DERBY_DRIVER).load())
    assert {f.name for f in df.schema.fields} >= {"STARS"}
    assert "STARS__WIDEN" not in df.columns
    assert df.first()["STARS"] == 5
    assert dict((f.name, f.dataType.simpleString())
                for f in df.schema.fields)["STARS"] == "bigint"

    # state B: crashed after DROP old, before RENAME — values live in tmp
    url = _db("relay_ddl3b")
    _mk_target(spark, url)
    execute_sql(spark, url,
                ['ALTER TABLE tgt ADD COLUMN "STARS__WIDEN" BIGINT',
                 "INSERT INTO tgt (repo, path, \"STARS__WIDEN\") "
                 "VALUES ('r', 'p', 9)"],
                driver=DERBY_DRIVER)
    relay_apply_ddl(spark, url, "tgt", widen, DERBY_DRIVER, None, None)
    df = (spark.read.format("jdbc").option("url", url)
          .option("dbtable", "tgt").option("driver", DERBY_DRIVER).load())
    assert df.first()["STARS"] == 9 and "STARS__WIDEN" not in df.columns


def test_streaming_relay_via_job_json(spark, tmp_root, monkeypatch):
    """setting.restore.isStream + jdbcwriter: the job JSON drives the
    streaming relay end to end (the reference's realtime binlog →
    database deployment in one config file), staging each micro-batch
    in the writer's ``stagingTable``."""
    import chunjun_spark.sources.jdbc_live as jl
    from chunjun_spark.sources.binlog import write_binlog_files

    staged = set()
    real_stage = jl._stage_frame

    def stage(df, url, staging, props):
        staged.add(staging)
        real_stage(df, url, staging, props)

    monkeypatch.setattr(jl, "_stage_frame", stage)

    url = _db("relay5")
    _mk_target(spark, url)
    ev = generate_binlog(spark, 2000, n_keys=300, seed=8, dup_rate=0.2)
    binlog = os.path.join(tmp_root, "jbinlog")
    write_binlog_files(ev, binlog, n_files=3)
    want = _expected_final(spark, ev)

    cfg = {"job": {"jobId": "jrelay", "content": [{
        "reader": {"name": "binlogreader", "parameter": {"path": binlog}},
        "writer": {"name": "jdbcwriter", "parameter": {
            "url": url, "table": "tgt", "driver": DERBY_DRIVER,
            "writeMode": "cdc", "updateKey": ["repo", "path"],
            "stagingTable": "relay_stage",
        }},
    }], "setting": {"restore": {
        "isStream": True, "isRestore": True,
        "checkpointDir": os.path.join(tmp_root, "jckpt"),
    }}}}
    m = run_job(spark, cfg)
    assert staged == {"relay_stage", "relay_stage_del"}
    # numWrite = rows touched by this run's applies: >= final row count
    # (a key updated in several micro-batches counts once per touch)
    assert m["numWrite"] >= len(want)
    assert m["numRead"] == 2000 and m["numBatches"] >= 1
    assert _target_state(spark, url) == want
    # re-run over the same checkpoint: replays are audited no-ops and
    # numRead counts each batch once (zero new reads on the rerun)
    m2 = run_job(spark, cfg)
    assert m2["numWrite"] == 0 and m2["numRead"] == 0  # nothing re-applied
    assert _target_state(spark, url) == want


def test_property_relay_windows_fold_to_one_shot(spark):
    """Property: ANY window split of the changelog, relayed sequentially
    (with some windows crash-replayed), leaves the JDBC target equal to
    the per-row fold model — the restore-mode expected output of
    docs/restore.md applied to a live database."""
    import uuid

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tests.conftest import fold_oracle, sha256_state

    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.integers(min_value=1, max_value=4), st.booleans())
    def run(k, replay_middle):
        run_id = uuid.uuid4().hex[:8]
        url = _db(f"relayprop_{run_id}")
        _mk_target(spark, url)
        n = 2500
        ev = generate_binlog(spark, n, n_keys=250, seed=17, dup_rate=0.2,
                             ).localCheckpoint(eager=True)
        bounds = [n * i // k for i in range(k + 1)]
        for i in range(k):
            w = ev.filter((F.col("offset") >= bounds[i]) &
                          (F.col("offset") < bounds[i + 1]))
            apply_changelog_jdbc_exactly_once(
                w, url, "tgt", job_id="prop", batch_id=f"w{i}",
                pk=["repo", "path"], driver=DERBY_DRIVER)
            if replay_middle:
                # crash-replay of the SAME window: audited no-op
                apply_changelog_jdbc_exactly_once(
                    w, url, "tgt", job_id="prop", batch_id=f"w{i}",
                    pk=["repo", "path"], driver=DERBY_DRIVER)
        want = fold_oracle(ev.collect())
        df = (spark.read.format("jdbc").option("url", url)
              .option("dbtable", "tgt").option("driver", DERBY_DRIVER)
              .load())
        got = {
            (r["REPO"], r["PATH"]): {
                "repo": r["REPO"], "path": r["PATH"], "commit": r["COMMIT"],
                "lang": r["LANG"], "content": r["CONTENT"],
            }
            for r in df.collect()
        }
        assert sha256_state(got) == sha256_state(want)

    run()


def test_batch_cdc_admits_control_rows(spark, tmp_root):
    """writeMode=cdc on the BATCH path admits like the stream: DDL rows
    forward as ALTER (never fold into a NULL-pk upsert), poison rows
    fail the job."""
    import datetime
    import json as _json

    url = _db("relay6")
    _mk_target(spark, url)
    ev = generate_binlog(spark, 500, n_keys=100, seed=3, dup_rate=0.0)
    ts = datetime.datetime(2030, 1, 1)
    ctrl = spark.createDataFrame(
        [("DDL", "lake", "repo_files", ts, 10**9, 0, 0, 10**9, None, None,
          _json.dumps({"action": "add_column", "name": "stars",
                       "type": "int"}))],
        ev.schema)
    binlog = os.path.join(tmp_root, "cbinlog")
    ev.unionByName(ctrl).write.mode("overwrite").parquet(binlog)

    cfg = {"job": {"jobId": "cdcddl", "content": [{
        "reader": {"name": "binlogreader", "parameter": {"path": binlog}},
        "writer": {"name": "jdbcwriter", "parameter": {
            "url": url, "table": "tgt", "driver": DERBY_DRIVER,
            "writeMode": "cdc", "updateKey": ["repo", "path"],
            "jobId": "cdcddl", "batchId": "b1",
        }},
    }]}}
    m = run_job(spark, cfg)
    df = (spark.read.format("jdbc").option("url", url)
          .option("dbtable", "tgt").option("driver", DERBY_DRIVER).load())
    assert "STARS" in df.columns            # DDL forwarded, not folded
    assert df.filter("repo IS NULL").count() == 0
    assert m["numWrite"] == df.count()      # rows touched this run

    # poison event fails the job before anything applies
    from chunjun_spark.streaming.pipeline import InBandFailure

    poison = spark.createDataFrame(
        [("ERROR", "lake", "repo_files", ts, 10**9 + 1, 0, 0, 10**9 + 1,
          None, None, "heartbeat lost")], ev.schema)
    binlog2 = os.path.join(tmp_root, "pbinlog")
    ev.unionByName(poison).write.mode("overwrite").parquet(binlog2)
    cfg["job"]["content"][0]["reader"]["parameter"]["path"] = binlog2
    cfg["job"]["content"][0]["writer"]["parameter"]["batchId"] = "b2"
    with pytest.raises(InBandFailure):
        run_job(spark, cfg)


def test_streaming_jdbc_requires_cdc_write_mode(spark, tmp_root):
    """isStream + jdbcwriter with a non-cdc writeMode must refuse: the
    keep_last fold would silently drop all but the last event per key
    relative to the requested insert semantics."""
    url = _db("relay7")
    _mk_target(spark, url)
    cfg = {"job": {"jobId": "badmode", "content": [{
        "reader": {"name": "binlogreader",
                   "parameter": {"path": os.path.join(tmp_root, "nope")}},
        "writer": {"name": "jdbcwriter", "parameter": {
            "url": url, "table": "tgt", "driver": DERBY_DRIVER,
            "writeMode": "insert", "updateKey": ["repo", "path"],
        }},
    }], "setting": {"restore": {
        "isStream": True, "isRestore": True,
        "checkpointDir": os.path.join(tmp_root, "bckpt"),
    }}}}
    with pytest.raises(ValueError, match="writeMode='cdc' only"):
        run_job(spark, cfg)


def test_chained_binlog_to_lake_to_jdbc_mart(spark, tmp_root):
    """Full chained pipeline, each hop exactly-once and each a job JSON:
    binlog window → lake (lakewriter), then the lake's CHANGE FEED →
    Derby mart (lakereader sinceVersion → jdbcwriter writeMode=cdc).
    After each window the mart equals the lake's read-optimized state —
    the reference's reader-feeds-next-writer chaining with a real
    database at the end."""
    from chunjun_spark.plans.lake import LakeTable

    url = _db("relay8")
    _mk_target(spark, url, "mart")
    lake = os.path.join(tmp_root, "chainlake")

    def lake_job(binlog, batch_id):
        return {"job": {"jobId": "chain", "content": [{
            "reader": {"name": "binlogreader", "parameter": {"path": binlog}},
            "writer": {"name": "lakewriter", "parameter": {
                "path": lake, "pk": ["repo", "path"], "batchId": batch_id,
            }},
        }]}}

    def sync_job(since, until, batch_id):
        return {"job": {"jobId": "chainsync", "content": [{
            "reader": {"name": "lakereader", "parameter": {
                "path": lake, "sinceVersion": since, "untilVersion": until,
            }},
            "writer": {"name": "jdbcwriter", "parameter": {
                "url": url, "table": "mart", "driver": DERBY_DRIVER,
                "writeMode": "cdc", "updateKey": ["repo", "path"],
                "jobId": "chainsync", "batchId": batch_id,
            }},
        }]}}

    def lake_state():
        return sorted(
            (r["repo"], r["path"], r["commit"])
            for r in LakeTable.load(spark, lake).read().collect())

    def mart_state():
        return _target_state(spark, url, "mart")

    # window 1: bootstrap the lake, then sync 0 -> v1 into the mart
    ev1 = generate_binlog(spark, 2000, n_keys=300, seed=4, dup_rate=0.2)
    b1 = os.path.join(tmp_root, "cb1")
    ev1.write.mode("overwrite").parquet(b1)
    run_job(spark, lake_job(b1, "w1"))
    v1 = LakeTable.load(spark, lake).manifest["version"]
    run_job(spark, sync_job(0, v1, "s1"))
    assert mart_state() == lake_state()

    # window 2: strictly-newer events into the lake, delta-sync v1 -> v2
    ev2 = generate_binlog(spark, 2000, n_keys=300, seed=5, dup_rate=0.2)\
        .withColumn("seq", F.col("seq") + 10_000_000)\
        .withColumn("op_ts", F.col("op_ts") + F.expr("INTERVAL 1 HOUR"))
    b2 = os.path.join(tmp_root, "cb2")
    ev2.write.mode("overwrite").parquet(b2)
    run_job(spark, lake_job(b2, "w2"))
    v2 = LakeTable.load(spark, lake).manifest["version"]
    m = run_job(spark, sync_job(v1, v2, "s2"))
    assert mart_state() == lake_state()
    # delta sync touched only the changed keys, not the whole table
    assert 0 < m["numWrite"] < len(lake_state())
    # replayed delta sync: audited no-op
    m2 = run_job(spark, sync_job(v1, v2, "s2"))
    assert m2["jdbcBatchSkipped"] and mart_state() == lake_state()


def test_streaming_relay_presql_runs_once_across_restarts(spark, tmp_root):
    """Run-once side-effect SQL (VERDICT r3 #8): the relay's preSql
    executes on the FIRST attempt only — a restart that resumes a job
    with committed progress must not re-run it (a TRUNCATE would wipe
    applied rows). Detector = any audit marker for the job_id."""
    import shutil

    from chunjun_spark.sources.binlog import write_binlog_files

    url = _db("relay_presql")
    _mk_target(spark, url)
    execute_sql(spark, url, ["CREATE TABLE PRE_LOG (N INT)"],
                driver=DERBY_DRIVER)
    ev = generate_binlog(spark, 2000, n_keys=300, seed=8, dup_rate=0.2)
    staging = os.path.join(tmp_root, "pbinlog_all")
    write_binlog_files(ev, staging, n_files=4)
    parts = sorted(p for p in os.listdir(staging) if p.startswith("part-"))
    binlog = os.path.join(tmp_root, "pbinlog")
    os.makedirs(binlog)
    for p in parts[:2]:  # window 1: first half, mtime order preserved
        shutil.copy2(os.path.join(staging, p), os.path.join(binlog, p))

    cfg = {"job": {"jobId": "jpresql", "content": [{
        "reader": {"name": "binlogreader", "parameter": {"path": binlog}},
        "writer": {"name": "jdbcwriter", "parameter": {
            "url": url, "table": "tgt", "driver": DERBY_DRIVER,
            "writeMode": "cdc", "updateKey": ["repo", "path"],
            # NON-idempotent on purpose: re-execution is detectable
            "preSql": ["INSERT INTO PRE_LOG VALUES (1)"],
        }},
    }], "setting": {"restore": {
        "isStream": True, "isRestore": True,
        "checkpointDir": os.path.join(tmp_root, "pckpt"),
    }}}}
    run_job(spark, cfg)
    n_pre = query_scalar(spark, url, "SELECT COUNT(*) FROM PRE_LOG",
                         driver=DERBY_DRIVER)
    assert n_pre == 1  # fresh job: preSql DID run

    # continuation restart: more binlog arrives, same job + checkpoint
    for p in parts[2:]:
        shutil.copy2(os.path.join(staging, p), os.path.join(binlog, p))
    m2 = run_job(spark, cfg)
    assert m2["numRead"] > 0  # window 2 really applied
    n_pre = query_scalar(spark, url, "SELECT COUNT(*) FROM PRE_LOG",
                         driver=DERBY_DRIVER)
    assert n_pre == 1  # restart with progress: preSql skipped
    assert _target_state(spark, url) == _expected_final(spark, ev)
