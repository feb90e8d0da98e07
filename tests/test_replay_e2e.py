"""Milestone-1 slice: synthetic binlog → dedup → merge == in-memory fold.

Per-row invariant (BASELINE.json input_hint): sha256(content) equality
between the engine's final lake state and the reference fold model.
"""

import os

import pyspark.sql.functions as F
import pytest

from chunjun_spark.operators.dedup import keep_last, keep_last_salted, keep_last_window
from chunjun_spark.operators.merge import events_with_pk, replay
from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA, generate_binlog

from .conftest import df_state, fold_oracle, sha256_state

PK = ["repo", "path"]


def _empty_table(spark, tmp_root, n_buckets=8):
    return LakeTable.create(spark, f"{tmp_root}/lake", PAYLOAD_SCHEMA, pk=PK, n_buckets=n_buckets)


def test_generator_deterministic(spark):
    a = generate_binlog(spark, 2000, seed=7).collect()
    b = generate_binlog(spark, 2000, seed=7).collect()
    assert a == b
    c = generate_binlog(spark, 2000, seed=8).collect()
    assert a != c


def test_generator_shape(spark):
    df = generate_binlog(spark, 5000, n_partitions=4)
    rows = df.collect()
    assert {r["op"] for r in rows} <= {"INSERT", "UPDATE", "DELETE"}
    assert all(r["after"] is not None for r in rows if r["op"] != "DELETE")
    assert all(r["before"] is not None for r in rows if r["op"] == "DELETE")
    assert all(0 <= r["partition_id"] < 4 for r in rows)
    # dup injection produced repeated seqs
    seqs = [r["seq"] for r in rows]
    assert len(set(seqs)) < len(seqs)


@pytest.mark.parametrize("dedup_fn", [keep_last, keep_last_window, keep_last_salted])
def test_keep_last_variants_agree(spark, dedup_fn):
    ev = events_with_pk(generate_binlog(spark, 20_000, n_keys=500), PK)
    got = {
        (r["repo"], r["path"]): (r["op"], r["seq"])
        for r in dedup_fn(ev, pk=PK, order=("op_ts", "seq")).collect()
    }
    # oracle: python max per key
    want = {}
    for r in ev.collect():
        k = (r["repo"], r["path"])
        v = (r["op_ts"], r["seq"])
        if k not in want or v > want[k][0:2]:
            want[k] = (r["op_ts"], r["seq"], r["op"])
    assert len(got) == len(want)
    for k, (_, seq, op) in want.items():
        assert got[k] == (op, seq), k


def test_keep_last_window_fallback_over_threshold(spark):
    """Above the winner-broadcast threshold keep_last must switch to the
    single-shuffle window plan (the 25M-keys-at-8g case that aborts the
    broadcast build) and still return the identical winner set, with the
    same column order as the fast path."""
    ev = events_with_pk(generate_binlog(spark, 20_000, n_keys=500), PK)
    fast = keep_last(ev, pk=PK, order=("op_ts", "seq"))
    fallen = keep_last(
        ev, pk=PK, order=("op_ts", "seq"), broadcast_winner_rows=10
    )
    assert fallen.columns == fast.columns
    key = lambda r: (r["repo"], r["path"])  # noqa: E731
    got = {key(r): (r["op"], r["seq"]) for r in fallen.collect()}
    want = {key(r): (r["op"], r["seq"]) for r in fast.collect()}
    assert got == want


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_matches_fold_oracle(spark, tmp_root, mode):
    table = _empty_table(spark, tmp_root)
    events = generate_binlog(spark, 30_000, n_keys=800, n_partitions=8, dup_rate=0.05)
    res = replay(events, table, batch_id="b0", mode=mode)
    assert not res["skipped"]

    table = table.refresh()
    got = df_state(table.read(), PK)
    want = fold_oracle(events.collect(), PK)
    assert set(got) == set(want)
    assert sha256_state(got) == sha256_state(want)


def test_replay_multi_batch_split_by_seq(spark, tmp_root):
    """Replay in 4 sequential batches == one-shot replay (same fold)."""
    table = _empty_table(spark, tmp_root)
    events = generate_binlog(spark, 20_000, n_keys=500, dup_rate=0.03)
    n = 4
    for i in range(n):
        chunk = events.filter(
            (F.col("seq") >= i * 5000) & (F.col("seq") < (i + 1) * 5000)
        )
        replay(chunk, table.refresh(), batch_id=f"b{i}", mode="cow")
    table = table.refresh()
    got = df_state(table.read(), PK)
    want = fold_oracle(events.collect(), PK)
    assert sha256_state(got) == sha256_state(want)


def test_merge_idempotent_on_batch_replay(spark, tmp_root):
    """Re-running a committed batch_id is a no-op (exactly-once analog of
    FormatState resume, DtInputFormatSourceFunction.java:252-283)."""
    table = _empty_table(spark, tmp_root)
    events = generate_binlog(spark, 5000, n_keys=200)
    replay(events, table, batch_id="b0")
    v1 = table.refresh().manifest["version"]
    res = replay(events, table.refresh(), batch_id="b0")
    assert res["skipped"]
    assert table.refresh().manifest["version"] == v1


def test_delete_then_reinsert(spark, tmp_root):
    table = _empty_table(spark, tmp_root)
    rows = [
        ("INSERT", 1, None, ("o/r", "a.py", "c1", "py", "v1")),
        ("DELETE", 2, ("o/r", "a.py", "c1", "py", "v1"), None),
        ("INSERT", 3, None, ("o/r", "a.py", "c3", "py", "v3")),
        ("INSERT", 4, None, ("o/r", "b.py", "c1", "py", "x1")),
        ("DELETE", 5, ("o/r", "b.py", "c1", "py", "x1"), None),
    ]
    df = spark.createDataFrame(
        [
            {
                "op": op,
                "schema_name": "lake",
                "table_name": "repo_files",
                "op_ts": __import__("datetime").datetime(2024, 1, 1, 0, 0, seq),
                "seq": seq,
                "snowflake_ts": seq,
                "partition_id": 0,
                "offset": seq,
                "before": dict(zip(["repo", "path", "commit", "lang", "content"], b)) if b else None,
                "after": dict(zip(["repo", "path", "commit", "lang", "content"], a)) if a else None,
            }
            for op, seq, b, a in rows
        ],
        generate_binlog(spark, 1).schema,
    )
    replay(df, table, batch_id="b0")
    got = df_state(table.refresh().read(), PK)
    assert set(got) == {("o/r", "a.py")}
    assert got[("o/r", "a.py")]["commit"] == "c3"


def test_crash_between_data_write_and_commit_replays_clean(spark, tmp_root, monkeypatch):
    """Exactly-once under the worst crash point: the merge's data files
    are fully written but the process dies BEFORE the manifest CAS. The
    snapshot still points at the old version (orphan files only), so
    replaying the same micro-batch converges to the single-apply state —
    the property the atomic `_current` swap exists for."""
    from chunjun_spark.plans.lake import LakeTable as LT
    from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA, generate_binlog

    table = LT.create(
        spark, os.path.join(tmp_root, "crashlake"), PAYLOAD_SCHEMA,
        pk=["repo", "path"], n_buckets=4,
    )
    ev1 = generate_binlog(spark, 3000, n_keys=800, dup_rate=0.0)
    replay(ev1, table, batch_id="c1")
    table = table.refresh()
    v_before = table.manifest["version"]
    want_before = df_state(table.read(), PK)

    # shift the second stream strictly after the first in (op_ts, seq):
    # both the fold model's seq-idempotence and the engine's version
    # guard assume the Snowflake total-order contract across batches
    ev2 = (
        generate_binlog(spark, 2000, n_keys=800, dup_rate=0.0, seed=99)
        .withColumn("seq", F.col("seq") + F.lit(10_000_000))
        .withColumn("op_ts", F.col("op_ts") + F.expr("INTERVAL 400 DAYS"))
    )
    orig = LT._write_manifest

    def boom(self, manifest):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(LT, "_write_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        replay(ev2, table.refresh(), batch_id="c2")
    monkeypatch.setattr(LT, "_write_manifest", orig)

    # the failed attempt is invisible: snapshot unchanged, state intact
    t = LT.load(spark, table.root)
    assert t.manifest["version"] == v_before
    assert sha256_state(df_state(t.read(), PK)) == sha256_state(want_before)

    # replaying the SAME batch applies exactly once
    replay(ev2, t, batch_id="c2")
    got = df_state(LT.load(spark, table.root).read(), PK)
    want = fold_oracle(ev1.collect() + ev2.collect(), PK)
    assert sha256_state(got) == sha256_state(want)
    # orphan files from the failed attempt are collected by vacuum
    t = LT.load(spark, table.root)
    t.vacuum(keep_last=1)
    got2 = df_state(LT.load(spark, table.root).read(), PK)
    assert sha256_state(got2) == sha256_state(want)


def test_lineage_offsets_recorded(spark, tmp_root):
    table = _empty_table(spark, tmp_root)
    events = generate_binlog(spark, 8000, n_partitions=4, dup_rate=0.0)
    replay(events, table, batch_id="b0")
    lin = table.refresh().manifest["lineage"]["b0"]
    assert set(lin["offsets"].keys()) == {"0", "1", "2", "3"}
    assert lin["metrics"]["numRead"] == 8000
    assert sum(v["n"] for v in lin["offsets"].values()) == 8000


def _control_row(spark, op, seq, text):
    """One in-band control event on the binlog wire (no images)."""
    import datetime

    from chunjun_spark.sources.binlog import EVENT_SCHEMA

    return spark.createDataFrame([{
        "op": op, "schema_name": "lake", "table_name": "repo_files",
        "op_ts": datetime.datetime(2030, 1, 1), "seq": seq,
        "snowflake_ts": None, "partition_id": 0, "offset": seq,
        "before": None, "after": None, "ddl": text,
    }], EVENT_SCHEMA)


@pytest.mark.parametrize("op", ["ERROR", "DECODE_ERROR"])
def test_replay_refuses_in_band_failure(spark, tmp_root, op):
    """Batch replay admits like the stream: an in-band failure event or
    an undecodable wire row fails the replay before anything commits,
    instead of folding into an all-NULL upsert."""
    from chunjun_spark.streaming.pipeline import InBandFailure

    table = _empty_table(spark, tmp_root)
    events = generate_binlog(spark, 200, n_partitions=2).unionByName(
        _control_row(spark, op, 10_000, "boom"))
    with pytest.raises(InBandFailure):
        replay(events, table, batch_id="b0")
    assert table.refresh().committed_batches() == set()
    assert table.refresh().read().count() == 0
