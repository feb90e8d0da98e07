"""Snapshot time travel, Kafka JSON codec, streaming auto-compaction."""

import os

import pyspark.sql.functions as F
import pytest

from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.operators.merge import replay
from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA, generate_binlog
from chunjun_spark.sources.kafka import decode_events, encode_events, reader_options
from chunjun_spark.sources.binlog import EVENT_SCHEMA


def test_time_travel_reads_old_snapshot(spark, tmp_root):
    root = os.path.join(tmp_root, "tt")
    table = LakeTable.create(spark, root, PAYLOAD_SCHEMA, pk=["repo", "path"], n_buckets=4)
    ev1 = generate_binlog(spark, n_events=2000, n_keys=500, seed=3)
    replay(ev1, table, batch_id="b1")
    v1 = LakeTable.load(spark, root).manifest["version"]
    n1 = LakeTable.load(spark, root).read().count()

    ev2 = generate_binlog(spark, n_events=2000, n_keys=500, seed=4)
    replay(ev2, LakeTable.load(spark, root), batch_id="b2")
    n2 = LakeTable.load(spark, root).read().count()

    old = LakeTable.load(spark, root, version=v1)
    assert old.read().count() == n1
    assert LakeTable.load(spark, root).read().count() == n2
    # writing against a historical snapshot must be rejected
    from chunjun_spark.plans.lake import ConcurrentCommitError
    with pytest.raises(ConcurrentCommitError):
        replay(ev2, old, batch_id="b3")
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, root, version=999)


def test_kafka_json_roundtrip(spark):
    ev = generate_binlog(spark, n_events=500, n_keys=100, seed=5)
    encoded = encode_events(ev)
    assert encoded.columns == ["key", "value"]
    decoded = decode_events(encoded, EVENT_SCHEMA)
    # names/types round-trip (nullability differs: from_json is nullable)
    assert decoded.schema.simpleString() == ev.schema.simpleString()
    a = {(r["seq"], r["op"]) for r in ev.select("seq", "op").collect()}
    b = {(r["seq"], r["op"]) for r in decoded.select("seq", "op").collect()}
    assert a == b
    # full payload survives
    orig = {r["seq"]: r["after"] for r in ev.collect()}
    back = {r["seq"]: r["after"] for r in decoded.collect()}
    assert orig == back
    # keys route all versions of one pk to one partition: same pk → same key
    keys = (
        encoded.select(F.col("key").cast("string").alias("k"))
        .distinct()
        .count()
    )
    pks = (
        decode_events(encoded, EVENT_SCHEMA)
        .select(
            F.coalesce(F.col("after.repo"), F.col("before.repo")).alias("r"),
            F.coalesce(F.col("after.path"), F.col("before.path")).alias("p"),
        )
        .distinct()
        .count()
    )
    assert keys == pks


def test_reader_options_modes():
    o = reader_options("b:9092", "t", mode="latest", max_offsets_per_trigger=5000)
    assert o["startingOffsets"] == "latest"
    assert o["maxOffsetsPerTrigger"] == "5000"
    o2 = reader_options("b:9092", "t", mode="timestamp", timestamp_ms=123)
    assert o2["startingTimestamp"] == "123"


def test_streaming_auto_compact(spark, tmp_root):
    from chunjun_spark.sources.binlog import write_binlog_files
    from chunjun_spark.streaming.pipeline import read_binlog_stream, start_replay_stream

    root = os.path.join(tmp_root, "ac_lake")
    binlog = os.path.join(tmp_root, "ac_binlog")
    ckpt = os.path.join(tmp_root, "ac_ckpt")
    LakeTable.create(spark, root, PAYLOAD_SCHEMA, pk=["repo", "path"], n_buckets=4)
    ev = generate_binlog(spark, n_events=4000, n_keys=1000, seed=6)
    write_binlog_files(ev, binlog, n_files=4)

    events = read_binlog_stream(spark, binlog, max_files_per_trigger=1)
    q = start_replay_stream(
        events, root, ckpt, job_id="ac", mode="mor", compact_every=2
    )
    assert q.awaitTermination(300)

    t = LakeTable.load(spark, root)
    assert len(t.manifest["deltas"]) < 2  # compaction kept delta count bounded
    # state identical to a plain batch replay
    root2 = os.path.join(tmp_root, "ac_lake2")
    t2 = LakeTable.create(spark, root2, PAYLOAD_SCHEMA, pk=["repo", "path"], n_buckets=4)
    replay(ev, t2, batch_id="ref")
    a = {tuple(r) for r in t.read().collect()}
    b = {tuple(r) for r in LakeTable.load(spark, root2).read().collect()}
    assert a == b


def test_merge_nondeterministic_input_drops_no_keys(spark, tmp_root):
    """keep_last's two-traversal row tag is fenced by checkpoint_input in
    merge: a non-deterministic input plan (orderBy(rand()) reshuffles
    differently per traversal) must not silently drop keys (ADVICE r1)."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from chunjun_spark.plans.lake import LakeTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "nd_lake"), schema, pk=["k"], n_buckets=4
    )
    changes = (
        spark.range(0, 2000)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.lit("UPSERT").alias("_op"),
            F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias("_vts"),
            F.col("id").alias("_vseq"),
        )
        # unseeded rand: a genuinely non-deterministic plan — each
        # traversal materializes a different row order / partitioning
        .orderBy(F.rand())
        .repartition(8)
    )
    table.merge(changes, batch_id="nd-1")
    got = table.refresh().read()
    assert got.count() == 2000
    assert got.filter(F.col("v").isNull()).count() == 0


# --------------------------------------------------- change-data-feed

def _mk_changes(spark, rows):
    """rows: (user_id, v, op, ts_s, seq)"""
    from chunjun_spark.plans.lake import OP_COL, VTS_COL, VSEQ_COL
    return spark.createDataFrame(
        [(u, v, op, f"2024-01-01 00:00:{s:02d}", q)
         for (u, v, op, s, q) in rows],
        f"user_id long, v double, {OP_COL} string, _ts string, {VSEQ_COL} long",
    ).select(
        "user_id", "v", OP_COL,
        F.col("_ts").cast("timestamp").alias(VTS_COL), VSEQ_COL,
    )


def _cdf_table(spark, tmp_root, name):
    from pyspark.sql import types as T
    root = os.path.join(tmp_root, name)
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    return LakeTable.create(spark, root, schema, pk=["user_id"], n_buckets=4)


def test_read_changes_classifies(spark, tmp_root):
    t = _cdf_table(spark, tmp_root, "cdf1")
    t.merge(_mk_changes(spark, [
        (1, 10.0, "UPSERT", 1, 1),
        (2, 20.0, "UPSERT", 2, 2),
        (3, 30.0, "UPSERT", 3, 3),
    ]), batch_id="b1")
    t = t.refresh()
    v1 = t.manifest["version"]
    t.merge(_mk_changes(spark, [
        (2, 21.0, "UPSERT", 10, 10),   # update
        (3, None, "DELETE", 11, 11),   # delete
        (4, 40.0, "UPSERT", 12, 12),   # insert
    ]), batch_id="b2")
    t = t.refresh()
    got = {r["user_id"]: r for r in t.read_changes(since_version=v1).collect()}
    assert set(got) == {2, 3, 4}
    assert got[2]["_change_type"] == "update_postimage" and got[2]["v"] == 21.0
    assert got[3]["_change_type"] == "delete"
    assert got[4]["_change_type"] == "insert" and got[4]["v"] == 40.0
    # unchanged key 1 is absent; the empty window yields nothing
    assert t.read_changes(since_version=t.manifest["version"]).count() == 0


def test_read_changes_mor_fast_path_and_tombstone_reinsert(spark, tmp_root):
    t = _cdf_table(spark, tmp_root, "cdf2")
    t.merge(_mk_changes(spark, [(1, 1.0, "UPSERT", 1, 1),
                                (2, 2.0, "UPSERT", 2, 2)]), batch_id="b1")
    t = t.refresh()
    t.append_delta(_mk_changes(spark, [(1, None, "DELETE", 3, 3)]),
                   batch_id="b2")
    t = t.refresh()
    v_del = t.manifest["version"]
    # fast path applies: only deltas appended since v_del's parent chain
    from chunjun_spark.plans.lake import LakeTable as LT
    old_m = LT.load(spark, t.root, version=v_del - 1).manifest
    assert t._cdf_new_deltas(old_m, t.manifest) is not None
    # re-insert over the tombstone -> classified insert
    t.append_delta(_mk_changes(spark, [(1, 9.0, "UPSERT", 4, 4)]),
                   batch_id="b3")
    t = t.refresh()
    got = {r["user_id"]: r for r in t.read_changes(since_version=v_del).collect()}
    assert got[1]["_change_type"] == "insert" and got[1]["v"] == 9.0
    assert 2 not in got
    # spanning both windows: delete(1)+reinsert(1) nets to update vs v1
    got2 = {r["user_id"]: r
            for r in t.read_changes(since_version=v_del - 1).collect()}
    assert got2[1]["_change_type"] == "update_postimage"


def test_read_changes_purged_key_emits_delete(spark, tmp_root):
    t = _cdf_table(spark, tmp_root, "cdf3")
    t.merge(_mk_changes(spark, [(1, 1.0, "UPSERT", 1, 1)]), batch_id="b1")
    t = t.refresh()
    v1 = t.manifest["version"]
    t.merge(_mk_changes(spark, [(1, None, "DELETE", 2, 2)]), batch_id="b2")
    t = t.refresh()
    t.compact(purge_tombstones=True)
    t = t.refresh()
    got = t.read_changes(since_version=v1).collect()
    assert len(got) == 1
    assert got[0]["user_id"] == 1 and got[0]["_change_type"] == "delete"


def test_history_and_vacuum(spark, tmp_root):
    t = _cdf_table(spark, tmp_root, "gc1")
    t.merge(_mk_changes(spark, [(1, 1.0, "UPSERT", 1, 1)]), batch_id="h1")
    t = t.refresh()
    t.append_delta(_mk_changes(spark, [(2, 2.0, "UPSERT", 2, 2)]),
                   batch_id="h2")
    t = t.refresh()
    t.merge(_mk_changes(spark, [(1, 9.0, "UPSERT", 3, 3)]), batch_id="h3")
    t = t.refresh()
    v_old = 1

    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2, 3]
    assert h[1]["batch_ids"] == ["h1"]
    assert h[2]["batch_ids"] == ["h2"] and h[2]["n_deltas"] == 1
    assert h[3]["batch_ids"] == ["h3"]
    assert all(e["ts"] is not None for e in h[1:])

    state_before = sorted(
        (r["user_id"], r["v"]) for r in t.read().collect()
    )
    info = t.vacuum(keep_last=2)
    assert info["manifests_removed"] == 2          # v0, v1 dropped
    # time travel inside retention still works; outside raises
    assert LakeTable.load(spark, t.root, version=t.manifest["version"] - 1)
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, t.root, version=v_old)
    # current state intact after GC
    t = t.refresh()
    assert sorted((r["user_id"], r["v"]) for r in t.read().collect()) \
        == state_before
    # every surviving data dir is referenced by a retained manifest
    import json as _json
    mdir = os.path.join(t.root, "_manifests")
    refs = set()
    for n in os.listdir(mdir):
        if n.startswith("v") and n.endswith(".json"):
            m = _json.load(open(os.path.join(mdir, n)))
            refs |= {e["path"].split(os.sep)[1] for e in m["buckets"].values()}
            refs |= {d["path"].split(os.sep)[1] for d in m["deltas"]}
    assert set(os.listdir(os.path.join(t.root, "data"))) <= refs

    with pytest.raises(ValueError):
        t.vacuum(keep_last=0)


def test_follow_changes_polls_windows(spark, tmp_root):
    from chunjun_spark.plans.lake import follow_changes

    t = _cdf_table(spark, tmp_root, "follow1")
    v0 = t.manifest["version"]
    t.merge(_mk_changes(spark, [(1, 1.0, "UPSERT", 1, 1)]), batch_id="f1")
    t = t.refresh()
    t.merge(_mk_changes(spark, [(2, 2.0, "UPSERT", 2, 2)]), batch_id="f2")
    t = t.refresh()

    seen: list[tuple[dict, set]] = []

    def apply_batch(df, window):
        seen.append((window, {(r["user_id"], r["_change_type"])
                              for r in df.collect()}))

    info = follow_changes(
        spark, t.root, start_version=v0, apply_batch=apply_batch,
        poll_interval_sec=0.01, max_polls=3, max_empty_polls=1,
    )
    # one applied window covering both commits, then an empty poll stops it
    assert info["applied_windows"] == 1
    assert info["endVersion"] == t.manifest["version"]
    assert seen[0][1] == {(1, "insert"), (2, "insert")}

    # new commits after the follower stopped: resume from endVersion
    t.merge(_mk_changes(spark, [(1, None, "DELETE", 3, 3)]), batch_id="f3")
    t = t.refresh()
    seen.clear()
    info2 = follow_changes(
        spark, t.root, start_version=info["endVersion"],
        apply_batch=apply_batch, poll_interval_sec=0.01,
        max_polls=2, max_empty_polls=1,
    )
    assert info2["applied_windows"] == 1
    assert seen[0][1] == {(1, "delete")}


# ----------------------------------------------------- pruned scans / stats

from pyspark.sql import types as T  # noqa: E402


def _scan_table(spark, tmp_root):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("size", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{tmp_root}/scanlake", schema, pk=["k"], n_buckets=8,
        stats_cols=["size", "grp"],
    )
    rows = [(i, "even" if i % 2 == 0 else "odd", i * 10) for i in range(200)]
    ch = spark.createDataFrame(rows, schema).withColumn("_op", F.lit("UPSERT"))
    t.merge(ch, batch_id="b1")
    return t.refresh()


def test_point_lookup_prunes_to_key_buckets(spark, tmp_root):
    t = _scan_table(spark, tmp_root)
    pruned = t._prune_buckets(eq={"k": [7, 11]})
    assert pruned is not None
    assert set(pruned) == set(t._buckets_for_key_values([7, 11]))
    assert len(pruned) <= 2 < len(t.manifest["buckets"])
    got = {r["k"]: r["size"] for r in t.point_lookup(7, 11).collect()}
    assert got == {7: 70, 11: 110}


def test_stats_pruning_matches_full_filter(spark, tmp_root):
    t = _scan_table(spark, tmp_root)
    # every live bucket carries harvested min/max for both stats columns
    for e in t.manifest["buckets"].values():
        assert set(e["stats"]) == {"size", "grp"}
    full = {r["k"] for r in t.read().filter(F.col("size").between(0, 50)).collect()}
    got = {r["k"] for r in t.scan(between={"size": (0, 50)}).collect()}
    assert got == full == {0, 1, 2, 3, 4, 5}
    # an impossible range prunes every bucket and returns nothing
    assert t._prune_buckets(between={"size": (10_000, 20_000)}) == []
    assert t.scan(between={"size": (10_000, 20_000)}).count() == 0


def test_fast_stats_metadata_only_aggregates(spark, tmp_root):
    """fast_stats answers count/min/max from manifests + footers — and
    PROVES its exactness preconditions from metadata: tombstones or an
    outstanding delta chain are detected and refused, a purging compact
    re-enables it with re-harvested bounds."""
    t = _scan_table(spark, tmp_root)
    st = t.fast_stats(["size", "grp"])
    assert st["n_rows"] == 200
    assert st["min"]["size"] == 0 and st["max"]["size"] == 1990
    assert st["min"]["grp"] == "even" and st["max"]["grp"] == "odd"
    with pytest.raises(ValueError, match="stats_cols"):
        t.fast_stats(["k"])

    # delete both extremes: COW keeps them as tombstone rows → refuse
    # (versions stamped above the stored ones — the strictly-newer guard)
    dels = (
        spark.createDataFrame([(0, "even", 0), (199, "odd", 1990)],
                              "k long, grp string, size long")
        .withColumn("_op", F.lit("DELETE"))
        .withColumn("_vts", F.lit("2030-01-01").cast("timestamp"))
        .withColumn("_vseq", F.lit(10**15) + F.col("k"))
    )
    t.merge(dels, batch_id="b2")
    t = t.refresh()
    with pytest.raises(ValueError, match="tombstone"):
        t.fast_stats()
    t.compact(purge_tombstones=True)
    t = t.refresh()
    st2 = t.fast_stats(["size"])
    assert st2["n_rows"] == 198
    # bounds re-harvested: the deleted extremes no longer define them
    assert st2["min"]["size"] == 10 and st2["max"]["size"] == 1980
    agg = t.read().agg(
        F.count(F.lit(1)), F.min("size"), F.max("size")
    ).collect()[0]
    assert (st2["n_rows"], st2["min"]["size"], st2["max"]["size"]) == \
        (agg[0], agg[1], agg[2])

    # an outstanding delta chain (MOR) shadows base rows → refuse
    up = (
        spark.createDataFrame([(5, "odd", 77)], "k long, grp string, size long")
        .withColumn("_op", F.lit("UPSERT"))
        .withColumn("_vts", F.lit("2030-01-02").cast("timestamp"))
        .withColumn("_vseq", F.lit(2 * 10**15))
    )
    t.append_delta(up, batch_id="b3")
    t = t.refresh()
    with pytest.raises(ValueError, match="base-only"):
        t.fast_stats()
    # args validate BEFORE the exactness short-circuits: a typo'd
    # column must not surface as "deltas outstanding"
    with pytest.raises(ValueError, match="stats_cols"):
        t.fast_stats(["sizee"])

    # metadata it cannot prove refuses: a file without the _deleted
    # column, and a manifest-referenced dir missing on disk
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    t.compact()
    t = t.refresh()
    # b3 upserted an existing key — fold changes no count
    assert t.fast_stats()["n_rows"] == 198
    some = next(iter(t.manifest["buckets"].values()))
    bdir = os.path.join(t.root, some["path"])
    foreign = os.path.join(bdir, "foreign.parquet")
    pq.write_table(pa.table({"k": [1]}), foreign)
    with pytest.raises(ValueError, match="lacks"):
        t.fast_stats()
    os.remove(foreign)
    shutil.rmtree(bdir)
    with pytest.raises(ValueError, match="missing on disk"):
        t.fast_stats()


def test_delta_bucket_set_skips_disjoint_files(spark, tmp_root):
    """Pruned reads must not OPEN delta files whose recorded touched-
    bucket set is disjoint from the probe (file-level MOR skip)."""
    t = _cdf_table(spark, tmp_root, "dskip")
    # two deltas touching provably different single buckets
    keys = list(range(40))
    by_bucket = {}
    for k in keys:
        b = t._buckets_for_key_values([k])[0]
        by_bucket.setdefault(b, []).append(k)
    (b1, ks1), (b2, ks2) = sorted(by_bucket.items())[:2]
    t.append_delta(_mk_changes(spark, [(k, 1.0, "UPSERT", 1, k) for k in ks1[:3]]),
                   batch_id="d1")
    t = t.refresh()
    t.append_delta(_mk_changes(spark, [(k, 2.0, "UPSERT", 2, 100 + k) for k in ks2[:3]]),
                   batch_id="d2")
    t = t.refresh()
    d1, d2 = t.manifest["deltas"]
    assert d1["buckets"] == [b1] and d2["buckets"] == [b2]

    probe = t.read(buckets=[b1], with_internal=True)
    files = "\n".join(probe.inputFiles())
    assert d1["path"].split("/")[-1] in files
    assert d2["path"].split("/")[-1] not in files, "disjoint delta was opened"
    # correctness of the pruned read
    got = {r["user_id"]: r["v"] for r in probe.collect()}
    assert got == {k: 1.0 for k in ks1[:3]}
    # full read still sees both deltas
    full = {r["user_id"]: r["v"] for r in t.read().collect()}
    assert full == {**{k: 1.0 for k in ks1[:3]}, **{k: 2.0 for k in ks2[:3]}}


def test_cluster_cols_sort_on_write(spark, tmp_root):
    """cluster_cols (Iceberg SortOrder analog): every bucket file comes
    out sorted by the cluster columns, on merge AND on compaction — the
    property that makes parquet row-group min/max stats tight for
    pushed-down range filters on the read-optimized path."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("size", T.LongType()),
    ])
    t = LakeTable.create(spark, os.path.join(tmp_root, "clustered"), schema,
                         pk=["k"], n_buckets=4, cluster_cols=["size"])
    import random
    rng = random.Random(7)
    rows = [(i, rng.randrange(10_000)) for i in range(2000)]
    ch = spark.createDataFrame(rows, schema).withColumn("_op", F.lit("UPSERT"))
    t.merge(ch, batch_id="b1")
    t = t.refresh()

    def assert_sorted_buckets(table):
        assert table.manifest["buckets"]
        for b, e in table.manifest["buckets"].items():
            bdir = os.path.join(table.root, e["path"])
            for name in os.listdir(bdir):
                if not name.endswith(".parquet"):
                    continue
                vals = pq.read_table(os.path.join(bdir, name),
                                     columns=["size"])["size"].to_pylist()
                assert vals == sorted(vals), f"bucket {b} file not clustered"

    assert_sorted_buckets(t)
    # MOR delta then compact: the rewritten base is clustered again
    delta = spark.createDataFrame([(i, rng.randrange(10_000)) for i in range(500)],
                                  schema).withColumn("_op", F.lit("UPSERT"))
    t.append_delta(delta, batch_id="b2")
    t = t.refresh()
    t.compact()
    assert_sorted_buckets(t.refresh())


def test_lineage_retention_rolls_up_exact_totals(spark, tmp_root):
    """Manifest lineage stays O(retention) under continuous ingest while
    lifetime numWrite/numRead totals remain exact via the rollup."""
    from pyspark.sql import types as T
    root = os.path.join(tmp_root, "lret")
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    t = LakeTable.create(spark, root, schema, pk=["user_id"], n_buckets=2,
                         lineage_retention=3)
    for i in range(7):
        t.append_delta(
            _mk_changes(spark, [(k, float(i), "UPSERT", i, i * 100 + k)
                                for k in range(i + 1)]),
            batch_id=f"b{i}",
            extra_metrics={"numRead": i + 1},
        )
        t = t.refresh()
    assert len(t.manifest["lineage"]) == 3
    # newest ids retained, oldest evicted
    assert t.committed_batches() == {"b4", "b5", "b6"}
    roll = t.manifest["lineage_rollup"]
    assert roll["n_batches"] == 4
    totals = t.lineage_totals()
    assert totals["n_batches"] == 7
    assert totals["numWrite"] == sum(i + 1 for i in range(7))
    assert totals["numRead"] == sum(i + 1 for i in range(7))
    # replay of a RETAINED batch is still a no-op
    before = t.read().count()
    t.append_delta(_mk_changes(spark, [(99, 9.9, "UPSERT", 9, 999)]), batch_id="b6")
    assert t.refresh().read().count() == before


def test_point_lookup_on_mor_only_table(spark, tmp_root):
    """Regression: a key whose bucket exists ONLY in deltas (empty base —
    pure MOR ingest, never compacted) must still be found by pruned
    reads. _prune_buckets used to seed candidates from the base bucket
    entries alone and returned an empty set here."""
    t = _cdf_table(spark, tmp_root, "moronly")
    t.append_delta(_mk_changes(spark, [(k, float(k), "UPSERT", 1, k) for k in range(20)]),
                   batch_id="d1")
    t = t.refresh()
    assert not t.manifest["buckets"] and t.manifest["deltas"]
    got = {r["user_id"]: r["v"] for r in t.point_lookup(7, 11).collect()}
    assert got == {7: 7.0, 11: 11.0}


def test_stats_pruning_disabled_with_deltas(spark, tmp_root):
    t = _scan_table(spark, tmp_root)
    up = spark.createDataFrame(
        [(3, "odd", 99_999)],
        "k long, grp string, size long",
    ).withColumn("_op", F.lit("UPSERT")).withColumn(
        "_vts", F.lit("2024-06-01 00:00:00").cast("timestamp")
    )
    t.append_delta(up, batch_id="b2")
    t = t.refresh()
    # stats ranges say no bucket holds 99_999, but the delta does: stats
    # pruning must be skipped (eq on a non-key stats col → no pruning)
    assert t._prune_buckets(between={"size": (99_000, 100_000)}) is None
    got = t.scan(between={"size": (99_000, 100_000)}).collect()
    assert [(r["k"], r["size"]) for r in got] == [(3, 99_999)]
    # hash pruning on the bucket key stays sound with deltas present
    got2 = t.point_lookup(3).collect()
    assert [(r["k"], r["size"]) for r in got2] == [(3, 99_999)]
    # after compaction the stats refresh and pruning turns back on
    t.compact()
    t = t.refresh()
    pruned = t._prune_buckets(between={"size": (99_000, 100_000)})
    assert pruned is not None and len(pruned) == 1
    got3 = t.scan(between={"size": (99_000, 100_000)}).collect()
    assert [(r["k"], r["size"]) for r in got3] == [(3, 99_999)]


# --------------------------------------- resharding + concurrent writers

def test_compact_reshards_bucket_count(spark, tmp_root):
    t = _scan_table(spark, tmp_root)
    assert t.n_buckets == 8
    before = {(r["k"], r["size"]) for r in t.read().collect()}
    t.compact(new_n_buckets=16)
    t = t.refresh()
    assert t.n_buckets == 16
    assert len(t.manifest["buckets"]) > 8  # rows re-hashed across 16 dirs
    assert {(r["k"], r["size"]) for r in t.read().collect()} == before
    # post-reshard point lookup prunes against the NEW bucket count
    got = {r["k"] for r in t.point_lookup(7, 11).collect()}
    assert got == {7, 11}
    # subsequent merges use the new count from the manifest
    up = spark.createDataFrame([(7, "odd", 777)], "k long, grp string, size long") \
        .withColumn("_op", F.lit("UPSERT")) \
        .withColumn("_vts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
    t.merge(up, batch_id="post-reshard")
    t = t.refresh()
    assert t.point_lookup(7).collect()[0]["size"] == 777


def test_compact_evolves_bucket_cols(spark, tmp_root):
    """Partition-SPEC evolution: switch bucket hashing from prefix
    locality [repo-like pk[0]] to full-key spread in one compaction; the
    logical state is unchanged and subsequent merges route by the NEW
    key."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("size", T.LongType()),
    ])
    t = LakeTable.create(spark, os.path.join(tmp_root, "specevo"), schema,
                         pk=["repo", "path"], n_buckets=4)
    assert t.bucket_cols == ["repo"]
    # monorepo skew: one repo holds almost all paths → one hot bucket
    rows = [("mono", f"p{i}", i) for i in range(300)] + [("tiny", "p0", -1)]
    ch = spark.createDataFrame(rows, schema).withColumn("_op", F.lit("UPSERT"))
    t.merge(ch, batch_id="b1")
    t = t.refresh()
    assert len(t.manifest["buckets"]) <= 2  # prefix hash concentrates

    before = {(r["repo"], r["path"], r["size"]) for r in t.read().collect()}
    t.compact(new_bucket_cols=["repo", "path"], new_n_buckets=8)
    t = t.refresh()
    assert t.bucket_cols == ["repo", "path"]
    assert len(t.manifest["buckets"]) > 2  # full-key hash spreads
    assert {(r["repo"], r["path"], r["size"]) for r in t.read().collect()} == before

    # merges after the evolution route by the new key
    up = spark.createDataFrame([("mono", "p7", 777)], schema) \
        .withColumn("_op", F.lit("UPSERT")) \
        .withColumn("_vts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
    t.merge(up, batch_id="b2")
    t = t.refresh()
    got = {r["path"]: r["size"] for r in t.read().filter("repo = 'mono'").collect()}
    assert got["p7"] == 777 and len(got) == 300
    # full-key pruned lookup
    pruned = t._prune_buckets(eq={"repo": ["mono"], "path": ["p7"]})
    assert pruned is not None and len(pruned) <= 1

    with pytest.raises(ValueError, match="must be pk"):
        t.compact(new_bucket_cols=["size"])


def test_concurrent_writer_conflict_and_retry(spark, tmp_root):
    from chunjun_spark.plans.lake import ConcurrentCommitError, LakeTable

    t1 = _scan_table(spark, tmp_root)
    t2 = LakeTable.load(spark, t1.root)  # second writer, same snapshot

    def _ch(k, size, bid):
        return spark.createDataFrame(
            [(k, "x", size)], "k long, grp string, size long"
        ).withColumn("_op", F.lit("UPSERT")).withColumn(
            "_vts", F.lit("2031-01-01 00:00:00").cast("timestamp")
        ).withColumn("_vseq", F.lit(bid_seq(bid)))

    def bid_seq(bid):
        return abs(hash(bid)) % 1000 + 1000

    t1.merge(_ch(1, 111, "w1"), batch_id="w1")
    # t2 still points at the pre-w1 snapshot: its CAS must lose
    with pytest.raises(ConcurrentCommitError):
        t2.merge(_ch(2, 222, "w2"), batch_id="w2")
    # retry loop reloads and lands the commit
    res = t2.merge_retrying(_ch(2, 222, "w2"), batch_id="w2")
    assert res["skipped"] is False
    t = t1.refresh()
    got = {r["k"]: r["size"] for r in t.point_lookup(1, 2).collect()}
    assert got == {1: 111, 2: 222}
    # a batch the OTHER writer already committed degrades to the skip path
    t_stale = LakeTable.load(spark, t1.root, version=1)
    res2 = t_stale.merge_retrying(_ch(1, 111, "w1"), batch_id="w1")
    assert res2["skipped"] is True


def test_drop_cluster_column_rejected(spark, tmp_root):
    """Dropping a cluster (sort-on-write) column must be rejected like
    pk/bucket/stats columns: a manifest referencing a dropped cluster
    col would fail every later merge/compact with no repair API."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("size", T.LongType()),
        T.StructField("note", T.StringType()),
    ])
    t = LakeTable.create(spark, os.path.join(tmp_root, "dropclu"), schema,
                         pk=["k"], n_buckets=2, cluster_cols=["size"])
    with pytest.raises(ValueError, match="cluster"):
        t.apply_ddl("drop_column", name="size")
    # non-protected columns still drop, and writes keep working
    t.apply_ddl("drop_column", name="note")
    t = t.refresh()
    ch = spark.createDataFrame([(1, 5)], "k long, size long") \
        .withColumn("_op", F.lit("UPSERT"))
    t.merge(ch, batch_id="b1")
    assert {r["k"] for r in t.refresh().read().collect()} == {1}


def test_tags_pin_snapshots_and_survive_vacuum(spark, tmp_root):
    """Iceberg tag-ref analog: a named tag pins a version for
    reproducible reads (the corpus a model trained on), protects its
    manifest + data from vacuum until deleted, and refuses silent
    re-pointing."""
    root = os.path.join(tmp_root, "tags")
    table = LakeTable.create(spark, root, PAYLOAD_SCHEMA,
                             pk=["repo", "path"], n_buckets=4)
    ev1 = generate_binlog(spark, n_events=2000, n_keys=500, seed=3)
    replay(ev1, table, batch_id="b1")
    t = LakeTable.load(spark, root)
    v1 = t.manifest["version"]
    n1 = t.read().count()
    t.tag("train-v1", note="corpus for model A")
    assert t.tags()["train-v1"]["version"] == v1

    for i, seed in enumerate([4, 5, 6]):
        ev = generate_binlog(spark, n_events=2000, n_keys=500, seed=seed)
        replay(ev, LakeTable.load(spark, root), batch_id=f"b{i + 2}")
    t = LakeTable.load(spark, root)

    # read by tag == time travel to the pinned version
    by_tag = LakeTable.load(spark, root, tag="train-v1")
    assert by_tag.manifest["version"] == v1
    assert by_tag.read().count() == n1

    # vacuum keeps the tagged version even outside the retention window
    info = t.vacuum(keep_last=1)
    assert info["manifests_removed"] > 0
    assert LakeTable.load(spark, root, tag="train-v1").read().count() == n1
    # an untagged old version inside the removed range is gone
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, root, version=v1 + 1)

    # re-tag same name + same version: no-op; different version: refused
    t.tag("train-v1", version=v1)
    with pytest.raises(ValueError, match="already pins"):
        t.tag("train-v1", version=t.manifest["version"])
    with pytest.raises(ValueError):
        t.tag("_bad")
    with pytest.raises(FileNotFoundError):
        t.tag("ghost", version=999)
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, root, tag="nope")

    # delete the tag -> next vacuum collects the pinned snapshot
    t.delete_tag("train-v1")
    with pytest.raises(KeyError):
        t.delete_tag("train-v1")
    t.refresh().vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, root, version=v1)

    # job surface: lakereader reads by tag
    from chunjun_spark.job import run_job

    t = LakeTable.load(spark, root)
    t.tag("cur", note="current")
    out = os.path.join(tmp_root, "tagout")
    run_job(spark, {"job": {"content": [{
        "reader": {"name": "lakereader",
                   "parameter": {"path": root, "tag": "cur"}},
        "writer": {"name": "parquetwriter", "parameter": {"path": out}},
    }]}})
    assert spark.read.parquet(out).count() == t.read().count()


def test_as_of_timestamp_read(spark, tmp_root):
    """load(as_of=...) resolves the newest snapshot committed at or
    before the instant (TIMESTAMP AS OF analog), is mutually exclusive
    with version/tag, and rejects instants before the first commit."""
    import datetime as dt

    root = os.path.join(tmp_root, "asof")
    table = LakeTable.create(spark, root, PAYLOAD_SCHEMA,
                             pk=["repo", "path"], n_buckets=4)
    ev1 = generate_binlog(spark, n_events=2000, n_keys=500, seed=3)
    replay(ev1, table, batch_id="b1")
    t1 = LakeTable.load(spark, root)
    v1, n1 = t1.manifest["version"], t1.read().count()
    ts_between = t1.manifest["committed_ts"] + 1e-4

    ev2 = generate_binlog(spark, n_events=2000, n_keys=500, seed=4)\
        .withColumn("seq", F.col("seq") + 10_000_000)\
        .withColumn("op_ts", F.col("op_ts") + F.expr("INTERVAL 1 HOUR"))
    replay(ev2, LakeTable.load(spark, root), batch_id="b2")
    t2 = LakeTable.load(spark, root)

    old = LakeTable.load(spark, root, as_of=ts_between)
    assert old.manifest["version"] == v1
    assert old.read().count() == n1
    # datetime input; "now" resolves to the current snapshot
    now = LakeTable.load(spark, root, as_of=dt.datetime.now())
    assert now.manifest["version"] == t2.manifest["version"]
    # before the first commit: no snapshot
    first_ts = min(
        LakeTable.load(spark, root, version=v).manifest["committed_ts"]
        for v in range(0, v1 + 1)
    )
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, root, as_of=first_ts - 10.0)
    with pytest.raises(ValueError, match="at most one"):
        LakeTable.load(spark, root, version=v1, as_of=ts_between)


def test_metadata_tables_files_and_snapshots(spark, tmp_path):
    """Iceberg files/snapshots metadata-table analogs: per-file rows
    with byte/row counts, and the commit log as a DataFrame."""
    import json as _json

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from chunjun_spark.plans.lake import LakeTable

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "meta_lake"), schema,
                         pk=["k"], n_buckets=4, stats_cols=["v"])
    rows = spark.range(500).select(
        F.col("id").alias("k"), F.concat(F.lit("x"), F.col("id")).alias("v"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("_vts"),
        F.col("id").alias("_vseq"),
    )
    t.merge(rows, batch_id="m1")
    t = t.refresh()
    t.append_delta(
        rows.limit(50).withColumn("_vseq", F.col("_vseq") + 1_000_000),
        batch_id="d1",
    )
    t = t.refresh()

    f = t.files_df()
    base = f.filter("kind = 'base'")
    delta = f.filter("kind = 'delta'")
    assert base.count() == len(t.manifest["buckets"])
    assert delta.count() >= 1
    # row counts from footers sum to what was written
    assert f.agg(F.sum("rows")).first()[0] == 500 + 50
    assert f.filter("bytes <= 0").count() == 0
    # delta rows carry their batch id AND their touched-bucket set;
    # base rows their harvested stats
    assert delta.filter("batch_id = 'd1'").count() == delta.count()
    dstats = _json.loads(delta.first()["stats"])
    assert dstats["touched_buckets"], dstats
    st = _json.loads(base.first()["stats"])
    assert "v" in st  # stats_cols harvested

    s = t.snapshots_df()
    assert s.count() == 3  # create + merge + append
    top = s.orderBy(F.col("version").desc()).first()
    assert top["version"] == t.manifest["version"]
    assert "d1" in top["batch_ids"]


def _assert_file_structs(spark, t) -> int:
    """Every file the snapshot references: the manifest-derived struct
    equals what parquet schema inference reads from the file, and a
    directory read through it (partition discovery included) equals the
    inferred directory read. Returns the number of files checked."""
    checked = 0
    verdirs = {}
    if t.partition_specs:
        verdirs = {b: os.path.join(t.root, os.path.dirname(e["path"]))
                   for b, e in t.manifest["buckets"].items()}
    refs = [("base", e["path"], e["schema_version"], verdirs.get(b))
            for b, e in t.manifest["buckets"].items()]
    refs += [("delta", d["path"], d["schema_version"], None)
             for d in t.manifest["deltas"]]
    refs += [("delete", d["path"], d["schema_version"], None)
             for d in t.delete_files]
    for kind, rel, sv, verdir in refs:
        d = os.path.join(t.root, rel)
        want = t._file_struct(sv, kind)
        for f in LakeTable._parquet_files_in(d):
            assert want == spark.read.parquet(f).schema, (kind, f)
            checked += 1
        inferred = spark.read
        if verdir is not None:
            inferred = inferred.option("basePath", verdir)
        assert (t._read_files([d], sv, kind, base_path=verdir).schema
                == inferred.parquet(d).schema), (kind, d)
    return checked


def test_manifest_file_struct_matches_parquet_schema(spark, tmp_path):
    """Reads take each file's schema from the manifest instead of a
    schema-inference job; the derived struct must equal the inferred
    one for every file kind — base (plain / partitioned), delta, delete
    file, compacted base — across add_column, rename_column (pk and
    payload) and widen_type."""
    import pyspark.sql.types as T

    from chunjun_spark.plans.lake import OP_COL, VSEQ_COL, VTS_COL

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    plain = LakeTable.create(spark, str(tmp_path / "plain"), schema,
                             pk=["k"], n_buckets=2, equality_deletes=True)
    parted = LakeTable.create(
        spark, str(tmp_path / "parted"), schema, pk=["k"], n_buckets=2,
        equality_deletes=True,
        partition_exprs=[("day", "date_trunc('day', ts)", "ts")])

    def batch(t, keys, seq, op="UPSERT"):
        cols = {f["name"]: f["type"] for f in t.schema.fields}
        key = t.pk[0]
        df = spark.range(0, len(keys)).withColumn(
            key, F.element_at(F.array(*[F.lit(k) for k in keys]),
                              (F.col("id") + 1).cast("int")))
        for c, ty in cols.items():
            if c == key:
                continue
            v = (F.expr("timestamp_ntz'2024-01-01' + make_interval("
                        "0,0,0,0,0,0,id*7200)") if ty == "timestamp_ntz"
                 else F.col("id").cast(ty))
            df = df.withColumn(c, v)
        return df.select(
            *cols, F.lit(op).alias(OP_COL),
            F.lit("2024-01-01").cast("timestamp").alias(VTS_COL),
            (F.col("id") + seq).alias(VSEQ_COL))

    def churn(t, seq):
        """base rewrite + delete file + delta, then check every file
        the snapshot references."""
        t.refresh().merge(batch(t.refresh(), list(range(8)), seq),
                          batch_id=f"u{seq}", assume_unique_keys=True)
        t.refresh().merge(batch(t.refresh(), [seq % 8], seq + 50, "DELETE"),
                          batch_id=f"d{seq}", assume_unique_keys=True)
        t.refresh().append_delta(batch(t.refresh(), [1, 9], seq + 60),
                                 batch_id=f"a{seq}")
        return _assert_file_structs(spark, t.refresh())

    checked = churn(parted, 100)
    checked += churn(plain, 100)
    plain.refresh().apply_ddl("add_column", name="extra", type="string")
    plain.refresh().apply_ddl("rename_column", old="name", new="title")
    plain.refresh().apply_ddl("rename_column", old="k", new="key")
    checked += churn(plain, 200)
    plain.refresh().apply_ddl("widen_type", name="n", type="bigint")
    checked += churn(plain, 300)
    for t in (plain, parted):
        t.refresh().compact()
        checked += _assert_file_structs(spark, t.refresh())
    assert checked > 20
    assert plain.refresh().read().count() > 0
