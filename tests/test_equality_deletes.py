"""Equality-delete (deletion-vector) file form for deletes
(plans/lake.py, VERDICT r4 next-round #4): COW merges on an
``equality_deletes=True`` table write deletes as NARROW (pk, version,
bucket) delete files instead of tombstone ROWS in base files — the
Iceberg v2 equality-delete capability class (the reference gets the
equivalent from Hudi, HudiOutputFormat.java:131-160). Resolve unions
the entries into the keep-last fold; compact consolidates/purges them;
base files stay dead-row-free between compactions."""

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from chunjun_spark.plans.lake import (
    DELETED_COL,
    OP_COL,
    VSEQ_COL,
    VTS_COL,
    LakeTable,
)

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("grp", T.StringType()),
    T.StructField("v", T.DoubleType()),
])


def _mk(spark, rows):
    """rows: (k, grp, v, op, seq)"""
    return spark.createDataFrame(
        [(k, g, v, op, q) for (k, g, v, op, q) in rows],
        f"k long, grp string, v double, {OP_COL} string, {VSEQ_COL} long",
    ).withColumn(VTS_COL, F.lit("1970-01-01").cast("timestamp"))


def _pair(spark, tmp_path, **kw):
    """Twin tables: equality-delete mode and classic row-tombstone mode.
    Every test drives both identically and asserts identical state."""
    eq = LakeTable.create(spark, str(tmp_path / "eq"), SCHEMA, pk=["k"],
                          n_buckets=4, equality_deletes=True, **kw)
    row = LakeTable.create(spark, str(tmp_path / "row"), SCHEMA, pk=["k"],
                           n_buckets=4, **kw)
    return eq, row


def _state(t):
    return sorted(map(tuple, t.refresh().read().collect()))


def test_churn_replay_matches_row_mode(spark, tmp_path):
    """Delete-heavy churn through both modes lands identical state;
    the files-mode base holds ZERO tombstone rows at every commit."""
    eq, row = _pair(spark, tmp_path)
    # each batch is key-disjoint between its upsert and delete halves
    # (assume_unique_keys contract: one row per pk per batch)
    batches = [
        [(k, "a", float(k), "UPSERT", k) for k in range(40)],
        [(k, "b", k * 2.0, "UPSERT", 100 + k) for k in range(0, 40, 2)]
        + [(k, None, None, "DELETE", 100 + k) for k in range(1, 40, 6)],
        [(k, "c", k * 3.0, "UPSERT", 200 + k) for k in range(1, 40, 6)]
        + [(k, None, None, "DELETE", 200 + k) for k in range(0, 40, 10)],
    ]
    for i, b in enumerate(batches):
        df = _mk(spark, b)
        eq.refresh().merge(df, batch_id=f"b{i}", assume_unique_keys=True)
        row.refresh().merge(df, batch_id=f"b{i}", assume_unique_keys=True)
        eq = eq.refresh()
        # the mode's contract: no dead rows in base files, ever
        base_tombs = eq._read_base().filter(
            F.coalesce(F.col(DELETED_COL), F.lit(False))).count()
        assert base_tombs == 0
    assert _state(eq) == _state(row)
    assert len(eq.delete_files) == 2  # batches 2 and 3 carried deletes
    for d in eq.delete_files:
        got = spark.read.parquet(os.path.join(eq.root, d["path"]))
        assert set(got.columns) == {"k", VTS_COL, VSEQ_COL, "_bucket"}


def test_stale_redelivery_shadowed_by_delete_file(spark, tmp_path):
    """The delete entry carries the version guard: a STALE re-delivered
    upsert (older than the delete) must not resurrect the key, while a
    genuinely newer upsert revives it — both modes agree."""
    eq, row = _pair(spark, tmp_path)
    for t in (eq, row):
        t.merge(_mk(spark, [(1, "a", 1.0, "UPSERT", 10),
                            (2, "a", 2.0, "UPSERT", 10)]), batch_id="b1",
                assume_unique_keys=True)
        t.refresh().merge(_mk(spark, [(1, None, None, "DELETE", 20)]),
                          batch_id="b2", assume_unique_keys=True)
        # stale re-delivery (seq 15 < 20) — must stay deleted
        t.refresh().merge(_mk(spark, [(1, "a", 1.5, "UPSERT", 15)]),
                          batch_id="b3", assume_unique_keys=True)
    assert _state(eq) == _state(row)
    assert {r[0] for r in _state(eq)} == {2}
    # genuine revival (seq 30 > 20)
    for t in (eq, row):
        t.refresh().merge(_mk(spark, [(1, "b", 9.0, "UPSERT", 30)]),
                          batch_id="b4", assume_unique_keys=True)
    assert _state(eq) == _state(row)
    assert (1, "b", 9.0) in _state(eq)


def test_compact_consolidates_and_purges(spark, tmp_path):
    """compact() folds superseded entries away and keeps surviving
    tombstone winners as ONE consolidated narrow file (the stale-guard
    contract); compact(purge_tombstones=True) clears them. fast_stats
    refuses while delete files are outstanding and is exact after the
    purge — provable from clean footers, the mode's whole point."""
    eq, row = _pair(spark, tmp_path, stats_cols=["v"])
    for t in (eq, row):
        t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                            for k in range(20)]), batch_id="b1",
                assume_unique_keys=True)
        t.refresh().merge(
            _mk(spark, [(k, None, None, "DELETE", 100 + k)
                        for k in range(0, 20, 2)]),
            batch_id="b2", assume_unique_keys=True)
        # key 4 revived AFTER its delete — its entry is superseded
        t.refresh().merge(_mk(spark, [(4, "z", 44.0, "UPSERT", 200)]),
                          batch_id="b3", assume_unique_keys=True)
    eq = eq.refresh()
    assert len(eq.delete_files) == 1
    with pytest.raises(ValueError, match="equality-delete"):
        eq.fast_stats()
    eq.compact()
    eq = eq.refresh()
    # consolidated: one file, and key 4's superseded entry is gone
    assert len(eq.delete_files) == 1
    kept = spark.read.parquet(
        os.path.join(eq.root, eq.delete_files[0]["path"]))
    assert 4 not in {r["k"] for r in kept.collect()}
    assert _state(eq) == _state(row)
    # base files are tombstone-free even WITHOUT purge
    assert eq._read_base().filter(
        F.coalesce(F.col(DELETED_COL), F.lit(False))).count() == 0
    eq.compact(purge_tombstones=True)
    eq = eq.refresh()
    assert eq.delete_files == []
    fs = eq.fast_stats(["v"])
    live = eq.read()
    assert fs["n_rows"] == live.count()
    assert _state(eq) == _state(row)


def test_partial_compact_keeps_delete_files_authoritative(spark, tmp_path):
    """A partial compaction folds delta rows for the selected buckets
    but leaves delete files untouched — the rewritten buckets stay
    shadowed by them at read time (no duplication, no loss)."""
    eq, row = _pair(spark, tmp_path)
    for t in (eq, row):
        t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                            for k in range(24)]), batch_id="b1",
                assume_unique_keys=True)
        t.refresh().merge(
            _mk(spark, [(k, None, None, "DELETE", 100 + k)
                        for k in range(0, 24, 3)]),
            batch_id="b2", assume_unique_keys=True)
        # MOR delta on top
        t.refresh().append_delta(
            _mk(spark, [(k, "d", k * 10.0, "UPSERT", 300 + k)
                        for k in range(0, 24, 4)]),
            batch_id="b3")
    eq, row = eq.refresh(), row.refresh()
    n_del_files = len(eq.delete_files)
    eq._compact_partial([0, 1], purge_tombstones=False)
    eq = eq.refresh()
    assert len(eq.delete_files) == n_del_files  # untouched
    assert _state(eq) == _state(row)


def test_vacuum_keeps_delete_files(spark, tmp_path):
    eq, _ = _pair(spark, tmp_path)
    eq.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                         for k in range(10)]), batch_id="b1",
             assume_unique_keys=True)
    for i in range(6):
        eq.refresh().merge(
            _mk(spark, [(i, None, None, "DELETE", 100 + i)]),
            batch_id=f"d{i}", assume_unique_keys=True)
    eq = eq.refresh()
    want = _state(eq)
    eq.vacuum(keep_last=2)
    eq = LakeTable.load(spark, eq.root)
    assert _state(eq) == want  # delete files survived the GC


def test_rollback_restores_delete_file_state(spark, tmp_path):
    eq, _ = _pair(spark, tmp_path)
    eq.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                         for k in range(6)]), batch_id="b1",
             assume_unique_keys=True)
    eq = eq.refresh()
    v1 = eq.manifest["version"]
    eq.merge(_mk(spark, [(2, None, None, "DELETE", 100)]),
             batch_id="b2", assume_unique_keys=True)
    eq = eq.refresh()
    assert len(eq.delete_files) == 1
    eq.rollback(v1)
    eq = eq.refresh()
    assert eq.delete_files == []
    assert {r[0] for r in _state(eq)} == set(range(6))


def test_cdf_sees_file_mode_deletes(spark, tmp_path):
    """read_changes across an equality-delete commit reports the delete
    (the MOR fast path is invalidated by the delete_files change, the
    snapshot diff sees the shadowed key disappear)."""
    eq, _ = _pair(spark, tmp_path)
    eq.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                         for k in range(6)]), batch_id="b1",
             assume_unique_keys=True)
    eq = eq.refresh()
    v1 = eq.manifest["version"]
    eq.merge(_mk(spark, [(3, None, None, "DELETE", 100),
                         (7, "n", 7.0, "UPSERT", 101)]),
             batch_id="b2", assume_unique_keys=True)
    eq = eq.refresh()
    ch = {(r["_change_type"], r["k"])
          for r in eq.read_changes(since_version=v1).collect()}
    assert ("delete", 3) in ch
    assert ("insert", 7) in ch


def test_delete_file_applies_across_pk_rename(spark, tmp_path):
    """Schema evolution: a delete file written before rename_column on
    the pk still deletes — entries are mapped by field id, like data
    files."""
    eq, _ = _pair(spark, tmp_path)
    eq.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                         for k in range(6)]), batch_id="b1",
             assume_unique_keys=True)
    eq.refresh().merge(_mk(spark, [(2, None, None, "DELETE", 100)]),
                       batch_id="b2", assume_unique_keys=True)
    eq = eq.refresh()
    eq.apply_ddl("rename_column", old="k", new="key_id")
    eq = eq.refresh()
    assert eq.pk == ["key_id"]
    ids = {r["key_id"] for r in eq.read().collect()}
    assert ids == {0, 1, 3, 4, 5}
    # and a NEW delete addressed by the new name works too
    ch = spark.createDataFrame(
        [(0, "DELETE", 200)], f"key_id long, {OP_COL} string, {VSEQ_COL} long"
    ).withColumn(VTS_COL, F.lit("1970-01-01").cast("timestamp"))
    eq.merge(ch, batch_id="b3", assume_unique_keys=True)
    eq = eq.refresh()
    assert {r["key_id"] for r in eq.read().collect()} == {1, 3, 4, 5}


def test_partial_compact_routes_delta_deletes_to_file(spark, tmp_path):
    """Review r5: a partial compaction folding MOR delta DELETE winners
    must route them to a delete FILE, not tombstone rows — the
    dead-row-free-base contract holds on the partial path too."""
    eq, row = _pair(spark, tmp_path)
    for t in (eq, row):
        t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                            for k in range(24)]), batch_id="b1",
                assume_unique_keys=True)
        t.refresh().append_delta(
            _mk(spark, [(k, None, None, "DELETE", 100 + k)
                        for k in range(0, 24, 2)]),
            batch_id="b2")
    eq, row = eq.refresh(), row.refresh()
    n_before = len(eq.delete_files)
    eq._compact_partial(sorted({
        int(b) for b in eq.manifest["buckets"]}), purge_tombstones=False)
    eq = eq.refresh()
    assert len(eq.delete_files) == n_before + 1
    assert eq._read_base().filter(
        F.coalesce(F.col(DELETED_COL), F.lit(False))).count() == 0
    assert _state(eq) == _state(row)
    # stale re-delivery is still shadowed by the routed entries
    for t in (eq, row):
        t.refresh().merge(_mk(spark, [(0, "a", 0.5, "UPSERT", 50)]),
                          batch_id="b3", assume_unique_keys=True)
    assert _state(eq) == _state(row)
    assert 0 not in {r[0] for r in _state(eq)}


def test_streaming_replay_into_equality_delete_table(spark, tmp_path):
    """The streaming replay path composes with the mode unchanged: a
    file-stream replay into an equality_deletes table lands the same
    final state as the row-mode stream, with a dead-row-free base."""
    from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA, generate_binlog
    from chunjun_spark.streaming.pipeline import run_stream_to_completion

    ev = generate_binlog(spark, 4_000, n_keys=600, seed=17,
                         delete_rate=0.3)
    src = str(tmp_path / "binlog")
    ev.write.parquet(src)
    roots = {}
    for tag, kw in (("eq", {"equality_deletes": True}), ("row", {})):
        root = str(tmp_path / f"lake_{tag}")
        roots[tag] = root
        LakeTable.create(spark, root, PAYLOAD_SCHEMA, pk=["repo", "path"],
                         n_buckets=4, **kw)
        run_stream_to_completion(
            spark, src, root, str(tmp_path / f"ck_{tag}"),
            job_id=f"eqstream-{tag}", timeout_sec=300)
    eq = LakeTable.load(spark, roots["eq"])
    row = LakeTable.load(spark, roots["row"])
    cols = ["repo", "path", "commit", "lang", "content"]
    got = sorted(map(tuple, eq.read().select(*cols).collect()))
    want = sorted(map(tuple, row.read().select(*cols).collect()))
    assert got == want and got
    assert eq._read_base().filter(
        F.coalesce(F.col(DELETED_COL), F.lit(False))).count() == 0
    assert eq.delete_files  # the churny stream produced delete entries


def _jobs(spark, fn):
    """(``fn()``, Spark jobs launched while it ran)."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _churn(spark, t, mor: bool):
    """Upserts, deletes and stale re-deliveries through merge (delete
    files on an equality-delete table) or append_delta (MOR deltas)."""
    t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                        for k in range(24)]), batch_id="b1",
            assume_unique_keys=True)
    write = ((lambda t, df, b: t.refresh().append_delta(df, batch_id=b))
             if mor else
             (lambda t, df, b: t.refresh().merge(df, batch_id=b,
                                                 assume_unique_keys=True)))
    write(t, _mk(spark, [(k, None, None, "DELETE", 100 + k)
                         for k in range(0, 24, 3)]
                 + [(k, "b", k * 2.0, "UPSERT", 100 + k)
                    for k in range(1, 24, 3)]), "b2")
    # revivals of deleted keys, a stale re-delivery and fresh keys
    write(t, _mk(spark, [(0, "c", 0.5, "UPSERT", 300),
                         (3, "c", 3.5, "UPSERT", 50),
                         (30, "c", 30.0, "UPSERT", 301)]), "b3")
    return t.refresh()


@pytest.mark.parametrize("mode", ["cow", "mor", "eqdel"])
def test_read_planning_launches_no_spark_job(spark, tmp_path, mode):
    """point_lookup, scan(eq=...) and read() build their plans without
    a single Spark job — schemas come from the manifest, the change-side
    bound from recorded row counts, bucket ids from a driver-folded
    literal relation. All resolve work runs in the caller's action."""
    t = LakeTable.create(spark, str(tmp_path / mode), SCHEMA, pk=["k"],
                         n_buckets=4, equality_deletes=(mode == "eqdel"))
    t = _churn(spark, t, mor=(mode == "mor"))
    if mode == "mor":
        assert t.manifest["deltas"]
    if mode == "eqdel":
        assert t.delete_files
    for build in (lambda: t.point_lookup(1, 3),
                  lambda: t.scan(eq={"k": [0, 4]}),
                  lambda: t.scan(eq={"grp": "b"}),
                  lambda: t.read()):
        df, jobs = _jobs(spark, build)
        assert jobs == 0
        df.collect()  # and the plan runs
    live = {r["k"]: r for r in t.read().collect()}
    assert 3 not in live and live[0]["grp"] == "c" and 30 in live
    assert sorted(r["k"] for r in t.point_lookup(1, 3).collect()) == [1]


@pytest.mark.parametrize("mor", [False, True])
def test_change_winner_plan_matches_fold_at_cap_boundary(
        spark, tmp_path, monkeypatch, mor):
    """The broadcast change-winner plan (change rows <= the cap) and the
    keep-last fold (above it, or files without a recorded row count)
    resolve identical state, tombstones included."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, pk=["k"],
                         n_buckets=4, equality_deletes=not mor)
    t = _churn(spark, t, mor=mor)
    entries = t.manifest["deltas"] + t.delete_files
    n = sum(e["n"] for e in entries)
    assert n > 0

    def resolved():
        return sorted(map(tuple, t._resolve().collect()))

    def looked_up():
        return sorted(map(tuple, t.point_lookup(0, 1, 3, 30).collect()))

    def planning_jobs():
        return _jobs(spark, t._resolve)[1]

    monkeypatch.setattr(LakeTable, "_DELETE_BROADCAST_CAP", n)
    at_cap = (resolved(), looked_up())
    assert planning_jobs() == 0  # the lazy change-winner plan
    monkeypatch.setattr(LakeTable, "_DELETE_BROADCAST_CAP", n - 1)
    above = (resolved(), looked_up())
    assert planning_jobs() > 0  # the fold's eager winner count
    monkeypatch.setattr(LakeTable, "_DELETE_BROADCAST_CAP", 8_000_000)
    for e in entries:
        del e["n"]  # an older manifest: no recorded row counts
    unrecorded = (resolved(), looked_up())
    assert planning_jobs() > 0
    assert at_cap == above == unrecorded
    assert at_cap[0] and at_cap[1]


@pytest.mark.parametrize("mode,bound", [("eqdel", 2), ("mor", 5)])
def test_read_execution_job_count(spark, tmp_path, mode, bound):
    """Executing a read runs a pinned number of Spark jobs. On a
    deltas-free equality-delete table the delete entries apply as ONE
    broadcast anti-join: the broadcast build plus the caller's action.
    With MOR deltas outstanding the change-winner fold adds its narrow
    aggregate shuffle and winner broadcast."""
    t = LakeTable.create(spark, str(tmp_path / mode), SCHEMA, pk=["k"],
                         n_buckets=4, equality_deletes=(mode == "eqdel"))
    t = _churn(spark, t, mor=(mode == "mor"))
    assert bool(t.manifest["deltas"]) == (mode == "mor")
    for build in (lambda: t.point_lookup(1, 3), lambda: t.read()):
        df = build()
        _, jobs = _jobs(spark, df.collect)
        assert jobs <= bound, f"{mode}: {jobs} jobs > {bound}"


def test_hot_key_delta_matches_fold(spark, tmp_path, monkeypatch):
    """One delta holding thousands of versions of ONE key, next to a
    delete file: the broadcast anti-join plan resolves the same state as
    the keep-last fold over base ⊕ changes. The change-side winners stay
    a keep_last fold (map-side partial aggregate, linear in the change
    rows) because a self anti-join over the change rows would compare
    every version of a key with every other — quadratic in the hot
    key's multiplicity."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, pk=["k"],
                         n_buckets=4, equality_deletes=True)
    t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                        for k in range(20)]), batch_id="b1",
            assume_unique_keys=True)
    t.refresh().merge(_mk(spark, [(k, None, None, "DELETE", 100 + k)
                                  for k in (2, 5, 7, 11)]),
                      batch_id="b2", assume_unique_keys=True)
    hot = spark.range(6_000).select(
        F.lit(7).cast("long").alias("k"),
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("grp"),
        F.col("id").cast("double").alias("v"),
        F.when(F.col("id") % 3 == 0, F.lit("DELETE"))
        .otherwise(F.lit("UPSERT")).alias(OP_COL),
        (F.col("id") + 1_000).alias(VSEQ_COL),
    ).withColumn(VTS_COL, F.lit("1970-01-01").cast("timestamp"))
    t.refresh().append_delta(hot.unionByName(
        _mk(spark, [(3, "d", 3.0, "UPSERT", 1), (4, "d", 4.0, "UPSERT", 9_000)])
    ), batch_id="b3")
    t = t.refresh()
    assert t.delete_files and t.manifest["deltas"][0]["n"] >= 5_000

    def state():
        return (sorted(map(tuple, t.read().collect())),
                sorted(map(tuple, t._resolve().collect())))

    plan = state()
    monkeypatch.setattr(LakeTable, "_DELETE_BROADCAST_CAP", 0)
    assert state() == plan
    live = {r[0]: r for r in plan[0]}
    # the hot key's newest version (id 5999, an UPSERT) wins; the stale
    # re-delivery of key 3 stays shadowed by its base row
    assert live[7] == (7, "h5999", 5999.0) and live[3] == (3, "a", 3.0)
    assert live[4] == (4, "d", 4.0) and 2 not in live and 5 not in live


def test_unmappable_pk_in_delete_file_raises(spark, tmp_path):
    """A delete file whose schema version cannot hold a current pk field
    id must fail loudly — skipping the column would make its entries
    silently delete nothing."""
    eq, _ = _pair(spark, tmp_path)
    eq.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                         for k in range(6)]), batch_id="b1",
             assume_unique_keys=True)
    eq.refresh().merge(_mk(spark, [(2, None, None, "DELETE", 100)]),
                       batch_id="b2", assume_unique_keys=True)
    eq.refresh().apply_ddl("add_column", name="extra", type="string")
    eq = eq.refresh()
    sv = str(eq.delete_files[0]["schema_version"])
    assert sv != str(eq.manifest["schema_version"])
    # the file's (older) schema version re-ids the pk field: the
    # current pk id no longer maps to any of the file's columns
    eq.manifest["schemas"][sv] = [
        dict(f, id=99) if f["name"] == "k" else f
        for f in eq.manifest["schemas"][sv]
    ]
    with pytest.raises(ValueError, match="pk field 'k'"):
        eq._delete_file_parts(None)
    with pytest.raises(ValueError, match="pk field 'k'"):
        eq.read()


def test_patch_mode_merge_matches_row_mode(spark, tmp_path):
    """update_mode='patch' on an equality-delete table (patch join ahead
    of the one materialization that feeds both writes) lands the same
    state as the row-tombstone table."""
    eq, row = _pair(spark, tmp_path)
    for t in (eq, row):
        t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                            for k in range(12)]), batch_id="b1",
                assume_unique_keys=True)
        # null payload = unchanged; deletes + patches in one batch
        t.refresh().merge(
            _mk(spark, [(k, None, k * 5.0, "UPSERT", 100 + k)
                        for k in range(0, 12, 2)]
                + [(k, None, None, "DELETE", 100 + k)
                   for k in range(1, 12, 4)]
                + [(40, None, 4.0, "UPSERT", 140)]),
            batch_id="b2", update_mode="patch")
        t.refresh().merge(
            _mk(spark, [(2, "z", None, "UPSERT", 200),
                        (5, "r", None, "UPSERT", 201),
                        (6, None, None, "DELETE", 202)]),
            batch_id="b3", update_mode="patch")
    assert eq.refresh().delete_files
    got = _state(eq)
    assert got == _state(row)
    by_k = {r[0]: r for r in got}
    assert by_k[0] == (0, "a", 0.0) and by_k[2] == (2, "z", 10.0)
    assert by_k[5] == (5, "r", None) and 6 not in by_k and 1 not in by_k


def test_literal_evaluation_launches_no_spark_job(spark, tmp_path):
    """The three literal evaluators — bucket ids, partition bounds and
    bloom probe positions — fold on the driver (inline VALUES relation)
    and agree with Spark evaluating the same expressions over data."""
    from chunjun_spark.plans import bloom

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.StringType()),
                      T.StructField("ts", T.TimestampType())]),
        pk=["k"], n_buckets=16,
        partition_exprs=[("day", "date_trunc('day', ts)", "ts")])
    keys = ["a", "b", "zz"]
    buckets, jobs = _jobs(spark, lambda: t._buckets_for_key_values(keys))
    assert jobs == 0
    want = {r[0] for r in spark.createDataFrame([(k,) for k in keys], "k string")
            .select(F.pmod(F.xxhash64("k"), F.lit(16)).cast("int")).collect()}
    assert set(buckets) == want
    bounds, jobs = _jobs(spark, lambda: t._partition_bounds(
        None, {"ts": ("2024-01-05 10:00:00", "2024-01-07 23:00:00")}))
    assert jobs == 0
    assert [str(v) for v in bounds["_p_day"]] == [
        "2024-01-05 00:00:00", "2024-01-07 00:00:00"]
    (by_value, lanes), jobs = _jobs(spark, lambda: bloom._value_lane_pairs(
        spark, T.StringType(), keys, 1 << 20, 5))
    assert jobs == 0
    assert len(by_value) == 3 and all(len(p) == 5 for p in by_value.values())
    assert lanes == sorted({ln for p in by_value.values() for ln, _ in p})


# Spark jobs per commit on a row-tombstone and an equality-delete table
# (local[4], 4 buckets, 200-row base, 60-change batch with deletes):
# (merge, append_delta, partial compact, full compact)
_COMMIT_JOB_BOUNDS = {False: (14, 1, 6, 6), True: (16, 1, 8, 8)}


@pytest.mark.parametrize("eq", [False, True], ids=["row", "eqdel"])
def test_commit_job_counts(spark, tmp_path, eq, monkeypatch):
    """Every write path launches at most its pinned number of Spark
    jobs, and planning a change feed over a window that only appended
    deltas runs none (the touched buckets come from the delta entries'
    recorded ``buckets``); that feed equals the full keyed diff."""
    merge_b, append_b, partial_b, full_b = _COMMIT_JOB_BOUNDS[eq]
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, pk=["k"],
                         n_buckets=4, equality_deletes=eq)
    t.merge(_mk(spark, [(k, "a", float(k), "UPSERT", k)
                        for k in range(200)]), batch_id="base")

    def batch(seq0):
        return _mk(spark, [(k, "b", k * 2.0, "UPSERT", seq0 + k)
                           for k in range(0, 80, 2)]
                   + [(k, None, None, "DELETE", seq0 + k)
                      for k in range(1, 40, 2)])

    out, jobs = _jobs(spark, lambda: t.refresh().merge(batch(1000),
                                                       batch_id="m1"))
    assert out["n_changes"] == 60 and jobs <= merge_b
    since = t.refresh().manifest["version"]
    for i in range(3):
        _, jobs = _jobs(spark, lambda: t.refresh().append_delta(
            batch(2000 + 100 * i), batch_id=f"d{i}"))
        assert jobs <= append_b
    cur = t.refresh()
    feed, jobs = _jobs(spark, lambda: cur.read_changes(since))
    assert jobs == 0
    got = sorted(map(tuple, feed.collect()))
    monkeypatch.setattr(LakeTable, "_cdf_new_deltas",
                        staticmethod(lambda old_m, new_m: None))
    assert got == sorted(map(tuple, cur.read_changes(since).collect()))
    monkeypatch.undo()
    want = _state(t)
    _, jobs = _jobs(spark, lambda: t.refresh().compact(buckets=[0, 1]))
    assert jobs <= partial_b
    assert _state(t) == want
    _, jobs = _jobs(spark, lambda: t.refresh().compact())
    assert jobs <= full_b
    assert _state(t) == want


# Spark jobs one merge.replay of a binlog window with a DDL runs: the
# admission aggregate (poison, DDL, offsets) plus the COW merge.
_REPLAY_JOB_BOUND = 15


def test_replay_job_count(spark, tmp_path):
    """``merge.replay`` admits its window in one narrow aggregate, and
    the consumed DDL's offset counts toward the partition high-water."""
    import datetime

    from chunjun_spark.operators.ddl import ddl_event
    from chunjun_spark.operators.merge import replay
    from chunjun_spark.sources.binlog import (
        EVENT_SCHEMA,
        PAYLOAD_SCHEMA,
        generate_binlog,
    )

    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD_SCHEMA,
                         pk=["repo", "path"], n_buckets=4)
    ddl = spark.createDataFrame(
        [ddl_event(10_000, datetime.datetime(2030, 1, 1), "add_column",
                   name="stars", type="int")], EVENT_SCHEMA)
    events = generate_binlog(spark, 400, n_partitions=2).unionByName(ddl)
    out, jobs = _jobs(spark, lambda: replay(events, t, batch_id="b0"))
    assert out["n_changes"] > 0 and jobs <= _REPLAY_JOB_BOUND
    t = t.refresh()
    assert "stars" in t.schema.to_struct().fieldNames()
    lin = t.manifest["lineage"]["b0"]
    assert lin["offsets"]["0"]["max_offset"] == 10_000
    assert lin["metrics"]["numRead"] == 400
