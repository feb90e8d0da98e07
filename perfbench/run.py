"""Closed-loop CDC ingest benchmark for chunjun_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload trickle_mor --seed 1 --seconds 30 --trace 0

Each run is one fresh Python process with one fresh Spark JVM (fixed
2 GiB driver heap) and a fresh scratch directory under
``.perfbench_runs/`` in the working directory, removed at exit. Nothing is
cached across runs. The engine is driven only through its public entry
points:

* ``trickle_mor``: pre-written binlog segments are fed to
  ``streaming.pipeline.start_replay_stream`` (``mode='mor'``,
  ``compact_every=3``) ONE segment per micro-batch: the benchmark renames
  a segment directory into the watched directory and waits for
  ``processAllAvailable()`` before publishing the next. Batch boundaries
  are therefore set by the data, not by a timer racing a generator
  (closed loop, one client). The first segment is the base. Then
  ``LakeTable.point_lookup`` and ``LakeTable.read`` run on the result,
  with deltas outstanding.
* ``catchup_eqdel``: one large ``operators.merge.replay`` call applies a
  backlog (about 4 events per key, 2% duplicate re-deliveries, 10%
  deletes) to an ``equality_deletes=True`` table that already holds a
  base; the same call is repeated on identical copies of the loaded
  table. Then the same reads, which pay the delete-file anti-join.

Set-up (JVM start, input generation with ``sources.binlog``, base load,
warm-up micro-batches or a warm-up replay, warm-up reads) is timed as
``setup_s`` and never as ingest. The number of operations a run plans is
fixed by ``--seconds`` (so percentiles always rest on the same sample
count); a phase that overruns three times its share of ``--seconds``
stops early, and every operation it did not issue counts as attempted
and failed. After the timed region, the final table is checked against an
independent DuckDB fold of the same events (``oracle.py``), and every
lookup and scan row count against the fold's count.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics from the wrapped layer functions (``spans.py``). See DESIGN.md.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
from contextlib import nullcontext  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# Every workload streams or replays the same generated table shape
# (sources.binlog: pk (repo, path), zipf-skewed repo = the bucket column).
WORKLOADS = {
    "trickle_mor": {
        "equality_deletes": False,
        "n_keys": 4000,
        # the base arrives as the stream's first micro-batch
        "base_events": 8000,
        "segment_events": 500,
        # appends keep speeding up (JIT) for ~10 micro-batches after
        # the base; timed before that, the median sits on the trend
        "warmup_batches": 10,
        # operations per second of --seconds
        "commits_per_s": 0.4,
        "lookups_per_s": 0.267,
        # share of --seconds the ingest phase is expected to take
        "ingest_share": 0.55,
    },
    "catchup_eqdel": {
        "equality_deletes": True,
        "n_keys": 20000,
        "base_events": 40000,
        "backlog_events": 80000,
        # the same backlog is replayed into identical copies of the
        # loaded table: one warm-up copy, then this many timed ones
        "catchups_per_s": 0.067,
        "lookups_per_s": 0.167,
        "ingest_share": 0.35,
    },
}

# --smoke: the same code paths at toy sizes, for perfbench/selftest.py
SMOKE = {
    "trickle_mor": {"n_keys": 400, "base_events": 1600, "segment_events": 100,
                    "warmup_batches": 2},
    "catchup_eqdel": {"n_keys": 2000, "base_events": 8000,
                      "backlog_events": 8000},
}

# two task threads leave the other cores of a 4-core host to the JIT, the
# collector and the Python driver; the catch-up runs no slower than on
# local[4] there
MASTER = "local[2]"
DRIVER_MEMORY = "2g"
N_REPOS = 200
N_BUCKETS = 8
GEN_SLICES = 8
HOT_REPOS = 3
COLD_REPOS = 4
# 8 scans at --seconds 30: a median of 4 moved 0.69-0.93 s between
# trickle runs on the same host
SCANS_PER_S = 0.267
# trickle_mor: a third of the commits compact, so the median commit is
# an append
COMPACT_EVERY = 3

E2E_UNITS = {
    "setup_s": "s",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "ingest_events_per_s": "1/s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "scan_p50_s": "s",
    "peak_rss_mb": "MB",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that has at least
    10 samples beyond it: the (n-10)-th smallest value. When that
    percentile would fall below the median (n < 20), the sample supports
    no tail and the median is reported (percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_files(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


class Run:
    """One benchmark run: set-up, timed ingest, timed reads, oracle."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 smoke: bool, corrupt: str | None = None):
        self.name = workload
        self.corrupt = corrupt
        self.w = dict(WORKLOADS[workload], **(SMOKE[workload] if smoke else {}))
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dir = os.path.abspath(os.path.join(
            ".perfbench_runs", f"{workload}-s{seed}-p{os.getpid()}"))
        self.table_root = os.path.join(self.dir, "table")
        self.spark = None
        self.proc = None
        self.rec = None
        self.commits: list[dict] = []
        self.lookups: list[dict] = []
        self.scans: list[dict] = []
        self.ingest_events = 0
        self.n_events = 0
        self.ingest_s = 0.0
        self.event_files: list[str] = []
        self.lookup_repos: list[str] = []
        self.planned = 0
        self.failed = 0
        self.notes: list[str] = []
        self.marks: list[tuple[str, float]] = []

    def mark(self, what: str) -> None:
        """Record the process-relative time at which a phase ended."""
        self.marks.append((what, time.perf_counter() - _T_PROCESS))

    # ------------------------------------------------------------ set-up
    def start_spark(self) -> None:
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        from chunjun_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=MASTER,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                # a fixed heap (initial = max), touched at start-up, keeps
                # the JVM's resident size from tracking how much of the
                # heap the collector happened to use
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
                # keep every finished job countable by the traced run
                "spark.ui.retainedJobs": "100000",
            },
        )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.proc = sc._gateway.proc
        self.mark("jvm")
        if self.trace:
            from spans import Recorder, install

            self.rec = Recorder(sc)
            install(self.rec)

    def draw_lookup_repos(self) -> None:
        """Hot repos (the zipf head) plus cold repos drawn by the seed."""
        rng = random.Random(self.seed)
        ids = list(range(HOT_REPOS)) + rng.sample(
            range(HOT_REPOS, N_REPOS), COLD_REPOS)
        self.lookup_repos = [f"org{i % 13}/repo{i}" for i in ids]

    def generate(self, seg_of_id) -> str:
        """Write the run's ``self.n_events`` generated events to
        ``events/_seg=<k>/`` parquet dirs, segment ``seg_of_id(i)`` for the
        i-th generated event.

        The generator is ``spark.range`` plus narrow projections, so the
        i-th event is recovered from the partition index and the row's
        position in its partition (``spark.range`` slice boundaries). A
        duplicate re-delivery lands in the segment where it is delivered,
        not where its original was."""
        import pyspark.sql.functions as F

        from chunjun_spark.sources.binlog import generate_binlog

        n, slices = self.n_events, GEN_SLICES
        pid = F.spark_partition_id().cast("long")
        gid = (F.expr(f"CAST(spark_partition_id() AS BIGINT) * {n} div {slices}")
               + F.monotonically_increasing_id() - F.shiftleft(pid, 33))
        # materialise the id once: each reference to
        # monotonically_increasing_id() would count rows on its own
        ev = generate_binlog(
            self.spark, n, n_keys=self.w["n_keys"], n_repos=N_REPOS,
            seed=self.seed, slices=slices,
        ).withColumn("_gid", gid).withColumn(
            "_seg", seg_of_id(F.col("_gid"))).drop("_gid")
        out = os.path.join(self.dir, "events")
        ev.write.partitionBy("_seg").parquet(out)
        return out

    def create_table(self):
        from chunjun_spark.plans.lake import LakeTable
        from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA

        return LakeTable.create(
            self.spark, self.table_root, PAYLOAD_SCHEMA, pk=["repo", "path"],
            n_buckets=N_BUCKETS, equality_deletes=self.w["equality_deletes"],
        )

    def read_events(self, path: str):
        from chunjun_spark.sources.binlog import EVENT_SCHEMA

        return self.spark.read.schema(EVENT_SCHEMA).parquet(path)

    def replay(self, path: str, table, batch_id: str) -> dict:
        """Copy-on-write ``replay()``: the base load of every workload and
        the catch-up itself."""
        from chunjun_spark.operators import merge

        return merge.replay(self.read_events(path), table, batch_id=batch_id)

    # ------------------------------------------------------------ phases
    def ops(self, per_s: float, minimum: int) -> int:
        """Operations planned for a phase; each counts as attempted."""
        n = max(minimum, round(per_s * self.seconds))
        self.planned += n
        return n

    def skip(self, what: str, done: int, planned: int) -> None:
        """A phase ran out of time: its unissued operations fail."""
        self.notes.append(f"{what} stopped early after {done} of {planned}")
        self.failed += planned - done

    def deadline(self, share: float) -> float:
        """A phase expected to take ``share`` of ``--seconds`` stops
        issuing operations after three times that (keeps a run far
        below the 180 s limit on a slowed engine or host)."""
        return time.perf_counter() + 3.0 * share * self.seconds

    def trickle(self) -> None:
        import pyspark.sql.functions as F

        from chunjun_spark.streaming.pipeline import (
            read_binlog_stream,
            start_replay_stream,
        )

        w = self.w
        base, seg = w["base_events"], w["segment_events"]
        # segment 0 is the base; end with deltas outstanding (compaction
        # folds every COMPACT_EVERY-th delta), so the reads resolve them
        n_warm = 1 + w["warmup_batches"]
        n_commits = max(1, round(w["commits_per_s"] * self.seconds))
        n_commits += (2 - (n_warm + n_commits)) % COMPACT_EVERY
        self.planned += n_commits
        self.n_events = base + seg * (n_warm - 1 + n_commits)
        events = self.generate(
            lambda i: F.when(i < base, F.lit(0)).otherwise(
                1 + F.floor((i - base) / seg)))
        self.mark("generate")
        self.create_table()
        watch = os.path.join(self.dir, "watch")
        os.makedirs(watch)
        query = start_replay_stream(
            read_binlog_stream(self.spark, os.path.join(watch, "*"),
                               max_files_per_trigger=1000),
            self.table_root, os.path.join(self.dir, "checkpoint"),
            job_id="perfbench", mode="mor", trigger_available_now=False,
            compact_every=COMPACT_EVERY,
        )
        run_id = str(query.runId)
        tracker = self.spark.sparkContext.statusTracker()
        try:
            self.feed(query, events, watch, 0)
            self.mark("base")
            for i in range(1, n_warm):
                self.feed(query, events, watch, i)
            self.mark("warmup")
            self.warm_reads()
            self.mark("warm_reads")
            self.t_setup = time.perf_counter() - _T_PROCESS
            stop_at = self.deadline(w["ingest_share"])
            t0 = time.perf_counter()
            for j in range(n_commits):
                if j and time.perf_counter() > stop_at:
                    self.skip("ingest", j, n_commits)
                    break
                traced = self.rec is not None and j % 2 == 0
                if self.rec is not None:
                    self.rec.enabled = traced
                    self.rec.op = ("commit", j)
                before = dir_files(self.table_root) if traced else None
                jobs0 = len(tracker.getJobIdsForGroup(run_id)) if traced else 0
                c = self.feed(query, events, watch, n_warm + j)
                if traced:
                    c["stream_jobs"] = len(tracker.getJobIdsForGroup(run_id)) - jobs0
                    after = dir_files(self.table_root)
                    new = {p: s for p, s in after.items() if p not in before}
                    c["files_written"] = len(new)
                    c["bytes_written"] = sum(new.values())
                c["traced"] = traced
                self.commits.append(c)
                self.ingest_events += seg
            self.ingest_s = time.perf_counter() - t0
            self.mark("ingest")
        finally:
            if self.rec is not None:
                self.rec.enabled = False
            query.stop()
        self.event_files = [f for d in sorted(os.listdir(watch))
                            for f in parquet_files(os.path.join(watch, d))]

    def feed(self, query, events: str, watch: str, k: int) -> dict:
        """Publish segment ``k`` (one directory rename, so a trigger sees
        all of its files or none) and wait until its micro-batch is
        committed. Returns that batch's progress timings."""
        src = os.path.join(events, f"_seg={k}")
        seg_bytes = sum(os.path.getsize(f) for f in parquet_files(src))
        os.rename(src, os.path.join(watch, f"seg-{k:05d}"))
        query.processAllAvailable()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        prog = [p for p in query.recentProgress
                if p["batchId"] == k and p["numInputRows"] > 0]
        if not prog:
            raise RuntimeError(f"no progress for micro-batch {k}")
        d = prog[-1]["durationMs"]
        return {"trigger_s": d["triggerExecution"] / 1000.0,
                "addbatch_s": d.get("addBatch", 0) / 1000.0,
                "segment_bytes": seg_bytes}

    def catchup(self) -> None:
        import pyspark.sql.functions as F

        from chunjun_spark.plans.lake import LakeTable

        w = self.w
        base, backlog = w["base_events"], w["backlog_events"]
        self.n_events = base + backlog
        events = self.generate(
            lambda i: F.when(i < base, F.lit(0)).otherwise(F.lit(1)))
        self.mark("generate")
        self.replay(os.path.join(events, "_seg=0"), self.create_table(), "base")
        self.mark("base")
        # identical starting points (manifests hold table-relative
        # paths): the loaded table takes a warm-up catch-up, its copies
        # the timed ones; the last copy is read and checked
        roots = [f"{self.table_root}-{i}"
                 for i in range(self.ops(w["catchups_per_s"], 1))]
        for r in roots:
            shutil.copytree(self.table_root, r)
        backlog_dir = os.path.join(events, "_seg=1")
        backlog_bytes = sum(os.path.getsize(f)
                            for f in parquet_files(backlog_dir))
        self.replay(backlog_dir, LakeTable.load(self.spark, self.table_root),
                    "catchup")
        self.mark("warmup")
        self.warm_reads()
        self.mark("warm_reads")
        self.t_setup = time.perf_counter() - _T_PROCESS
        for i, root in enumerate(roots):
            table = LakeTable.load(self.spark, root)
            before = dir_files(root) if self.rec is not None else None
            if self.rec is not None:
                self.rec.enabled = True
                self.rec.op = ("commit", i)
            t0 = time.perf_counter()
            try:
                self.replay(backlog_dir, table, "catchup")
            finally:
                if self.rec is not None:
                    self.rec.enabled = False
            dt = time.perf_counter() - t0
            c = {"trigger_s": dt, "addbatch_s": dt,
                 "segment_bytes": backlog_bytes,
                 "traced": self.rec is not None}
            if before is not None:
                new = {p: s for p, s in dir_files(root).items()
                       if p not in before}
                c["files_written"] = len(new)
                c["bytes_written"] = sum(new.values())
                c["stream_jobs"] = 0
            self.commits.append(c)
            self.ingest_events += backlog
        self.ingest_s = sum(c["trigger_s"] for c in self.commits)
        self.mark("ingest")
        self.table_root = roots[-1]
        self.event_files = [f for k in range(2) for f in
                            parquet_files(os.path.join(events, f"_seg={k}"))]

    def warm_reads(self) -> None:
        """One lookup and one scan before timing: JIT and planner warm-up
        of the read path."""
        from chunjun_spark.plans.lake import LakeTable

        t = LakeTable.load(self.spark, self.table_root)
        self.materialise(t.point_lookup(self.lookup_repos[0]))
        self.materialise(t.read())

    @staticmethod
    def materialise(df) -> int:
        """Run ``df`` to completion through the noop sink; row count via
        an observation on the same pass."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop").mode("overwrite").save()
        return int(obs.get["n"])

    def reads(self) -> None:
        from chunjun_spark.plans.lake import LakeTable

        t = LakeTable.load(self.spark, self.table_root)
        self.read_state = {
            "delete_files": len(t.delete_files),
            "deltas": len(t.manifest["deltas"]),
            "data_files": sum(
                len(parquet_files(os.path.join(self.table_root, b["path"])))
                for b in t.manifest["buckets"].values()),
        }
        stop_at = self.deadline(1.0 - self.w["ingest_share"])
        n_lookups = self.ops(self.w["lookups_per_s"], 2)
        n_scans = self.ops(SCANS_PER_S, 1)
        for i in range(n_lookups):
            if i and time.perf_counter() > stop_at:
                self.skip("lookups", i, n_lookups)
                break
            repo = self.lookup_repos[i % len(self.lookup_repos)]
            self.lookups.append(self.timed_read(
                ("lookup", i), i, lambda: t.point_lookup(repo), repo=repo))
        for i in range(n_scans):
            if i and time.perf_counter() > stop_at:
                self.skip("scans", i, n_scans)
                break
            self.scans.append(self.timed_read(("scan", i), i, t.read))

    def timed_read(self, op, i: int, plan, repo: str | None = None) -> dict:
        """Plan (the engine call) then execute (noop sink); in a traced
        run every other read is traced."""
        rec = self.rec
        traced = rec is not None and i % 2 == 0
        if rec is not None:
            rec.enabled = traced
            rec.op = op
        kind = op[0]
        t0 = time.perf_counter()
        try:
            with (rec.span(f"lake.{kind}_plan") if traced else nullcontext()):
                df = plan()
            t1 = time.perf_counter()
            with (rec.span(f"lake.{kind}_exec") if traced else nullcontext()):
                n = self.materialise(df)
            t2 = time.perf_counter()
        finally:
            if rec is not None:
                rec.enabled = False
        return {"repo": repo, "rows": n, "plan_s": t1 - t0,
                "exec_s": t2 - t1, "s": t2 - t0, "traced": traced}

    # ------------------------------------------------------------ oracle
    def verify(self) -> dict:
        import oracle

        from chunjun_spark.plans.lake import LakeTable

        actual = os.path.join(self.dir, "actual")
        LakeTable.load(self.spark, self.table_root).read().write.parquet(actual)
        con = oracle.connect()
        try:
            if self.corrupt:
                actual = oracle.corrupt_copy(
                    con, actual, self.corrupt, os.path.join(self.dir, "corrupt"))
            oracle.load_expected(con, self.event_files)
            final = oracle.check_actual(con, actual)
            want = oracle.repo_counts(con, self.lookup_repos)
            total = oracle.expected_count(con)
        finally:
            con.close()
        bad_lookups = [lk for lk in self.lookups if lk["rows"] != want[lk["repo"]]]
        bad_scans = [s for s in self.scans if s["rows"] != total]
        self.failed += len(bad_lookups) + len(bad_scans) + (0 if final["ok"] else 1)
        return {"final": final, "bad_lookups": len(bad_lookups),
                "bad_scans": len(bad_scans), "expected_rows": total}

    # ------------------------------------------------------------ report
    def e2e_metrics(self) -> dict:
        lat = [c["trigger_s"] for c in self.commits]
        lk = [x["s"] for x in self.lookups]
        sc = [x["s"] for x in self.scans]
        commit_tail, commit_pct, _ = tail(lat)
        lookup_tail, lookup_pct, _ = tail(lk)
        self.tails = {"commit": (commit_pct, len(lat)),
                      "lookup": (lookup_pct, len(lk))}
        return {
            "setup_s": self.t_setup,
            "commit_p50_s": statistics.median(lat),
            "commit_tail_s": commit_tail,
            "ingest_events_per_s": self.ingest_events / self.ingest_s,
            "lookup_p50_s": statistics.median(lk),
            "lookup_tail_s": lookup_tail,
            "scan_p50_s": statistics.median(sc),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def layer_metrics(self) -> dict:
        """Per-layer metrics from the traced operations only."""
        from spans import self_times

        spans = self.rec.spans
        selft = self_times(spans)
        commits = [c for c in self.commits if c["traced"]]

        def per_op(kind: str, n: int, names: tuple[str, ...], jobs=False,
                   inclusive=False) -> float:
            """Median over the traced ops of ``kind`` of the summed span
            time (or job count) of spans named ``names``; 0 when the
            workload never reaches that layer."""
            vals = []
            for idx in range(n):
                ss = [s for s in spans if s["op"] == (kind, idx)
                      and s["name"] in names]
                if not ss:
                    continue
                if jobs:
                    vals.append(sum(s["jobs"] for s in ss))
                elif inclusive:
                    vals.append(sum(s["t1"] - s["t0"] for s in ss))
                else:
                    vals.append(sum(selft[s["id"]] for s in ss))
            return float(statistics.median(vals)) if vals else 0.0

        n_c = len(self.commits)

        def commit(name: str, jobs=False) -> float:
            return per_op("commit", n_c, (name,), jobs=jobs)

        top_names = ("pipeline.admit", "dedup.keep_last", "lake.merge",
                     "lake.append_delta", "lake.compact", "lake.load",
                     "merge.replay")
        unattributed, commit_jobs, trig, addb = [], [], [], []
        for j, c in enumerate(self.commits):
            if not c["traced"]:
                continue
            ss = [s for s in spans if s["op"] == ("commit", j)]
            batch = [s for s in ss if s["name"] == "stream.batch"]
            root_ids = {s["id"] for s in batch}
            kids = [s for s in ss if s["parent"] in root_ids
                    or (not batch and s["parent"] is None)]
            covered = sum(s["t1"] - s["t0"] for s in kids
                          if s["name"] in top_names)
            unattributed.append(c["addbatch_s"] - covered)
            commit_jobs.append(sum(s["jobs"] for s in ss) + c["stream_jobs"])
            trig.append(c["trigger_s"])
            addb.append(c["addbatch_s"])
        streaming = self.name == "trickle_mor"
        untraced = [c["trigger_s"] for c in self.commits if not c["traced"]]
        if streaming and untraced:
            overhead = statistics.median(trig) / statistics.median(untraced) - 1.0
        else:
            t_lk = [x["s"] for x in self.lookups if x["traced"]]
            u_lk = [x["s"] for x in self.lookups if not x["traced"]]
            overhead = statistics.median(t_lk) / statistics.median(u_lk) - 1.0
        seg_bytes = [c["segment_bytes"] for c in commits]
        bytes_w = [c["bytes_written"] for c in commits]
        n_lk, n_sc = len(self.lookups), len(self.scans)
        manifest = os.path.join(self.table_root, "_manifests")
        with open(os.path.join(manifest, "_current")) as f:
            cur = f.read().strip()
        m = {
            "stream.trigger_s": statistics.median(trig) if streaming else 0.0,
            "stream.addbatch_s": statistics.median(addb) if streaming else 0.0,
            "stream.overhead_s": (statistics.median(
                [t - a for t, a in zip(trig, addb)]) if streaming else 0.0),
            "pipeline.admit_s": commit("pipeline.admit"),
            "pipeline.admit_jobs": commit("pipeline.admit", jobs=True),
            "merge.replay_self_s": commit("merge.replay"),
            "merge.replay_self_jobs": commit("merge.replay", jobs=True),
            "merge.offsets_s": commit("merge.offsets"),
            "merge.offsets_jobs": commit("merge.offsets", jobs=True),
            "dedup.keep_last_s": commit("dedup.keep_last"),
            "dedup.keep_last_jobs": commit("dedup.keep_last", jobs=True),
            "lake.merge_s": commit("lake.merge"),
            "lake.merge_jobs": commit("lake.merge", jobs=True),
            "lake.bytes_written_per_commit": float(statistics.median(bytes_w)),
            "lake.files_written_per_commit": float(statistics.median(
                [c["files_written"] for c in commits])),
            "lake.write_amplification": float(statistics.median(
                [b / s for b, s in zip(bytes_w, seg_bytes)])),
            "lake.append_delta_s": commit("lake.append_delta"),
            "lake.append_delta_jobs": commit("lake.append_delta", jobs=True),
            "lake.compact_s": commit("lake.compact"),
            "lake.compact_jobs": commit("lake.compact", jobs=True),
            "lake.compact_calls": float(sum(
                1 for s in spans if s["name"] == "lake.compact"
                and s["op"] is not None and s["op"][0] == "commit")),
            "lake.load_s": commit("lake.load"),
            "lake.manifest_bytes": float(os.path.getsize(
                os.path.join(manifest, f"v{cur}.json"))),
            "lake.lookup_plan_s": per_op("lookup", n_lk, ("lake.lookup_plan",),
                                         inclusive=True),
            "lake.lookup_plan_jobs": self.read_jobs("lookup", "plan"),
            "lake.lookup_exec_s": per_op("lookup", n_lk, ("lake.lookup_exec",),
                                         inclusive=True),
            "lake.lookup_exec_jobs": self.read_jobs("lookup", "exec"),
            "lake.read_plan_s": per_op("scan", n_sc, ("lake.scan_plan",),
                                       inclusive=True),
            "lake.read_plan_jobs": self.read_jobs("scan", "plan"),
            "lake.read_exec_s": per_op("scan", n_sc, ("lake.scan_exec",),
                                       inclusive=True),
            "lake.delete_files": float(self.read_state["delete_files"]),
            "lake.deltas": float(self.read_state["deltas"]),
            "lake.data_files": float(self.read_state["data_files"]),
            "commit.jobs": float(statistics.median(commit_jobs)),
            "commit.unattributed_s": float(statistics.median(unattributed)),
            "trace.overhead_frac": overhead,
        }
        return m

    def read_jobs(self, kind: str, part: str) -> float:
        """Median Spark jobs of a read's plan or exec span, its wrapped
        callees (e.g. keep_last over delete files) included."""
        spans = self.rec.spans
        by_id = {s["id"]: s for s in spans}
        vals = []
        for root in (s for s in spans if s["name"] == f"lake.{kind}_{part}"):
            n = 0
            for s in spans:
                p = s
                while p is not None and p["id"] != root["id"]:
                    p = by_id.get(p["parent"])
                if p is not None:
                    n += s["jobs"]
            vals.append(n)
        return float(statistics.median(vals)) if vals else 0.0

    # ------------------------------------------------------------ driver
    def execute(self) -> dict:
        os.makedirs(self.dir)
        self.start_spark()
        self.draw_lookup_repos()
        {"trickle_mor": self.trickle, "catchup_eqdel": self.catchup}[self.name]()
        self.reads()
        self.mark("reads")
        self.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(self.proc.pid)
        check = self.verify()
        self.mark("oracle")
        attempted = self.planned + 1  # + the final-state check
        if self.trace:
            self.rec.resolve_jobs()
            metrics = self.layer_metrics()
            units = LAYER_UNITS
            self.rec.dump(os.path.join(
                os.path.dirname(self.dir),
                f"spans-{self.name}-s{self.seed}.json"))
        else:
            metrics = self.e2e_metrics()
            units = E2E_UNITS
        self.report(metrics, units, check)
        return {
            "correct": self.failed == 0,
            "attempted": attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def report(self, metrics: dict, units: dict, check: dict) -> None:
        print(f"workload {self.name} seed {self.seed} seconds {self.seconds} "
              f"trace {int(self.trace)}: {len(self.commits)} commits, "
              f"{len(self.lookups)} lookups, {len(self.scans)} scans, "
              f"{self.ingest_events} events ingested")
        for k, v in metrics.items():
            extra = ""
            if k == "commit_tail_s" or k == "lookup_tail_s":
                pct, n = self.tails[k.split("_")[0]]
                extra = f"  (p{pct:.1f} of n={n})"
            print(f"  {k:32s} {v:14.6g} {units[k]}{extra}")
        print(f"  oracle: final state {'ok' if check['final']['ok'] else 'MISMATCH'}"
              f" ({check['expected_rows']} rows), lookup mismatches "
              f"{check['bad_lookups']}, scan mismatches {check['bad_scans']}")
        print("  commit latencies (s): " + " ".join(
            f"{c['trigger_s']:.3f}" for c in self.commits))
        print("  lookup latencies (s): " + " ".join(
            f"{x['s']:.3f}" for x in self.lookups))
        print("  phases ended at: " + ", ".join(
            f"{k} {t:.1f}s" for k, t in self.marks))
        for note in self.notes:
            print(f"  note: {note}")

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the scratch dir."""
        if self.spark is not None:
            try:
                self.spark.stop()
                self.spark.sparkContext._gateway.shutdown()
            finally:
                if self.proc is not None:
                    if self.proc.stdin is not None:
                        self.proc.stdin.close()
                    try:
                        self.proc.wait(timeout=60)
                    except Exception:
                        self.proc.kill()
                        self.proc.wait(timeout=30)
        shutil.rmtree(self.dir, ignore_errors=True)


LAYER_UNITS = {
    "stream.trigger_s": "s",
    "stream.addbatch_s": "s",
    "stream.overhead_s": "s",
    "pipeline.admit_s": "s",
    "pipeline.admit_jobs": "count",
    "merge.replay_self_s": "s",
    "merge.replay_self_jobs": "count",
    "merge.offsets_s": "s",
    "merge.offsets_jobs": "count",
    "dedup.keep_last_s": "s",
    "dedup.keep_last_jobs": "count",
    "lake.merge_s": "s",
    "lake.merge_jobs": "count",
    "lake.bytes_written_per_commit": "bytes",
    "lake.files_written_per_commit": "count",
    "lake.write_amplification": "ratio",
    "lake.append_delta_s": "s",
    "lake.append_delta_jobs": "count",
    "lake.compact_s": "s",
    "lake.compact_jobs": "count",
    "lake.compact_calls": "count",
    "lake.load_s": "s",
    "lake.manifest_bytes": "bytes",
    "lake.lookup_plan_s": "s",
    "lake.lookup_plan_jobs": "count",
    "lake.lookup_exec_s": "s",
    "lake.lookup_exec_jobs": "count",
    "lake.read_plan_s": "s",
    "lake.read_plan_jobs": "count",
    "lake.read_exec_s": "s",
    "lake.delete_files": "count",
    "lake.deltas": "count",
    "lake.data_files": "count",
    "commit.jobs": "count",
    "commit.unattributed_s": "s",
    "trace.overhead_frac": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy input sizes (self-tests only)")
    ap.add_argument("--corrupt", choices=("drop_row", "flip_byte"),
                    help="with --smoke: corrupt the checked copy of the "
                    "final table (the oracle must reject it)")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    if args.corrupt and not args.smoke:
        ap.error("--corrupt is a self-test aid and needs --smoke")
    if not os.path.isfile(os.path.join("chunjun_spark", "plans", "lake.py")):
        print("perfbench: run from the repository root (chunjun_spark/ not "
              "found)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.smoke, args.corrupt)
    try:
        result = run.execute()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
