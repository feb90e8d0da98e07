"""Simulated binlog / WAL change stream over the source-code-repo table.

Reference analog: the CDC event map produced by all four ChunJun CDC readers
(flinkx-binlog/.../BinlogEventSink.java:102-142 — ``{type, schema, table, ts,
before_*/after_*}``) plus the mock stream source used for speed tests
(flinkx-stream/.../StreamInputFormat.java:49-85). The Snowflake id
``ts`` (BinlogEventSink.java:114; decode ts >> 22 = epoch millis, docs
docs/realTime/reader/binlogreader.md:200-208) is carried both as a raw
``snowflake_ts`` and as the explicit ordering pair ``(op_ts, seq)``.

Everything is generated LAZILY from ``spark.range(n)`` with native column
expressions — no driver-side materialization, no per-row Python — so the
same generator that drives a 10^5-event unit test describes a 10^10-event
replay: Spark plans it as `Range -> Project`, embarrassingly parallel,
zero shuffle.

Determinism: every column is a pure function of (event id, seed). The
pytest oracle folds the same events in-memory and must reach the same
final state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# payload of the input_hint table: (repo, path, commit, lang, content)
PAYLOAD_FIELDS = ["repo", "path", "commit", "lang", "content"]

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),  # INSERT / UPDATE / DELETE
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("op_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),  # global unique tiebreaker
        T.StructField("snowflake_ts", T.LongType()),  # (epochms << 22) | seq_low
        T.StructField("partition_id", T.IntegerType()),  # binlog channel
        T.StructField("offset", T.LongType()),  # per-partition monotonic
        T.StructField("before", PAYLOAD_SCHEMA),
        T.StructField("after", PAYLOAD_SCHEMA),
        # op='DDL' rows carry a JSON action here, e.g.
        # {"action":"add_column","name":"stars","type":"int"}; NULL for
        # data events (chunjun_spark.operators.ddl)
        T.StructField("ddl", T.StringType()),
    ]
)

_LANGS = ["py", "java", "go", "rs", "md", "json"]
_BASE_EPOCH_MS = 1_700_000_000_000  # fixed so runs are reproducible
_MTIME_FLOOR = 0.0  # highest mtime stamped by write_binlog_files so far


def _u01(*cols) -> F.Column:
    """Deterministic uniform(0,1) from a hash of the inputs."""
    return (F.pmod(F.xxhash64(*cols), F.lit(1_000_000)).cast("double")) / 1_000_000.0


def _payload(key_id: F.Column, version: F.Column, n_repos: int, skew: float, seed: int) -> F.Column:
    """Payload struct as a pure expression of (key_id, version).

    Repo assignment is zipf-ish: u^alpha concentrates mass on low repo ids,
    modelling the monorepo skew case (FIXTURES.md F1: one repo ~30% of paths).
    """
    u = _u01(key_id, F.lit(seed), F.lit("repo"))
    repo_id = F.floor(F.pow(u, F.lit(skew)) * n_repos).cast("long")
    repo = F.concat(F.lit("org"), (repo_id % 13).cast("string"), F.lit("/repo"), repo_id.cast("string"))
    lang = F.element_at(F.array(*[F.lit(x) for x in _LANGS]), (key_id % len(_LANGS) + 1).cast("int"))
    path = F.concat(
        F.lit("src/dir"),
        (key_id % 97).cast("string"),
        F.lit("/f"),
        key_id.cast("string"),
        F.lit("."),
        lang,
    )
    commit = F.concat(F.md5(F.concat_ws("|", F.lit(seed), repo, path, version)), F.lit("00000000"))
    body = F.md5(F.concat_ws("|", F.lit("content"), F.lit(seed), key_id, version))
    # variable-length pseudo-code body (64..~2048 chars), still one expression
    reps = (F.pmod(F.xxhash64(key_id, version, F.lit("len")), F.lit(31)) + 2).cast("int")
    content = F.concat(
        F.lit("def f_"),
        key_id.cast("string"),
        F.lit("_v"),
        version.cast("string"),
        F.lit("():\n    return '"),
        F.substring(F.repeat(body, 64), F.lit(1), reps * 32),
        F.lit("'\n"),
    )
    return F.struct(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


def generate_binlog(
    spark: SparkSession,
    n_events: int,
    n_keys: int | None = None,
    n_repos: int = 1000,
    n_partitions: int = 8,
    dup_rate: float = 0.02,
    delete_rate: float = 0.10,
    skew: float = 4.0,
    seed: int = 42,
    table_name: str = "repo_files",
    slices: int | None = None,
) -> DataFrame:
    """Deterministic change-event stream, ordered by seq == range id.

    Key properties (FIXTURES.md F2):
    - key k mutates at ids k, k+n_keys, k+2*n_keys, ... (version = id / n_keys)
    - version 0 is INSERT; later versions are UPDATE, or DELETE with
      probability ``delete_rate``; the version after a DELETE is a re-INSERT
    - ``dup_rate`` of events are exact duplicate re-deliveries of an earlier
      event (same seq/offset) — the dedup stage must collapse them
    - in-order within a partition_id, unordered across partitions
    """
    n_keys = n_keys or max(1, n_events // 4)
    ids = spark.range(0, n_events, 1, numPartitions=slices or spark.sparkContext.defaultParallelism)

    # duplicate delivery: remap this id onto an earlier id's event
    is_dup = _u01(F.col("id"), F.lit(seed), F.lit("dup")) < F.lit(dup_rate)
    back = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit("back")), F.lit(1000)) + 1).cast("long")
    eid = F.when(is_dup & (F.col("id") >= back), F.col("id") - back).otherwise(F.col("id"))

    df = ids.select(eid.alias("eid"))
    key_id = (F.col("eid") % n_keys).alias("key_id")
    version = (F.col("eid") / n_keys).cast("long").alias("version")
    df = df.select("eid", key_id, version)

    del_u = _u01(F.col("key_id"), F.col("version"), F.lit(seed), F.lit("op"))
    prev_del_u = _u01(F.col("key_id"), F.col("version") - 1, F.lit(seed), F.lit("op"))
    was_deleted = (F.col("version") > 0) & (prev_del_u < F.lit(delete_rate))
    op = (
        F.when(F.col("version") == 0, F.lit("INSERT"))
        .when(del_u < F.lit(delete_rate), F.lit("DELETE"))
        .when(was_deleted, F.lit("INSERT"))
        .otherwise(F.lit("UPDATE"))
    )

    after = _payload(F.col("key_id"), F.col("version"), n_repos, skew, seed)
    before = _payload(F.col("key_id"), F.col("version") - 1, n_repos, skew, seed)
    epoch_ms = F.lit(_BASE_EPOCH_MS) + F.col("eid")
    part = F.pmod(F.xxhash64(F.col("key_id"), F.lit(seed), F.lit("part")), F.lit(n_partitions)).cast("int")

    return df.select(
        op.alias("op"),
        F.lit("lake").alias("schema_name"),
        F.lit(table_name).alias("table_name"),
        F.timestamp_millis(epoch_ms).alias("op_ts"),
        F.col("eid").alias("seq"),
        (F.shiftleft(epoch_ms, 22) + F.pmod(F.col("eid"), F.lit(4096))).alias("snowflake_ts"),
        part.alias("partition_id"),
        F.col("eid").alias("offset"),
        F.when(op.isin("UPDATE", "DELETE"), before).alias("before"),
        F.when(op != "DELETE", after).alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )


def write_binlog_files(
    df: DataFrame, path: str, n_files: int, order_by_partition: bool = True
) -> None:
    """Materialize the stream as parquet chunks for the file-stream source.

    One file ≈ one binlog segment; Structured Streaming's file source feeds
    them to the pipeline ``maxFilesPerTrigger`` at a time (the analog of
    canal handing batches to BinlogEventSink).

    The file source picks files in modification-time order, and a real
    binlog delivers segments in position order — so the range-partitioned
    parts get ascending mtimes stamped (write tasks finish in arbitrary
    order, leaving near-equal mtimes and therefore arbitrary delivery).
    Without this the in-order-per-partition delivery contract breaks and
    a mid-stream snapshot is not an offset prefix, which restore-mode
    resume (``LakeTable.resume_offsets`` + ``restore_filter``) relies on.
    """
    import os
    import time

    out = df.repartitionByRange(n_files, "seq") if order_by_partition else df.repartition(n_files)
    out.write.mode("overwrite").parquet(path)
    if order_by_partition:
        global _MTIME_FLOOR
        parts = sorted(p for p in os.listdir(path) if p.startswith("part-"))
        # monotonic across CALLS, not just within one: two windows
        # written seconds apart must not interleave mtimes (the file
        # source orders the whole watched dir by mtime — an overlap
        # breaks the in-order delivery contract restore-mode relies on).
        # The floor is both in-process (fast path) AND derived from any
        # sibling window dirs already on disk, so a RESTARTED producer
        # writing the next window into the same parent cannot regress
        # behind a previous process's stamps.
        disk_floor = 0.0
        abspath = os.path.abspath(path)
        parent = os.path.dirname(abspath)
        try:
            for d in os.listdir(parent):
                dp = os.path.join(parent, d)
                # skip THIS window: its freshly-written parts carry
                # now-ish mtimes and would push every stamp into the
                # future, drifting unboundedly across calls
                if dp == abspath or not os.path.isdir(dp):
                    continue
                for f in os.listdir(dp):
                    if f.startswith("part-"):
                        disk_floor = max(
                            disk_floor, os.path.getmtime(os.path.join(dp, f))
                        )
        except OSError:
            pass  # unreadable sibling: fall back to the process floor
        base = max(time.time() - len(parts) - 10,
                   _MTIME_FLOOR + 1.0, disk_floor + 1.0)
        for i, p in enumerate(parts):
            os.utime(os.path.join(path, p), (base + i, base + i))
        _MTIME_FLOOR = base + max(len(parts) - 1, 0)


DATA_OPS = ("INSERT", "UPDATE", "DELETE")


def filter_events(
    df: DataFrame,
    cat: str | list[str] | None = None,
    table: str | list[str] | None = None,
    table_filter: str | None = None,
) -> DataFrame:
    """The reference binlogreader's subscription filters, as row-local
    codegen predicates that push into the scan:

    - ``cat``: operation categories to keep, comma-separated or a list
      (``"insert,update"``); empty keeps all. Applies only to DATA ops —
      control rows (DDL / ERROR poison) always pass, mirroring the
      reference where DDL parses on a separate path from the category
      check (BinlogInputFormat.java:89-90 builds the list, :143
      ``categories.isEmpty() || categories.contains(type)``).
    - ``table``: exact table name(s); a name matches either the bare
      ``table_name`` or the qualified ``schema.table``. When set, the
      regex ``table_filter`` is ignored (binlogreader.md: "指定此参数后
      filter参数将无效").
    - ``table_filter``: regex over the qualified ``schema.table`` name
      (the canal AviaterRegexFilter subscription,
      BinlogInputFormat.java:110-118), e.g. ``"canal\\..*"``.
    """
    has_op = "op" in df.columns
    if cat:
        cats = [
            c.strip().upper()
            for c in (cat.split(",") if isinstance(cat, str) else cat)
            if c.strip()
        ]
        if cats and not has_op:
            # statement-text wires (redo_sql) synthesize op at decode
            # time, inside the micro-batch — a pre-decode category
            # filter cannot be honored; refuse loudly rather than
            # resolve a nonexistent column (review r4)
            raise ValueError(
                "cat subscription needs a decoded changelog (no 'op' "
                "column on this wire) — filter by category downstream "
                "of the decode, or drop the cat option"
            )
        if cats:
            df = df.filter(
                F.col("op").isin(cats) | ~F.col("op").isin(list(DATA_OPS))
            )
    qual = F.concat_ws(".", F.col("schema_name"), F.col("table_name"))
    # poison rows always pass the table subscription: an in-band failure
    # event is source-global (table_name may be NULL) and dropping it
    # turns fail-loudly into silent partial success. Pre-decode wires
    # have no op yet — a NULL table_name is the source-global marker
    # there (the redo encoder keeps the envelope, so real data rows
    # always carry their table)
    poison = (
        (F.col("op") == "ERROR") if has_op else F.col("table_name").isNull()
    )
    if table:
        names = [table] if isinstance(table, str) else list(table)
        df = df.filter(
            qual.isin(names) | F.col("table_name").isin(names) | poison
        )
    elif table_filter:
        df = df.filter(qual.rlike(table_filter) | poison)
    return df
