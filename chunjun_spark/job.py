"""Job runner: job-JSON → DataFrame pipeline → sink, with the reference's
framework semantics (channels, dirty plane, error limits, metrics,
restore).

Reference analog: Main.java's build path — parse config (Main.java:91),
environment + parallelism (Main.java:111-140), reader.readData() →
writer.writeData() (BaseDataReader.java:141-148), execute + accumulator
report (Main.java:149-152, util/ResultPrintUtil). Plugin dispatch by name
mirrors PluginUtil.java:100-124's convention, minus the classloader
machinery (a dict lookup replaces reflection).

The runner supports the capability classes the reference's 30+ plugins
fall into (SURVEY.md §7.4): mock/scan sources, changelog sources, file
sources; file sinks, console/noop sinks, and the upsert lake sink.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from chunjun_spark.config import JobConfig
from chunjun_spark.operators.dirty import (
    check_error_limit,
    null_pk_rule_for,
    split_dirty,
)
from chunjun_spark.operators.merge import replay
from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.sources.binlog import generate_binlog
from chunjun_spark.streaming.pipeline import run_stream_to_completion

# ----------------------------------------------------------------- readers


def _read_stream_mock(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """streamreader: N mock rows per channel from the column spec
    (StreamInputFormat.java:49-85, MockDataUtil)."""
    p = cfg.reader.parameter
    n = int(p.get("sliceRecordCount", 100)) * cfg.speed.reader_channels
    df = spark.range(0, n, 1, numPartitions=cfg.speed.reader_channels)
    cols = []
    for i, mc in enumerate(cfg.reader.columns):
        name = mc.name or f"c{i}"
        if mc.value is not None:
            cols.append(F.lit(mc.value).cast(mc.type or "string").alias(name))
        elif (mc.type or "string").lower() in ("int", "integer", "bigint", "long"):
            cols.append(F.col("id").cast(mc.type).alias(name))
        elif (mc.type or "").lower() in ("double", "float"):
            cols.append((F.col("id") * 1.5).cast(mc.type).alias(name))
        elif (mc.type or "").lower() == "timestamp":
            cols.append(F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias(name))
        else:
            cols.append(F.concat(F.lit(f"{name}_"), F.col("id")).alias(name))
    return df.select(*(cols or [F.col("id")]))


def _read_binlog(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """binlogreader: synthetic generator (n_events) or a parquet dir of
    pre-materialized change events. ``start``: {"timestamp": ts
    (inclusive), "seq": n (exclusive)} — the reference's binlog start
    position (docs/realTime/reader/binlogreader.md "start" option);
    pushed-down scan filters, events before the position are never
    read into the pipeline."""
    p = cfg.reader.parameter
    if "path" in p:
        df = spark.read.parquet(p["path"])
    else:
        df = generate_binlog(
            spark,
            n_events=int(p.get("nEvents", 100_000)),
            n_keys=p.get("nKeys"),
            seed=int(p.get("seed", 42)),
            n_partitions=cfg.speed.reader_channels,
        )
    start = p.get("start") or {}
    if start.get("timestamp") is not None:
        df = df.filter(F.col("op_ts") >= F.lit(start["timestamp"]).cast("timestamp"))
    if start.get("seq") is not None:
        df = df.filter(F.col("seq") > int(start["seq"]))
    # subscription filters (binlogreader.md cat / table / filter):
    # op categories, exact table list, table-name regex
    from chunjun_spark.sources.binlog import filter_events

    return filter_events(
        df, cat=p.get("cat"), table=p.get("table"),
        table_filter=p.get("filter"),
    )


def _read_file(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """hdfsreader capability class: parquet / csv / json / text / orc
    (HdfsTextInputFormat / HdfsOrcInputFormat / HdfsParquetInputFormat),
    with MetaColumn projection (named / typed / constant columns) and the
    user ``where`` filter — both expressed declaratively so Catalyst
    pushes them into the scan (the QuerySqlBuilder analog: projection
    QuerySqlBuilder.java:101-108, filter :117-122)."""
    p = cfg.reader.parameter
    ftype = p.get("fileType", "parquet").lower()
    path = p["path"]
    reader = spark.read
    if ftype == "csv":
        reader = reader.option("header", str(p.get("header", True)).lower())
        if "fieldDelimiter" in p:
            reader = reader.option("sep", p["fieldDelimiter"])
        df = reader.csv(path)
    elif ftype == "json":
        df = reader.json(path)
    elif ftype == "text":
        df = reader.text(path)
    elif ftype == "orc":
        df = reader.orc(path)
    else:
        df = reader.parquet(path)
    if p.get("where"):
        df = df.filter(p["where"])
    cols = cfg.reader.columns
    if cols:
        exprs = []
        for mc in cols:
            if mc.value is not None:  # constant column (MetaColumn.value)
                exprs.append(F.lit(mc.value).cast(mc.type or "string").alias(mc.name))
            elif mc.type:
                exprs.append(F.col(mc.name).cast(mc.type).alias(mc.name))
            else:
                exprs.append(F.col(mc.name))
        df = df.select(*exprs)
    return df


def _jdbc_conn_params(p: dict) -> dict:
    """Accept both the flat shape ({url, table}) and the reference's
    nested one ({connection: [{jdbcUrl: [...], table: [...]}]},
    ReaderConfig/PluginUtil convention)."""
    if "connection" in p:
        c = p["connection"][0]
        url = c["jdbcUrl"][0] if isinstance(c["jdbcUrl"], list) else c["jdbcUrl"]
        table = c["table"][0] if isinstance(c["table"], list) else c["table"]
    else:
        url, table = p["url"], p["table"]
    return {
        "url": url,
        "table": table,
        "driver": p.get("driver"),
        "user": p.get("username"),
        "password": p.get("password"),
    }


def _read_jdbc(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """jdbcreader: live ``spark.read.jdbc`` with the reference's split /
    incremental plan (JdbcInputFormat.java:230-295; splits spliced like
    QuerySqlBuilder). Column projection comes from the MetaColumn list;
    increColumn/startLocation pin an end location before the scan."""
    from chunjun_spark.sources.jdbc_live import read_jdbc

    p = cfg.reader.parameter
    conn = _jdbc_conn_params(p)
    cols = [mc.name for mc in cfg.reader.columns if mc.value is None] or None
    df, state = read_jdbc(
        spark,
        conn["url"],
        conn["table"],
        driver=conn["driver"],
        user=conn["user"],
        password=conn["password"],
        columns=cols,
        where=p.get("where"),
        split_column=p.get("splitPk"),
        n_channels=cfg.speed.reader_channels,
        fetch_size=int(p.get("fetchSize", 1000)),
        inc_column=p.get("increColumn"),
        inc_type=p.get("increColumnType", "bigint"),
        start_location=p.get("startLocation"),
        use_max_func=bool(p.get("useMaxFunc", True)),
    )
    cfg.reader.parameter["_state"] = state  # endLocation for lineage
    return df


def _read_jdbc_distributed(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """distributedjdbcreader: one logical reader over a LIST of shard
    databases (DistributedJdbcInputFormat.java:103-161). The reference's
    connection[].jdbcUrl[] x table[] cross product becomes the shard
    list; every shard reads concurrently with its own split predicates
    (see read_jdbc_distributed)."""
    from chunjun_spark.sources.jdbc_live import read_jdbc_distributed

    p = cfg.reader.parameter
    shards = []
    for c in p.get("connection", []):
        urls = c["jdbcUrl"] if isinstance(c["jdbcUrl"], list) else [c["jdbcUrl"]]
        tables = c["table"] if isinstance(c["table"], list) else [c["table"]]
        for url in urls:
            for table in tables:
                shards.append(
                    {
                        "url": url,
                        "table": table,
                        "driver": p.get("driver"),
                        "user": c.get("username", p.get("username")),
                        "password": c.get("password", p.get("password")),
                        "where": p.get("where"),
                    }
                )
    cols = [mc.name for mc in cfg.reader.columns if mc.value is None] or None
    df, state = read_jdbc_distributed(
        spark,
        shards,
        columns=cols,
        split_column=p.get("splitPk"),
        n_channels_per_shard=max(
            1, cfg.speed.reader_channels // max(1, len(shards))
        ),
        fetch_size=int(p.get("fetchSize", 1000)),
        inc_column=p.get("increColumn"),
        inc_type=p.get("increColumnType", "bigint"),
        start_locations=p.get("startLocations"),
        use_max_func=bool(p.get("useMaxFunc", True)),
        shard_col=None,  # job output keeps the reference's column shape
    )
    cfg.reader.parameter["_state"] = state  # per-shard endLocation lineage
    return df


def _write_jdbc(df: DataFrame, cfg: JobConfig, metrics: dict) -> None:
    """jdbcwriter: insert → distributed append; upsert/replace → staged
    bulk load + set-based driver upsert (JdbcOutputFormat.java:290-334).
    preSql/postSql run once around the write — the driver is the
    reference's all-channels latch (BaseRichOutputFormat.java:648-660).
    ``"semantic": "exactly-once"`` routes through the audited one-
    transaction apply (data + batch marker atomically; a re-run with the
    same jobId/batchId is a no-op) — the XA two-phase-commit analog."""
    from chunjun_spark.sources.jdbc_live import (
        apply_changelog_jdbc_exactly_once,
        batch_applied,
        ensure_audit_table,
        execute_sql,
        write_jdbc,
        write_jdbc_exactly_once,
    )

    p = cfg.writer.parameter
    conn = _jdbc_conn_params(p)
    common = {
        "driver": conn["driver"],
        "user": conn["user"],
        "password": conn["password"],
    }
    # writeMode=cdc (changelog apply: DELETE winners delete, the rest
    # upsert) is inherently audited — it implies exactly-once
    exactly_once = (
        p.get("semantic") == "exactly-once" or p.get("writeMode") == "cdc"
    )
    if exactly_once:
        # the exactly-once guarantee covers the side-effect SQL too: a
        # replayed batch must not re-run a non-idempotent preSql/postSql
        # (DELETE/TRUNCATE would mutate the target on every replay), so
        # check the audit marker BEFORE any statement executes
        spark = df.sparkSession
        ensure_audit_table(spark, conn["url"], **common)
        if batch_applied(
            spark, conn["url"],
            str(p.get("jobId", "job")), str(p.get("batchId", "0")),
            **common,
        ):
            metrics["jdbcBatchSkipped"] = True
            metrics["_noAction"] = True
            return
    if p.get("preSql"):
        execute_sql(df.sparkSession, conn["url"], list(p["preSql"]), **common)
    if exactly_once:
        if p.get("writeMode") == "cdc":
            # admit like the streaming relay: poison raises, DDL rows
            # are forwarded (idempotent ALTER), only data rows fold —
            # an un-admitted DDL/ERROR row would upsert a NULL pk
            from chunjun_spark.operators.merge import admit_batch_with_offsets
            from chunjun_spark.sources.jdbc_live import relay_apply_ddl

            df, ddl_rows, _, _, _ = admit_batch_with_offsets(df)
            if ddl_rows:
                relay_apply_ddl(df.sparkSession, conn["url"],
                                conn["table"], ddl_rows, **common)
            result = apply_changelog_jdbc_exactly_once(
                df,
                conn["url"],
                conn["table"],
                job_id=str(p.get("jobId", "job")),
                batch_id=str(p.get("batchId", "0")),
                pk=p.get("updateKey") or p.get("pk"),
                batch_size=int(p.get("batchSize", 1000)),
                staging_table=p.get("stagingTable"),
                _precheck_done=True,
                **common,
            )
        else:
            result = write_jdbc_exactly_once(
                df,
                conn["url"],
                conn["table"],
                job_id=str(p.get("jobId", "job")),
                batch_id=str(p.get("batchId", "0")),
                mode=p.get("writeMode", "insert"),
                pk=p.get("updateKey") or p.get("pk"),
                batch_size=int(p.get("batchSize", 1000)),
                staging_table=p.get("stagingTable"),
                **common,
            )
        metrics["jdbcBatchSkipped"] = bool(result.get("skipped"))
        if "n_changes" in result:
            # cdc apply reports rows actually touched (deletes+upserts)
            metrics["numWrite"] = result["n_changes"]
        if result.get("skipped"):
            # replayed batch: no write action ran, so the numRead
            # observation riding it will never fire — tell run_job
            metrics["_noAction"] = True
    else:
        write_jdbc(
            df,
            conn["url"],
            conn["table"],
            mode=p.get("writeMode", "insert"),
            pk=p.get("updateKey") or p.get("pk"),
            batch_size=int(p.get("batchSize", 1000)),
            staging_table=p.get("stagingTable"),
            **common,
        )
    if p.get("postSql"):
        execute_sql(df.sparkSession, conn["url"], list(p["postSql"]), **common)


def _read_lake(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """lakereader: consume a lake table as a source.

    Two modes:
    - snapshot (default): current state, or time travel via ``version``,
      a named ``tag`` (pinned training-snapshot read), or a wall-clock
      ``asOf`` instant (epoch seconds; TIMESTAMP AS OF) — pairs with
      plain-frame sinks (file/jdbc/stream).
    - incremental (``sinceVersion`` set, optional ``untilVersion``):
      ``LakeTable.read_changes`` re-emitted in the canonical changelog
      EVENT_SCHEMA shape, so the result feeds ``lakewriter`` directly —
      lake → lake incremental sync, the reference's
      reader-feeds-next-writer chaining served from committed snapshots
      instead of the source DB (interval-polling analog,
      JdbcInputFormat.java:181-227, but offset = snapshot version).
    """
    from chunjun_spark.plans.lake import DELETED_COL, VSEQ_COL, VTS_COL, _BUCKET_COL
    from chunjun_spark.sources.changelog import to_changelog

    p = cfg.reader.parameter
    table = LakeTable.load(spark, p["path"], version=p.get("version"),
                           tag=p.get("tag"), as_of=p.get("asOf"))
    if "sinceVersion" not in p:
        return table.read()
    ch = table.read_changes(
        int(p["sinceVersion"]),
        until_version=p.get("untilVersion"),
        with_internal=True,
    )
    internal = {"_change_type", VTS_COL, VSEQ_COL, DELETED_COL, _BUCKET_COL}
    payload_fields = [c for c in ch.columns if c not in internal]
    op = (
        F.when(F.col("_change_type") == "insert", F.lit("INSERT"))
        .when(F.col("_change_type") == "delete", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
    )
    return to_changelog(
        ch,
        op=op,
        op_ts=F.col(VTS_COL),
        seq=F.col(VSEQ_COL),
        payload={f: F.col(f) for f in payload_fields},
        pk=table.pk,
        schema_name="lake",
        table_name=p.get("table", "lake_table"),
    )


READERS = {
    "streamreader": _read_stream_mock,
    "lakereader": _read_lake,
    "binlogreader": _read_binlog,
    "hdfsreader": _read_file,
    "filereader": _read_file,
    "parquetreader": _read_file,
    # live JDBC family — one capability class, many reference plugin names
    "jdbcreader": _read_jdbc,
    "distributedjdbcreader": _read_jdbc_distributed,
    "mysqlreader": _read_jdbc,
    "postgresqlreader": _read_jdbc,
    "oraclereader": _read_jdbc,
    "sqlserverreader": _read_jdbc,
}

# ------------------------------------------------------------------ sinks


def _lake_layout_kwargs(p: dict) -> dict:
    """Writer-parameter pass-through for create-on-demand lake tables:
    statsCols (footer min/max pruning), clusterCols (sort-on-write),
    bucketCols (bucket-hash key), bloomCols/bloomBits/bloomK (bloom
    file-skipping index), partitionExprs (hidden derived partitioning —
    the TimePartitionFormat DAY/HOUR/MINUTE routing as
    ``[{"name": "day", "expr": "date_trunc('day', ts)", "source":
    "ts"}]`` or ``[[name, expr, source?], ...]``). Absent keys keep
    LakeTable.create defaults."""
    kw: dict = {}
    if p.get("partitionExprs"):
        kw["partition_exprs"] = [
            e if isinstance(e, dict) else tuple(e)
            for e in p["partitionExprs"]
        ]
    if p.get("statsCols"):
        kw["stats_cols"] = list(p["statsCols"])
    if p.get("clusterCols"):
        kw["cluster_cols"] = list(p["clusterCols"])
    if p.get("bucketCols"):
        kw["bucket_cols"] = list(p["bucketCols"])
    if p.get("bloomCols"):
        kw["bloom_cols"] = list(p["bloomCols"])
        kw["bloom_bits"] = int(p.get("bloomBits", 1 << 20))
        kw["bloom_k"] = int(p.get("bloomK", 5))
    return kw


def _write_lake(df: DataFrame, cfg: JobConfig, metrics: dict) -> None:
    """lakewriter: idempotent upsert MERGE into the snapshot lake table —
    the jdbc-upsert / hudiwriter capability class (EWriteMode UPDATE,
    BaseDatabaseMeta.getUpsertStatement, HudiOutputFormat.upsert)."""
    p = cfg.writer.parameter
    spark = df.sparkSession
    pk = p.get("pk") or ["repo", "path"]
    root = p["path"]
    if p.get("writeMode") == "bootstrap":
        # initial-snapshot bootstrap (operators/bootstrap.py): the reader
        # delivered a FLAT full-table snapshot (e.g. a jdbcreader full
        # read), not a changelog. vtsCol/vseqCol name carried per-row
        # last-mutation columns; snapshotVts/snapshotVseq stamp a uniform
        # consistent-read position. The switchover position for the next
        # (increment) job surfaces as metrics["bootstrapPosition"].
        from chunjun_spark.operators.bootstrap import bootstrap_from_snapshot

        vts_col, vseq_col = p.get("vtsCol"), p.get("vseqCol")
        try:
            table = LakeTable.load(spark, root)
        except FileNotFoundError:
            version_cols = {c for c in (vts_col, vseq_col) if c}
            schema = T.StructType(
                [f for f in df.schema.fields if f.name not in version_cols]
            )
            table = LakeTable.create(
                spark, root, schema, pk=pk,
                n_buckets=int(p.get("nBuckets", 16)),
                **_lake_layout_kwargs(p),
            )
        info = bootstrap_from_snapshot(
            df, table, batch_id=p.get("batchId", f"{cfg.job_id}-bootstrap"),
            vts_col=vts_col, vseq_col=vseq_col,
            snapshot_vts=p.get("snapshotVts"), snapshot_vseq=p.get("snapshotVseq"),
        )
        if info.get("skipped") and vts_col is None:
            # uniform-stamp skip ran no action over the observed frame;
            # the carried-version path always runs the position aggregate
            metrics["_noAction"] = True
        metrics["numWrite"] = info.get("n_changes", 0)
        metrics["snapshotWrite"] = info.get("version", 0)
        pos = info.get("position")
        if pos is not None:
            metrics["bootstrapPosition"] = {
                "vts": str(pos["vts"]), "vseq": pos["vseq"]
            }
        return
    try:
        table = LakeTable.load(spark, root)
    except FileNotFoundError:
        schema = _payload_struct_of(df)
        table = LakeTable.create(
            spark, root, schema, pk=pk,
            n_buckets=int(p.get("nBuckets", 16)),
            **_lake_layout_kwargs(p),
        )
    batch_id = p.get("batchId", f"{cfg.job_id}-batch")
    mode = p.get("mode", "cow")
    # EWriteMode analog: "replace" (default) or "patch" (UPDATE write
    # mode — null columns in update images mean "unchanged")
    update_mode = p.get("updateMode", "replace")
    if p.get("audits"):
        # write-audit-publish: stage the window, run the declarative
        # checks against the staged snapshot, publish only on pass
        # (operators/wap.py; ErrorLimiter.java:62-97 lifted to snapshot
        # granularity). A failed audit abandons the stage and raises —
        # the job fails loudly, the table is untouched.
        from chunjun_spark.operators.wap import replay_wap

        rep = replay_wap(df, table, batch_id, p["audits"],
                         mode=mode, update_mode=update_mode)
        metrics["wapOutcome"] = rep["outcome"]
        if not rep.get("ran_action"):
            # skipped (batch already committed) or resumed from an
            # existing stage: no action ever evaluated the observed
            # input frame — run_job must not await the Observation
            metrics["_noAction"] = True
        if rep["outcome"] == "abandoned":
            raise RuntimeError(
                f"WAP audit failed; staged snapshot abandoned: "
                f"{rep['violations']}"
            )
        metrics["numWrite"] = rep.get("n_changes", 0)
        metrics["snapshotWrite"] = rep.get("version", 0)
        return
    info = replay(df, table, batch_id=batch_id, mode=mode,
                  update_mode=update_mode)
    if info.get("skipped"):
        # replayed exactly-once batch: the merge wrote nothing and (for
        # frames without a ddl column) ran no action over the observed
        # input — same contract as the JDBC writer's skip path
        metrics["_noAction"] = True
    metrics["numWrite"] = info.get("n_changes", 0)
    metrics["snapshotWrite"] = info.get("version", 0)


def _payload_struct_of(df: DataFrame) -> T.StructType:
    after = df.schema["after"].dataType
    assert isinstance(after, T.StructType)
    return after


def _write_file(df: DataFrame, cfg: JobConfig, metrics: dict) -> None:
    p = cfg.writer.parameter
    ftype = p.get("fileType", "parquet").lower()
    mode = "overwrite" if p.get("writeMode", "append") == "overwrite" else "append"
    w = df.write.mode(mode)
    if ftype == "csv":
        w.option("header", "true").csv(p["path"])
    elif ftype == "json":
        w.json(p["path"])
    elif ftype == "orc":
        w.orc(p["path"])
    else:
        w.parquet(p["path"])
    # numWrite defaults to the observed numRead in run_job (pass-through sink)


def _write_stream_mock(df: DataFrame, cfg: JobConfig, metrics: dict) -> None:
    """streamwriter: noop sink used for speed tests / assertions
    (StreamOutputFormat.java:44-95; Main.java:214-227 speed harness)."""
    df.write.format("noop").mode("overwrite").save()
    # numWrite defaults to the observed numRead in run_job (pass-through sink)


WRITERS = {
    "lakewriter": _write_lake,
    "hdfswriter": _write_file,
    "filewriter": _write_file,
    "parquetwriter": _write_file,
    "streamwriter": _write_stream_mock,
    "jdbcwriter": _write_jdbc,
    "mysqlwriter": _write_jdbc,
    "postgresqlwriter": _write_jdbc,
    "oraclewriter": _write_jdbc,
    "sqlserverwriter": _write_jdbc,
}


# -------------------------------------------------------------- transforms
# content[0].transformer — the DataX-heritage transform slot of the
# reference job JSON, mapped onto the engine's curation/text operators.
# Every transform is a declarative DataFrame op: the whole
# reader → transforms → writer chain stays one Catalyst plan (filters
# still push to the scan, map-only transforms fuse into codegen).


def _tf_filter(df: DataFrame, p: dict) -> DataFrame:
    """SQL WHERE predicate (dx_filter analog)."""
    return df.filter(p["where"])


def _tf_sql(df: DataFrame, p: dict) -> DataFrame:
    """Arbitrary projection via selectExpr list (dx_groovy's honest
    declarative replacement — no row-at-a-time scripting)."""
    return df.selectExpr(*p["exprs"])


def _tf_quality_filter(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.text import quality_score

    col = p.get("textColumn", "text")
    return df.filter(quality_score(F.col(col)) >= float(p.get("minScore", 0.5)))


def _tf_lang_filter(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.text import lang_id

    col = p.get("textColumn", "text")
    return df.filter(lang_id(F.col(col)).isin(list(p["langs"])))


def _tf_repetition_filter(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.text import dup_line_frac

    col = p.get("textColumn", "text")
    return df.filter(dup_line_frac(F.col(col)) <= float(p.get("maxDupLineFrac", 0.3)))


def _tf_strip_markup(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.text import strip_markup

    col = p.get("textColumn", "text")
    return df.withColumn(col, strip_markup(F.col(col)))


def _tf_redact(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.text import redact_secrets

    col = p.get("textColumn", "text")
    return df.withColumn(col, redact_secrets(F.col(col)))


def _tf_dedup_exact(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.dedup_docs import exact_dedup

    return exact_dedup(
        df, text_col=p.get("textColumn", "text"), id_col=p.get("idColumn", "doc_id")
    )


def _tf_dedup_minhash(df: DataFrame, p: dict) -> DataFrame:
    from chunjun_spark.functions.dedup_docs import minhash_dedup

    return minhash_dedup(
        df,
        text_col=p.get("textColumn", "text"),
        id_col=p.get("idColumn", "doc_id"),
        bands=int(p.get("bands", 16)),
        transitive=bool(p.get("transitive", False)),
    )


def _tf_code_curate(df: DataFrame, p: dict) -> DataFrame:
    """Code-corpus keep-for-training gate over the north-star row shape
    (functions/code.py): permissive license + human-written +
    first-party + sane line shape + identified language. Optionally
    annotates instead of filtering (``annotateOnly``) so downstream
    sinks can route kept/dropped separately. Map-only codegen — safe in
    the streaming hot path."""
    from chunjun_spark.functions import code as code_fns

    path = F.col(p.get("pathColumn", "path"))
    content = F.col(p.get("contentColumn", "content"))
    keep = code_fns.keep_for_training(path, content)
    if bool(p.get("annotateOnly", False)):
        return df.withColumn(p.get("keepColumn", "keep"), keep)
    return df.filter(keep)


def _tf_doc_pairs(df: DataFrame, p: dict) -> DataFrame:
    """Code→text training-pair extraction (functions/code.py doc_pairs):
    each input file row becomes 0..N (repo, path, fn_name, params, doc)
    rows. Map-only regex sweep + explode — a reader→doc_pairs→writer
    job JSON is the one-scan pair-mining pass."""
    from chunjun_spark.functions import code as code_fns

    return code_fns.doc_pairs(
        df,
        path_col=p.get("pathColumn", "path"),
        content_col=p.get("contentColumn", "content"),
    )


def _tf_import_graph(df: DataFrame, p: dict) -> DataFrame:
    """Cross-repo dependency edges (functions/code.py import_graph);
    with ``pagerank`` set, follow with integer-exact weighted PageRank
    (functions/graph.py) and emit (repo, rank) instead."""
    from chunjun_spark.functions import code as code_fns

    edges = code_fns.import_graph(
        df,
        path_col=p.get("pathColumn", "path"),
        content_col=p.get("contentColumn", "content"),
    )
    if not p.get("pagerank"):
        return edges
    from chunjun_spark.functions.graph import weighted_pagerank_micro

    r = weighted_pagerank_micro(
        edges, src="src_repo", dst="dst_repo", weight="n_links",
        iters=int(p.get("iters", 3)),
    )
    return r.select(F.col("node").alias("repo"), "rank")


def _tf_lookup(df: DataFrame, p: dict) -> DataFrame:
    """Dimension lookup enrichment (successor-family side/lookup table,
    cache=ALL shape): broadcast-join a small dim read from parquet
    (``path``) or a live JDBC table (``url`` + ``table``)."""
    from chunjun_spark.operators.lookup import lookup_enrich

    spark = df.sparkSession
    if p.get("path"):
        dim = spark.read.parquet(p["path"])
    elif p.get("url") and p.get("table"):
        reader = (
            spark.read.format("jdbc")
            .option("url", p["url"]).option("dbtable", p["table"])
        )
        if p.get("driver"):
            reader = reader.option("driver", p["driver"])
        for k in ("user", "password"):
            if p.get(k):
                reader = reader.option(k, p[k])
        dim = reader.load()
        if p.get("lowercaseColumns", True):
            # Derby/Oracle fold unquoted identifiers to UPPER; fact-side
            # configs are written lowercase
            dim = dim.select(*[F.col(c).alias(c.lower()) for c in dim.columns])
    else:
        raise ValueError("lookup transform needs 'path' or 'url'+'table'")
    return lookup_enrich(
        df, dim, on=p["on"], cols=p.get("cols"), how=p.get("how", "left"),
        broadcast=bool(p.get("broadcast", True)),
    )


TRANSFORMS = {
    "filter": _tf_filter,
    "lookup": _tf_lookup,
    "sql": _tf_sql,
    "quality_filter": _tf_quality_filter,
    "lang_filter": _tf_lang_filter,
    "repetition_filter": _tf_repetition_filter,
    "strip_markup": _tf_strip_markup,
    "redact": _tf_redact,
    "dedup_exact": _tf_dedup_exact,
    "dedup_minhash": _tf_dedup_minhash,
    "code_curate": _tf_code_curate,
    "doc_pairs": _tf_doc_pairs,
    "import_graph": _tf_import_graph,
}


def apply_transforms(df: DataFrame, cfg: JobConfig) -> DataFrame:
    for t in cfg.transforms:
        fn = TRANSFORMS.get(t.name)
        if fn is None:
            raise ValueError(f"unknown transform plugin {t.name!r}")
        df = fn(df, t.parameter)
    return df


# ------------------------------------------------------------------ runner


_JDBC_WRITER_NAMES = (
    "jdbcwriter", "mysqlwriter", "postgresqlwriter", "oraclewriter",
    "sqlserverwriter",
)


def _run_fanout_stream(spark: SparkSession, cfg: JobConfig, t0: float) -> dict:
    """Streaming fan-out: content[0].writer given as a LIST, or a single
    jdbcwriter (the binlog → database relay, a one-sink fan-out). One
    binlog read + one keep_last fold land in every sink, each
    exactly-once (start_fanout_stream). Lake sinks take the lakewriter
    parameter shape; jdbcwriter-family sinks take the relay shape
    (writeMode=cdc implied — fan-out IS the changelog apply), and their
    preSql runs once per JOB and their postSql after the stream
    drains."""
    import hashlib as _hashlib

    from chunjun_spark.sources.jdbc_live import (
        any_batch_applied,
        ensure_audit_table,
        execute_sql,
    )
    from chunjun_spark.streaming.pipeline import (
        read_binlog_stream,
        start_fanout_stream,
    )

    if cfg.restore.from_lineage:
        raise ValueError(
            "restoreFromLineage needs a single lake sink (a JDBC or topic "
            "target keeps batch markers, not per-partition offsets)"
        )
    p = cfg.reader.parameter
    sinks = []
    jdbc_sinks = []  # (url, credentials, writer parameter) per jdbc sink
    for w in cfg.writers:
        wp = w.parameter
        if w.name in _JDBC_WRITER_NAMES:
            if wp.get("writeMode", "cdc") != "cdc":
                # keep_last folding would silently drop all but the
                # last event per key — refuse rather than reinterpret
                raise ValueError(
                    "streaming jdbcwriter supports writeMode='cdc' only "
                    f"(got {wp.get('writeMode')!r}); run other write "
                    "modes as batch jobs or sink to a lake"
                )
            conn = _jdbc_conn_params(wp)
            jdbc_sinks.append((conn["url"], {
                k: conn[k] for k in ("driver", "user", "password")
            }, wp))
            sinks.append({
                "type": "jdbc", "url": conn["url"], "table": conn["table"],
                "pk": wp.get("updateKey") or wp.get("pk"),
                "driver": conn["driver"], "user": conn["user"],
                "password": conn["password"],
                "batch_size": int(wp.get("batchSize", 1000)),
                "staging_table": wp.get("stagingTable"),
            })
        elif w.name == "kafkawriter":
            # topic relay leg (KafkaOutputFormat analog over the
            # file-backed transport): folded winners + DDL control rows
            # produce exactly-once per micro-batch
            sink = {
                "type": "kafka", "topic_dir": wp["topic"],
                "pk": wp.get("updateKey") or wp.get("pk"),
            }
            if wp.get("producerId"):
                # only when explicitly set: a present-but-None key would
                # defeat the job_id default downstream, and None as a
                # dict key JSON-round-trips to the string "null"
                sink["producer_id"] = wp["producerId"]
            sinks.append(sink)
        else:
            sink = {
                "type": "lake", "root": wp["path"],
                "mode": wp.get("mode", "cow"),
                "update_mode": wp.get("updateMode", "replace"),
            }
            if wp.get("name"):
                sink["name"] = wp["name"]
            sinks.append(sink)
    # any lake writer may carry catalogRoot: cross-sink atomic commit of
    # every lake leg per micro-batch (plans/catalog.py)
    catalog_root = next(
        (w.parameter["catalogRoot"] for w in cfg.writers
         if w.parameter.get("catalogRoot")), None,
    )
    events = read_binlog_stream(spark, p["path"])
    if p.get("cat") or p.get("table") or p.get("filter"):
        from chunjun_spark.sources.binlog import filter_events

        events = filter_events(
            events, cat=p.get("cat"), table=p.get("table"),
            table_filter=p.get("filter"),
        )
    sink_id = _hashlib.md5(
        "|".join(
            s.get("root") or s.get("topic_dir")
            or f"{s['url']}/{s['table']}" for s in sinks
        ).encode()
    ).hexdigest()[:10]
    # a single-jdbcwriter relay keeps its own default checkpoint name,
    # so a deployed relay resumes from its existing source log
    kind = "relay" if len(sinks) == 1 and jdbc_sinks else "fanout"
    for url, common, wp in jdbc_sinks:
        if not wp.get("preSql"):
            continue
        # run-once-per-JOB, not per-attempt: a crash-restart resumes
        # committed progress, and re-running a non-idempotent preSql
        # (TRUNCATE/DELETE) would destroy the rows already applied. The
        # sink's audit table is the restart detector — any batch marker
        # for this job_id means the first attempt got past preSql
        # (markers commit atomically with each batch's rows).
        ensure_audit_table(spark, url, **common)
        if not any_batch_applied(spark, url, cfg.job_id, **common):
            execute_sql(spark, url, list(wp["preSql"]), **common)
    metrics: dict = {}
    q = start_fanout_stream(
        events, sinks,
        checkpoint_dir=cfg.restore.checkpoint_dir
        or f"{p['path'].rstrip('/')}_{kind}_ckpt_{sink_id}",
        job_id=cfg.job_id,
        metrics_out=metrics,
        catalog_root=catalog_root,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("fan-out stream did not drain in time")
    for url, common, wp in jdbc_sinks:
        if wp.get("postSql"):
            execute_sql(spark, url, list(wp["postSql"]), **common)
    # relay metrics contract: numRead/numWrite count THIS run's applied
    # batches — replay-skips and lifetime lineage totals add zero
    return {
        "numRead": metrics.get("numRead", 0),
        "numBatches": metrics.get("numBatches", 0),
        "nErrors": 0,
        "duration": round(time.time() - t0, 2),
        "numWrite": sum(
            v for k, v in metrics.items() if k.startswith("numWrite_")
        ),
    }


def run_job(spark: SparkSession, config: JobConfig | dict | str) -> dict:
    """Execute one sync job; returns the reference-named metric map
    (docs/statistics.md: numRead, numWrite, nErrors, duration, ...)."""
    cfg = config if isinstance(config, JobConfig) else JobConfig.parse(config)
    t0 = time.time()

    if cfg.restore.is_stream:
        # realtime path: binlog dir → Structured Streaming foreachBatch
        p = cfg.reader.parameter
        wp = cfg.writer.parameter
        if len(cfg.writers) > 1 or cfg.writer.name in _JDBC_WRITER_NAMES:
            return _run_fanout_stream(spark, cfg, t0)
        # create the sink table on demand (the batch path's _write_lake
        # does this; the stream's apply_batch only load()s) so a fresh
        # machine can run examples/binlog_stream_to_lake.json directly,
        # honoring the writer's pk/nBuckets
        try:
            LakeTable.load(spark, wp["path"])
        except FileNotFoundError:
            from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA

            LakeTable.create(
                spark,
                wp["path"],
                PAYLOAD_SCHEMA,
                pk=wp.get("pk") or ["repo", "path"],
                n_buckets=int(wp.get("nBuckets", 16)),
                **_lake_layout_kwargs(wp),
            )
        # writer.parameter.aggViews: maintained views that follow the
        # sink (operators/ivm.py) — [{"path", "groupCols", "valueCol"}];
        # created on demand with group types from the sink payload schema
        agg_views = None
        if wp.get("aggViews"):
            from chunjun_spark.operators.ivm import create_agg_view
            from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA

            types = {f.name: f.dataType.simpleString()
                     for f in PAYLOAD_SCHEMA.fields}
            agg_views = []
            for v in wp["aggViews"]:
                try:
                    LakeTable.load(spark, v["path"])
                except FileNotFoundError:
                    create_agg_view(
                        spark, v["path"],
                        [(c, types[c]) for c in v["groupCols"]],
                        n_buckets=int(v.get("nBuckets", 8)),
                    )
                agg_views.append({
                    "root": v["path"],
                    "group_cols": list(v["groupCols"]),
                    "value_col": v["valueCol"],
                })
        # writer.parameter.filterViews: maintained filter/projection
        # views (curated-corpus pattern) that follow the sink —
        # [{"path", "predicate", "columns"?}]; created on demand with
        # the projected subset of the sink payload schema
        if wp.get("filterViews"):
            from chunjun_spark.operators.ivm import create_filter_view
            from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA

            types = {f.name: f.dataType.simpleString()
                     for f in PAYLOAD_SCHEMA.fields}
            agg_views = agg_views or []
            pk = wp.get("pk") or ["repo", "path"]
            for v in wp["filterViews"]:
                cols = list(v.get("columns") or types)
                try:
                    LakeTable.load(spark, v["path"])
                except FileNotFoundError:
                    create_filter_view(
                        spark, v["path"], [(c, types[c]) for c in cols],
                        pk=pk, n_buckets=int(v.get("nBuckets", 8)),
                    )
                agg_views.append({
                    "root": v["path"], "kind": "filter",
                    "predicate": v["predicate"],
                    "select_exprs": [(c, c) for c in cols],
                })
        # writer.parameter.explodedViews: maintained flatMap views that
        # follow the sink — [{"path", "explodeExpr", "selectExprs":
        # [[name, sql], ...], "fields": [[name, type_ddl], ...]}];
        # created on demand (pk = sink pk + the child-key columns, i.e.
        # every selectExprs name past the sink pk)
        if wp.get("explodedViews"):
            from chunjun_spark.operators.ivm import create_exploded_view

            agg_views = agg_views or []
            pk = wp.get("pk") or ["repo", "path"]
            for v in wp["explodedViews"]:
                sel = [(n, sql) for n, sql in v["selectExprs"]]
                vpk = pk + [n for n, _ in sel if n not in pk]
                try:
                    LakeTable.load(spark, v["path"])
                except FileNotFoundError:
                    create_exploded_view(
                        spark, v["path"],
                        [(n, t) for n, t in v["fields"]],
                        pk=vpk, n_buckets=int(v.get("nBuckets", 8)),
                    )
                agg_views.append({
                    "root": v["path"], "kind": "exploded",
                    "explode_expr": v["explodeExpr"],
                    "select_exprs": sel,
                })
        # writer.parameter.scd2Tables: persistent SCD2 history tables
        # that follow the sink — [{"path", "nBuckets"?}]; created on
        # demand from the sink payload schema + pk
        scd2_tables = None
        if wp.get("scd2Tables"):
            from chunjun_spark.operators.temporal import create_scd2_table
            from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA

            fields = [(f.name, f.dataType.simpleString())
                      for f in PAYLOAD_SCHEMA.fields]
            pk = wp.get("pk") or ["repo", "path"]
            scd2_tables = []
            for s in wp["scd2Tables"]:
                try:
                    LakeTable.load(spark, s["path"])
                except FileNotFoundError:
                    create_scd2_table(
                        spark, s["path"], fields, pk=pk,
                        n_buckets=int(s.get("nBuckets", 8)),
                    )
                scd2_tables.append({"root": s["path"]})
        # writer.parameter.curationIndexes: persistent curation indexes
        # that follow the sink — [{"kind": "minhash", "path",
        # "idExpr"?, "textExpr"?}]. minhash indexes are created on
        # demand; an "ivf" index must be pre-created (its centroid model
        # needs trained data — functions/incremental.create_ivf_index)
        curation_indexes = None
        if wp.get("curationIndexes"):
            from chunjun_spark.functions.incremental import (
                create_minhash_index,
            )

            curation_indexes = []
            for ix in wp["curationIndexes"]:
                kind = ix.get("kind", "minhash")
                try:
                    LakeTable.load(spark, ix["path"])
                except FileNotFoundError:
                    if kind != "minhash":
                        raise ValueError(
                            "ivf curation indexes must be pre-created "
                            "(the centroid model needs trained data): "
                            f"no index at {ix['path']}"
                        )
                    create_minhash_index(
                        spark, ix["path"],
                        n_buckets=int(ix.get("nBuckets", 16)),
                    )
                entry_ = {"kind": kind, "root": ix["path"]}
                if ix.get("idExpr"):
                    entry_["id_expr"] = ix["idExpr"]
                if ix.get("textExpr"):
                    entry_["text_expr"] = ix["textExpr"]
                if ix.get("vecExpr"):
                    entry_["vec_expr"] = ix["vecExpr"]
                curation_indexes.append(entry_)
        mirrors = None
        if wp.get("mirrors"):
            # writer.parameter.mirrors: replica roots that follow the
            # sink continuously (operators/mirror.py); created on first
            # use with the sink table's schema/pk/bucket spec
            from chunjun_spark.operators.mirror import create_mirror

            mirrors = [str(m) for m in wp["mirrors"]]
            for mroot in mirrors:
                try:
                    LakeTable.load(spark, mroot)
                except FileNotFoundError:
                    create_mirror(spark, mroot,
                                  LakeTable.load(spark, wp["path"]))
        subscription = None
        if p.get("cat") or p.get("table") or p.get("filter"):
            subscription = {"cat": p.get("cat"), "table": p.get("table"),
                            "table_filter": p.get("filter")}
        stream_dirty = None
        if cfg.dirty.path or cfg.error_limit.record is not None or \
                cfg.error_limit.percentage is not None:
            # setting.dirty + setting.errorLimit on the STREAM path:
            # DLQ capture requires a path; limits without one still
            # fail the query on malformed rows (capture dir derived)
            stream_dirty = {
                "path": cfg.dirty.path or wp["path"] + "_dirty",
                "max_errors": cfg.error_limit.record,
                "max_ratio": cfg.error_limit.percentage,
            }
        run_stream_to_completion(
            spark,
            binlog_dir=p["path"],
            table_root=wp["path"],
            subscription=subscription,
            checkpoint_dir=cfg.restore.checkpoint_dir or wp["path"] + "_ckpt",
            job_id=cfg.job_id,
            mode=wp.get("mode", "cow"),
            # setting.speed.bytes → feedback byte-rate throttle
            # (ByteRateLimiter.java analog; -1 = unlimited)
            byte_rate_limit=cfg.speed.bytes,
            agg_views=agg_views,
            # setting.restore.restoreFromLineage: restore mode — row-level
            # seek past the sink's recorded offsets (fresh checkpoint +
            # job name required; the pipeline enforces both)
            restore_from_lineage=cfg.restore.from_lineage,
            # writer.parameter.audits gates every micro-batch through
            # write-audit-publish on the stream path too
            audits=wp.get("audits"),
            mirrors=mirrors,
            dirty=stream_dirty,
            scd2_tables=scd2_tables,
            curation_indexes=curation_indexes,
            # writer.parameter.wireFormat: 'nested' (default) | 'json' |
            # 'redo_sql' (LogMiner statement-text wire, sources/redo_sql)
            wire_format=wp.get("wireFormat", "nested"),
        )
        table = LakeTable.load(spark, wp["path"])
        totals = table.lineage_totals()  # exact even past lineage eviction
        return {
            "numRead": totals["numRead"],
            "numWrite": totals["numWrite"],
            "nErrors": 0,
            "duration": round(time.time() - t0, 2),
        }

    reader = READERS.get(cfg.reader.name)
    if reader is None:
        raise ValueError(f"unknown reader plugin {cfg.reader.name!r}")
    writer = WRITERS.get(cfg.writer.name)
    if writer is None:
        raise ValueError(f"unknown writer plugin {cfg.writer.name!r}")

    df = reader(spark, cfg)
    if cfg.speed.rebalance:
        # Main.java:132-134 optional rebalance
        df = df.repartition(cfg.speed.writer_channels)
    elif cfg.speed.writer_channel > 0:
        # writerChannel: sink parallelism decoupled from the source's
        # (SpeedConfig.java per-side parallelism; Flink rebalances
        # between operators of different widths)
        df = df.repartition(cfg.speed.writer_channels)
    df = apply_transforms(df, cfg)

    metrics: dict = {}
    n_dirty = 0
    # jdbc writers spell the key "updateKey" (review r4: the dirty rule
    # previously ignored it and fell back to the first column)
    pk = (cfg.writer.parameter.get("pk")
          or cfg.writer.parameter.get("updateKey"))
    if cfg.dirty.path or cfg.error_limit.record is not None or (
        cfg.error_limit.percentage is not None
    ):
        # shape-aware: changelog frames carry the key nested in
        # before/after; the flat rule raised UNRESOLVED_COLUMN there
        rules = [null_pk_rule_for(df, pk or df.columns[:1])]
        df, dirty = split_dirty(df, rules)
        if cfg.dirty.path:
            # count THIS run's dirty rows via an observation on the append
            # action — never by re-reading the (cumulative, shared) dirty
            # directory, which would inherit prior jobs' error counts
            obs_dirty = Observation()
            dirty = dirty.observe(obs_dirty, F.count(F.lit(1)).alias("n"))
            dirty.write.mode("append").parquet(cfg.dirty.path)
            n_dirty = int(obs_dirty.get["n"])
        else:
            n_dirty = dirty.count()
        # absolute record limit is checkable before the main write — kill
        # early like the reference's mid-run ErrorLimiter
        check_error_limit(n_dirty, 0, max_errors=cfg.error_limit.record)

    # numRead rides the writer's action as an observed metric — the source
    # is scanned exactly once (a prior df.count() here doubled job cost)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("numRead"))
    writer(df, cfg, metrics)
    # a writer that skipped (replayed exactly-once batch) ran NO action,
    # so the observation would block forever — the skip read nothing
    num_read = 0 if metrics.pop("_noAction", False) else int(obs.get["numRead"])
    metrics["numRead"] = num_read
    metrics.setdefault("numWrite", num_read)
    check_error_limit(
        n_dirty,
        num_read + n_dirty,
        max_errors=cfg.error_limit.record,
        max_ratio=cfg.error_limit.percentage,
    )
    state = cfg.reader.parameter.get("_state") or {}
    if "endLocation" in state:
        # incremental offset for the next run (restore/startLocation)
        metrics["endLocation"] = state["endLocation"]
    if "shards" in state:
        # distributedjdbcreader: per-shard endLocations — the next run's
        # reader.parameter.startLocations (per-shard FormatState lineage)
        metrics["endLocations"] = {
            sid: st["endLocation"]
            for sid, st in state["shards"].items()
            if "endLocation" in st
        }
    metrics.update(
        {
            "nErrors": n_dirty,
            "duration": round(time.time() - t0, 2),
        }
    )
    return metrics
