"""Structured Streaming CDC pipeline: binlog file stream → foreachBatch merge.

Reference analog: the realtime path of ChunJun — DtInputFormatSourceFunction
drives the CDC reader and snapshots FormatState into Flink checkpoints
(flinkx-core/.../DtInputFormatSourceFunction.java:116-174,252-283); the sink
commits transactions / renames temp files at checkpoint alignment
(JdbcOutputFormat.java:336-390, BaseFileOutputFormat.java:236-274).

Spark translation:
- source offsets: the Structured Streaming checkpoint (``offsets/`` dir)
  replaces Flink's source-side FormatState;
- sink exactly-once: ``foreachBatch`` re-delivers a failed micro-batch with
  the SAME ``batch_id``; ``LakeTable`` lineage records committed batch ids,
  so the idempotent MERGE skips replays — the effective state is
  exactly-once even though delivery is at-least-once;
- ``maxFilesPerTrigger`` is the rate-limit knob (reference ByteRateLimiter,
  flinkx-core/.../reader/ByteRateLimiter.java:56-101 — byte-rate becomes
  files-per-trigger since segment files are size-bounded).

The per-micro-batch work is: dedup WITHIN the batch (keep-last per key) →
MERGE. Cross-batch ordering holds because the binlog segments are fed in
seq order (per-partition monotonic offsets), mirroring the reference's
totally-ordered Snowflake ts within one source.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from chunjun_spark.operators.dedup import keep_last
# InBandFailure is re-exported: stream callers catch it from here
from chunjun_spark.operators.merge import (  # noqa: F401
    POISON_OPS,
    InBandFailure,
    admit_batch_with_offsets,
    commit_window,
    events_with_pk,
    null_pk_pred,
)
from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.sources.binlog import EVENT_SCHEMA


def read_binlog_stream(
    spark: SparkSession,
    binlog_dir: str,
    max_files_per_trigger: int = 4,
    start_ts=None,
    start_seq: int | None = None,
) -> DataFrame:
    """File-stream source over binlog segment files (the sandbox stand-in
    for ``readStream.format('kafka')`` fed by canal/Debezium).

    ``start_ts`` (inclusive) / ``start_seq`` (exclusive) are the
    reference binlogreader's start position — ``"start": {"timestamp":
    ...}`` / journal position (docs/realTime/reader/binlogreader.md;
    BinlogInputFormat entry options). Codegen filters pushed to the
    scan; events before the position never enter the pipeline."""
    out = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_dir)
    )
    if start_ts is not None:
        out = out.filter(F.col("op_ts") >= F.lit(start_ts).cast("timestamp"))
    if start_seq is not None:
        out = out.filter(F.col("seq") > int(start_seq))
    return out


def read_binlog_stream_json(
    spark: SparkSession,
    binlog_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-stream source over JSON-envelope binlog segments
    (``json_event_schema``): the source schema is payload-independent, so
    the payload can evolve mid-stream (pair with
    ``start_replay_stream(wire_format='json')``)."""
    from chunjun_spark.sources.changelog import json_event_schema

    return (
        spark.readStream.schema(json_event_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_dir)
    )


class ByteRateLimiter:
    """Feedback byte-rate throttle — the reference's ByteRateLimiter
    (flinkx-core/.../reader/ByteRateLimiter.java:56-101): a Guava
    RateLimiter whose permit size is re-estimated each second from
    observed bytes/row. Spark translation: micro-batches are the natural
    feedback quantum, so this is a wall-clock token bucket applied in
    ``foreachBatch`` — after each batch, sleep until cumulative bytes ÷
    elapsed ≤ ``bytes_per_sec``. Bytes/row is measured from the data
    (``estimate_row_bytes``), not configured, which is the feedback part:
    wider rows automatically slow the file-trigger cadence.

    Driver-side sleep is the correct throttle point in Spark: the next
    micro-batch cannot be scheduled while ``foreachBatch`` blocks, so the
    source admission rate (files/trigger × trigger cadence) follows the
    budget without touching executors.
    """

    def __init__(self, bytes_per_sec: int):
        import time as _time

        self.bytes_per_sec = bytes_per_sec
        self.total_bytes = 0
        self.t0 = _time.monotonic()
        self.bytes_per_row: float | None = None
        self.sleeps = 0.0

    def observe_rows(self, n_rows: int, batch_df: DataFrame | None = None) -> None:
        """Account one micro-batch and block until the cumulative byte
        rate is back under budget. Row width is sampled from the first
        batch (bounded 256-row sample), then reused."""
        if self.bytes_per_row is None and batch_df is not None:
            est = estimate_row_bytes(batch_df)
            # an empty / control-only first batch samples 0.0 — caching
            # that would disable the throttle for the query's lifetime
            # (review r4); keep sampling until a data batch arrives
            if est > 0.0:
                self.bytes_per_row = est
        self.throttle(int(n_rows * (self.bytes_per_row or 0.0)))

    def throttle(self, n_bytes: int) -> None:
        import time as _time

        if self.bytes_per_sec <= 0:
            return
        self.total_bytes += n_bytes
        elapsed = _time.monotonic() - self.t0
        need = self.total_bytes / self.bytes_per_sec
        if need > elapsed:
            self.sleeps += need - elapsed
            _time.sleep(need - elapsed)


def estimate_row_bytes(df: DataFrame, sample_rows: int = 256) -> float:
    """Mean serialized row width from a bounded sample — the analog of the
    reference sampling ``getSize(row)`` on the first 100 rows
    (ByteRateLimiter.java samples via BigDecimal bytes/record)."""
    rows = (
        df.select(F.length(F.to_json(F.struct(*df.columns))).alias("_b"))
        .limit(sample_rows)
        .agg(F.avg("_b").alias("avg"))
        .collect()
    )
    return float(rows[0]["avg"] or 0.0)


def start_replay_stream(
    events: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    job_id: str = "cdc-replay",
    mode: str = "cow",
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    compact_every: int | None = None,
    compact_hot_min: int | None = None,
    rate_limiter: ByteRateLimiter | None = None,
    update_mode: str = "replace",
    wire_format: str = "nested",
    agg_views: list[dict] | None = None,
    restore_from_lineage: bool = False,
    audits: list[dict] | None = None,
    mirrors: list[str] | None = None,
    dirty: dict | None = None,
    scd2_tables: list[dict] | None = None,
    curation_indexes: list[dict] | None = None,
) -> StreamingQuery:
    """Start the micro-batch apply loop.

    ``curation_indexes``: persistent curation indexes
    (functions/incremental.py) that follow the sink continuously —
    ``[{"kind": "minhash"|"ivf", "root": dir, "id_expr": sql,
    "text_expr"/"vec_expr": sql}]``. After each micro-batch commit the
    index syncs its own CDF window (since_version=None resumes from the
    INDEX's lineage), so continuous ingest keeps the dedup/ANN index
    fresh without re-hashing the corpus; like ``agg_views``, the sync
    also runs on the replayed-batch skip path. ``id_expr`` defaults to
    ``xxhash64(<pk cols>)`` — the composite-pk-to-long bridge.

    ``scd2_tables``: persistent SCD2 history tables
    (operators/temporal.py create_scd2_table) that follow the stream —
    ``[{"root": dir}]``. Each micro-batch folds its FULL event window
    (all versions, pre-dedup) via sync_scd2_history under batch id
    ``scd2:{bid}``; the sync's own lineage guard makes the
    replayed-batch skip path a catch-up, so a crash between the lake
    commit and the history fold never loses or doubles a version.

    ``dirty``: streaming dead-letter queue + error limiter —
    ``{"path": dir, "max_errors": N, "max_ratio": f}`` (limits optional
    = unlimited capture). A data row whose effective key has a NULL
    component (DirtyDataManager's ERR_NULL_POINTER class — the realistic
    CDC malformation) is diverted to a side parquet table in the
    DirtyDataManager line shape instead of folding a NULL-pk winner into
    the lake (which would upsert junk under a NULL key). Detection rides
    the fused admission aggregate (no extra source evaluation); the
    diverted rows are only re-scanned on the non-zero path. Cumulative
    count/ratio over the QUERY's lifetime crossing a limit fails the
    query (ErrorLimiter.java:62-97 semantics).

    ``mirrors``: replica table roots (operators/mirror.py) that follow
    the sink continuously — after each micro-batch commit every replica
    syncs its own CDF window (O(changes), exactly-once, resumes from
    the REPLICA's lineage). Like ``agg_views``, the sync also runs on
    the replayed-batch skip path, so a crash between the table commit
    and a replica sync just catches up on the next batch.

    ``audits``: declarative checks (operators/wap.py shapes) gating
    EVERY micro-batch through write-audit-publish — the batch stages
    invisibly, the audits run against the staged snapshot, and only a
    passing batch publishes; a failing one is abandoned and fails the
    query (the reference's error-cap job failure, ErrorLimiter.java:
    62-97, at snapshot granularity). Crash between stage and publish →
    the re-delivered batch resumes at the audit step.

    ``restore_from_lineage``: restore mode (FormatState.java:31-47
    restore seek). The source is filtered row-level against the TABLE's
    recorded per-partition high-water offsets
    (``LakeTable.resume_offsets``) captured at query start, so a stream
    pointed at the FULL source re-applies exactly the suffix the table
    has not absorbed — the recovery path after ``LakeTable.rollback``,
    a lost Spark checkpoint, or a source that re-delivers overlapping
    windows. A restore run renumbers micro-batches, so it MUST use a
    fresh checkpoint dir and a job_id with no committed batches in the
    table's lineage (both enforced); the batch-id guard then protects
    the restore run's own restarts as usual.

    ``wire_format='json'``: ``before``/``after`` arrive as JSON strings
    (``json_event_schema`` — the Debezium-envelope wire form) and each
    micro-batch decodes them against the lake table's CURRENT schema,
    AFTER this batch's DDL events are applied — so a column added
    mid-stream flows through without restarting the query or
    pre-declaring a widest schema.

    ``wire_format='redo_sql'``: each row arrives as Oracle-LogMiner
    redo SQL text plus envelope (sources/redo_sql.py — the
    flinkx-oraclelogminer LogParser.java wire form); a codegen regex
    parser rebuilds op/before/after at micro-batch entry, before
    admission.

    ``update_mode='patch'`` (cow only) streams the reference's UPDATE
    write mode: sparse change images coalesce against the stored row
    per column instead of replacing it (LakeTable.merge patch path);
    keep_last is skipped so earlier events in a micro-batch still
    contribute the columns only they set.

    ``trigger_available_now`` drains the current backlog then stops —
    the batch-replay-with-checkpoints mode used by the resume tests.
    ``compact_every``: in MOR mode, fold deltas back into the base once
    the delta count reaches this bound — keeps read amplification O(1)
    under continuous ingest (the reference's file-sink block rollover
    analog, BaseFileOutputFormat fileIndex). Compaction is a pure
    rewrite, so a crash between compact and checkpoint replays safely.
    ``compact_hot_min``: with ``compact_every``, switch to the
    hot-bucket policy — fold only buckets appearing in at least this
    many outstanding deltas (``LakeTable.hot_buckets`` →
    ``compact(buckets=...)``, O(hot data) per fold), with a full fold
    at 4× ``compact_every`` as the cold-sweep bound.

    ``agg_views``: pre-created maintained views (operators/ivm.py) that
    follow the sink continuously — ``[{"root": view_root, "group_cols":
    [...], "value_col": "..."}]``. After each micro-batch commit, each
    view syncs its own CDF window (O(changes) + O(touched groups));
    syncs are idempotent and resume from the VIEW's lineage, so they
    also run on the replayed-batch skip path — a crash between the
    table commit and the view sync just catches up on the next batch.
    """
    if update_mode == "patch" and mode != "cow":
        raise ValueError("update_mode='patch' requires mode='cow'")
    if wire_format not in ("nested", "json", "redo_sql"):
        raise ValueError(f"unknown wire_format {wire_format!r}")
    spark = events.sparkSession
    if restore_from_lineage:
        from chunjun_spark.operators.merge import restore_filter

        if os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
            raise ValueError(
                "restore_from_lineage requires a FRESH checkpoint dir: a "
                "used checkpoint would skip already-numbered micro-batches "
                "entirely and the rolled-back window would never re-arrive"
            )
        t0 = LakeTable.load(spark, table_root)
        prefix = f"{job_id}:"
        if any(b.startswith(prefix) for b in t0.committed_batches()):
            raise ValueError(
                f"restore_from_lineage requires a fresh job_id: lineage "
                f"already holds batches under {job_id!r}, and a restore "
                f"run renumbers micro-batches from 0, so reusing it would "
                f"wrongly skip re-delivered batches via the batch-id guard"
            )
        events = restore_filter(events, t0.resume_offsets())

    dirty_totals = {"dirty": 0, "read": 0}

    def _capture_dirty(batch_df: DataFrame, pk: list[str],
                       n_dirty: int) -> None:
        from chunjun_spark.operators.dirty import (
            ERR_CONVERSION,
            ERR_NULL,
            check_error_limit,
        )

        # decode failures are the FORMAT_TRANSFORM class, not NULL-key
        cls = (
            F.when(F.col("op") == "DECODE_ERROR", F.lit(ERR_CONVERSION))
            .otherwise(F.lit(ERR_NULL))
            if "op" in batch_df.columns else F.lit(ERR_NULL)
        )
        rows = batch_df.filter(null_pk_pred(pk)).select(
            cls.alias("error_class"),
            F.to_json(F.struct(*[F.col(c) for c in batch_df.columns]))
            .alias("content"),
            F.current_timestamp().alias("captured_at"),
        )
        rows.write.mode("append").parquet(dirty["path"])
        dirty_totals["dirty"] += n_dirty
        check_error_limit(
            dirty_totals["dirty"], dirty_totals["read"],
            max_errors=dirty.get("max_errors"),
            max_ratio=dirty.get("max_ratio"),
        )

    def _sync_views() -> None:
        if not agg_views and not mirrors and not curation_indexes:
            return
        t = LakeTable.load(spark, table_root)
        if agg_views:
            from chunjun_spark.operators.ivm import (
                sync_agg_view,
                sync_exploded_view,
                sync_filter_view,
            )

            for v in agg_views:
                if v.get("kind") == "filter":
                    # maintained filter/projection view (curated corpus)
                    sync_filter_view(
                        t, LakeTable.load(spark, v["root"]),
                        v["predicate"], v.get("select_exprs"),
                    )
                elif v.get("kind") == "exploded":
                    # maintained flatMap view (postings/symbol indexes)
                    sync_exploded_view(
                        t, LakeTable.load(spark, v["root"]),
                        v["explode_expr"], v["select_exprs"],
                    )
                else:
                    sync_agg_view(
                        t, LakeTable.load(spark, v["root"]),
                        v["group_cols"], v["value_col"],
                    )
        if mirrors:
            from chunjun_spark.operators.mirror import sync_mirror

            for mroot in mirrors:
                sync_mirror(t, LakeTable.load(spark, mroot))
        if curation_indexes:
            from chunjun_spark.functions.incremental import (
                sync_ivf_index,
                sync_minhash_index,
            )

            for ix in curation_indexes:
                idx = LakeTable.load(spark, ix["root"])
                id_expr = ix.get("id_expr") or "xxhash64({})".format(
                    ", ".join(t.pk)
                )
                if ix.get("kind", "minhash") == "minhash":
                    sync_minhash_index(
                        t, idx, since_version=None,
                        text_col=ix.get("text_expr", "content"),
                        id_col=id_expr,
                    )
                else:
                    sync_ivf_index(
                        t, idx, since_version=None,
                        vec_col=ix.get("vec_expr", "embedding"),
                        id_col=id_expr,
                    )

    def _sync_scd2(df: DataFrame, bid: str, table) -> None:
        """Fold this batch's full event window into each attached SCD2
        history table. ``df`` must be decoded; control + NULL-pk rows
        are stripped here (an un-admitted replayed batch passes its raw
        re-delivery). Exactly-once via the sync's own batch-id guard."""
        if not scd2_tables:
            return
        from chunjun_spark.operators.temporal import sync_scd2_history

        df = df.filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
        df = df.filter(~null_pk_pred(table.pk))
        for s in scd2_tables:
            sync_scd2_history(
                df, LakeTable.load(spark, s["root"]),
                pk=table.pk, batch_id=f"scd2:{bid}",
            )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from chunjun_spark.operators.ddl import apply_ddl_events
        from chunjun_spark.sources.changelog import decode_json_events

        table = LakeTable.load(spark, table_root)
        if wire_format == "redo_sql":
            # LogMiner wire form: each row is redo SQL TEXT + envelope.
            # Phase 1 (header) rebuilds op + the canonical ddl JSON
            # BEFORE admission; the PAYLOAD decode waits until after
            # this batch's own DDL has been applied, so a row written
            # under the batch's add_column keeps the new column's value
            # — the same post-DDL contract the JSON wire keeps.
            from chunjun_spark.sources.redo_sql import decode_redo_header

            batch_df = decode_redo_header(batch_df)
        bid = f"{job_id}:{batch_id}"
        if bid in table.committed_batches():
            # replayed micro-batch after restart — already applied; the
            # views may still lag it (crash between commit and sync).
            # No admission pass: the batch was admitted when it committed.
            if audits and bid in table.staged_ids():
                # crash between publish's pointer swap and its cleanup:
                # drop the redundant stage so it can't pin files
                table.abandon_staged(bid)
            if scd2_tables:
                # the history fold may lag the commit (crash between
                # them): re-drive it from the re-delivered raw batch —
                # its own batch-id guard makes a completed fold a no-op
                df = batch_df
                if wire_format == "json":
                    df = decode_json_events(df, table.schema.to_struct())
                elif wire_format == "redo_sql":
                    from chunjun_spark.sources.redo_sql import (
                        decode_redo_payload,
                    )

                    # header decode already ran at apply_batch entry;
                    # the replayed batch's DDL is long committed, so
                    # the current schema IS the post-DDL schema here
                    df = decode_redo_payload(df, table.schema.to_struct())
                _sync_scd2(df, bid, table)
            _sync_views()
            return
        # one fused narrow pre-pass (poison + DDL + FormatState offsets +
        # the dirty-row count); the write below is the one wide
        # evaluation of the batch. On a non-nested wire the key is not a
        # struct field yet (JSON strings / statement text) — the fused
        # dirty probe would raise INVALID_EXTRACT_BASE_FIELD_TYPE
        # (review r4) — so the dirty check moves to after the payload
        # decode, costing one extra narrow pass only when dirty is
        # configured on such a wire.
        fused_dirty = bool(dirty) and wire_format == "nested"
        # with a dirty plane configured, undecodable redo statements are
        # NOT poison: they pass admission as data rows (NULL images),
        # get captured to the DLQ as conversionErrors by the post-decode
        # dirty pass below, and count against the error limits (ADVICE
        # r5: one garbled statement must not wedge the stream forever)
        allow_dec = bool(dirty) and wire_format == "redo_sql"
        batch_df, ddl_rows, offsets, n_dirty, _ = admit_batch_with_offsets(
            batch_df, dirty_pk=table.pk if fused_dirty else None,
            poison_ops=("ERROR",) if allow_dec else POISON_OPS,
        )
        n_read = sum(v["n"] for v in offsets.values())
        if dirty:
            # the error RATIO is over the query's lifetime reads, so the
            # denominator advances on clean batches too
            dirty_totals["read"] += n_read
        if n_dirty:
            _capture_dirty(batch_df, table.pk, n_dirty)
            batch_df = batch_df.filter(~null_pk_pred(table.pk))
        if ddl_rows:
            # DDLs first: all evolution ops are backward compatible, and
            # apply_ddl_events is idempotent under micro-batch re-delivery
            table = apply_ddl_events(table, ddl_rows)
        if wire_format == "json":
            # decode against the post-DDL schema: this batch's own
            # add_column is already visible to its data rows
            batch_df = decode_json_events(batch_df, table.schema.to_struct())
        elif wire_format == "redo_sql":
            # phase 2: payload images against the post-DDL schema
            from chunjun_spark.sources.redo_sql import decode_redo_payload

            batch_df = decode_redo_payload(batch_df, table.schema.to_struct())
        if dirty and not fused_dirty:
            n_dirty_post = batch_df.filter(null_pk_pred(table.pk)).count()
            if n_dirty_post:
                _capture_dirty(batch_df, table.pk, n_dirty_post)
                batch_df = batch_df.filter(~null_pk_pred(table.pk))
        # with audits: per-micro-batch write-audit-publish
        # (operators/wap.py; ErrorLimiter.java:62-97 lifted to snapshot
        # granularity) — stage under wap_id=bid (invisible), then the
        # shared gate audits the staged snapshot and publishes it
        # atomically or abandons it, failing the query. A crash between
        # stage and publish re-delivers the batch, finds the stage, and
        # resumes at the audit step; after an abandon the re-delivered
        # batch re-stages and fails the same audit — terminal by design,
        # bad data needs an upstream fix, exactly like the reference's
        # error caps.
        if not (audits and bid in table.staged_ids()):
            commit_window(batch_df, table, bid, offsets, mode=mode,
                          update_mode=update_mode,
                          wap_id=bid if audits else None)
        if audits:
            from chunjun_spark.operators.wap import audit_gate

            rep, _, published = audit_gate(table, bid, audits)
            if published is None:
                raise MicroBatchAuditFailure(
                    f"micro-batch {bid} failed its audits; staged "
                    f"snapshot abandoned: {rep['violations']}"
                )
        if mode == "mor" and compact_every is not None:
            t2 = table.refresh()
            n_deltas = len(t2.manifest["deltas"])
            if compact_hot_min is not None:
                # hot-bucket policy: fold only the buckets whose
                # outstanding delta count crossed the bar — O(hot
                # data) per fold under skewed ingest. Cold remnants
                # keep some delta files alive, so a full fold at 4×
                # the trigger bounds manifest size + residual read
                # amplification.
                if n_deltas >= 4 * compact_every:
                    t2.compact()
                elif n_deltas >= compact_every:
                    hot = t2.hot_buckets(min_deltas=compact_hot_min)
                    if hot:
                        t2.compact(buckets=hot)
            elif n_deltas >= compact_every:
                t2.compact()
        if rate_limiter is not None:
            rate_limiter.observe_rows(n_read, batch_df)
        _sync_scd2(batch_df, bid, table)
        _sync_views()

    writer = events.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_multi_table_stream(
    events: DataFrame,
    lake_root: str,
    checkpoint_dir: str,
    job_id: str = "cdc-multi",
    mode: str = "cow",
    table_factory=None,
    wire_format: str = "nested",
    partition_exprs=None,
) -> StreamingQuery:
    """Route CDC events to per-table lake tables by ``table_name`` —
    the HiveOutputFormat fan-out (flinkx-hive/.../HiveOutputFormat.java:
    277-340: per-(table, partition) child formats + create-on-demand).

    ``partition_exprs``: hidden time/derived partition specs for
    create-on-demand tables — the reference's TimePartitionFormat
    DAY/HOUR/MINUTE routing (flinkx-hive/.../TimePartitionFormat.java),
    expressed as LakeTable partition specs. Either one list applied to
    every routed table or ``{table_name: [...]}`` per table. Ignored
    when ``table_factory`` is supplied (the factory owns layout).

    Each micro-batch: distinct table_names (tiny driver list) → per table
    filter + dedup + idempotent merge into ``{lake_root}/{table_name}``.
    Tables are created on first sight via ``table_factory(spark, root,
    table_name)`` (default: input_hint payload schema, pk (repo, path)).
    Batch ids carry the table name so a crash between two tables' merges
    replays only the missing one.
    """
    from chunjun_spark.operators.ddl import apply_ddl_events
    from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA
    from chunjun_spark.sources.changelog import decode_json_events

    if wire_format not in ("nested", "json"):
        raise ValueError(f"unknown wire_format {wire_format!r}")
    spark = events.sparkSession

    def default_factory(spark, root, table_name):
        pe = (
            partition_exprs.get(table_name)
            if isinstance(partition_exprs, dict)
            else partition_exprs
        )
        return LakeTable.create(
            spark, root, PAYLOAD_SCHEMA, pk=["repo", "path"], n_buckets=16,
            partition_exprs=pe,
        )

    factory = table_factory or default_factory

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one narrow aggregate: poison + per-table DDL + routing list
        # (the tables with data rows) + per-table FormatState offsets
        batch_df, ddl_rows, _, _, offsets_by_table = (
            admit_batch_with_offsets(batch_df))
        names = sorted(offsets_by_table)
        has_data = set(names)
        # a table whose only rows this batch are DDL still needs the DDL
        # applied NOW — the checkpoint commits this batch, so the DDL
        # row never re-arrives (caught in round-3 review: the old
        # data-only routing silently dropped such DDL forever)
        ddl_only = sorted({r["table_name"] for r in ddl_rows} - has_data)
        for name in [*names, *ddl_only]:
            root = os.path.join(lake_root, name)
            try:
                table = LakeTable.load(spark, root)
            except FileNotFoundError:
                table = factory(spark, root, name)  # create-on-demand
            table_ddl = [r for r in ddl_rows if r["table_name"] == name]
            if table_ddl:
                table = apply_ddl_events(table, table_ddl)
            if name not in has_data:
                continue  # DDL-only this batch: nothing to merge
            bid = f"{job_id}:{name}:{batch_id}"
            if bid in table.committed_batches():
                continue
            sub = batch_df.filter(F.col("table_name") == name)
            if wire_format == "json":
                # per-table decode against THAT table's post-DDL schema —
                # heterogeneous payloads share one fixed wire schema
                sub = decode_json_events(sub, table.schema.to_struct())
            commit_window(sub, table, bid, offsets_by_table[name], mode=mode)

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_fanout_stream(
    events: DataFrame,
    sinks: list[dict],
    checkpoint_dir: str,
    job_id: str,
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    metrics_out: dict | None = None,
    catalog_root: str | None = None,
) -> StreamingQuery:
    """One source read → N sinks, each exactly-once.

    The reference runs one reader → one writer per job; a deployment
    that lands the same changelog in a lake AND a serving mart runs two
    jobs and pays the source scan + the keep_last fold twice. At 10^10
    events that doubled source I/O is the dominant cost, so the fan-out
    shares everything shareable per micro-batch:

    - ONE fused narrow admission pass (poison + DDL + offsets),
    - ONE keep_last fold per distinct pk, ``localCheckpoint``-ed so
      every sink consumes materialized winner rows (the wide payload is
      evaluated once, not once per sink),

    then applies the sinks IN ORDER, each behind its own idempotence
    guard (lake: batch-id in lineage; jdbc: audit-marker row). A crash
    after sink k re-delivers the batch: sinks 1..k skip via their
    guards, sinks k+1.. apply — exactly-once on every sink without any
    cross-sink transaction.

    Sink specs:
      {"type": "lake", "root": ..., "mode": "cow"|"mor",
       "update_mode": "replace"|"patch"}
      {"type": "jdbc", "url": ..., "table": ..., "pk": [...],
       "driver": ..., "user": ..., "password": ..., "batch_size": N,
       "staging_table": ...}

    One jdbc sink alone is the binlog → database relay (the reference's
    binlogreader → jdbcwriter deployment).

    DDL routing per sink type: lake sinks run the full schema-evolution
    set (idempotent ``apply_ddl_events``); jdbc sinks forward
    add_column as ALTER TABLE and fail loudly on anything else
    (``relay_apply_ddl``). Events must be the nested wire format.

    ``catalog_root`` upgrades the per-sink guards to CROSS-SINK
    atomicity for the lake sinks (plans/catalog.py): every pending lake
    leg stages via WAP and one catalog transaction publishes them with a
    single atomic pin swap per micro-batch — a reader going through the
    catalog never sees sink A's batch without sink B's, even across a
    crash between leg publishes (recover() runs at stream start and
    completes any decided txn). jdbc/kafka sinks keep their own
    exactly-once guards — a foreign system can't join the catalog swap.
    Sink tables register under ``sink["name"]`` (default ``lake_{i}``).
    """
    from chunjun_spark.sources.jdbc_live import (
        apply_changelog_jdbc_exactly_once,
        relay_apply_ddl,
    )

    if not sinks:
        raise ValueError("fan-out needs at least one sink")
    for s in sinks:
        if s.get("type") not in ("lake", "jdbc", "kafka"):
            raise ValueError(f"unknown fan-out sink type {s.get('type')!r}")
        if s["type"] in ("jdbc", "kafka") and not s.get("pk"):
            raise ValueError(f"{s['type']} fan-out sink needs a pk")
        if s["type"] == "kafka" and not s.get("topic_dir"):
            raise ValueError("kafka fan-out sink needs a topic_dir")
        if (s["type"] == "lake" and s.get("update_mode") == "patch"
                and s.get("mode", "cow") != "cow"):
            raise ValueError("update_mode='patch' requires mode='cow'")
    spark = events.sparkSession

    cat = None
    if catalog_root is not None:
        from chunjun_spark.plans.catalog import Catalog

        try:
            cat = Catalog.load(spark, catalog_root)
        except FileNotFoundError:
            cat = Catalog.create(spark, catalog_root)
        # a previous run may have crashed between leg publishes: finish
        # every decided txn BEFORE any committed-batch check reads state
        cat.recover()

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from chunjun_spark.operators.ddl import apply_ddl_events

        bid = f"{job_id}:{batch_id}"
        # open the per-sink lake handles first: if EVERY sink already
        # committed this batch (replay after a clean run), skip the
        # admission pass entirely — zero source evaluations
        lake_handles: dict[int, LakeTable] = {}
        pending = []
        for i, s in enumerate(sinks):
            if s["type"] == "lake":
                t = LakeTable.load(spark, s["root"])
                lake_handles[i] = t
                if bid not in t.committed_batches():
                    pending.append(i)
            elif s["type"] == "kafka":
                from chunjun_spark.sources.kafka_sim import (
                    create_topic,
                    topic_meta,
                )

                try:
                    meta = topic_meta(s["topic_dir"])
                except FileNotFoundError:
                    # create-on-demand, like the lake sinks: a fresh
                    # machine must be able to run the shipped fan-out
                    # examples without a pre-provisioning step
                    # (review r4)
                    meta = create_topic(
                        s["topic_dir"],
                        n_partitions=int(s.get("n_partitions", 4)),
                    )
                txns = (
                    meta.get("producers", {})
                    .get(s.get("producer_id") or job_id, {}).get("txns", {})
                )
                if txns.get(bid, {}).get("state") != "committed":
                    pending.append(i)
            else:
                pending.append(i)  # jdbc guard is a driver round-trip
        if not pending:
            return
        batch_df, ddl_rows, offsets, _, _ = admit_batch_with_offsets(batch_df)
        n_read = sum(v["n"] for v in offsets.values())

        # fold once per distinct pk; every sink with that pk shares the
        # materialized winners
        winners_by_pk: dict[tuple, DataFrame] = {}

        def winners_for(pk: list[str]) -> DataFrame:
            key = tuple(pk)
            got = winners_by_pk.get(key)
            if got is None:
                got = keep_last(
                    events_with_pk(batch_df, list(pk)), pk=list(pk),
                    order=("op_ts", "seq"),
                ).localCheckpoint(eager=True)
                winners_by_pk[key] = got
            return got

        applied_any = False
        txn = cat.transaction(bid) if cat is not None else None
        for i, s in enumerate(sinks):
            if s["type"] == "lake":
                table = lake_handles[i]
                if bid in table.committed_batches():
                    continue
                if ddl_rows:
                    table = apply_ddl_events(table, ddl_rows)
                update_mode = s.get("update_mode", "replace")
                # patch folds inside the merge (earlier events still
                # contribute the columns only they set) — the shared
                # keep_last winners would drop them
                winners = (None if update_mode == "patch"
                           else winners_for(table.pk))

                def _apply_lake(t_, wap=None, s=s, update_mode=update_mode,
                                winners=winners):
                    return commit_window(
                        batch_df, t_, bid, offsets,
                        mode=s.get("mode", "cow"), update_mode=update_mode,
                        wap_id=wap, winners=winners,
                    )

                if txn is not None:
                    name = s.get("name") or f"lake_{i}"
                    if name not in cat.state["tables"]:
                        cat.register(name, s["root"])
                    # an attempt that crashed while STAGING (before the
                    # decide point) leaves an orphan stage under this
                    # batch's wap_id — recover() at start completed every
                    # decided txn, so this one is safe to drop and redo
                    if txn.wap_id in table.staged_ids():
                        table.abandon_staged(txn.wap_id)
                    res_box: dict = {}

                    def _leg(t_, wap, fn=_apply_lake, box=res_box):
                        box["res"] = fn(t_, wap)

                    txn.write(name, _leg)
                    res = res_box["res"]
                else:
                    res = _apply_lake(table)
                applied_any = True
                if metrics_out is not None and not res.get("skipped"):
                    metrics_out[f"numWrite_lake_{i}"] = (
                        metrics_out.get(f"numWrite_lake_{i}", 0)
                        + res.get("n_changes", 0)
                    )
            elif s["type"] == "kafka":
                # changelog → topic relay: the folded winners (and this
                # batch's DDL control rows, reconstructed to the wire
                # shape so downstream consumers can evolve their schema)
                # produce through the transactional-producer analog —
                # a replayed batch or a crash mid-produce never
                # duplicates offsets (kafka_sim.produce_exactly_once)
                from chunjun_spark.sources.kafka import encode_events
                from chunjun_spark.sources.kafka_sim import (
                    produce_exactly_once,
                )

                wn = winners_for(list(s["pk"]))
                relay = wn
                if ddl_rows:
                    dicts = [
                        r if isinstance(r, dict) else r.asDict()
                        for r in ddl_rows
                    ]
                    ctrl = spark.createDataFrame(
                        [tuple(d.get(c) for c in wn.columns)
                         for d in dicts],
                        wn.schema,
                    )
                    relay = relay.unionByName(ctrl)
                enc = encode_events(
                    relay, key_cols=list(s["pk"]),
                    keep_cols=("op_ts", "seq"),
                )
                res = produce_exactly_once(
                    enc, s["topic_dir"],
                    producer_id=s.get("producer_id") or job_id,
                    batch_id=bid,
                )
                if not res.get("skipped"):
                    applied_any = True
                    if metrics_out is not None:
                        metrics_out[f"numWrite_kafka_{i}"] = (
                            metrics_out.get(f"numWrite_kafka_{i}", 0)
                            + res.get("n_produced", 0)
                        )
            else:
                if ddl_rows:
                    relay_apply_ddl(
                        spark, s["url"], s["table"], ddl_rows,
                        s.get("driver"), s.get("user"), s.get("password"),
                    )
                res = apply_changelog_jdbc_exactly_once(
                    winners_for(list(s["pk"])),
                    s["url"], s["table"], job_id=job_id,
                    batch_id=str(batch_id), pk=list(s["pk"]),
                    driver=s.get("driver"), user=s.get("user"),
                    password=s.get("password"),
                    batch_size=int(s.get("batch_size", 1000)),
                    staging_table=s.get("staging_table"),
                    pre_folded=True,
                )
                if not res.get("skipped"):
                    applied_any = True
                    if metrics_out is not None:
                        metrics_out[f"numWrite_jdbc_{i}"] = (
                            metrics_out.get(f"numWrite_jdbc_{i}", 0)
                            + res.get("n_changes", 0)
                        )
        if txn is not None and txn.legs:
            # the batch's one cross-sink visibility point; a conflict
            # (out-of-band commit to a sink table) aborts the whole txn
            # and fails the batch — the retry re-stages against the new
            # heads
            txn.commit()
        if metrics_out is not None:
            metrics_out["numBatches"] = metrics_out.get("numBatches", 0) + 1
            if applied_any:
                metrics_out["numRead"] = (
                    metrics_out.get("numRead", 0) + n_read
                )

    w = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


class MicroBatchAuditFailure(RuntimeError):
    """A micro-batch failed its WAP audits; its staged snapshot was
    abandoned and the query stops (re-delivery re-fails by design —
    bad data needs an upstream fix or changed audits)."""


def run_stream_with_restart(
    start_query,
    max_attempts: int = 3,
    delay_sec: float = 2.0,
    timeout_sec: int = 600,
) -> None:
    """Fixed-delay restart loop — the stream-job restart strategy
    (Main.java:155-208, config/RestartConfig.java STRATEGY_FIXED_DELAY).
    ``start_query`` is a zero-arg callable returning a fresh
    StreamingQuery against the SAME checkpoint dir; restarts resume from
    it, and the idempotent merge makes replayed micro-batches no-ops, so
    a crash between commit and checkpoint cannot double-apply. It is the
    failure-rate loop with an unbounded interval: the ``max_attempts``-th
    failure gives up."""
    run_stream_with_failure_rate_restart(
        start_query, max_failures_per_interval=max_attempts,
        failure_interval_sec=math.inf, delay_sec=delay_sec,
        timeout_sec=timeout_sec,
    )


def run_stream_with_failure_rate_restart(
    start_query,
    max_failures_per_interval: int = 3,
    failure_interval_sec: float = 60.0,
    delay_sec: float = 2.0,
    timeout_sec: int = 600,
    _clock=None,
) -> dict:
    """Failure-rate restart — the reference's second strategy
    (Main.java:155-208, RestartConfig.java STRATEGY_FAILURE_RATE:
    ``failureRate`` failures within ``failureInterval`` give up,
    otherwise restart after ``delayInterval``). A sliding window of
    failure timestamps decides: a burst of crashes aborts quickly, while
    occasional failures spread over time restart forever — the right
    policy for a long-lived tail job where transient source hiccups are
    expected but a crash-loop must page instead of spinning.

    ``_clock`` is injectable for tests (defaults to ``time.monotonic``).
    Returns ``{"restarts": n, "gave_up": False}`` on success; raises
    RuntimeError (cause chained) when the rate bound trips."""
    import time as _time

    clock = _clock or _time.monotonic
    fail_times: list[float] = []
    restarts = 0
    while True:
        q = start_query()
        try:
            if not q.awaitTermination(timeout_sec):
                q.stop()
                raise TimeoutError("stream did not drain in time")
            return {"restarts": restarts, "gave_up": False}
        except TimeoutError:
            raise
        except Exception as e:  # noqa: BLE001 — rate-limit any query failure
            now = clock()
            fail_times.append(now)
            # slide the window: only failures inside the interval count
            fail_times = [t for t in fail_times
                          if now - t <= failure_interval_sec]
            # give up AT the bound (Flink FailureRateRestartStrategy:
            # the Nth failure inside the interval fails the job — the
            # queue of the last N timestamps all landing within the
            # interval means no restart), not at N+1
            if len(fail_times) >= max_failures_per_interval:
                raise RuntimeError(
                    f"stream failed after {restarts + 1} attempts: "
                    f"{len(fail_times)} failures within "
                    f"{failure_interval_sec}s (bound "
                    f"{max_failures_per_interval}) — giving up"
                ) from e
            restarts += 1
            _time.sleep(delay_sec)


def run_stream_to_completion(
    spark: SparkSession,
    binlog_dir: str,
    table_root: str,
    checkpoint_dir: str,
    job_id: str = "cdc-replay",
    mode: str = "cow",
    max_files_per_trigger: int = 4,
    timeout_sec: int = 600,
    byte_rate_limit: int = -1,
    agg_views: list[dict] | None = None,
    restore_from_lineage: bool = False,
    audits: list[dict] | None = None,
    subscription: dict | None = None,
    mirrors: list[str] | None = None,
    dirty: dict | None = None,
    scd2_tables: list[dict] | None = None,
    curation_indexes: list[dict] | None = None,
    wire_format: str = "nested",
) -> None:
    if wire_format != "nested":
        # a non-nested wire (json envelope / redo_sql statement text)
        # carries its own schema — take it from the segments on disk.
        # If the writer hasn't produced a segment yet (launch race), the
        # probe throws UNABLE_TO_INFER_SCHEMA: fall back to the wire's
        # canonical fixed schema, exactly like the nested path starts on
        # an empty dir with EVENT_SCHEMA (review r5)
        from pyspark.errors import AnalysisException

        try:
            wire_schema = spark.read.parquet(binlog_dir).schema
        except AnalysisException:
            if wire_format == "json":
                from chunjun_spark.sources.changelog import (
                    json_event_schema,
                )

                wire_schema = json_event_schema()
            else:  # redo_sql: envelope + statement text
                wire_schema = T.StructType(
                    [f for f in EVENT_SCHEMA.fields
                     if f.name not in ("op", "before", "after", "ddl")]
                    + [T.StructField("sql_redo", T.StringType())]
                )
        events = (
            spark.readStream
            .schema(wire_schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(binlog_dir)
        )
    else:
        events = read_binlog_stream(spark, binlog_dir, max_files_per_trigger)
    if subscription:
        # binlogreader cat/table/filter apply on the STREAM too — they
        # are row-local predicates, so they push into the file-source
        # scan of every micro-batch (same semantics as the batch path)
        from chunjun_spark.sources.binlog import filter_events

        events = filter_events(events, **subscription)
    limiter = ByteRateLimiter(byte_rate_limit) if byte_rate_limit > 0 else None
    q = start_replay_stream(
        events, table_root, checkpoint_dir, job_id=job_id, mode=mode,
        trigger_available_now=True, rate_limiter=limiter,
        agg_views=agg_views, restore_from_lineage=restore_from_lineage,
        audits=audits, mirrors=mirrors, dirty=dirty,
        scd2_tables=scd2_tables, curation_indexes=curation_indexes,
        wire_format=wire_format,
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("stream did not drain in time")
