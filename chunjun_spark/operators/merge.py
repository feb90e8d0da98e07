"""Change-event → MERGE input translation and the replay plan.

Reference analog: ChunJun's writer modes INSERT / REPLACE / UPDATE
(flinkx-core/.../enums/EWriteMode.java:28-40) and the ANSI upsert template
``MERGE INTO ... WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
INSERT`` (flinkx-rdb/.../BaseDatabaseMeta.java:124-162), extended with
DELETE handling (CDC streams carry deletes; the reference applies them via
REPLACE semantics on the target DB).

The replay pipeline is:

    events ──admit_batch_with_offsets──► poison check, DDL rows, offsets
           ──keep_last(pk, (op_ts, seq))──► one survivor per key
           ──to_changes──► (_op = DELETE | UPSERT, payload from ``after``)
           ──LakeTable.merge / append_delta──► committed snapshot

The last three steps are :func:`commit_window`, shared by every lake
consumer of a change window.

``keep_last`` runs BEFORE the merge so a 10^10-event replay reduces to
|keys| rows in one partial-agg shuffle; the merge join then touches each
key once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from chunjun_spark.operators.dedup import keep_last
from chunjun_spark.plans.lake import OP_COL, VSEQ_COL, VTS_COL, LakeTable


def to_changes(events: DataFrame, payload_fields: list[str] | None = None) -> DataFrame:
    """Flatten surviving events into merge input rows.

    DELETE rows keep their key from ``before`` (the after image is null);
    everything else takes the full ``after`` payload.
    """
    payload_fields = payload_fields or events.schema["after"].dataType.fieldNames()
    is_del = F.col("op") == "DELETE"
    cols = [
        F.when(is_del, F.col(f"before.{f}")).otherwise(F.col(f"after.{f}")).alias(f)
        for f in payload_fields
    ]
    return events.select(
        *cols,
        F.when(is_del, F.lit("DELETE")).otherwise(F.lit("UPSERT")).alias(OP_COL),
        F.col("op_ts").alias(VTS_COL),
        F.col("seq").alias(VSEQ_COL),
    )


class InBandFailure(RuntimeError):
    """Reference: the heartbeat controller injects an ``{"e": msg}`` event
    in-band and the reader throws on receipt (HeartBeatController.java:
    51-61, BinlogEventSink.java:162-166)."""


# ops that fail admission. DECODE_ERROR (a wire row the decoder could
# not parse — redo_sql wire) is poison BY DEFAULT, but a caller with a
# dirty/DLQ plane configured passes ("ERROR",) so those rows route to
# the DLQ under the error limits instead of wedging the stream on an
# unskippable restart loop (review r5); op='ERROR' — the source's own
# in-band failure signal — is always poison.
POISON_OPS = ("ERROR", "DECODE_ERROR")


def null_pk_pred(pk: list[str]):
    """Data row whose effective key (before-image for DELETE, after-image
    otherwise — the events_with_pk convention) has a NULL component.
    Struct-field access only, so nested schema pruning keeps this
    narrow."""
    is_del = F.col("op") == "DELETE"
    pred = F.lit(False)
    for c in pk:
        eff = F.when(is_del, F.col(f"before.{c}")).otherwise(
            F.col(f"after.{c}"))
        pred = pred | eff.isNull()
    return pred & ~F.col("op").isin("ERROR", "DDL")


def partition_offsets(rows: list) -> dict:
    """Per-binlog-partition max offset + data-row count — the FormatState
    payload (reference flinkx-core/.../restore/FormatState.java:31-47) —
    folded from the admission aggregate's ``(partition_id, max_offset,
    n)`` rows; rows of one partition from several tables merge."""
    out: dict = {}
    for r in rows:
        cur = out.setdefault(str(r["partition_id"]),
                             {"max_offset": None, "n": 0})
        offs = [o for o in (cur["max_offset"], r["max_offset"])
                if o is not None]
        cur["max_offset"] = max(offs, default=None)
        cur["n"] += r["n"]
    return out


def admit_batch_with_offsets(
    batch_df: DataFrame,
    dirty_pk: list[str] | None = None,
    poison_ops: tuple = POISON_OPS,
) -> tuple[DataFrame, list[dict], dict, int, dict]:
    """Admission of one change-log batch, shared by every consumer (the
    streams, batch ``replay`` and the jdbc ``writeMode=cdc`` apply): ONE
    narrow aggregate over ``op``/``offset`` and the control columns —
    the payload is never loaded — grouped by ``table_name`` and
    ``partition_id`` where present. An ``op='ERROR'`` event raises
    :class:`InBandFailure`, as does any ``DECODE_ERROR`` row while it is
    in ``poison_ops``. Returns ``(data, ddl_rows, offsets, n_dirty,
    by_table)``:

    - ``data``: the batch minus its DDL rows;
    - ``ddl_rows``: sorted by (op_ts, seq), to apply before the data
      folds;
    - ``offsets``: the FormatState ``{partition_id: {max_offset, n}}``.
      The high-water includes consumed control rows (a restore must not
      re-deliver a consumed DDL); ``n`` counts data rows only (numRead);
    - ``n_dirty``: with ``dirty_pk``, the count of data rows whose
      effective key has a NULL component (the DirtyDataManager
      ERR_NULL_POINTER class) — the caller re-scans the rows only when
      it is non-zero;
    - ``by_table``: ``offsets`` split per table for the multi-table
      router; its keys are the tables with data rows to merge.

    A frame without ``op`` has no control rows: it passes through with
    zero jobs run.
    """
    cols = set(batch_df.columns)
    if "op" not in cols:
        return batch_df, [], {}, 0, {}
    has_off = {"partition_id", "offset"} <= cols
    group = ["table_name"] if "table_name" in cols else []
    if has_off:
        group.append("partition_id")
    narrow = [c for c in ("op", "table_name", "op_ts", "seq", "ddl")
              if c in cols]
    is_ctrl = F.col("op").isin("ERROR", "DDL")
    aggs = [
        (F.count(F.lit(1)) - F.count(F.when(is_ctrl, 1))).alias("n"),
        # existence ONLY for decode errors: they can be arbitrarily many
        # (a whole garbled segment), so never collect them to the driver
        F.count(F.when(F.col("op") == "DECODE_ERROR", 1)).alias("n_dec"),
        F.collect_list(
            F.when(is_ctrl, F.struct(*[F.col(c) for c in narrow]))
        ).alias("ctrl"),
    ]
    if has_off:
        aggs.append(F.max("offset").alias("max_offset"))
    if dirty_pk:
        aggs.append(
            F.count(F.when(null_pk_pred(dirty_pk), 1)).alias("n_dirty"))
    rows = batch_df.groupBy(*group).agg(*aggs).collect()
    ctrl = sorted(
        (c.asDict() for r in rows for c in r["ctrl"]),
        key=lambda d: [(d.get(k) is not None, d.get(k))
                       for k in ("op_ts", "seq")],
    )
    for c in ctrl:
        if c["op"] == "ERROR":
            raise InBandFailure(
                "in-band source failure event: "
                f"{c.get('ddl') or 'source error'}"
            )
    n_dec = sum(r["n_dec"] for r in rows)
    if "DECODE_ERROR" in poison_ops and n_dec:
        raise InBandFailure(
            f"in-band source failure event: {n_dec} undecodable wire "
            "statement row(s) (no dirty plane configured)"
        )
    per_table: dict = {}
    if "table_name" in group:
        for r in rows:
            per_table.setdefault(r["table_name"], []).append(r)
    by_table = {
        name: partition_offsets(rs) if has_off else {}
        for name, rs in per_table.items() if any(r["n"] for r in rs)
    }
    ddl_rows = [c for c in ctrl if c["op"] == "DDL"]
    return (
        batch_df.filter(F.col("op") != "DDL") if ddl_rows else batch_df,
        ddl_rows,
        partition_offsets(rows) if has_off else {},
        sum(r["n_dirty"] for r in rows) if dirty_pk else 0,
        by_table,
    )


def restore_filter(events: DataFrame, resume_offsets: dict) -> DataFrame:
    """Row-level FormatState restore: drop events at or below the sink's
    recorded per-partition high-water offset.

    Reference: on restore the reader seeks past the checkpointed
    position and skips re-delivered records at or below it
    (flinkx-core/.../restore/FormatState.java:31-47,
    DtInputFormatSourceFunction.java:252-283). Here the position comes
    from the TABLE's lineage (``LakeTable.resume_offsets``) instead of a
    Flink checkpoint, so a stream restarted over the FULL source with a
    fresh Spark checkpoint — e.g. after ``LakeTable.rollback`` — applies
    exactly the suffix the table has not yet absorbed, at row (not
    micro-batch) granularity.

    Contract: sound iff the source delivered IN ORDER per partition (a
    binlog/Kafka partition's native guarantee; ``write_binlog_files``
    stamps segment mtimes so the sandbox file source honors it) — then
    the absorbed set is an offset prefix and the high-water cut is
    exact. Rows that slip PAST the filter stale (re-delivered but
    already absorbed) are still no-ops: the merge's strictly-newer
    version guard drops them row-level.

    Scale shape: the offsets map has one entry per binlog
    partition/channel (bounded, config-sized), folded into a literal
    in-expression map — codegen scan filter, no join, no shuffle.
    """
    pairs: list = []
    for p, off in resume_offsets.items():
        pairs.extend([F.lit(int(p)), F.lit(int(off))])
    if not pairs:
        return events
    hw = F.create_map(*pairs)[F.col("partition_id")]
    return events.filter(F.col("offset") > F.coalesce(hw, F.lit(-1)))


def commit_window(
    data: DataFrame,
    table: LakeTable,
    batch_id: str | None,
    offsets: dict | None,
    mode: str = "cow",
    update_mode: str = "replace",
    wap_id: str | None = None,
    winners: DataFrame | None = None,
) -> dict:
    """Commit one admitted change window — the one place every lake
    consumer (``replay``, the replay / multi-table streams and the
    fan-out's lake legs) turns a window into a commit.

    ``data`` holds the admitted data rows (no control rows) and
    ``table`` already carries the window's DDL. ``offsets`` is the
    admission's FormatState map, recorded with a ``numRead`` metric;
    ``None`` records neither.

    update_mode='patch' (cow only) applies the reference's UPDATE write
    mode: every event becomes a sparse change row (null = unchanged) and
    the merge folds last-non-null per column — so keep_last must NOT run
    here (it would discard columns earlier events set); the fold happens
    inside the merge (fold_patch_rows). Every other window folds to one
    survivor per key with keep_last, unless the caller passes the
    already-folded ``winners`` (the fan-out shares one fold across
    sinks). mode='cow' merges, rewriting touched buckets; mode='mor'
    appends a delta.

    wap_id: stage the commit for write-audit-publish instead of making
    it current (LakeTable WAP surface).
    """
    if update_mode == "patch":
        if mode != "cow":
            raise ValueError("update_mode='patch' requires mode='cow'")
        changes = to_changes(events_with_pk(data, table.pk))
    else:
        if winners is None:
            winners = keep_last(events_with_pk(data, table.pk), pk=table.pk,
                                order=("op_ts", "seq"))
        changes = to_changes(winners)
    metrics = None
    if offsets is not None:
        metrics = {"numRead": sum(v["n"] for v in offsets.values())}
    if mode == "cow":
        return table.merge(changes, batch_id=batch_id, offsets=offsets,
                           extra_metrics=metrics,
                           assume_unique_keys=update_mode != "patch",
                           update_mode=update_mode, wap_id=wap_id)
    return table.append_delta(changes, batch_id=batch_id, offsets=offsets,
                              extra_metrics=metrics, wap_id=wap_id)


def replay(
    events: DataFrame,
    table: LakeTable,
    batch_id: str | None = None,
    record_offsets: bool = True,
    mode: str = "cow",
    update_mode: str = "replace",
    wap_id: str | None = None,
) -> dict:
    """Full batch replay: admit the window like a stream micro-batch
    (poison raises before anything commits), apply its DDL events first
    (schema evolution, all backward compatible), then commit the data
    rows through :func:`commit_window` (``mode`` / ``update_mode`` /
    ``wap_id`` as there).

    DDL events in the batch commit immediately even under ``wap_id`` —
    schema evolution is metadata-only, backward compatible, and
    allocates ids append-only, so an abandoned staged batch leaves at
    most an unused schema version, never wrong data.
    """
    from chunjun_spark.operators.ddl import apply_ddl_events

    events, ddl_rows, offsets, _, _ = admit_batch_with_offsets(events)
    if ddl_rows:
        table = apply_ddl_events(table, ddl_rows)
    return commit_window(events, table, batch_id,
                         offsets if record_offsets else None,
                         mode=mode, update_mode=update_mode, wap_id=wap_id)


def events_with_pk(events: DataFrame, pk: list[str]) -> DataFrame:
    """Expose the payload pk as top-level columns (DELETE keys come from
    the before image)."""
    is_del = F.col("op") == "DELETE"
    out = events
    for c in pk:
        out = out.withColumn(
            c, F.when(is_del, F.col(f"before.{c}")).otherwise(F.col(f"after.{c}"))
        )
    return out
