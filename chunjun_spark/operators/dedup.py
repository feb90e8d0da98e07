"""Per-primary-key keep-last ordering over (op_ts, seq).

Reference analog: ChunJun relies on the Snowflake ``ts`` being a total
order over one source's events (flinkx-binlog/.../BinlogEventSink.java:114,
docs/realTime/reader/binlogreader.md:200-208) and applies events in that
order. We replay out-of-order batches, so the engine must reduce each key
to its LAST event by (op_ts, seq) — duplicates (same seq, re-delivered)
collapse for free.

Two physical strategies, same semantics:

1. ``keep_last`` (default, the 10^10-scale path): ``groupBy(pk).agg(max(
   struct(op_ts, seq, payload...)))``. Struct comparison is lexicographic,
   so max == last event. Spark executes this as a hash aggregate with
   MAP-SIDE PARTIAL AGGREGATION: each input partition reduces to at most
   |distinct keys in partition| rows before the shuffle, so duplicate-heavy
   CDC streams shrink before touching the network. No global sort.

2. ``keep_last_window``: row_number() over a window — the textbook form,
   kept for cross-checking; it sorts every partition, strictly worse at
   scale.

For pathological key skew (a single hot key re-written millions of times),
``keep_last_salted`` does a two-phase reduce: phase 1 groups on
(pk, salt-of-seq) so the hot key's events spread over N reducers, phase 2
reduces the N survivors. (With hash partial aggregation this is rarely
needed — partial agg already bounds reducer input — but window/sort-based
plans and `spark.sql.aggregate` fallbacks do need it; kept as an explicit
operator per the north rule.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _ordered_struct(df: DataFrame, order: tuple[str, ...]) -> F.Column:
    rest = [c for c in df.columns if c not in order]
    return F.struct(*[F.col(c) for c in order], *[F.col(c) for c in rest])


def keep_last(
    df: DataFrame,
    pk: list[str],
    order: tuple[str, ...] = ("op_ts", "seq"),
    broadcast_winner_rows: int = 8_000_000,
    checkpoint_input: bool = False,
    max_rows: int | None = None,
) -> DataFrame:
    """Reduce to one row per pk — the max by lexicographic (order...).

    Two physical strategies, chosen by the measured winner count:

    FAST PATH (winners ≤ ``broadcast_winner_rows``): payload bytes NEVER
    shuffle.
    1. Tag each row with a per-computation unique id.
    2. Aggregate only the narrow projection (pk, order..., id) —
       ``max(struct(order..., id))`` per key. Spark falls back to
       SortAggregate for struct buffers, but sorting ~80-byte rows is
       cheap; the naive ``max(full-row struct)`` sort-aggregates the
       multi-KB payloads (measured 10× slower at 2M events).
    3. BROADCAST-semi-join the winning ids back. The id tiebreak also
       collapses exact duplicate re-deliveries (same (op_ts, seq)
       delivered twice) to exactly one physical row.

    The threshold is sized by the broadcast BUILD cost, not the raw id
    bytes: a LongHashedRelation spends ~40-64 B/row (key + UnsafeRow +
    map slack), so 8M winners ≈ 0.3-0.5 GB — safe inside an 8 GB
    executor/driver heap with room for execution memory. 64M rows was
    measured to abort with "Not enough memory to build and broadcast"
    at 25M winners on an 8 GB heap; do not raise this without also
    raising executor memory.

    FALLBACK (winners above the threshold, e.g. 25M+ distinct keys in
    one batch): ``keep_last_window`` — a single row_number pass that
    shuffles the payload ONCE, partitioned by pk. One payload shuffle is
    the correct general plan at 10^8+ keys/batch: it is skew-bounded by
    per-pk duplicate counts (use ``keep_last_salted`` for pathological
    hot keys) and scales with per-executor disks/NICs on a real cluster,
    whereas an over-threshold broadcast fails outright. The winner
    aggregation already paid for one narrow pass by the time the count
    is known; that pass is discarded (~10-20 % of the fallback job) —
    the price of choosing the plan from data instead of a config guess.

    DETERMINISM CONTRACT (fast path only): the input plan is traversed
    twice (the winner aggregation action, then the semi-join inside the
    caller's action) and the row tag must be identical across both. That
    holds for every deterministic plan — parquet/file scans, ``range``,
    replayed offsets, i.e. all engine sources — but is silently WRONG
    for non-deterministic inputs (``rand()``/``sample()``, round-robin
    ``repartition()``, speculatively re-executed flaky sources): a winner
    id absent from the second traversal drops that key entirely. Callers
    that accept arbitrary user frames must pass ``checkpoint_input=True``,
    which materializes the tagged rows once (``localCheckpoint``) so both
    traversals read the same physical rows. ``LakeTable.merge`` does.
    The window fallback is a single traversal and has no such contract.

    ``max_rows``: a known upper bound on the input row count (e.g. the
    row counts a lake manifest records per file). At or below
    ``broadcast_winner_rows`` the winner count cannot exceed the cap, so
    the fast path is built lazily: no winner checkpoint, no count — the
    narrow aggregate and its broadcast run inside the caller's action,
    and every consumer of the result shares the one aggregate through
    Spark's exchange reuse.
    """
    rid = "_cj_rid"
    tagged = df.withColumn(rid, F.monotonically_increasing_id())
    if checkpoint_input:
        tagged = tagged.localCheckpoint(eager=True)
    packed = F.struct(*[F.col(c) for c in order], F.col(rid))
    wins = (
        tagged.groupBy(*pk)
        .agg(F.max(packed).alias("_w"))
        .select(F.col(f"_w.{rid}").alias(rid))
    )
    out_cols = [c for c in df.columns if c not in pk]
    if max_rows is None or max_rows > broadcast_winner_rows:
        wins = wins.localCheckpoint(eager=True)
        if wins.count() > broadcast_winner_rows:
            # tagged is already materialized when checkpoint_input was
            # set; the window pass is single-traversal so plain df is
            # fine otherwise
            src = tagged.drop(rid) if checkpoint_input else df
            return keep_last_window(src, pk=pk, order=order).select(
                *pk, *out_cols)
    surv = tagged.join(F.broadcast(wins), on=rid, how="left_semi").drop(rid)
    return surv.select(*pk, *out_cols)


def keep_last_window(
    df: DataFrame,
    pk: list[str],
    order: tuple[str, ...] = ("op_ts", "seq"),
) -> DataFrame:
    """row_number()==1 over desc (order...) — reference formulation."""
    w = Window.partitionBy(*pk).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def keep_last_salted(
    df: DataFrame,
    pk: list[str],
    order: tuple[str, ...] = ("op_ts", "seq"),
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase keep-last: salt on a hash of the ORDER columns (never the
    pk — salting must split one key's events, not merge keys)."""
    packed = _ordered_struct(df, order)
    out_cols = [c for c in df.columns if c not in pk]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(n_salts)).alias("_salt")
    phase1 = df.groupBy(*pk, salt).agg(F.max(packed).alias("_last"))
    phase2 = phase1.groupBy(*pk).agg(F.max(F.col("_last")).alias("_last"))
    return phase2.select(*pk, *[F.col(f"_last.{c}").alias(c) for c in out_cols])
