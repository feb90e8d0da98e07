"""Physical-plan audit: verify the plans are the ones we'd want at 100 TB.

Checks, per operator (and writes the formatted plans + verdicts to
PLANS.md for review):

- projection/filter reach the parquet scan (PushedFilters / ReadSchema)
- keep_last shuffles only the narrow winner projection, and the payload
  side joins winners WITHOUT an exchange (BroadcastHashJoin)
- the COW merge joins broadcast the micro-batch side, never exchanging
  the bucketed base
- curation map-only operators have zero exchanges
- whole-stage codegen covers the hot expressions

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from chunjun_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit(name: str, df, checks: dict[str, bool], out: list[str]) -> bool:
    plan = formatted(df)
    verdicts = []
    ok = True
    for label, passed in checks.items():
        verdicts.append(f"  - {'PASS' if passed else 'FAIL'}: {label}")
        ok &= passed
    out.append(f"## {name}\n\n" + "\n".join(verdicts) + "\n\n```\n" + plan[:4000] + "\n```\n")
    print(f"{'ok  ' if ok else 'FAIL'} {name}", flush=True)
    return ok


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out: list[str] = [
        "# PLANS — physical plan audit\n\n"
        "Generated by `tools/plan_audit.py`; re-run after operator changes.\n"
    ]
    all_ok = True

    # 1. projection + filter pushdown
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    p = formatted(q)
    all_ok &= audit(
        "projection_filter_pushdown",
        q,
        {
            "filter pushed to scan": "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in p,
            "scan reads only 2 columns": bool(
                re.search(r"ReadSchema: struct<l_orderkey:bigint,l_quantity:double>", p)
            ),
            "whole-stage codegen": "codegen id" in p,
        },
        out,
    )

    # 2. keep_last: narrow shuffle + broadcast semi-join, payload unshuffled
    from chunjun_spark.operators.dedup import keep_last

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kl = keep_last(ev, pk=["user_id"], order=("ts", "event_id"))
    p = formatted(kl)
    all_ok &= audit(
        "keep_last",
        kl,
        {
            "winner ids joined via BroadcastHashJoin (no payload shuffle)":
                "BroadcastHashJoin" in p and "LeftSemi" in p,
            "no hash exchange on the payload side (scan → join direct)":
                "Exchange hashpartitioning" not in p,
        },
        out,
    )

    # 3. COW merge join shape: base never exchanges, batch side broadcasts
    import tempfile

    from chunjun_spark.plans.lake import LakeTable, OP_COL, VSEQ_COL, VTS_COL
    from pyspark.sql import types as T

    root = tempfile.mkdtemp(prefix="cj_audit_")
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    table = LakeTable.create(spark, root, schema, pk=["user_id"], n_buckets=4)
    base_changes = spark.range(1000).select(
        F.col("id").alias("user_id"),
        F.rand(7).alias("v"),
        F.lit("UPSERT").alias(OP_COL),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias(VTS_COL),
        F.col("id").alias(VSEQ_COL),
    )
    table.merge(base_changes, batch_id="b0", assume_unique_keys=True)
    table = table.refresh()
    ch2 = spark.range(100).select(
        (F.col("id") * 3).alias("user_id"),
        F.rand(8).alias("v"),
        F.lit("UPSERT").alias(OP_COL),
        F.lit("2024-01-02 00:00:00").cast("timestamp").alias(VTS_COL),
        (F.col("id") + 10_000).alias(VSEQ_COL),
    )
    prep = table._prep_changes(ch2).localCheckpoint(eager=True)
    base = table._read_base([0, 1, 2, 3])
    ch_vers = prep.select(
        "user_id", F.col(VTS_COL).alias("_c_vts"), F.col(VSEQ_COL).alias("_c_vseq")
    )
    stale = (
        base.select("user_id", VTS_COL, VSEQ_COL)
        .join(F.broadcast(ch_vers), on=["user_id"])
        .filter(
            F.struct(F.col("_c_vts"), F.col("_c_vseq"))
            <= F.struct(F.col(VTS_COL), F.col(VSEQ_COL))
        )
        .select("user_id")
    )
    kept = base.join(F.broadcast(prep.select("user_id")), on=["user_id"], how="left_anti")
    p_stale, p_kept = formatted(stale), formatted(kept)
    all_ok &= audit(
        "cow_merge_joins",
        kept,
        {
            "stale-guard join broadcasts the batch side":
                "BroadcastHashJoin" in p_stale and "Exchange hashpartitioning" not in p_stale,
            "kept-rows anti-join broadcasts keys (base never shuffles)":
                "BroadcastHashJoin" in p_kept and "Exchange hashpartitioning" not in p_kept,
        },
        out,
    )

    # 4. curation map-only ops: zero exchanges
    from chunjun_spark.functions import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tq = docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
    )
    p = formatted(tq)
    all_ok &= audit(
        "text_ops_map_only",
        tq,
        {"zero exchanges (pure map)": "Exchange" not in p},
        out,
    )

    # 5. exact dedup: both shuffles keyed by uniform fingerprint
    from chunjun_spark.functions.dedup_docs import exact_dedup

    dd = exact_dedup(docs)
    p = formatted(dd)
    all_ok &= audit(
        "exact_dedup",
        dd,
        {
            "partial aggregation before shuffle": "HashAggregate" in p,
            "semi-join back on id": "LeftSemi" in p,
        },
        out,
    )

    # 6. ANN probe scan: storage-level partition pruning on the bucket col
    from chunjun_spark.functions.ann import (
        ann_topk_pruned,
        write_bucketed_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").head()[0])
    store = tempfile.mkdtemp(prefix="cj_audit_annstore_")
    write_bucketed_embeddings(emb, store, dim=dim, n_planes=6)
    qv = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    pruned = ann_topk_pruned(spark, store, qv, k=10, dim=dim, n_planes=6,
                             multiprobe=1)
    p = formatted(pruned)
    m = re.search(r"PartitionFilters: \[.*bucket.* IN \(", p)
    all_ok &= audit(
        "ann_partition_pruned_probe",
        pruned,
        {
            "bucket IN (...) lands in PartitionFilters (scan skips "
            "non-probe directories)": m is not None,
            "no post-scan bucket filter needed (pruning is storage-level)":
                "PushedFilters: []" in p or "Filter" not in p.split("Scan")[0],
        },
        out,
    )

    # 7. IVF probe scan: data-adaptive cells, same pruning contract
    from chunjun_spark.functions.ann import (
        ann_topk_ivf,
        train_ivf_centroids,
        write_ivf_embeddings,
    )

    cents = train_ivf_centroids(emb, n_lists=8, iters=4)
    ivf_store = tempfile.mkdtemp(prefix="cj_audit_ivfstore_")
    write_ivf_embeddings(emb, ivf_store, cents)
    ivf = ann_topk_ivf(spark, ivf_store, cents, qv, k=10, nprobe=3)
    p = formatted(ivf)
    m = re.search(r"PartitionFilters: \[.*ivf_list.* IN \(", p)
    all_ok &= audit(
        "ann_ivf_pruned_probe",
        ivf,
        {
            "ivf_list IN (...) lands in PartitionFilters (nprobe/n_lists "
            "of files scanned)": m is not None,
        },
        out,
    )

    # 8. paragraph dedup: HashAggregate winner (packed bigint, partial agg),
    #    semi-join back; repetition/redaction stay map-only
    from chunjun_spark.functions.dedup_docs import paragraph_dedup

    structured = docs.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit(" table "), F.lit("\n")),
            F.lit(" query "), F.lit("\n\n"),
        ).alias("text"),
    )
    pd = paragraph_dedup(structured)
    p = formatted(pd)
    all_ok &= audit(
        "paragraph_dedup",
        pd,
        {
            "winner aggregate is HashAggregate (packed key, partial agg), "
            "not SortAggregate": "HashAggregate" in p
            and "SortAggregate" not in p,
            "winners semi-join back": "LeftSemi" in p,
        },
        out,
    )

    rr = docs.select(
        "doc_id",
        TX.dup_line_frac(F.col("text")).alias("dlf"),
        TX.dup_token_frac(F.col("text")).alias("dtf"),
        TX.redact_secrets(F.col("text")).alias("red"),
        TX.secret_count(F.col("text")).alias("ns"),
    )
    p = formatted(rr)
    all_ok &= audit(
        "repetition_redaction_map_only",
        rr,
        {"zero exchanges (pure map)": "Exchange" not in p},
        out,
    )

    # 9. asof join: union + one window sweep — exactly ONE exchange,
    #    type filters pushed to both scans
    from chunjun_spark.operators.temporal import asof_join, session_stats

    evt = spark.read.parquet(f"{sf_dir}/events.parquet")
    aj = asof_join(
        evt.filter(F.col("event_type") == "error"),
        evt.filter(F.col("event_type") == "purchase"),
        by=["user_id"], ts="ts", value_cols=["value"], seq="event_id",
    )
    p = formatted(aj)
    all_ok &= audit(
        "asof_join",
        aj,
        {
            "exactly one exchange (window shuffle only, no range join)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1,
            "event-type filters pushed to the scans":
                "EqualTo(event_type,error)" in p
                and "EqualTo(event_type,purchase)" in p,
            "no cartesian/range join": "CartesianProduct" not in p
                and "BroadcastNestedLoopJoin" not in p,
        },
        out,
    )

    # 9b. SCD2 history: one per-key window computes lead intervals AND
    #     collapses duplicate re-deliveries — exactly ONE exchange, the
    #     payload moves once, no self-join, no dedup aggregate
    from chunjun_spark.operators.temporal import scd2_history
    from chunjun_spark.sources.changelog import events_changelog

    sc2 = scd2_history(events_changelog(evt), pk=["user_id"])
    p = formatted(sc2)
    all_ok &= audit(
        "scd2_history_single_exchange",
        sc2,
        {
            "exactly one exchange (the pk window; dup collapse rides it)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1,
            "no aggregate in the plan (no struct-buffer dedup pass)":
                "Aggregate" not in p,
            "no join in the plan": "Join" not in p,
        },
        out,
    )

    # 9c. versioned join: facts → SCD2 version valid at fact position.
    #     Open AND close markers explode out of one pass over the
    #     history (a union form re-evaluated the scd2 window subtree:
    #     3 exchanges vs 2), the sweep is a window, never a range join
    from chunjun_spark.operators.temporal import versioned_join

    vj_facts = evt.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    vj = versioned_join(
        vj_facts, scd2_history(events_changelog(evt), pk=["user_id"]),
        by=["user_id"], ts="ts", seq="event_id",
        value_cols=["event_type", "value"],
    )
    p = formatted(vj)
    all_ok &= audit(
        "versioned_join_marker_sweep",
        vj,
        {
            "two exchanges (scd2 window + union sweep; marker explode "
            "shares the history subtree)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 2,
            "no join in the plan (window sweep, no range join)":
                not re.search(r"\(\d+\) \w*Join", p),
        },
        out,
    )

    # 9d. interval join: the key equality must become the JOIN KEY with
    #     the time range as a post-condition — a planner that fails to
    #     extract it degenerates to BroadcastNestedLoop/Cartesian whose
    #     matched-pair work explodes at scale
    from chunjun_spark.streaming.joins import interval_join

    ij = interval_join(
        evt.filter(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        ),
        evt.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        ),
        by=["user_id"], left_ts="ts", right_ts="ts",
        lower_s=-1800, upper_s=0,
    )
    p = formatted(ij)
    all_ok &= audit(
        "interval_join_keyed",
        ij,
        {
            "hash-keyed join (equality extracted as the join key)":
                ("BroadcastHashJoin" in p or "SortMergeJoin" in p
                 or "ShuffledHashJoin" in p),
            "no cartesian/nested-loop join": "CartesianProduct" not in p
                and "BroadcastNestedLoopJoin" not in p,
            "event-type filters pushed to the scans":
                "EqualTo(event_type,error)" in p
                and "EqualTo(event_type,purchase)" in p,
        },
        out,
    )

    # 9e. bloom-index build: ALL configured columns harvest from ONE
    #     scan of the just-written files (per-column unioned scans read
    #     them B times), one exchange (the bit_or groupBy) with partial
    #     aggregation. Runs on a synthetic manifest — the build plan is
    #     data-independent.
    import tempfile as _tf

    from chunjun_spark.plans import bloom as _bloom

    _bdir = _tf.mkdtemp(prefix="plan_bloom_")
    evt.limit(2000).select(
        F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("_cj_bucket"),
        F.col("event_type").alias("etype"),
        F.col("event_id").alias("eid"),
    ).write.mode("overwrite").parquet(_bdir)
    _bm = {
        "schemas": {"0": [{"id": 1, "name": "etype", "type": "string"},
                          {"id": 2, "name": "eid", "type": "bigint"}]},
        "schema_version": 0, "bloom_cols": ["etype", "eid"],
        "bloom_bits": 1 << 18, "bloom_k": 5,
    }
    br = _bloom.build_rows(spark.read.parquet(_bdir), _bm, "_cj_bucket")
    p = formatted(br)
    all_ok &= audit(
        "bloom_build_single_scan",
        br,
        {
            "one file scan for all bloom columns (tree+detail = 2 "
            "mentions)": len(re.findall(r"Scan parquet", p)) == 2,
            "one exchange (bit_or groupBy)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1,
            "partial aggregation present": "HashAggregate" in p,
        },
        out,
    )

    # 10. sessionize + stats: windows and groupBy share one partitioning
    ss = session_stats(evt, by=["user_id"], ts="ts", gap_seconds=3600,
                       seq="event_id")
    p = formatted(ss)
    all_ok &= audit(
        "sessionize_stats",
        ss,
        {
            "single exchange shared by lag window, running sum, and the "
            "session aggregate": len(re.findall(r"\(\d+\) Exchange", p)) == 1,
            "partial aggregation present": "HashAggregate" in p,
        },
        out,
    )

    # 11. mixture sampling: pure map, filter evaluated at the scan layer
    from chunjun_spark.functions.packing import pack_sequences, sample_mixture

    mix = sample_mixture(
        docs, "lang", {"en": 1.0, "zh": 0.5}, key_col="doc_id", seed=7
    ).select("doc_id", "lang")
    p = formatted(mix)
    all_ok &= audit(
        "sample_mixture_map_only",
        mix,
        {"zero exchanges (deterministic coin, pure map)": "Exchange" not in p},
        out,
    )

    # 12. top-k ngrams: global k via TakeOrderedAndProject (per-partition
    #     heaps), never a full sort shuffle
    from chunjun_spark.functions import dedup_docs as DD

    tk = (
        DD._widen(docs)
        .select(F.explode(DD.shingles(F.col("text"), 3)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .orderBy(F.col("df_docs").desc(), F.col("g"))
        .limit(50)
    )
    p = formatted(tk)
    all_ok &= audit(
        "topk_ngrams",
        tk,
        {
            "TakeOrderedAndProject (no global sort exchange)":
                "TakeOrderedAndProject" in p,
            "partial aggregation before the key shuffle": "HashAggregate" in p,
        },
        out,
    )

    # 13. sequence packing: the running sum must NOT funnel through a
    #     single-partition exchange — window is per range-partition with
    #     broadcast prefix offsets
    sized = docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))
    pk_ = pack_sequences(sized, "doc_id", "n_tokens", budget=512)
    p = formatted(pk_)
    all_ok &= audit(
        "pack_sequences_distributed_cumsum",
        pk_,
        {
            "no single-partition global window": "Exchange SinglePartition" not in p,
            "prefix offsets broadcast-joined": "BroadcastHashJoin" in p,
            "within-partition running-sum window present": "Window" in p,
        },
        out,
    )

    # 14. partial-update merge fast path: winner aggregate stays hash-based
    #     (all-bigint buffers), fetch set broadcast back to the scan
    from chunjun_spark.operators.partial import partial_update_state, sparse_updates
    from chunjun_spark.sources.changelog import events_changelog

    ch = sparse_updates(
        events_changelog(evt),
        {
            "event_type": F.col("after.event_type") == "purchase",
            "value": F.col("after.event_type") == "click",
        },
    )
    pu = partial_update_state(
        ch, pk=["user_id"], order_col="seq", payload_fields=["event_type", "value"]
    )
    p = formatted(pu)
    # SortAggregate allowed only for the tiny assemble step over the
    # fetched winner images (≤ n_cols rows/key); the per-event winner
    # aggregate must be a partial-agg HashAggregate
    all_ok &= audit(
        "partial_update_fast_path",
        pu,
        {
            "fetch set broadcast-joined back to the scan":
                "BroadcastHashJoin" in p,
            "winner aggregate hash-based (partial agg over bigint buffers)":
                "HashAggregate" in p,
            "at most the tiny assemble agg sort-aggregates":
                len(re.findall(r"\(\d+\) SortAggregate", p)) <= 2,
        },
        out,
    )

    # 15. duplicated-substring spans: multi-KB text never enters an exchange
    #     (postings are narrow), duplicate detection partial-aggregates
    from chunjun_spark.functions.substrings import duplicate_spans

    ds = duplicate_spans(docs, win=40, stride=10)
    p = formatted(ds)
    exch_inputs = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p
    )
    all_ok &= audit(
        "duplicate_spans_narrow_postings",
        ds,
        {
            "text column never crosses an exchange (postings stay narrow)":
                bool(exch_inputs)
                and not any("text#" in s for s in exch_inputs),
            "duplicate census partial-aggregates before its shuffle":
                "HashAggregate" in p,
            "island merge reuses the doc_id partitioning for the span "
            "aggregate (no extra exchange)":
                len(re.findall(r"\(\d+\) Exchange", p)) <= 3,
        },
        out,
    )

    # 16. grouped quantiles, approx form: sketch partial-aggregates map-side
    #     (the exact form intentionally sorts — that's its contract)
    from chunjun_spark.functions.corpus import grouped_quantiles

    gq = grouped_quantiles(
        docs, F.length("text").cast("double"), by=["lang"], approx=True
    )
    p = formatted(gq)
    all_ok &= audit(
        "grouped_quantiles_approx_sketch",
        gq,
        {
            "ObjectHashAggregate sketch (no sort, partial agg)":
                "ObjectHashAggregate" in p and "SortAggregate" not in p,
            "single exchange on the group key":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1,
        },
        out,
    )

    # 17. incremental view maintenance: one group-key shuffle, partial agg
    from chunjun_spark.operators.ivm import apply_changes_to_agg

    prev = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        F.lit(1).cast("long").alias("n_live"),
        F.rand(3).alias("sum_value"),
    )
    chg = spark.range(1000).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        F.when(F.col("id") % 3 == 0, F.lit("insert"))
        .when(F.col("id") % 3 == 1, F.lit("update_preimage"))
        .otherwise(F.lit("delete"))
        .alias("_change_type"),
        F.rand(5).alias("v"),
    )
    ivm = apply_changes_to_agg(prev, chg, ["grp"], "v")
    p = formatted(ivm)
    all_ok &= audit(
        "ivm_apply_single_shuffle",
        ivm,
        {
            "ONE exchange total (map-side partial agg condenses both sides)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1,
            "HashAggregate, never SortAggregate":
                "HashAggregate" in p and "SortAggregate" not in p,
            "ignored tombstone-image rows filtered before the union":
                "Filter" in p,
        },
        out,
    )

    # 17b. filter-view fold: a pure row-local projection — no join, no
    #      shuffle, no aggregate; all cost is in the bucketed merge
    from chunjun_spark.operators.ivm import filter_view_batch

    fch = spark.range(1000).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 5).cast("string").alias("grp"),
        F.rand(7).alias("v"),
        F.when(F.col("id") % 3 == 0, F.lit("insert"))
        .when(F.col("id") % 3 == 1, F.lit("update_postimage"))
        .otherwise(F.lit("delete"))
        .alias("_change_type"),
    )
    fvb = filter_view_batch(
        fch, "v > 0.5 and grp <> 'x'",
        [("user_id", "user_id"), ("grp", "grp"), ("v", "v")],
        ["user_id"], end=3,
    )
    p = formatted(fvb)
    all_ok &= audit(
        "filter_view_fold_map_only",
        fvb,
        {
            "no exchange (row-local fold)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 0,
            "no join, no aggregate":
                "Join" not in p and "Aggregate" not in p,
        },
        out,
    )

    # 18. max-view recompute-on-invalidate: the rescan is semi-join
    #     narrowed to invalidated groups; aggregates stay hash-based
    from chunjun_spark.operators.ivm import apply_changes_to_max

    prev_mx = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        F.lit(1).cast("long").alias("n_live"),
        F.rand(4).alias("max_value"),
    )
    src_live = spark.range(500).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        F.rand(6).alias("v"),
    )
    mx = apply_changes_to_max(prev_mx, chg, src_live, ["grp"], "v")
    p = formatted(mx)
    all_ok &= audit(
        "max_view_recompute_on_invalidate",
        mx,
        {
            "rescan narrowed by LeftSemi on invalidated groups":
                "LeftSemi" in p,
            "HashAggregate, never SortAggregate":
                "HashAggregate" in p and "SortAggregate" not in p,
        },
        out,
    )

    # 20. restore-mode filter: a row-local seek, never a join/shuffle
    import tempfile

    from chunjun_spark.operators.merge import restore_filter
    from chunjun_spark.sources.binlog import generate_binlog

    bl_dir = tempfile.mkdtemp(prefix="cj_audit_binlog_")
    generate_binlog(spark, 5000, n_keys=1000, seed=1).write.mode(
        "overwrite"
    ).parquet(bl_dir)
    rf = restore_filter(
        spark.read.parquet(bl_dir), {"0": 100, "1": 200, "2": 300}
    )
    p = formatted(rf)
    all_ok &= audit(
        "restore_filter_map_only",
        rf,
        {
            "zero exchanges (offsets fold into a literal map, no join)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 0,
            "single scan (the seek is one filter over the source pass)":
                len(re.findall(r"\(\d+\) Scan parquet", p)) == 1,
            "whole-stage codegen covers the filter (starred node with a "
            "codegen id — 'WholeStageCodegen' is not spelled out in "
            "formatted mode)":
                re.search(r"\* Filter.*\n?", p) is not None
                and "[codegen id :" in p,
        },
        out,
    )

    # 21. partial compaction: folded/disjoint delta FILES never open
    from chunjun_spark.plans.lake import OP_COL, VSEQ_COL, VTS_COL, LakeTable
    from pyspark.sql import types as T

    pc_root = tempfile.mkdtemp(prefix="cj_audit_pc_")
    pct = LakeTable.create(
        spark, pc_root,
        T.StructType([T.StructField("k", T.StringType()),
                      T.StructField("v", T.LongType())]),
        pk=["k"], n_buckets=8,
    )

    def _chg(keys):
        return spark.createDataFrame(
            [(k, 1) for k in keys], "k string, v long"
        ).select(
            "k", "v", F.lit("UPSERT").alias(OP_COL),
            F.lit("2024-01-01").cast("timestamp").alias(VTS_COL),
            F.monotonically_increasing_id().alias(VSEQ_COL),
        )

    # two keys guaranteed to land in different buckets
    ka, kb = "alpha", "bravo"
    ba, bb = [
        r[0] for r in spark.createDataFrame([(ka,), (kb,)], "k string")
        .select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")).collect()
    ]
    assert ba != bb, "pick audit keys hashing to distinct buckets"
    pct.append_delta(_chg([ka]), batch_id="dA")
    pct = pct.refresh(); pct.append_delta(_chg([kb]), batch_id="dB")
    pct = pct.refresh(); pct.append_delta(_chg([ka, kb]), batch_id="dC")
    pct = pct.refresh(); pct.compact(buckets=[ba])
    pct = pct.refresh()
    probe = pct.read(buckets=[ba])
    p = formatted(probe)
    all_ok &= audit(
        "partial_compact_delta_file_skip",
        probe,
        {
            "probe of the folded bucket opens ONLY the new base file "
            "(dA fully folded → dropped; dB disjoint and dC's live set "
            "excludes the folded bucket → both skipped)":
                len(re.findall(r"\(\d+\) Scan parquet", p)) == 1,
            "delta entries carry the folded bucket as excluded":
                any(d.get("exclude_buckets") == [ba]
                    for d in pct.manifest["deltas"]),
        },
        out,
    )

    # 22. merge_into probe: target never shuffles, source stays on the
    #     build side, and the target read is pruned to referenced columns
    from chunjun_spark.operators.merge_into import _probe, delete_where

    mi_root = tempfile.mkdtemp(prefix="cj_audit_mi_")
    mit = LakeTable.create(
        spark, mi_root,
        T.StructType([T.StructField("k", T.LongType()),
                      T.StructField("kind", T.StringType()),
                      T.StructField("v", T.DoubleType())]),
        pk=["k"], n_buckets=8,
    )
    mit.merge(spark.createDataFrame(
        [(i, "stale" if i % 3 == 0 else "live", float(i)) for i in range(200)],
        "k long, kind string, v double"), batch_id="seed")
    mit = mit.refresh()
    mi_src = spark.createDataFrame(
        [(i, "src", 9.9) for i in range(0, 200, 5)], "k long, kind string, v double"
    ).localCheckpoint(eager=True)
    probe = _probe(mit, mi_src, ["kind"], broadcast_source=True)
    p = formatted(probe)
    scan_schemas = re.findall(r"ReadSchema: struct<[^>]*>", p)
    all_ok &= audit(
        "merge_into_probe_broadcast_pruned",
        probe,
        {
            "both probe joins are broadcast (the bucketed target never "
            "shuffles; Spark can only broadcast the non-preserved outer "
            "side, hence inner-then-left instead of one outer join)":
                len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2
                and "SortMergeJoin" not in p,
            "the ONLY exchange is the pk-only source-key dedup (narrow, "
            "bounded by |source|; it guards the left join against "
            "duplicate-key row explosion) — the target scan never feeds "
            "an exchange":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1
                and "hashpartitioning(k#" in p,
            "target scan pruned to pk + referenced target columns "
            "(payload column v is NOT read)":
                bool(scan_schemas)
                and not any(",v:double" in s or "<v:double" in s
                            for s in scan_schemas),
        },
        out,
    )

    # 23. delete_where change set: predicate pushed to the scan, map-only
    mit.merge(spark.createDataFrame([], "k long, kind string, v double"),
              batch_id="noop")  # keep handle fresh
    mit = mit.refresh()
    live = mit._resolve().filter(
        ~F.coalesce(F.col("_deleted"), F.lit(False))
    ).filter(F.expr("kind = 'stale'"))
    dw = live.select("k", "kind", "v")
    p = formatted(dw)
    all_ok &= audit(
        "delete_where_pushdown_map_only",
        dw,
        {
            "predicate pushed to the parquet scan":
                "EqualTo(kind,stale)" in p,
            "zero exchanges (tombstone synthesis is row-local; only the "
            "downstream merge commit shuffles, by bucket)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 0,
            "whole-stage codegen covers the filter":
                "[codegen id :" in p,
        },
        out,
    )

    # 24. lookup enrichment: 3-hop dim chain is broadcast-only — the
    # fact side reaches the final aggregate without ANY exchange
    from chunjun_spark.operators.lookup import lookup_enrich

    ev2 = spark.read.parquet(f"{sf_dir}/events.parquet")
    le = lookup_enrich(
        ev2, spark.read.parquet(f"{sf_dir}/customer.parquet"),
        on={"user_id": "c_custkey"}, cols=["c_mktsegment", "c_nationkey"],
    )
    le = lookup_enrich(
        le, spark.read.parquet(f"{sf_dir}/nation.parquet"),
        on={"c_nationkey": "n_nationkey"}, cols=["n_regionkey"],
    )
    le = lookup_enrich(
        le, spark.read.parquet(f"{sf_dir}/region.parquet"),
        on={"n_regionkey": "r_regionkey"}, cols=["r_name"],
    )
    agg = le.groupBy("r_name", "c_mktsegment").count()
    p = formatted(agg)
    all_ok &= audit(
        "lookup_enrich_broadcast_only",
        agg,
        {
            "three BroadcastHashJoins (one per dim hop)":
                len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 3,
            "no sort-merge join anywhere":
                "SortMergeJoin" not in p,
            "the only fact-side exchange is the final rollup "
            "(BroadcastExchange carries dims, never the fact)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 1,
            "dim scans column-pruned (customer reads 3 of 5 columns)":
                "ReadSchema: struct<c_custkey:bigint,c_nationkey:int,"
                "c_mktsegment:string>" in p,
        },
        out,
    )

    # 25. code plane: doc-pair extraction is map-only; the import graph
    # broadcasts the catalog-sized owners side — the import fact stream
    # reaches the final (src, dst) rollup without ever shuffling
    from chunjun_spark.functions import code as CODE

    cfiles = CODE.synth_code_files(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    dp = CODE.doc_pairs(cfiles)
    p = formatted(dp)
    all_ok &= audit(
        "code_doc_pairs_map_only",
        dp,
        {
            "zero exchanges (regex sweep + array-granularity group "
            "extraction + explode are all row-local)":
                len(re.findall(r"\(\d+\) Exchange", p)) == 0,
            "whole-stage codegen covers the row path":
                "[codegen id :" in p,
        },
        out,
    )
    ig = CODE.import_graph(cfiles)
    p = formatted(ig)
    all_ok &= audit(
        "code_import_graph_broadcast_only",
        ig,
        {
            "owners joined via one BroadcastHashJoin":
                len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1,
            "no sort-merge join": "SortMergeJoin" not in p,
            "exactly two hash exchanges: the owners distinct (broadcast "
            "side, catalog-sized) and the final edge rollup — the "
            "import facts never shuffle":
                len(re.findall(r"\(\d+\) Exchange", p)) == 2,
        },
        out,
    )

    # time-partitioned lake: a ts-range scan must prune whole partition
    # DIRECTORIES (PartitionFilters on the hidden _p_day column), not
    # just row groups — the TimePartitionFormat parity check
    import tempfile

    import pyspark.sql.types as T
    from chunjun_spark.plans.lake import LakeTable

    tp_root = tempfile.mkdtemp(prefix="plan_audit_tp_") + "/lake"
    tp_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("v", T.DoubleType()),
    ])
    tpt = LakeTable.create(
        spark, tp_root, tp_schema, pk=["k"], n_buckets=4,
        partition_exprs=[("day", "date_trunc('day', ts)", "ts")],
    )
    tpt.merge(
        spark.range(0, 2000).select(
            F.col("id").alias("k"),
            F.expr("timestamp_ntz'2024-01-01' + make_interval(0,0,0,0,0,0,id*3600)").alias("ts"),
            (F.col("id") * 1.0).alias("v"),
            F.lit("UPSERT").alias("_op"),
            F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id)").alias("_vts"),
            F.col("id").alias("_vseq"),
        ),
        batch_id="audit",
    )
    tpt = tpt.refresh()
    tq = tpt.scan(between={"ts": ("2024-01-10 00:00:00", "2024-01-12 23:59:59")})
    p = formatted(tq)
    pf_lines = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    all_ok &= audit(
        "time_partition_pruning",
        tq,
        {
            "scan carries PartitionFilters on the hidden _p_day column":
                any("_p_day" in ln for ln in pf_lines),
            "both range bounds reached the directory filter":
                any(">=" in ln and "<=" in ln and "_p_day" in ln
                    for ln in pf_lines),
            "residual ts predicate still pushed to the data scan":
                "PushedFilters" in p and "ts" in p,
        },
        out,
    )

    # 24. equality-delete resolve (deltas-free): the wide base payload
    #     must stay MAP-ONLY — delete entries applied via a BROADCAST
    #     join, never a keep-last shuffle of the payload (r5)
    eqt = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="cj_audit_eqdel_"),
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]),
        pk=["k"], n_buckets=4, equality_deletes=True,
    )
    eqt.merge(
        spark.range(0, 2000).select(
            F.col("id").alias("k"),
            F.repeat(F.lit("x"), 64).alias("payload"),
            F.lit("UPSERT").alias("_op"),
            F.lit("2024-01-01").cast("timestamp").alias("_vts"),
            F.col("id").alias("_vseq"),
        ),
        batch_id="a1", assume_unique_keys=True,
    )
    eqt.refresh().merge(
        spark.range(0, 2000, 3).select(
            F.col("id").alias("k"),
            F.lit(None).cast("string").alias("payload"),
            F.lit("DELETE").alias("_op"),
            F.lit("2024-01-02").cast("timestamp").alias("_vts"),
            (F.col("id") + 10_000).alias("_vseq"),
        ),
        batch_id="a2", assume_unique_keys=True,
    )
    eqt = eqt.refresh()
    eqr = eqt.read()
    p = formatted(eqr)
    # size estimates off: every join must still broadcast its SMALL
    # side (the entry winners), never fall back to a sort-merge join
    # against the base
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_no_auto = formatted(eqt.read())
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    all_ok &= audit(
        "equality_delete_anti_join_resolve",
        eqr,
        {
            "deltas-free live read (delete entries only)":
                not eqt.manifest["deltas"] and bool(eqt.delete_files),
            # the live read is the base ANTI JOIN the unfolded entries:
            # one broadcast build, the base payload map-only
            "exactly one BroadcastExchange":
                len(re.findall(r"\(\d+\) BroadcastExchange", p)) == 1,
            "no shuffle Exchange":
                len(re.findall(r"\(\d+\) Exchange", p)) == 0,
            "no aggregate (entries never fold on a live read)":
                "HashAggregate" not in p and "SortAggregate" not in p,
            "delete entries applied via broadcast join (no SortMergeJoin)":
                "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
            "still broadcast-only with autoBroadcastJoinThreshold=-1 "
            "(explicit small-side build)":
                "BroadcastHashJoin" in p_no_auto
                and "SortMergeJoin" not in p_no_auto,
            "no keep-last window over the payload":
                "Window" not in p,
        },
        out,
    )

    # 25. MOR resolve with outstanding deltas: the change side (delta
    #     rows) folds to winners that apply to the base by broadcast
    #     joins — no base payload column feeds any exchange
    mort = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="cj_audit_mor_"),
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]),
        pk=["k"], n_buckets=4,
    )
    mort.merge(
        spark.range(0, 2000).select(
            F.col("id").alias("k"),
            F.repeat(F.lit("x"), 64).alias("payload"),
            F.lit("UPSERT").alias("_op"),
            F.lit("2024-01-01").cast("timestamp").alias("_vts"),
            F.col("id").alias("_vseq"),
        ),
        batch_id="m1", assume_unique_keys=True,
    )
    for i, op in enumerate(("UPSERT", "DELETE")):
        mort.refresh().append_delta(
            spark.range(i, 2000, 7).select(
                F.col("id").alias("k"),
                F.repeat(F.lit("y"), 64).alias("payload"),
                F.lit(op).alias("_op"),
                F.lit("2024-01-02").cast("timestamp").alias("_vts"),
                (F.col("id") + 10_000 * (i + 1)).alias("_vseq"),
            ),
            batch_id=f"d{i}",
        )
    mort = mort.refresh()
    morr = mort.read()
    p = formatted(morr)
    # the broadcast of every change row's (pk, version) feeds the base
    # anti-join and both "newer base" joins: ONE build, the others use
    # ReusedExchange (static planning shows the reuse rule's result;
    # adaptive execution reuses the same way through its stage cache)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p_static = formatted(mort.read())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    version_builds = [
        i for i, inp in re.findall(
            r"\((\d+)\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]",
            p_static)
        if "_c_vts" in inp
    ]
    reuses = re.findall(
        r"\(\d+\) ReusedExchange \[Reuses operator id: (\d+)\]", p_static)
    ex_inputs = re.findall(
        r"\(\d+\) (?:Broadcast)?Exchange\nInput \[\d+\]: \[([^\]]*)\]", p
    )
    all_ok &= audit(
        "mor_delta_resolve",
        morr,
        {
            "deltas outstanding (the resolve path, not a plain scan)":
                len(mort.manifest["deltas"]) == 2,
            "no payload column in any Exchange input (base and delta "
            "payloads stay map-only; only (pk, version, rid) narrow "
            "sides shuffle or broadcast)":
                bool(ex_inputs)
                and not any("payload#" in inp for inp in ex_inputs),
            "change winners applied via broadcast joins, no window":
                "BroadcastHashJoin" in p and "SortMergeJoin" not in p
                and "Window" not in p,
            "change-version broadcast built once, reused by the other "
            "joins (ReusedExchange)":
                len(version_builds) == 1
                and reuses.count(version_builds[0]) >= 1,
        },
        out,
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md", flush=True)
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
