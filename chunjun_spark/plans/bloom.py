"""Bloom-filter file-skipping index for non-bucket-key point lookups.

The Iceberg puffin-blob / Delta bloom-filter-index analog
(reference parallel: ChunJun prunes JDBC source reads with splits and
incremental predicates — flinkx-rdb QuerySqlBuilder.java — but has no
lake-side secondary index; this is the Spark-first extension for the
lake it writes).

Shape
-----
Per (bucket, column) a blocked bloom filter over the column's values,
stored SPARSELY as parquet rows ``(bucket, fid, lane, bits)`` where
``lane = position div 64`` and ``bits`` is the OR of the 64-bit masks in
that lane.  The index lives under ``data/v{N}-idx-*/bloom.parquet``
beside the snapshot's data dirs and is referenced from the manifest
(``bloom_index``), so commits stay atomic (a crash leaves an orphan dir
that vacuum GCs, never a broken snapshot) and time travel / rollback
keep the matching index version.

Scale design
------------
- The BUILD is one distributed job over the bucket files being written
  anyway (column-pruned to the bloom columns): per row k positions →
  narrow (bucket, fid, lane, mask) rows → ``bit_or`` aggregate with
  map-side partial combine. No driver-side bitsets, no collect.
- The PROBE reads only the k·|values| lanes it needs: row-group stats
  on the lane-sorted index parquet prune everything else, and the
  collected slice is ≤ n_buckets × k rows per value.
- Index size is ≤ min(k·rows, n_bits/64) lanes per (bucket, col) —
  ~1 % of table size at the default 2^20 bits — and is rewritten only
  when base buckets are rewritten (merge/compact), never per delta.

Hashing uses Spark's own ``xxhash64`` computed BY SPARK on both the
harvest and probe sides (the probe evaluates the hash over literal
values with the column's current type, folded on the driver by
``lake.literal_rows``), so driver and executor can never disagree —
same rule as ``LakeTable._buckets_for_key_tuples``.
Double-hash scheme (Kirsch-Mitzenmacher): position_i = (h1 + i*h2) mod m
with h1 = xxhash64(col), h2 = xxhash64(col, SEED2).

Soundness contract mirrors min/max stats pruning: bloom pruning applies
only when the delta chain is EMPTY (a delta may carry a live row whose
value the base blooms never saw), only for buckets the index COVERS,
and every predicate is re-applied as a residual filter by ``scan``.
"""
from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# second hash stream: any fixed literal mixed into xxhash64 works; the
# golden-ratio constant is the conventional pick
_SEED2 = 0x9E3779B9

DEFAULT_BITS = 1 << 20
DEFAULT_K = 5

_IDX_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("fid", T.IntegerType()),
        T.StructField("lane", T.IntegerType()),
        T.StructField("bits", T.LongType()),
    ]
)


def _h_cols(c: F.Column, n_bits: int):
    """(h1, h2) both already reduced mod n_bits (ANSI-safe: the k-step
    combination h1 + i*h2 then stays far below 2^63)."""
    m = F.lit(int(n_bits))
    return (
        F.pmod(F.xxhash64(c), m),
        F.pmod(F.xxhash64(c, F.lit(_SEED2)), m),
    )


def _positions(h1: F.Column, h2: F.Column, n_bits: int, k: int) -> F.Column:
    m = F.lit(int(n_bits))
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, m) for i in range(int(k))])


# position p → (lane, bit) — shiftleft with a column shift amount needs
# the SQL form (the PySpark wrapper only takes a literal)
_LANE_SQL = "CAST(p DIV 64 AS INT)"
_BIT_SQL = "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"


def _lane_mask(df: DataFrame) -> DataFrame:
    return df.select(
        "bucket",
        "fid",
        F.expr(_LANE_SQL).alias("lane"),
        F.expr(_BIT_SQL).alias("bit"),
    )


def _resolve_fids(manifest: dict) -> dict[str, int]:
    """bloom-configured column name → stable field id (ids survive
    renames; the config list itself is remapped by apply_ddl)."""
    fields = manifest["schemas"][str(manifest["schema_version"])]
    by_name = {f["name"]: f["id"] for f in fields}
    return {
        c: by_name[c]
        for c in manifest.get("bloom_cols") or []
        if c in by_name
    }


def build_rows(
    df: DataFrame, manifest: dict, bucket_col: str
) -> DataFrame | None:
    """Sparse index rows for every bloom column present in ``df`` — in
    ONE scan of the input: per-column hashes are staged as attributes
    (so each xxhash64 evaluates once, not once per position), every
    column contributes a typed array of (fid, position) structs (empty
    for NULL values), and the flattened union explodes into
    (bucket, fid, lane, mask) rows folded by ``bit_or`` with map-side
    partial aggregation.  A union-of-per-column-scans form read the
    just-written files B times for B columns — pure waste on the
    ingest hot path.
    """
    fids = _resolve_fids(manifest)
    n_bits = int(manifest.get("bloom_bits") or DEFAULT_BITS)
    k = int(manifest.get("bloom_k") or DEFAULT_K)
    cols = [(c, int(fid)) for c, fid in fids.items() if c in df.columns]
    if not cols:
        return None
    hash_cols = []
    for c, fid in cols:
        h1, h2 = _h_cols(F.col(c), n_bits)
        notnull = F.col(c).isNotNull()
        hash_cols.append(F.when(notnull, h1).alias(f"_h1_{fid}"))
        hash_cols.append(F.when(notnull, h2).alias(f"_h2_{fid}"))
    staged = df.select(
        F.col(bucket_col).cast("int").alias("bucket"), *hash_cols
    )
    arr_t = "array<struct<fid:int,p:bigint>>"
    empty = F.expr(f"CAST(array() AS {arr_t})")
    arrs = []
    for c, fid in cols:
        h1 = F.col(f"_h1_{fid}")
        h2 = F.col(f"_h2_{fid}")
        pos = F.array(
            *[
                F.struct(
                    F.lit(fid).alias("fid"),
                    F.pmod(h1 + F.lit(i) * h2, F.lit(int(n_bits))).alias("p"),
                )
                for i in range(k)
            ]
        )
        arrs.append(F.when(h1.isNotNull(), pos).otherwise(empty))
    exploded = staged.select(
        "bucket", F.explode(F.flatten(F.array(*arrs))).alias("_m")
    ).select(
        "bucket", F.col("_m.fid").alias("fid"), F.col("_m.p").alias("p")
    )
    return (
        _lane_mask(exploded)
        .groupBy("bucket", "fid", "lane")
        .agg(F.bit_or("bit").alias("bits"))
    )


def refresh_index(
    spark: SparkSession,
    root: str,
    prev_manifest: dict,
    new_manifest: dict,
    out_dir: str,
    bucket_col: str,
    rewritten: set[int],
    removed: set[int] = frozenset(),
    full: bool = False,
) -> None:
    """Recompute bloom rows for the buckets this commit rewrote and
    carry the previous index forward for untouched buckets; records the
    result in ``new_manifest['bloom_index']``. Called from the lake
    snapshot producer's one base rewrite (``LakeTable._rewrite_base``,
    which COW merge, full and partial compact share) after the data
    write, before the manifest commit — a crash in between
    leaves an unreferenced index dir for vacuum, never a bad snapshot.

    Coverage bookkeeping: ``buckets`` lists the bucket ids whose base
    files the index fully describes; ``fids`` the field ids it answers
    for.  A probe on anything else falls back to no-pruning.  When the
    configured columns changed since the previous index, carried-over
    buckets only answer for the INTERSECTION of old and new fids —
    full coverage of a new column arrives at the next full compact.
    """
    if not new_manifest.get("bloom_cols"):
        new_manifest.pop("bloom_index", None)
        return
    n_bits = int(new_manifest.get("bloom_bits") or DEFAULT_BITS)
    k = int(new_manifest.get("bloom_k") or DEFAULT_K)
    fresh_fids = sorted(_resolve_fids(new_manifest).values())
    if not fresh_fids:
        new_manifest.pop("bloom_index", None)
        return

    frames = []
    if rewritten:
        data = spark.read.parquet(out_dir)
        fresh = build_rows(data, new_manifest, bucket_col)
        if fresh is not None:
            frames.append(fresh)
    covered = set(rewritten) - set(removed)
    fids = fresh_fids

    prev = None if full else prev_manifest.get("bloom_index")
    if prev is not None and (
        int(prev.get("bits", -1)) != n_bits or int(prev.get("k", -1)) != k
    ):
        prev = None  # parameter change invalidates carried lanes
    if prev is not None:
        carry = (set(prev["buckets"]) - set(rewritten)) - set(removed)
        # narrow the claimed fids ONLY when buckets are actually carried:
        # carried base files were harvested under the previous fid set,
        # so the merged index can only answer for the intersection — but
        # a commit that rewrote everything claims the full fresh set,
        # which is how a widen-invalidated column regains coverage from
        # ordinary merges, not just full compacts
        inter = sorted(set(prev["fids"]) & set(fresh_fids))
        if carry and inter:
            fids = inter
            old = (
                spark.read.parquet(os.path.join(root, prev["path"]))
                .where(
                    F.col("bucket").isin(sorted(carry))
                    & F.col("fid").isin(fids)
                )
            )
            frames.append(old)
            covered |= carry
        # carry empty or nothing carryable: fresh-only coverage keeps
        # the full fresh fid set (covered stays = rewritten buckets)
    if not frames or not fids or not covered:
        new_manifest.pop("bloom_index", None)
        return

    merged = frames[0]
    for extra in frames[1:]:
        merged = merged.unionByName(extra)
    rel = os.path.join(
        "data", f"v{new_manifest['version']}-idx-{uuid.uuid4().hex[:8]}"
    )
    path = os.path.join(root, rel)
    n_buckets = int(new_manifest["n_buckets"])
    # spread the write across tasks without a sampling pass; lane-sorted
    # files keep the probe's (fid, lane) pushdown row-group-tight
    merged.repartition(max(1, n_buckets // 16), F.col("bucket")) \
        .sortWithinPartitions("fid", "lane") \
        .write.mode("overwrite").parquet(path)
    new_manifest["bloom_index"] = {
        "path": rel,
        "buckets": sorted(int(b) for b in covered),
        "fids": [int(f) for f in fids],
        "bits": n_bits,
        "k": k,
    }


def write_delta_fragment(
    spark: SparkSession,
    root: str,
    manifest: dict,
    delta_rel: str,
    bucket_col: str,
) -> dict | None:
    """Harvest a bloom FRAGMENT for one just-written MOR delta, stored
    HIDDEN inside the delta's own dir (``<delta>/_bloom`` — an
    underscore path, so data reads of the delta dir never see it, and
    vacuum's dir-level retention keeps fragment and data together for
    free).  This is what keeps point lookups pruned DURING continuous
    ingest: base-only blooms go dark the moment a delta exists, which
    is exactly the regime a 10^10-event stream lives in.  Cost: one
    column-pruned re-read of the just-written delta (bloom columns
    only) — opt-in via ``bloom_cols``.

    Returns the fragment meta recorded on the delta entry
    (``{"fids", "bits", "k"}``) or None when nothing was indexable.
    """
    fids = _resolve_fids(manifest)
    if not fids:
        return None
    n_bits = int(manifest.get("bloom_bits") or DEFAULT_BITS)
    k = int(manifest.get("bloom_k") or DEFAULT_K)
    df = spark.read.parquet(os.path.join(root, delta_rel))
    rows = build_rows(df, manifest, bucket_col)
    if rows is None:
        return None
    # micro-batch-sized: a single lane-sorted file keeps the probe's
    # (fid, lane) pushdown tight without task-scheduling overhead
    rows.coalesce(1).sortWithinPartitions("fid", "lane").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, delta_rel, "_bloom"))
    return {
        "fids": sorted(int(f) for f in fids.values()),
        "bits": n_bits,
        "k": k,
    }


def _value_lane_pairs(
    spark: SparkSession, col_type: T.DataType, values: list,
    n_bits: int, k: int,
) -> tuple[dict[int, list], list[int]]:
    """Per-value (lane, mask) probe pairs, hashed BY SPARK with the
    column's current type over an inline literal relation
    (``literal_rows``: folded on the driver, no Spark job, no table IO).
    The lane/mask split stays an array ``transform`` — an ``explode``
    would block the driver-side folding."""
    from chunjun_spark.plans.lake import literal_rows

    pv = literal_rows(
        spark,
        T.StructType(
            [T.StructField("i", T.IntegerType()),
             T.StructField("v", col_type)]
        ),
        list(enumerate(values)),
    )
    h1, h2 = _h_cols(F.col("v"), n_bits)
    rows = pv.select(
        "i", _positions(h1, h2, n_bits, k).alias("ps")
    ).select(
        "i",
        F.expr(
            f"transform(ps, p -> named_struct('lane', {_LANE_SQL}, "
            f"'mask', {_BIT_SQL}))"
        ).alias("pairs"),
    ).collect()
    by_value: dict[int, list] = {
        r["i"]: [(q["lane"], q["mask"]) for q in r["pairs"]] for r in rows
    }
    return by_value, sorted({ln for pl in by_value.values() for ln, _ in pl})


def probe_fragments(
    spark: SparkSession,
    paths: list[str],
    fid: int,
    col_type: T.DataType,
    values: list,
    n_bits: int,
    k: int,
    covered: set[int],
) -> set[int]:
    """Buckets among ``covered`` that MAY contain any of ``values``,
    judged over the union of index fragments (base index + per-delta
    fragments).  Fragments are OR-combined per (bucket, lane) before the
    k-bit test — a strict superset of the per-fragment OR-of-maybes, so
    always sound, and it lets the whole probe be ONE filtered read over
    all fragment files (row-group-pruned by the lane predicate).

    Cost: the probe positions are folded on the driver (no job), then
    one read of k·|values| lanes across the fragments; ≤ |covered| × k
    × |values| narrow rows reach the driver.
    """
    if not paths or not values or not covered:
        return set(covered)
    by_value, lanes = _value_lane_pairs(spark, col_type, values, n_bits, k)
    rows = (
        spark.read.parquet(*paths)
        .where((F.col("fid") == int(fid)) & F.col("lane").isin(lanes))
        .collect()
    )
    bits: dict[tuple, int] = {}
    for r in rows:
        key = (r["bucket"], r["lane"])
        bits[key] = bits.get(key, 0) | r["bits"]
    maybe = set()
    for b in covered:
        for pl in by_value.values():
            if all(bits.get((b, ln), 0) & mk == mk for ln, mk in pl):
                maybe.add(b)
                break
    return maybe


def probe(
    spark: SparkSession,
    root: str,
    manifest: dict,
    col_name: str,
    col_type: T.DataType,
    values: list,
) -> tuple[set[int], set[int]] | None:
    """(maybe_present_buckets, covered_buckets) for ``col = ANY(values)``
    against the BASE index alone, or None when it cannot answer (column
    not indexed, index missing, or a hash-invalidating widen since the
    build).  A bucket outside ``covered`` must never be pruned by the
    caller.  MOR-aware pruning (base + delta fragments) lives in
    ``LakeTable._prune_buckets``, which calls :func:`probe_fragments`
    with the full fragment set directly.
    """
    idx = manifest.get("bloom_index")
    if not idx or not values:
        return None
    fid = _resolve_fids(manifest).get(col_name)
    if fid is None or fid not in idx["fids"]:
        return None
    covered = {int(b) for b in idx["buckets"]}
    maybe = probe_fragments(
        spark, [os.path.join(root, idx["path"])], fid, col_type, values,
        int(idx["bits"]), int(idx["k"]), covered,
    )
    return maybe, covered
