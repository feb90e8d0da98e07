"""Write-audit-publish over staged lake snapshots.

Iceberg WAP analog; the reference's closest machinery is its pre-commit
validation plane — the error limiter that fails a job when dirty-record
counts cross absolute/ratio caps (flinkx-core/.../ErrorLimiter.java:62-97)
and the two-phase sinks that keep data invisible until the checkpoint
commit (BaseFileOutputFormat.java:236-274, JdbcOutputFormat.java:336-390).
WAP lifts both to snapshot granularity: a whole replay window lands as a
STAGED snapshot (``LakeTable.merge(wap_id=...)``), audits run against it
with full SQL power, and only a passing snapshot is published (atomic
``_current`` CAS — the exact commit step a normal merge uses).

Audit checks are declarative dicts so they serialize into job JSON:

  {"type": "row_count_min", "value": 100}
  {"type": "row_count_max", "value": 10_000_000}
  {"type": "max_null_frac", "column": "content", "value": 0.01}
  {"type": "forbid", "predicate": "value < 0"}          # zero matching rows
  {"type": "forbid", "predicate": "...", "max_rows": 5} # bounded violations

Every check evaluates on the STAGED snapshot's read() — one pass per
``forbid`` (a codegen filter + count), one Expand-style aggregate for all
null-fraction checks together, so the audit costs O(one table scan), not
O(checks) scans.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from chunjun_spark.plans.lake import LakeTable


def audit_snapshot(table: LakeTable, checks: list[dict]) -> dict:
    """Run declarative checks against a table handle (normally a staged
    snapshot via ``LakeTable.load_staged``). Returns ``{"passed": bool,
    "violations": [...], "row_count": n}``; never raises on a failing
    check — the caller decides publish vs abandon."""
    df = table.read()
    null_cols = [c["column"] for c in checks if c["type"] == "max_null_frac"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in null_cols:
        aggs.append(
            F.avg(F.col(c).isNull().cast("double")).alias(f"_nullfrac_{c}")
        )
    row = df.agg(*aggs).collect()[0]
    n = row["_n"]
    violations: list[dict] = []
    for c in checks:
        t = c["type"]
        if t == "row_count_min":
            if n < c["value"]:
                violations.append({**c, "actual": n})
        elif t == "row_count_max":
            if n > c["value"]:
                violations.append({**c, "actual": n})
        elif t == "max_null_frac":
            frac = float(row[f"_nullfrac_{c['column']}"] or 0.0)
            if frac > c["value"]:
                violations.append({**c, "actual": round(frac, 6)})
        elif t == "forbid":
            bad = df.filter(F.expr(c["predicate"])).count()
            if bad > c.get("max_rows", 0):
                violations.append({**c, "actual": bad})
        else:
            raise ValueError(f"unknown audit check type {t!r}")
    return {"passed": not violations, "violations": violations, "row_count": n}


def audit_gate(
    table: LakeTable, wap_id: str, checks: list[dict], rebase: bool = False,
) -> tuple[dict, int, dict | None]:
    """The WAP gate shared by ``replay_wap`` and the replay stream's
    audited micro-batches: audit the staged snapshot ``wap_id``, then
    publish it on pass or abandon it on fail. Returns ``(report,
    n_changes, published)``: the audit report, the staged commit's
    ``numWrite``, and ``publish_staged``'s result (``None`` when the
    stage was abandoned)."""
    staged = LakeTable.load_staged(table.spark, table.root, wap_id)
    report = audit_snapshot(staged, checks)
    n_changes = (
        staged.manifest["lineage"].get(wap_id, {})
        .get("metrics", {}).get("numWrite", 0)
    )
    t = table.refresh()
    if report["passed"]:
        return report, n_changes, t.publish_staged(wap_id, rebase=rebase)
    t.abandon_staged(wap_id)
    return report, n_changes, None


def replay_wap(
    events,
    table: LakeTable,
    batch_id: str,
    checks: list[dict],
    mode: str = "cow",
    update_mode: str = "replace",
    rebase: bool = False,
) -> dict:
    """One-call write-audit-publish replay: stage the window under
    ``wap_id=batch_id``, then pass it through :func:`audit_gate`.
    Returns the audit report plus the outcome (``published`` /
    ``abandoned`` / ``skipped`` for an already-committed batch).
    Crash-safe at every boundary: a crash before the stage completes
    leaves only unreferenced garbage; between stage and publish it
    leaves an invisible staged snapshot, and the re-run detects it
    (``staged_ids``) and resumes at the audit step instead of
    re-staging; after publish the batch-id guard makes the whole re-run
    a no-op.

    ``rebase=True`` (with ``mode='mor'``) lets concurrent writers WAP
    the same table: a publish that loses the ``_current`` CAS replays
    the staged delta-append on the new current metadata-only
    (``LakeTable.publish_staged(rebase=True)``) instead of failing."""
    from chunjun_spark.operators.merge import replay

    if batch_id in table.committed_batches():
        # a crash between publish's pointer swap and its staged-file
        # cleanup leaves a redundant stage behind; left alone it would
        # pin its (now committed and separately referenced) data files
        # against vacuum until expire_staged fires — finish the cleanup
        if batch_id in table.staged_ids():
            table.abandon_staged(batch_id)
        return {"outcome": "skipped", "batch_id": batch_id,
                "ran_action": False}
    # ran_action tells callers observing the INPUT frame (run_job's
    # numRead Observation) whether any Spark action evaluated it this
    # call: resumed after a crash between stage and publish/abandon,
    # the gate re-audits the existing staged snapshot instead and would
    # leave such an observation waiting forever.
    ran_action = batch_id not in table.staged_ids()
    if ran_action:
        replay(events, table, batch_id=batch_id, mode=mode,
               update_mode=update_mode, wap_id=batch_id)
    report, n_changes, res = audit_gate(table, batch_id, checks, rebase)
    if res is None:
        return {"outcome": "abandoned", "batch_id": batch_id,
                "n_changes": n_changes, "ran_action": ran_action, **report}
    if res.get("skipped"):
        # a concurrent writer landed this very batch id between the
        # stage and the publish — exactly-once degrades to the skip
        return {"outcome": "skipped", "batch_id": batch_id,
                "ran_action": ran_action, **report}
    return {"outcome": "published", "version": res["version"],
            "batch_id": batch_id, "n_changes": n_changes,
            "ran_action": ran_action, "rebased": bool(res.get("rebased")),
            **report}
