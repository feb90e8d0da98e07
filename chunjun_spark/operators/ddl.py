"""DDL-event-driven schema evolution.

Reference analog: ChunJun's schema-evolution surface is
create-table/partition-on-demand in the Hive writer
(flinkx-hive/.../HiveOutputFormat.java:321-340 ``checkCreateTable``,
HiveUtil.java:42-43,105-145) — DDL-by-configuration, applied as events
for new tables arrive. The north star generalizes this to real column
evolution: DDL events in the change stream drive lake-table
``add_column`` / ``rename_column`` / ``widen_type`` updates.

DDL events ride the same changelog as data events (``op='DDL'``, the
action JSON in the ``ddl`` column) so they are totally ordered with the
data by (op_ts, seq) — the property that makes replay deterministic.

Apply rule per batch: DDLs first (in seq order), then the data merge.
This is exact because every supported evolution is backward compatible —
rows produced under the old schema remain valid under the new one
(added column reads NULL, widen is a supertype cast, rename is by stable
column id, a dropped column is simply no longer projected) — while rows
produced under the NEW schema require it to be applied before the merge
projects them. ``drop_column`` follows Iceberg's never-reuse-id rule: a
later ``add_column`` with the same NAME takes a fresh field id, so the
dropped column's values never resurface out of old data files.
"""

from __future__ import annotations

import json

from chunjun_spark.plans.lake import LakeTable


def ddl_event(
    seq: int,
    op_ts,
    action: str,
    table_name: str = "repo_files",
    **kw,
) -> dict:
    """Build one DDL event row (dict form, for test/generator use)."""
    return {
        "op": "DDL",
        "schema_name": "lake",
        "table_name": table_name,
        "op_ts": op_ts,
        "seq": seq,
        "snowflake_ts": None,
        "partition_id": 0,
        "offset": seq,
        "before": None,
        "after": None,
        "ddl": json.dumps({"action": action, **kw}),
    }


def final_column_name(name: str, later_specs: list) -> str | None:
    """Resolve what a column named ``name`` is called AFTER the rest of
    an ordered DDL window runs: follow renames, ``None`` if dropped.
    This is how re-delivery idempotence handles an action whose column a
    LATER action in the same window renamed — the action's effect is
    checked under its final name, not the (now vanished) original."""
    for s in later_specs:
        if s["action"] == "rename_column" and s["old"] == name:
            name = s["new"]
        elif s["action"] == "drop_column" and s["name"] == name:
            return None
    return name


def apply_ddl_events(table: LakeTable, ddl_rows: list) -> LakeTable:
    """Apply collected DDL rows in (op_ts, seq) order; idempotent —
    an action that is already reflected in the current schema (same
    column present / already renamed / already widened) is skipped, so a
    replayed micro-batch cannot fail on its second delivery."""
    rows = sorted(ddl_rows, key=lambda r: (r["op_ts"], r["seq"]))
    specs = [json.loads(r["ddl"]) for r in rows]
    for i, r in enumerate(rows):
        spec = specs[i]
        action = spec["action"]
        names = table.schema.names()
        try:
            if action == "add_column":
                # idempotence under whole-window re-delivery: the added
                # column may have been renamed by a LATER action in this
                # same window — check presence under its FINAL name. A
                # final name of None (added then dropped in one window)
                # is a net no-op on both deliveries: DDL all applies
                # before the data merge, so nothing can reference it.
                final = final_column_name(spec["name"], specs[i + 1:])
                if final is None or final in names:
                    continue
                table.apply_ddl("add_column", name=spec["name"], type=spec["type"])
            elif action == "rename_column":
                # old gone = already applied (and possibly renamed AGAIN
                # by a later action in this same ordered window, so new
                # may be gone too) — in a totally-ordered changelog a
                # vanished source column always means superseded; the
                # first delivery would have failed on corrupt DDL
                if spec["old"] not in names:
                    continue
                table.apply_ddl("rename_column", old=spec["old"], new=spec["new"])
            elif action == "widen_type":
                cur = {f["name"]: f["type"] for f in table.schema.fields}
                if cur.get(spec["name"]) == spec["type"]:
                    continue
                if spec["name"] not in cur:
                    continue  # superseded by a later rename/drop (above)
                table.apply_ddl("widen_type", name=spec["name"], type=spec["type"])
            elif action == "drop_column":
                if spec["name"] not in names:
                    continue
                table.apply_ddl("drop_column", name=spec["name"])
            else:
                raise ValueError(f"unknown ddl action {action!r}")
        finally:
            table = table.refresh()
    return table
