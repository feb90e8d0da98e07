"""Property-based equality-delete maintenance: any interleaving of COW
replay windows (deletes land as narrow delete files), MOR
``append_delta`` windows, partial (hot-bucket) compactions, full
compactions and rollbacks on an ``equality_deletes=True`` table matches
a trivial fold model.

The resolve applies base ⊕ deltas ⊕ delete entries in three shapes —
the deltas-free broadcast anti-join, the anti-join plus the change-side
winner fold once deltas are outstanding, and partial compaction's fold
that leaves the delete files authoritative on top — so a drawn sequence
moves the table between all of them, and ``read()`` and a point lookup
must equal the model after every step. A final ``vacuum(keep_last=1)``
must never break the current state.
"""

import os
import uuid

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chunjun_spark.operators.merge import replay
from chunjun_spark.plans.lake import LakeTable
from chunjun_spark.sources.binlog import PAYLOAD_SCHEMA, generate_binlog

from .conftest import df_state, sha256_state
from .test_properties_lake_ops import PK, _apply


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.sampled_from(["w", "m", "pc", "fc", "rb"]),
                min_size=3, max_size=7))
def test_eqdel_op_interleavings_match_fold_model(spark, tmp_root, ops):
    run = uuid.uuid4().hex[:8]
    n, k = 4000, 500
    ev = generate_binlog(spark, n, n_keys=k, seed=29, dup_rate=0.0,
                         delete_rate=0.2).localCheckpoint(eager=True)
    n_windows = max(1, sum(1 for o in ops if o in ("w", "m")))
    bounds = [n * i // n_windows for i in range(n_windows + 1)]

    root = os.path.join(tmp_root, f"eqdelops_{run}")
    LakeTable.create(spark, root, PAYLOAD_SCHEMA, pk=PK, n_buckets=8,
                     equality_deletes=True)
    state: dict = {}
    # model state per committed version (rollback targets)
    states_by_version: dict[int, dict] = {0: {}}
    wi = 0

    for op in ops:
        t = LakeTable.load(spark, root)
        if op in ("w", "m") and wi < n_windows:
            w = ev.filter((F.col("offset") >= bounds[wi]) &
                          (F.col("offset") < bounds[wi + 1]))
            replay(w, t, batch_id=f"w{run}{wi}",
                   mode="cow" if op == "w" else "mor")
            state = _apply(state, w.collect())
            wi += 1
        elif op == "pc":
            hot = t.hot_buckets(min_deltas=1)
            t.compact(buckets=hot[: max(1, len(hot) // 2)] if hot else [])
        elif op == "fc":
            t.compact()
        elif op == "rb":
            versions = sorted(states_by_version)
            target = versions[len(versions) // 2]
            if target < t.manifest["version"]:
                t.rollback(target)
                state = dict(states_by_version[target])
        t = LakeTable.load(spark, root)
        states_by_version[t.manifest["version"]] = dict(state)
        # invariant holds after EVERY op, not just at the end
        assert sha256_state(df_state(t.read(), PK)) == sha256_state(state), (
            f"diverged after {op} (ops={ops})"
        )
        # point lookups take the key-restricted resolve
        repos = sorted({r for r, _ in state})[:2]
        if repos:
            want = {kk: v for kk, v in state.items() if kk[0] in repos}
            got = df_state(t.point_lookup(*repos), PK)
            assert sha256_state(got) == sha256_state(want), (
                f"lookup diverged after {op} (ops={ops})"
            )

    t = LakeTable.load(spark, root)
    t.vacuum(keep_last=1)
    t = LakeTable.load(spark, root)
    assert sha256_state(df_state(t.read(), PK)) == sha256_state(state)
