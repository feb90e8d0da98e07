"""Smoke-size self-tests of the benchmark itself.

    python3 perfbench/selftest.py

From the repository root. Runs ``perfbench/run.py --smoke`` (toy inputs,
same code paths) and checks that:

1. every end-to-end metric of ``BENCHMARK.json`` prints, with its unit,
   on every workload, in the human-readable report and in the result
   line, with ``correct`` true and no failed operation;
2. a ``--trace 1`` run reports every per-layer metric with its unit;
3. tracing is off unless requested: an untraced run writes no span file;
4. the DuckDB oracle rejects a corrupted copy of the final table, once
   with one row dropped and once with one content byte changed;
5. the benchmark exits non-zero, printing no result, in a directory that
   holds only ``BENCHMARK.json`` and ``perfbench/``.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures: list[str] = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for i, w in enumerate(spec["workloads"]):
        wl, seed = w["name"], 900 + i
        spans = os.path.join(ROOT, ".perfbench_runs", f"spans-{wl}-s{seed}.json")
        if os.path.exists(spans):
            os.remove(spans)
        code, out = bench("--workload", wl, "--seed", str(seed),
                          "--seconds", "4", "--trace", "0", "--smoke")
        res = json.loads(out[-1]) if code == 0 else {}
        check(code == 0 and res.get("correct") is True
              and res.get("failed") == 0 and res.get("attempted", 0) >= 1,
              f"{wl}: smoke run correct with no failed operation")
        got = res.get("metrics", {})
        check(set(got) == set(e2e) and all(
            got[m]["unit"] == u and got[m]["value"] > 0 for m, u in e2e.items()),
            f"{wl}: every end-to-end metric in the result line, with unit, > 0")
        report = "\n".join(out[:-1])
        check(all(f" {m} " in report and f" {u}" in report
                  for m, u in e2e.items()),
              f"{wl}: every end-to-end metric printed with its unit")
        check(not os.path.exists(spans), f"{wl}: untraced run writes no spans")

        code, out = bench("--workload", wl, "--seed", str(seed),
                          "--seconds", "4", "--trace", "1", "--smoke")
        res = json.loads(out[-1]) if code == 0 else {}
        got = res.get("metrics", {})
        check(code == 0 and res.get("correct") is True
              and set(got) == set(layers)
              and all(got[m]["unit"] == u for m, u in layers.items()),
              f"{wl}: traced run reports every per-layer metric with unit")
        check(os.path.exists(spans), f"{wl}: traced run writes its spans")

    for wl, how in (("trickle_mor", "drop_row"), ("catchup_eqdel", "flip_byte")):
        code, out = bench("--workload", wl, "--seed", "950", "--seconds", "4",
                          "--trace", "0", "--smoke", "--corrupt", how)
        res = json.loads(out[-1]) if code == 0 else {}
        check(code == 0 and res.get("correct") is False
              and res.get("failed", 0) >= 1,
              f"{wl}: oracle rejects the final table with {how}")

    scratch = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, out = bench("--workload", spec["workloads"][0]["name"],
                          "--seed", "1", "--seconds", "4", "--trace", "0",
                          cwd=bare)
        check(code != 0 and not out,
              "exits non-zero with no result outside a repository checkout")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed check(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
