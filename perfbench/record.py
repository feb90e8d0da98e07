"""Run the benchmark over several seeds and summarise, or compare two sets.

    python3 perfbench/record.py run --seeds 1-10 --out perfbench/baseline/set_a.json
    python3 perfbench/record.py run --seeds 1-3 --trace 1 --out perfbench/baseline/traced.json
    python3 perfbench/record.py compare perfbench/baseline/set_a.json perfbench/baseline/set_b.json

``run`` executes ``BENCHMARK.json``'s command once per (workload, seed),
sequentially, from the repository root, and stores every run's result
line plus, per workload and metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (interquartile
distance as a share of the median); its summary flags a spread at or
above a third of the metric's bound as ``WIDE`` (the steadiness target).
``compare`` applies the acceptance test: each end-to-end metric's spread
in both sets within its bound (``setup_s`` excepted: set-up is gated
only by its median, which ``compare`` checks too), and the second set's
median no worse than the first's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)
            if statistics.median(values) else None,
            "values": values}


def run(args, bench: dict) -> None:
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    raw = []
    for wl in workloads:
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace)]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 else None
            raw.append({"workload": wl, "seed": seed, "exit": p.returncode,
                        "wall_s": wall, "result": result,
                        "report": lines[:-1] if result else p.stderr[-4000:]})
            brief = "" if result is None else (
                f"correct={result['correct']} failed={result['failed']}")
            print(f"{wl} seed {seed}: exit {p.returncode} {wall:.1f}s {brief}",
                  flush=True)
    summary = {}
    for wl in workloads:
        ok = [r["result"] for r in raw if r["workload"] == wl and r["result"]]
        names = ok[0]["metrics"] if ok else {}
        summary[wl] = {
            "runs": len(ok),
            "all_correct": all(r["correct"] and r["failed"] == 0 for r in ok),
            "wall_s": summarise([r["wall_s"] for r in raw
                                 if r["workload"] == wl]),
            "metrics": {m: dict(unit=names[m]["unit"], **summarise(
                [r["metrics"][m]["value"] for r in ok])) for m in names},
        }
    out = {"trace": args.trace, "seeds": args.seeds,
           "run_seconds": bench["run_seconds"], "summary": summary,
           "raw": raw}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print_summary(out, bench)


def print_summary(rec: dict, bench: dict) -> None:
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl, s in rec["summary"].items():
        print(f"{wl}: {s['runs']} runs, all correct {s['all_correct']}, "
              f"wall median {s['wall_s']['median']:.1f}s")
        for m, v in s["metrics"].items():
            b = bounds.get(m)
            flag = ""
            if b is not None and m != "setup_s" and v["spread"] is not None:
                flag = "  ok" if v["spread"] < b / 3 else "  WIDE"
            print(f"  {m:32s} median {v['median']:12.6g} {v['unit']:6s} "
                  f"q1 {v['q1']:12.6g} q3 {v['q3']:12.6g} spread "
                  f"{(v['spread'] or 0):.3f}{flag}")


def compare(args, bench: dict) -> int:
    with open(args.first) as f:
        a = json.load(f)
    with open(args.second) as f:
        b = json.load(f)
    bad = 0
    for m in bench["end_to_end"]:
        for wl in a["summary"]:
            va = a["summary"][wl]["metrics"][m["name"]]
            vb = b["summary"][wl]["metrics"][m["name"]]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (vb["median"] - va["median"]) / va["median"]
            ok_drift = drift <= m["bound"]
            ok_spread = m["name"] == "setup_s" or max(
                va["spread"], vb["spread"]) <= m["bound"]
            bad += not (ok_drift and ok_spread)
            print(f"{wl:14s} {m['name']:22s} bound {m['bound']:.2f} "
                  f"spread {va['spread']:.3f}/{vb['spread']:.3f} "
                  f"worse-by {drift:+.3f} "
                  f"{'ok' if ok_drift and ok_spread else 'FAIL'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.cmd == "run":
        run(args, bench)
        return 0
    return compare(args, bench)


if __name__ == "__main__":
    sys.exit(main())
