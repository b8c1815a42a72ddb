"""Record the benchmark baseline: repeated runs per workload, their
medians and quartile spreads, the traced layer split, and which count
metrics repeat exactly.

    python3 perfbench/baseline.py --seeds 1-10 --traced-seeds 1,1,2 \\
        [--workloads unify,query_mix,curate] [--out perfbench/BASELINE.json]

Runs from the repository root, one benchmark process at a time.
Each invocation appends one set of untraced runs per workload: every
run's metrics, wall and stamps, and the set's median, quartiles and
``spread`` = (q3 - q1) / median, the figure ``BENCHMARK.json`` bounds
apply to. Traced runs give the per-layer split (the first traced run's
values) and the count check: a count metric is ``exact`` when every
traced run of that seed printed the same value, and ``seed_invariant``
when all traced seeds agree too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in filter(None, spec.split(",")):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return out


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run; the result line plus the run's diagnostic
    stamps (from its stderr) and wall."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    for line in out.stderr.splitlines():
        if line.startswith('{"stamps"'):
            res["stamps"] = json.loads(line)["stamps"]
    res["run_wall_s"] = time.time() - t0
    return res


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def count_check(runs: list[tuple[int, dict]], units: dict[str, str]) -> dict:
    """Per count metric: does it repeat exactly for a seed, and across
    seeds? Non-repeating counts get their spread."""
    out = {}
    for name, unit in units.items():
        if unit not in ("count", "B"):
            continue
        by_seed: dict[int, set] = {}
        for seed, res in runs:
            by_seed.setdefault(seed, set()).add(res["metrics"][name]["value"])
        values = [res["metrics"][name]["value"] for _, res in runs]
        exact = all(len(v) == 1 for v in by_seed.values())
        rec = {"exact": exact, "seed_invariant": exact and len(set(values)) == 1,
               "values": values}
        if not exact:
            rec["spread"] = summarize(values)["spread"]
        out[name] = rec
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default="1,1,2")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=os.path.join(HERE, "BASELINE.json"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    import run

    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    result = {"run_seconds": spec["run_seconds"], "nproc": len(os.sched_getaffinity(0)),
              "workloads": {}}
    if os.path.exists(args.out):
        with open(args.out) as f:
            result["workloads"] = json.load(f).get("workloads", {})
    for wl in workloads:
        rec: dict = {}
        seeds = _seeds(args.seeds)
        if seeds:
            runs = [_run(wl, s, spec["run_seconds"], 0) for s in seeds]
            # every set of runs is kept: one row per run, then its summary
            rec["sets"] = result["workloads"].get(wl, {}).get("sets", []) + [{
                "seeds": seeds,
                "correct": all(r["correct"] for r in runs),
                "runs": [{"seed": s, "wall_s": r["run_wall_s"], "stamps": r.get("stamps"),
                          **{m: v["value"] for m, v in r["metrics"].items()}}
                         for s, r in zip(seeds, runs)],
                "end_to_end": {m: summarize([r["metrics"][m]["value"] for r in runs])
                               for m in run.END_TO_END},
            }]
        traced = _seeds(args.traced_seeds)
        if traced:
            truns = [(s, _run(wl, s, spec["run_seconds"], 1)) for s in traced]
            rec["traced_seeds"] = traced
            rec["per_layer"] = {m: v["value"] for m, v in truns[0][1]["metrics"].items()}
            rec["counts"] = count_check(truns, run.PER_LAYER)
        result["workloads"][wl] = {**result["workloads"].get(wl, {}), **rec}
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(wl, json.dumps(rec["sets"][-1]["end_to_end"] if "sets" in rec else {},
                             sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
