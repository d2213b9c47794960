"""Steadiness of the benchmark: run every workload over many seeds and
report, per metric, the median, quartiles and relative spread
(interquartile range over median), next to the metric's bound.

    python3 ingestor_bench/steady.py --seeds 10 [--passes 2] [--trace N] > report.json

Run from the repository root. Every workload in BENCHMARK.json runs,
interleaved (seed 1 of every workload, then seed 2, ...). With ``--passes 2`` the whole sweep runs
twice and the second pass's medians are compared with the first's. With
``--trace N`` the first N seeds also get a traced run; the median of its
end-to-end numbers (from the context record) over the untraced medians
gives the tracing overhead. The command, run length and bounds come from BENCHMARK.json.
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


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = out.stdout.strip().splitlines()
    if len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {out.returncode}, "
                         "no result")
    context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
    if out.returncode != 0:
        sys.stderr.write(f"{workload} seed {seed} trace {trace}: exit {out.returncode}: "
                         f"{context['failures']}\n")
    return {"wall_s": wall, "context": context, "result": result}


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, metavar="N",
                    help="also make a traced run for the first N seeds")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(args.first_seed, args.first_seed + args.seeds)

    runs: dict[tuple[int, str, int], list[dict]] = {}
    for p in range(args.passes):
        for i, seed in enumerate(seeds):
            for w in names:
                for trace in ((0, 1) if i < args.trace else (0,)):
                    r = run_once(bench, w, seed, trace)
                    runs.setdefault((p, w, trace), []).append(r)
                    m = r["result"]["metrics"]
                    sys.stderr.write(
                        f"pass {p} seed {seed} {w} trace {trace}: wall {r['wall_s']:.1f}s "
                        + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()
                                   if trace == 0) + "\n")

    report: dict = {"argv": sys.argv[1:], "run_seconds": bench["run_seconds"],
                    "workloads": {}}
    for w in names:
        rep = report["workloads"].setdefault(w, {})
        for p in range(args.passes):
            plain = runs[(p, w, 0)]
            metrics = {}
            for name in bounds:
                s = summary([r["result"]["metrics"][name]["value"] for r in plain])
                s["bound"] = bounds[name]
                metrics[name] = s
            entry = {"metrics": metrics,
                     "wall_s": summary([r["wall_s"] for r in plain]),
                     "failed": sum(r["result"]["failed"] for r in plain),
                     "runs": [{"seed": r["context"]["seed"], "wall_s": r["wall_s"],
                               "steal_share": r["context"]["steal_share"],
                               **{k: v["value"] for k, v in r["result"]["metrics"].items()}}
                              for r in plain]}
            traced = runs.get((p, w, 1))
            if traced:
                entry["trace_overhead"] = {
                    name: statistics.median(r["context"]["end_to_end"][name] for r in traced)
                    / metrics[name]["median"] - 1.0
                    for name in bounds
                }
                entry["traced_wall_s"] = summary([r["wall_s"] for r in traced])
            rep[f"pass{p + 1}"] = entry
        if args.passes > 1:
            rep["median_shift_vs_pass1"] = {
                f"pass{p + 1}": {
                    name: rep[f"pass{p + 1}"]["metrics"][name]["median"]
                    / rep["pass1"]["metrics"][name]["median"] - 1.0
                    for name in bounds
                }
                for p in range(1, args.passes)
            }

    for w, rep in report["workloads"].items():
        for p in range(args.passes):
            e = rep[f"pass{p + 1}"]
            sys.stderr.write(f"\n{w} pass {p + 1} (wall median {e['wall_s']['median']:.1f}s, "
                             f"failed {e['failed']})\n")
            for name, s in e["metrics"].items():
                flag = "ok" if s["spread"] < s["bound"] / 3 else (
                    "within bound" if s["spread"] <= s["bound"] else "OVER BOUND")
                over = e.get("trace_overhead", {}).get(name)
                sys.stderr.write(
                    f"  {name:14s} median {s['median']:.4g}  q1 {s['q1']:.4g}  "
                    f"q3 {s['q3']:.4g}  spread {s['spread']:.3f} / bound {s['bound']}  "
                    f"{flag}" + (f"  trace overhead {over:+.3f}" if over is not None else "")
                    + "\n")
    print(json.dumps(report, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
