"""Steadiness table: run each workload on seeds 1..10 and report, per
end-to-end metric, the median, quartiles, min-max and the quartile
spread ((Q3 - Q1) / median) next to the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py [--traced]

Writes ``perfbench/results/steadiness.json`` (every run's metrics) and
``perfbench/results/steadiness.md`` (the table). ``--traced`` adds one
traced run per workload: its per-layer metrics, and the tracing overhead
as the traced run's end-to-end figures against the untraced medians.
Exits 1 when a run fails or any spread exceeds its bound.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402

SEEDS = range(1, 11)
OUT = os.path.join(HERE, "results", "steadiness")


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or len(lines) < 2:  # 1: ran, but an output was wrong
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["detail"] = json.loads(lines[-2])["detail"]
    out["wall_s"] = time.perf_counter() - t
    out["seed"] = seed
    return out


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "spread": quartile_spread(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    runs: dict[str, list] = {}
    for w in workloads:
        runs[w] = []
        for seed in SEEDS:
            r = run_once(w, seed, bench["run_seconds"])
            runs[w].append(r)
            print(w, r["seed"], f'{r["wall_s"]:.1f}s', {k: round(v["value"], 3) for k, v in r["metrics"].items()},
                  file=sys.stderr, flush=True)

    ok = True
    lines = [
        f"Steadiness: {len(SEEDS)} runs per workload, seeds {SEEDS[0]}..{SEEDS[-1]}, "
        f"run_seconds {bench['run_seconds']}. spread = (Q3 - Q1) / median.",
        "",
        "| workload | metric | unit | median | Q1 | Q3 | min | max | spread | bound | spread <= bound/3 |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    table = {}
    for w, rs in runs.items():
        ok &= all(r["correct"] and r["failed"] == 0 for r in rs)
        # the gated metrics, then the ones a run computes but BENCHMARK.json leaves out
        for name in [*bounds, *(k for k in rs[0]["detail"]["e2e"] if k not in bounds)]:
            s = summarize([r["detail"]["e2e"][name] for r in rs])
            table.setdefault(w, {})[name] = s
            spec = bounds.get(name)
            if spec is None:
                lines.append(f"| {w} | {name} (not gated) | | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                             f"{s['min']:.4g} | {s['max']:.4g} | {s['spread']:.3f} | | |")
                continue
            ok &= s["spread"] <= spec["bound"]
            lines.append(
                f"| {w} | {name} | {spec['unit']} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                f"{s['min']:.4g} | {s['max']:.4g} | {s['spread']:.3f} | {spec['bound']} | "
                f"{'yes' if s['spread'] <= spec['bound'] / 3 else 'NO'} |"
            )
        walls = [r["wall_s"] for r in rs]
        lines.append(f"| {w} | (run wall time) | s | {statistics.median(walls):.4g} | | | {min(walls):.4g} | "
                     f"{max(walls):.4g} | | | |")
    traced = {}
    if args.traced:
        seed = SEEDS[0]
        lines += ["", f"Traced run per workload (seed {seed}); overhead = traced / untraced median - 1.",
                  "", "| workload | metric | traced | untraced median | overhead |", "|---|---|---|---|---|"]
        for w in workloads:
            r = run_once(w, seed, bench["run_seconds"], trace=1)
            ok &= r["correct"] and r["failed"] == 0
            overhead = {k: v / table[w][k]["median"] - 1 for k, v in r["detail"]["e2e"].items()}
            traced[w] = {"layers": r["metrics"], "e2e": r["detail"]["e2e"], "overhead": overhead}
            lines += [f"| {w} | {k} | {r['detail']['e2e'][k]:.4g} | {table[w][k]['median']:.4g} | {overhead[k]:+.3f} |"
                      for k in overhead]
        lines += ["", "| per-layer metric | unit | " + " | ".join(workloads) + " |",
                  "|---|---|" + "---|" * len(workloads)]
        for m in bench["per_layer"]:
            vals = " | ".join(f"{traced[w]['layers'][m['name']]['value']:.4g}" for w in workloads)
            lines.append(f"| {m['name']} | {m['unit']} | {vals} |")

    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT + ".json", "w") as f:
        json.dump({"runs": runs, "summary": table, "traced": traced}, f, indent=1)
    with open(OUT + ".md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
