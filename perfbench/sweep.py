"""Repeat the benchmark over seeds and summarize its steadiness.

    python3 perfbench/sweep.py --workloads interactive_mix minutely_pipeline --seeds 1-10
    python3 perfbench/sweep.py --workloads minutely_pipeline --seeds 1-5 --traced 1

For each workload and end-to-end metric it prints the median and the
quartile spread (Q3 - Q1 of ``statistics.quantiles(n=4)``) as a share
of the median, next to the metric's bound from BENCHMARK.json. With
``--traced N`` it also makes N traced runs per workload and reports the
tracing overhead of each end-to-end metric: the traced run's value
minus the untraced median. Raw results go to
``.perfbench_work/sweep-<time>.json``.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = [line for line in proc.stdout.splitlines() if line.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    return {"env": json.loads(lines[-2]), "result": json.loads(lines[-1]), "wall_s": wall}


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--workloads", nargs="+", required=True)
    parser.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    parser.add_argument("--traced", type=int, default=0)
    args = parser.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    record: dict = {}
    for w in args.workloads:
        runs, traced = [], []
        # traced runs are spread among the untraced ones, so slow drift
        # of the host does not read as tracing overhead
        every = max(len(args.seeds) // (args.traced + 1), 1) if args.traced else 0
        for i, seed in enumerate(args.seeds):
            r = run_once(w, seed, seconds, 0)
            runs.append(r)
            res = r["result"]
            values = " ".join(f"{k} {v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s, correct={res['correct']} "
                  f"attempted {res['attempted']} failed {res['failed']}, "
                  f"canary {r['env']['env']['canary_s']}, "
                  f"steal {r['env']['env']['cpu_steal_s']} s, {values}", flush=True)
            if every and (i + 1) % every == 0 and len(traced) < args.traced:
                traced.append(run_once(w, seed, seconds, 1))
                print(f"{w} seed {seed} traced: {traced[-1]['wall_s']:.1f} s", flush=True)
        record[w] = {"untraced": runs, "traced": traced}
        print(f"\n{w}: {len(runs)} runs, median run wall "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med, sp = spread(vals)
            flag = "ok" if sp <= bound / 3 else "WIDE"
            line = f"  {name:16s} median {med:10.4f}  spread {sp:6.3f}  bound {bound:5.2f}  {flag}"
            if traced:
                t = statistics.median(
                    r["result"]["metrics"][f"traced.{name}"]["value"] for r in traced
                )
                line += f"  traced-untraced {t - med:+.4f}"
            print(line)
        for r in traced:
            m = r["result"]["metrics"]
            print(f"  traced seed: unattributed {m['trace.unattributed_pct']['value']:.3f}%, "
                  f"read+build {m['trace.read_build_pct']['value']:.1f}% of query time, "
                  f"run wall {r['wall_s']:.1f} s")
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench_work", f"sweep-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"\nraw results: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
