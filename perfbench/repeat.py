#!/usr/bin/env python3
"""Runs the benchmark on several seeds and summarises the spread.

Usage (from the repository root):
    python3 perfbench/repeat.py --workload W --seeds 1 2 3 ... \
        [--seconds S] [--trace 0|1] [--out FILE]

For every metric: the median over the runs and the spread, i.e. the
distance between the first and third quartiles
(statistics.quantiles(values, n=4)) as a share of the median. --out writes
every run's final JSON object and the summary as one JSON file.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in a.seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        r = json.loads(lines[-1])
        r.update(seed=seed, elapsed_s=time.time() - t0,
                 report=[ln for ln in lines[:-1] if ln.startswith(("metric ", "samples", "FAIL"))])
        runs.append(r)
        print(f"seed {seed}: {r['elapsed_s']:.1f} s, correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    summary = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        summary[k] = {"median": med, "q1": q[0], "q3": q[2],
                      "spread": (q[2] - q[0]) / med if med else None,
                      "unit": runs[0]["metrics"][k]["unit"]}
        s = summary[k]["spread"]
        print(f"{k}: median {med:.5g} {summary[k]['unit']}, spread "
              f"{'n/a' if s is None else f'{s:.3f}'}")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "seconds": a.seconds,
                                           "trace": a.trace, "summary": summary,
                                           "runs": runs}, indent=1) + "\n")


if __name__ == "__main__":
    main()
