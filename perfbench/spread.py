"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workloads serve_hot adhoc \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --seconds 10 --out perfbench/runs.json

Run from the repository root. Runs ``run.py --trace 0`` once per
(workload, seed), one run at a time, and prints for every end-to-end
metric the median, the quartiles and the spread: the distance between
the quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median. The figures of the report that are not in the result line
(``p50_ms``, ``build_s``, ``peak_rss_mb``, ...) get the same summary.
``--out`` saves every run's result and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# a report line: "  <name>  <number> <unit> ..."
REPORT_LINE = re.compile(r"^  (\w+) +([-+0-9.e]+) (\S+)")


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs: dict[str, list[dict]] = {}
    for wl in args.workloads:
        for seed in args.seeds:
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, f"{HERE}/run.py", "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", "0"],
                capture_output=True, text=True)
            wall = time.perf_counter() - t
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {proc.returncode}")
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            for line in lines[1:-1]:
                m = REPORT_LINE.match(line)
                if m and m.group(1) not in res["metrics"]:
                    res["metrics"][m.group(1)] = {
                        "value": float(m.group(2)), "unit": m.group(3),
                        "report_only": True}
            res["seed"], res["wall_s"] = seed, wall
            runs.setdefault(wl, []).append(res)
            print(f"{wl} seed={seed} wall={wall:.1f}s "
                  f"correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()), flush=True)

    summary = {}
    for wl, rs in runs.items():
        summary[wl] = {}
        for name in rs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in rs
                      if name in r["metrics"]]
            if len(values) < 2:
                continue
            s = summarize(values)
            summary[wl][name] = {**s, "unit": rs[0]["metrics"][name]["unit"]}
            print(f"{wl:10s} {name:14s} median={s['median']:<12.5g} "
                  f"q1={s['q1']:<12.5g} q3={s['q3']:<12.5g} "
                  f"spread={s['spread']:.4f}")
        summary[wl]["wall_s"] = summarize([r["wall_s"] for r in rs])
        print(f"{wl:10s} wall_s median={summary[wl]['wall_s']['median']:.1f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
