#!/usr/bin/env python3
"""Run workloads over a range of seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads analytic_read,row_update \
        --seeds 1-10 --out perfbench/results/head-a.jsonl

Each run's detail and result lines are appended to `--out` as one JSON
object per line (the input of `compare.py`). The report gives, per
workload and metric, the median, the quartiles as
`statistics.quantiles(values, n=4)` computes them, and the spread
(Q3 - Q1) / median, next to a third of the metric's bound from
BENCHMARK.json: the benchmark is steady when every spread is below it.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def run_once(workload, seed, seconds, trace, root=ROOT):
    """One run of `perfbench/run.py` in the checkout at `root`."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace,
                "error": proc.stderr.strip().splitlines()[-3:], "wall_s": time.time() - t0}
    detail = json.loads(lines[-2])["perfbench_detail"]
    result = json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "trace": trace, "result": result,
            "detail": detail, "wall_s": round(time.time() - t0, 2)}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(records, bench):
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}
    by = {}
    for r in records:
        if "result" not in r or r["trace"]:
            continue
        for name, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], name), []).append(m["value"])
        for name, m in r["detail"]["detail"].items():
            by.setdefault((r["workload"], "detail:" + name), []).append(m["value"])
    print(f"{'workload':15} {'metric':28} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound/3':>7}")
    for (w, name), vals in sorted(by.items()):
        vals = [v for v in vals if v is not None]
        if len(vals) < 2:
            continue
        med, q1, q3, s = spread(vals)
        b = bounds.get(name)
        flag = "" if b is None or name == "setup_s" or s < b / 3 else "  WIDE"
        print(f"{w:15} {name:28} {len(vals):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{s:7.3f} {'' if b is None else round(b / 3, 3):>7}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="analytic_read,ingest_commit,row_update,llm_pipeline")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--report-only", action="store_true",
                    help="only summarize the runs already in --out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not args.report_only:
        for w in args.workloads.split(","):
            for s in seeds_of(args.seeds):
                rec = run_once(w, s, bench["run_seconds"], args.trace)
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec, sort_keys=True) + "\n")
                status = "error" if "error" in rec else (
                    "ok" if rec["result"]["correct"] else "WRONG")
                print(f"{w} seed {s}: {status} in {rec['wall_s']} s", flush=True)
    with open(args.out) as f:
        records = [json.loads(l) for l in f if l.strip()]
    report(records, bench)


if __name__ == "__main__":
    main()
