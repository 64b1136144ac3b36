#!/usr/bin/env python3
"""Compare a parent's and a change's benchmark runs, workload by workload.

Collect run sets with identical benchmark code on both sides (copy this
directory into the parent checkout), alternating which side runs first:

    python3 perfbench/compare.py run --parent ../parent --change . \
        --seeds 1-10 --out-parent parent.jsonl --out-change change.jsonl

then compare them (also works on any two `steady.py` output files):

    python3 perfbench/compare.py report parent.jsonl change.jsonl

For each workload and end-to-end metric the report gives each side's
median and quartiles, the pairs (matched by seed) the change wins, and a
verdict:

  improved      the change wins at least 9/10 of the pairs (ties count for
                neither) and the medians differ by more than the parent's
                own quartile distance;
  regressed     the change's median is worse than the parent's by more than
                the metric's bound;
  unresolved    the parent's spread (Q3 - Q1) / median is wider than the
                bound, and not every change run beats every parent run;
  within bound  otherwise;
  incorrect     a run of the change failed its output checks, or the change
                failed more operations than the parent: its timings are
                not compared.

Runs from different machines are refused: the provenance (nproc, heap, Spark
version) must match.
"""

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import steady  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """Untraced runs; a run that printed no result counts as incorrect."""
    with open(path) as f:
        recs = [r for r in (json.loads(l) for l in f if l.strip()) if not r.get("trace")]
    for r in recs:
        r.setdefault("result", {"correct": False, "failed": 1, "metrics": {}})
    return recs


def failures(records, workload):
    """(runs that failed their checks, operations failed) of one workload."""
    rs = [r["result"] for r in records if r["workload"] == workload]
    return sum(1 for x in rs if not x["correct"]), sum(x["failed"] for x in rs)


def steal(records, workload):
    """Median share of CPU time the hypervisor took during the loops."""
    vals = [r["detail"]["detail"].get("loop_steal_frac", {}).get("value") for r in records
            if r["workload"] == workload and "detail" in r]
    vals = [v for v in vals if v is not None]
    return statistics.median(vals) if vals else float("nan")


def machine(records):
    keys = ("nproc", "heap", "spark_version")
    return {tuple(r["detail"]["provenance"].get(k) for k in keys)
            for r in records if "detail" in r}


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def verdict(parent, change, better, bound, pairs):
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse = sign * (pm - cm) / pm if pm else 0.0
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        if sign * (cm - pm) > 0:
            return "improved", wins
    if worse > bound:
        return "regressed", wins
    every_run_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if spread > bound and not every_run_better:
        return "unresolved", wins
    return "within bound", wins


def report(parent_path, change_path):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(parent_path), load(change_path)
    if machine(parent) != machine(change) or len(machine(parent)) != 1:
        sys.exit("refusing to compare runs from different machines: %s vs %s"
                 % (machine(parent), machine(change)))
    print(f"{'workload':15} {'metric':14} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'wins':>6}  verdict")
    for w in sorted({r["workload"] for r in parent}):
        (p_bad, p_failed), (c_bad, c_failed) = failures(parent, w), failures(change, w)
        if p_bad:
            print(f"{w:15} parent: {p_bad} run(s) failed their checks ({p_failed} operations)")
        print(f"{w:15} median loop_steal_frac: parent {steal(parent, w):.3f}, "
              f"change {steal(change, w):.3f}")
        incorrect = c_bad > 0 or c_failed > p_failed
        if incorrect:
            print(f"{w:15} change: {c_bad} run(s) failed their checks "
                  f"({c_failed} operations, parent {p_failed})")
        for m in bench["end_to_end"]:
            name = m["name"]

            def vals(rs):
                return {r["seed"]: r["result"]["metrics"][name]["value"] for r in rs
                        if r["workload"] == w and r["result"]["metrics"].get(name, {}).get("value")
                        is not None}
            pv, cv = vals(parent), vals(change)
            if not pv or not cv:
                continue
            pairs = [(pv[s], cv[s]) for s in sorted(pv) if s in cv]
            v, wins = verdict(list(pv.values()), list(cv.values()), m["better"], m["bound"], pairs)
            if incorrect:
                v = "incorrect"
            pq, cq = quartiles(list(pv.values())), quartiles(list(cv.values()))
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{w:15} {name:14} {fmt(pq):>32} {fmt(cq):>32} "
                  f"{wins:>2}/{len(pairs):<3}  {v}")


def run(args):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = [("parent", os.path.abspath(args.parent), args.out_parent),
             ("change", os.path.abspath(args.change), args.out_change)]
    for i, seed in enumerate(steady.seeds_of(args.seeds)):
        order = sides if i % 2 == 0 else sides[::-1]
        for w in args.workloads.split(","):
            for label, root, out in order:
                rec = steady.run_once(w, seed, bench["run_seconds"], 0, root=root)
                rec["side"] = label
                with open(out, "a") as f:
                    f.write(json.dumps(rec, sort_keys=True) + "\n")
                print(f"{label} {w} seed {seed}: {'error' if 'error' in rec else 'ok'}",
                      flush=True)
    report(args.out_parent, args.out_change)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect alternating run sets, then report")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workloads", default="analytic_read,ingest_commit,row_update,llm_pipeline")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out-parent", required=True)
    r.add_argument("--out-change", required=True)
    p = sub.add_parser("report", help="compare two run sets")
    p.add_argument("parent")
    p.add_argument("change")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    else:
        report(args.parent, args.change)


if __name__ == "__main__":
    main()
