#!/usr/bin/env python3
"""Steadiness tooling for graft-bench.

Run a workload on N seeds and print each metric's median, quartiles and
spread (quartile distance as a share of the median) beside its bound:

    python3 perfbench/steady.py run --workload ingest_live --seeds 1-10 --out a.json

Compare two result sets (a parent and a change, same seeds), labelling
each metric x workload `better`, `worse`, `unchanged` or `unresolved`
under the bounds in BENCHMARK.json:

    python3 perfbench/steady.py compare parent.json change.json

Rules, per metric and workload:
  worse       the change's median is worse than the parent's by more than the bound;
  unresolved  otherwise, if the parent's own spread exceeds the bound, unless every
              change run beats every parent run (then better);
  better      the change wins at least 9 of 10 seed-paired runs and the medians
              differ by more than the parent's quartile distance;
  unchanged   otherwise.
For dedup_corpus the tool also reports the spread of MinHash-cluster job
times within and across runs, with caches cleared between jobs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def run(args):
    b = spec()
    result = json.load(open(args.out)) if os.path.exists(args.out) else {}
    per = result.setdefault(args.workload, {"seeds": [], "metrics": {}, "workload_metrics": {},
                                            "failed": [], "inputs": []})
    for seed in seeds(args.seeds):
        cmd = b["command"] + ["--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(b["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}")
        last = json.loads(lines[-1])
        full = json.load(open(os.path.join(ROOT, ".bench_build", "results",
                                           f"{args.workload}-s{seed}-t0.json")))
        per["seeds"].append(seed)
        per["failed"].append([last["failed"], last["attempted"]])
        per["inputs"].append(full["inputs"])
        for k, v in last["metrics"].items():
            per["metrics"].setdefault(k, []).append(v["value"])
        for k, v in full["workload_metrics"].items():
            per["workload_metrics"].setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
    report(result)


def report(result):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    for w, per in result.items():
        print(f"== {w}: {len(per['seeds'])} runs, failed/attempted {per['failed']}")
        named = [(k, v) for k, v in per["workload_metrics"].items() if k not in per["metrics"]]
        for k, vals in list(per["metrics"].items()) + named:
            vals = [v for v in vals if v is not None]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(k)
            flag = "" if bound is None else (
                f"  bound {bound}  " + ("ok" if spread < bound / 3 else "WIDE" if spread > bound else "> bound/3"))
            print(f"  {k:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}{flag}")
        if w == "dedup_corpus":
            within = [x for inp in per["inputs"] for x in inp.get("minhash_spread_s", [])]
            across = per["workload_metrics"].get("dedup_minhash_s", [])
            if within:
                print(f"  minhashClusters job: {min(within):.2f}-{max(within):.2f} s over {len(within)} jobs "
                      f"({max(within) / min(within):.2f}x), run medians {min(across):.2f}-{max(across):.2f} s; "
                      "caches cleared before every job")


def label(a, b, bound, better):
    ma, mb = statistics.median(a), statistics.median(b)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (mb - ma) / ma
    q1, _, q3 = quartiles(a)
    if worse_by > bound:
        return "worse", worse_by
    if (q3 - q1) / ma > bound:
        beats = all(sign * (y - x) < 0 for x in a for y in b)
        return ("better" if beats else "unresolved"), worse_by
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > (q3 - q1):
        return "better", worse_by
    return "unchanged", worse_by


def compare(args):
    a, b = json.load(open(args.parent)), json.load(open(args.change))
    for m in spec()["end_to_end"]:
        for w in sorted(set(a) & set(b)):
            xa, xb = a[w]["metrics"].get(m["name"]), b[w]["metrics"].get(m["name"])
            if not xa or not xb:
                continue
            verdict, worse_by = label(xa, xb, m["bound"], m["better"])
            print(f"{w:14s} {m['name']:18s} {verdict:10s} median {statistics.median(xa):.4g} -> "
                  f"{statistics.median(xb):.4g} ({(-worse_by or 0.0):+.1%} better)  bound {m['bound']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out", required=True)
    s = sub.add_parser("report")
    s.add_argument("result")
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    elif args.cmd == "report":
        report(json.load(open(args.result)))
    else:
        compare(args)


if __name__ == "__main__":
    main()
