#!/usr/bin/env python3
"""A/A steadiness check: run the benchmark in two sets on the same code and
compare each end-to-end metric against the bound BENCHMARK.json gives it.

    python3 e2ebench/aa_check.py --seeds 10 --sets 2 --out aa.json

For each workload, every set runs ``--seeds`` seeds (set k uses seeds
k*1000+1 ...). Per set and metric it prints the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread, (q3 - q1) / median, next to
the metric's bound; with two sets it also prints how much worse the second
median is than the first. A spread above its bound, or a set-to-set gap
above it, is flagged FAIL. ``--sets 1 --seeds 5`` is the
cheap probe while tuning.
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
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}")
    ctx = next((json.loads(ln[len("context "):]) for ln in lines
                if ln.startswith("context ")), {})
    return dict(json.loads(lines[-1]), context=ctx, wall_s=time.time() - t0)


def summarize(bench, runs):
    out = {}
    for m in bench["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in runs
              if m["name"] in r["metrics"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        out[m["name"]] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                          "spread": benchlib.spread(xs), "bound": m["bound"],
                          "better": m["better"], "values": xs}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    report, ok = {}, True
    for w in names:
        sets = []
        for k in range(args.sets):
            runs = [run_once(w, k * 1000 + i + 1, bench["run_seconds"])
                    for i in range(args.seeds)]
            bad = [r for r in runs if not r["correct"]]
            if bad:
                ok = False
                print(f"FAIL {w}: {len(bad)} incorrect runs")
            sets.append({"summary": summarize(bench, runs), "runs": runs})
            walls = [r["wall_s"] for r in runs]
            print(f"{w} set {k}: {len(runs)} runs, wall median "
                  f"{statistics.median(walls):.1f}s max {max(walls):.1f}s, steal "
                  f"{max(r['context'].get('steal_pct', 0) for r in runs):.2f}% max"
                  + (f", missed ticks {sum(r['context']['missed_ticks'] for r in runs):.0f}"
                     if w == "lifecycle" else ""))
            for name, s in sets[-1]["summary"].items():
                flag = ""
                if s["spread"] > s["bound"]:
                    flag, ok = "  FAIL spread > bound", False
                elif s["spread"] > s["bound"] / 3:
                    flag = "  (spread above a third of the bound)"
                print(f"  {name:14s} median {s['median']:12.4f} q1 {s['q1']:12.4f} "
                      f"q3 {s['q3']:12.4f} spread {s['spread']:.4f} "
                      f"bound {s['bound']}{flag}")
        if len(sets) == 2:
            for name, a in sets[0]["summary"].items():
                b = sets[1]["summary"].get(name)
                if not b:
                    continue
                gap = benchlib.worse_by(a["better"], a["median"], b["median"])
                flag = ""
                if gap > a["bound"]:
                    flag, ok = "  FAIL", False
                print(f"  {name:14s} set1 vs set0: worse by {gap:+.4f} "
                      f"(bound {a['bound']}){flag}")
        report[w] = sets
        if args.out:  # after each workload, so a cut check keeps its runs
            with open(args.out, "w") as fh:
                json.dump(report, fh, indent=1)
        sys.stdout.flush()
    print("A/A " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
