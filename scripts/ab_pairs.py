#!/usr/bin/env python3
"""A/B pairs of the end-to-end benchmark: a parent checkout against a change.

    scripts/ab_pairs.py <parent checkout> <change checkout> \\
        --workload reads_sf0.1 --pairs 10 --seed0 101 --out pairs.jsonl
    scripts/ab_pairs.py --report pairs.jsonl [more.jsonl ...]

Pair i runs ``e2ebench/run.py --seed <seed0 + i>`` once in each checkout,
from that checkout's root and with its own build cache (``.bench_build/``
inside it), one run at a time. The side that goes first alternates from pair
to pair, so drift within a pair (the second run of a pair tends to read a
slower ``setup_s``) falls on both sides equally instead of reading as a
regression of one of them.

Every run is appended to ``--out`` as one JSON line: pair, seed, side, its
place in the pair, exit code, wall time, and the run's ``context`` line and
result line as ``run.py`` printed them. The summary gives, for each side and
each end-to-end metric of BENCHMARK.json, the median and quartiles
(``statistics.quantiles(n=4)``), then the pairs the change wins, the change's
median against the parent's interquartile range, and each side's median
``jvm_wall_s`` and CPU steal. ``--report`` prints the summary of saved runs
without running anything. Nothing under ``e2ebench/`` is written.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def run_once(checkout, workload, seed, seconds):
    env = dict(os.environ)
    # each checkout builds and caches into its own .bench_build/
    env.pop("CARGO_TARGET_DIR", None)
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = p.stdout.strip().splitlines()
    context = next((json.loads(ln[len("context "):]) for ln in lines
                    if ln.startswith("context ")), None)
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return {"rc": p.returncode, "wall_s": round(time.time() - t0, 3),
            "context": context, "result": result,
            "stderr_tail": p.stderr[-2000:] if result is None else ""}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def report(runs, metrics):
    by = {}
    for r in runs:
        by.setdefault((r["workload"], r["pair"]), {})[r["side"]] = r
    for workload in sorted({w for w, _ in by}):
        pairs = [p for (w, _), p in sorted(by.items()) if w == workload]
        ok = [p for p in pairs if all(
            s in p and p[s]["result"] is not None for s in SIDES)]
        print(f"== {workload}: {len(pairs)} pairs, {len(ok)} with both runs complete")
        for side in SIDES:
            done = [p[side] for p in pairs if side in p]
            bad = [r for r in done if r["result"] is None or not r["result"]["correct"]]
            failed = sum(r["result"]["failed"] for r in done if r["result"])
            attempted = sum(r["result"]["attempted"] for r in done if r["result"])
            walls = [r["context"]["jvm_wall_s"] for r in done if r["context"]]
            steal = [r["context"].get("steal_pct", 0.0) for r in done if r["context"]]
            print(f"  {side}: {len(done)} runs, {len(bad)} not correct or not finished, "
                  f"{failed} of {attempted} operations failed; median jvm_wall_s "
                  f"{statistics.median(walls) if walls else float('nan'):.1f} "
                  f"(min {min(walls, default=float('nan')):.1f}, "
                  f"max {max(walls, default=float('nan')):.1f}); steal "
                  f"{min(steal, default=0):.1f}-{max(steal, default=0):.1f} %")
        if not ok:
            continue
        print(f"  {'metric':<14}{'side':<8}{'q1':>11}{'median':>11}{'q3':>11}")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {s: [p[s]["result"]["metrics"][name]["value"] for p in ok] for s in SIDES}
            for s in SIDES:
                q1, med, q3 = quartiles(vals[s])
                print(f"  {name:<14}{s:<8}{q1:>11.3f}{med:>11.3f}{q3:>11.3f}")
            wins = sum((c < a) if lower else (c > a)
                       for a, c in zip(vals["parent"], vals["change"]))
            pq1, pmed, pq3 = quartiles(vals["parent"])
            cmed = statistics.median(vals["change"])
            gain = (pmed - cmed) if lower else (cmed - pmed)
            print(f"  {name:<14}change wins {wins}/{len(ok)} pairs; median "
                  f"{(cmed - pmed) / pmed * 100:+.1f} % vs parent, gain {gain:.3f} "
                  f"{'>' if gain > pq3 - pq1 else '<='} parent IQR {pq3 - pq1:.3f}; "
                  f"bound {m['bound'] * 100:.0f} %")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?", help="parent checkout root")
    ap.add_argument("change", nargs="?", help="change checkout root")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="run.py --seconds (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", help="append each run here as a JSON line")
    ap.add_argument("--report", nargs="+", metavar="JSONL",
                    help="summarize saved runs instead of running")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.report:
        runs = [json.loads(ln) for f in args.report for ln in open(f) if ln.strip()]
        report(runs, bench["end_to_end"])
        return
    if not (args.parent and args.change and args.workload):
        ap.error("give the parent and change checkouts and --workload, or --report")
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for place, side in enumerate(order, 1):
            r = dict(run_once(checkouts[side], args.workload, seed, seconds),
                     workload=args.workload, pair=i, seed=seed, side=side,
                     place=place)
            runs.append(r)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(r, sort_keys=True) + "\n")
            res = r["result"]
            print(f"pair {i} seed {seed} {side} ({place}/2): rc {r['rc']}, "
                  f"wall {r['wall_s']:.1f}s, " +
                  (", ".join(f"{k} {v['value']:.3f}" for k, v in res["metrics"].items())
                   + f", correct {res['correct']}" if res else "no result"),
                  flush=True)
    report(runs, bench["end_to_end"])


if __name__ == "__main__":
    main()
