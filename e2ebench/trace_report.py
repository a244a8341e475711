#!/usr/bin/env python3
"""Traced run artifact: for each workload, one untraced and one traced run
on the same seed, written to ``traces/``.

    python3 e2ebench/trace_report.py [--seed 1] [--out e2ebench/traces]

Per workload it keeps the traced run's spans (``<workload>.spans.jsonl``:
id, parent, layer, name, start and end in ms since the probe started) and
both runs' results; ``SUMMARY.md`` holds each workload's per-layer metrics,
its self-time table over the timed window, and the tracing overhead: the
traced end-to-end numbers minus the untraced ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import run  # noqa: E402


def one_run(workload, seed, seconds, trace, keep):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--keep", keep], cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "traces"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(args.out, exist_ok=True)
    tmp = os.path.join(run.build_dir(), "trace_report")
    os.makedirs(tmp, exist_ok=True)
    md = ["# Traced run", "",
          f"Seed {args.seed}, {bench['run_seconds']} s windows, one untraced and "
          "one traced run per workload. Per-layer counters and self times cover "
          "the timed window of the traced run.", ""]
    for w in (x["name"] for x in bench["workloads"]):
        base, traced = (os.path.join(tmp, f"{w}.trace{t}.json") for t in (0, 1))
        untraced_line = one_run(w, args.seed, bench["run_seconds"], 0, base)
        traced_line = one_run(w, args.seed, bench["run_seconds"], 1, traced)
        with open(base) as fh:
            r0 = json.load(fh)
        with open(traced) as fh:
            r1 = json.load(fh)
        harness = run.WORKLOADS[w][0]
        e0, _ = run.derive(harness, r0["samples"], r0["layers"])
        spans = [json.loads(ln) for ln in open(traced + ".spans.jsonl")]
        e1, per = run.derive(harness, r1["samples"], r1["layers"], spans)
        shutil.copy(traced + ".spans.jsonl", os.path.join(args.out, f"{w}.spans.jsonl"))
        for name, r in (("untraced", r0), ("traced", r1)):
            with open(os.path.join(args.out, f"{w}.{name}.json"), "w") as fh:
                json.dump(r, fh, indent=1, sort_keys=True)
        md += [f"## {w}", "",
               f"correct: untraced {untraced_line['correct']}, traced "
               f"{traced_line['correct']}; attempted {traced_line['attempted']}, "
               f"failed {traced_line['failed']}.", "",
               "| end-to-end | untraced | traced | overhead |", "| --- | --- | --- | --- |"]
        md += [f"| {k} | {e0[k]:.4f} | {e1[k]:.4f} | {e1[k] - e0[k]:+.4f} |"
               for k in sorted(e0)]
        lo, hi = r1["layers"]["window.start_ms"], r1["layers"]["window.end_ms"]
        st = benchlib.self_times(spans, lo, hi)
        md += ["", f"Self time by layer in the timed window ({hi - lo:.0f} ms):", "",
               "| layer | self ms | spans |", "| --- | --- | --- |"]
        counts = {}
        for s in spans:
            if s["start_ms"] >= lo and s["end_ms"] <= hi:
                counts[s["layer"]] = counts.get(s["layer"], 0) + 1
        md += [f"| {k} | {v:.1f} | {counts[k]} |"
               for k, v in sorted(st.items(), key=lambda kv: -kv[1])]
        md += ["", "| per-layer metric | value |", "| --- | --- |"]
        md += [f"| {m['name']} | {per.get(m['name'], 0.0):.4f} |"
               for m in bench["per_layer"]]
        md.append("")
        print(f"{w}: done", flush=True)
    with open(os.path.join(args.out, "SUMMARY.md"), "w") as fh:
        fh.write("\n".join(md))


if __name__ == "__main__":
    main()
