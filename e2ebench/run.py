#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload per invocation.

    python3 e2ebench/run.py --workload dashboard_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and the
engine from source with sbt (``e2ebench/build.sbt``) and generates the
corpus; both are cached under ``$CARGO_TARGET_DIR`` (default
``.bench_build``) and rebuilt when their sources change. Each run then
starts one JVM (Spark ``local[4]``) that sets up, measures for
``--seconds`` and checks its outputs. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). The line before it is the run's contention context
(host steal share and summed task CPU next to the wall time).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import gen  # noqa: E402

# workload name -> (harness workload, corpus scale factor)
WORKLOADS = {
    "reads_sf0.1": ("reads", 0.1),
    "lifecycle": ("lifecycle", None),
}
HEAP = "3g"
RUN_TIMEOUT_S = 170
# lifecycle shape: the reference's flush size of 500 rows per file, one
# file per 1.5 s trigger (the reference flushes every 5 s; see README), with
# illustrative shares of 5 % replayed duplicates and 2 % late events; then
# a 100k-row backlog (ROADMAP's volume shape) handed off at once
LIFECYCLE = {"rows_per_file": 500, "dup_share": 0.05, "late_share": 0.02,
             "trigger_ms": 1500, "backlog_files": 4, "backlog_rows": 25000}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return os.path.abspath(d)


def source_digest():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(bdir):
    """Compile the harness and the engine; cached by source digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to the benchmark; "
             "run from the root of a full checkout")
    digest = source_digest()
    cache = os.path.join(bdir, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("digest") == digest:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        # resolve only through the configured (pre-warmed) repositories
        opts.append("-Dsbt.override.build.repos=true")
    proc = subprocess.run(
        ["sbt", "--batch"] + opts + ["export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(bdir, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def corpus_dir(bdir, sf):
    """The generated corpus at ``sf``, made once per generator version."""
    d = os.path.join(bdir, "corpus", f"sf{sf}-v{gen.CORPUS_VERSION}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.corpus(tmp, sf)
        os.replace(tmp, d)
    return d


def wire_manifest(work, seed, seconds):
    """Lifecycle wire files, listed in a tab-separated manifest (dir,
    file, rows, max event ms, kind): a warm-up file, one live file per
    trigger interval of the window, then the backlog."""
    L = LIFECYCLE
    kinds = (["warm"] + ["live"] * -(-seconds * 1000 // L["trigger_ms"])
             + ["backlog"] * L["backlog_files"])
    sizes = [L["backlog_rows"] if k == "backlog" else L["rows_per_file"]
             for k in kinds]
    out = os.path.join(work, "wire")
    files = gen.wire_files(out, seed, sizes, L["dup_share"], L["late_share"])
    path = os.path.join(out, "manifest.tsv")
    with open(path, "w") as fh:
        fh.writelines(f"{out}\t{f['name']}\t{f['rows']}\t{f['max_ts_ms']}\t{k}\n"
                      for f, k in zip(files, kinds))
    return path


def oracle_gate(work, sf):
    """Compare each registry query's result (written during warm-up) with
    the committed fingerprint of its DuckDB-oracle result. Returns failure
    messages."""
    import duckdb
    with open(os.path.join(HERE, "expected", f"reads_sf{sf}.json")) as fh:
        expected = json.load(fh)
    con = duckdb.connect()
    errors = []
    for name, want in sorted(expected.items()):
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')")
            got = benchlib.fingerprint(rel.columns, rel.types, rel.fetchall())
        except Exception as e:  # a missing or unreadable result
            errors.append(f"{name}: {str(e)[:200]}")
            continue
        if got != want:
            errors.append(f"{name}: fingerprint {got} != oracle {want}")
    return errors


def run_jvm(cp, args, work, out, extra):
    env = dict(os.environ)
    env.update({"SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch")})
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.codegen.cache.maxEntries=10000"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "e2ebench.Main", "--workload", args.harness,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out] + extra
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    finally:
        log.close()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def derive(harness, samples, layers, spans=None):
    """End-to-end and per-layer metrics from the harness's raw samples
    (and, for a traced run, its spans).

    ``p50_ms`` and ``gmean_ms`` summarize the latency of the workload's
    operations: for reads, the median and geometric mean over operation
    classes (an API endpoint at one lookback, or a registry query) of each
    class's median over the rounds; for lifecycle, over the files'
    freshness."""
    med = statistics.median
    gmean = statistics.geometric_mean

    def p90(xs):
        return statistics.quantiles(xs, n=10, method="inclusive")[-1]
    if harness == "reads":
        # one value per operation class: its median over the rounds
        classes = {k[:-len("_ms")]: med(v) for k, v in samples.items()
                   if k.startswith(("api.", "query."))}
        ops = list(classes.values())
        api = [x for k, v in samples.items() if k.startswith("api.") for x in v]
        queries = {k[len("query."):]: v for k, v in classes.items()
                   if k.startswith("query.")}
        per = dict(layers, op_samples=sum(len(v) for k, v in samples.items()
                                          if k.startswith(("api.", "query."))))
        per.update({
            "api_p50_ms": med(api), "api_p90_ms": p90(api),
            "query_gmean_ms": gmean(queries.values()),
            "pass_s": sum(queries.values()) / 1000})
        per.update({f"query.{n}_ms": v for n, v in queries.items()})
        for ep in {k.split(".")[1] for k in classes if k.startswith("api.")}:
            per[f"api.{ep}_p50_ms"] = med([x for k, v in samples.items()
                                          if k.startswith(f"api.{ep}.") for x in v])
    else:
        ops = samples["op_ms"]
        per = dict(layers, op_samples=len(ops))
    if harness == "lifecycle":
        per.update({
            "freshness_p50_ms": med(ops),
            "freshness_p90_ms": p90(ops),
            "live_api_p50_ms": med(samples["live_read_ms"]),
            "drain_rows_per_s": med(samples["drain_rows_per_s"]),
            "stream.batch_ms_p50": med(samples["stream.batch_ms"]),
            "stream.trigger_wait_ms": med(samples["stream.trigger_wait_ms"]),
            "gen.late_ms_max": max(samples["gen.late_ms"])})
    if spans is not None:
        st = benchlib.self_times(spans, layers["window.start_ms"], layers["window.end_ms"])
        per.update({f"{layer}_ms": st.get(layer, 0.0) for layer in
                    ("queries.build", "api.sql", "api.render", "store.read")})
    e2e = {"setup_s": med(samples["setup_s"]),
           "heap_live_mb": med(samples["heap_live_mb"]),
           "p50_ms": med(ops), "gmean_ms": gmean(ops)}
    return e2e, per


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", help="copy the run's result (and spans) here")
    args = ap.parse_args()
    args.harness, sf = WORKLOADS[args.workload]
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except OSError:
        fail("BENCHMARK.json not found; run from the root of a checkout")
    bdir = build_dir()
    cp = classpath(bdir)
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if sf is not None:
            extra += ["--corpus", corpus_dir(bdir, sf)]
        else:
            extra += ["--corpus", "", "--wire",
                      wire_manifest(work, args.seed, args.seconds),
                      "--trigger-ms", str(LIFECYCLE["trigger_ms"])]
        t0 = time.time()
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"), extra)
        wall = time.time() - t0
        errors = list(res["errors"])
        failed = res["failed"]
        spans = None
        if args.trace:
            with open(os.path.join(work, "result.json.spans.jsonl")) as fh:
                spans = [json.loads(ln) for ln in fh]
        if args.keep:
            os.makedirs(os.path.dirname(os.path.abspath(args.keep)), exist_ok=True)
            shutil.copy(os.path.join(work, "result.json"), args.keep)
            if args.trace:
                shutil.copy(os.path.join(work, "result.json.spans.jsonl"),
                            args.keep + ".spans.jsonl")
        if args.harness == "reads":
            gate = oracle_gate(work, sf)
            failed += len(gate)
            errors += gate
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors[:20]:
        print(f"error: {e}", file=sys.stderr)
    try:
        e2e, per = derive(args.harness, res["samples"], res["layers"], spans)
    except (KeyError, ValueError) as e:  # a run without the samples it needs
        fail(f"no metrics: {e!r}; errors: {errors[:3]}")
    ctx = dict(res["context"], workload=args.workload, seed=args.seed,
               jvm_wall_s=round(wall, 3),
               task_cpu_s=round(per.get("exec.task_cpu_ms", 0) / 1000, 3),
               window_s=per.get("window_s"))
    if args.harness == "lifecycle":
        ctx["missed_ticks"] = per["stream.missed_ticks"]
    print("context " + json.dumps(ctx, sort_keys=True))
    specs, values = ((bench["per_layer"], per) if args.trace
                     else (bench["end_to_end"], e2e))
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in specs}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
