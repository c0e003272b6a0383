#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The command builds the engine and the
harness from source (`perfbench/harness`, cached by a hash of the
sources), makes the workload's inputs from the seed, and launches one JVM
on the exported runtime classpath (not through `sbt run`). The JVM runs
Spark as `local[nproc]` with one closed-loop client and the effective
confs of `graft.Bench`, warms up, times every query sample of a fixed
number of passes sized to about S seconds, and then dumps the workload's
outputs with `graft.Verify`; `scripts/preflight.py` checks them against
DuckDB. See `perfbench/README.md` and `harness/.../Harness.scala`.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones, measured untraced; with `--trace 1` they are the per-layer ones,
from the traced passes of the same workload. Lines before it starting
with `# ` carry the run's metadata (confs, cores, heap, probes, set-up
split, input generation time, check summary).

Exit status: 0 when every output is correct; 1 when any sample failed or
an output is wrong (the result line is still printed); 2 when the run
could not be made (no engine sources, no fixture, build or JVM failure,
time limit), with no result line.

Every run also appends its result, tagged with workload and seed, to
`.bench_build/results.jsonl`, the input of `perfbench/compare.py`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_inputs  # noqa: E402

RUN_LIMIT_S = 175  # a run must end within 180 s, not counting the build

# pass_s: the nominal seconds of one timed pass. A run times
# max(2, round(seconds / pass_s)) passes (4 when traced), the same number
# on every run, so parent and change always measure the same work: at 15 s,
# 6 and 4 passes (measured on 4 cores: 2.15 s and 4.48 s per pass).
# warm: untimed passes in set-up. The JIT keeps speeding passes up for
# eight passes and more (events_inter_arrival 2.9 s -> 2.2 s), longer than
# a run can wait, so every run times the same passes of that curve.
WORKLOADS = {
    "llm_pipeline_g2": dict(grow=2, sink=True, pass_s=2.5, warm=3, keys=[
        "pipeline_curate", "pipeline_semantic_search", "text_bpe_bytes"]),
    "relational_g2": dict(grow=2, sink=False, pass_s=3.75, warm=2, keys=[
        "join_asof", "join_range_interval", "events_inter_arrival"]),
}

# Spark on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_gb():
    """The tier-1 rule: half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2
    return min(8, max(2, kb // 2097152))


def fixture_root(root):
    """The fixture directory the engine itself reads (`SparkEntry.entry`
    names its sf0.001 directory); GRAFT_TESTDATA overrides it."""
    if os.environ.get("GRAFT_TESTDATA"):
        return os.environ["GRAFT_TESTDATA"]
    with open(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")) as f:
        m = re.search(r'"([^"]+)/sf0\.001"', f.read())
    if not m:
        raise RunError("cannot find the fixture root in SparkEntry.scala")
    return m.group(1)


def source_hash(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(p) for n in ns)
        for fp in files:
            h.update(os.path.relpath(fp, root).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, cache):
    """Compile engine + harness with sbt; return the runtime classpath."""
    cp_file = os.path.join(cache, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(cache, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") +
                        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    with open(os.path.join(cache, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800).returncode
    with open(os.path.join(cache, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ln.count(os.pathsep) > 10
           and not ln.startswith("[")]
    if rc != 0 or not cps:
        raise RunError(f"sbt build failed (see {cache}/build.log)")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def parquet_rows(d):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
               for n in os.listdir(d) if n.endswith(".parquet"))


def run(args):
    start = time.monotonic()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "scripts/scale_up.py", "scripts/preflight.py"):
        if not os.path.exists(os.path.join(root, need)):
            raise RunError(f"not a graft checkout: {need} is missing")
    wl = WORKLOADS[args.workload]
    fixture = os.path.join(fixture_root(root), "sf0.1")
    if not os.path.isdir(fixture):
        raise RunError(f"fixture directory {fixture} is missing")
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    t_build = time.monotonic()
    classpath = build(root, cache)
    deadline = start + RUN_LIMIT_S + (time.monotonic() - t_build)

    gen_s = 0.0
    data = fixture
    if wl["grow"]:
        data, gen_s = gen_inputs.grow(fixture, os.path.join(cache, "data"),
                                      wl["grow"], args.seed, root)

    work = os.path.join(cache, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    n_passes = 4 if args.trace else max(2, round(args.seconds / wl["pass_s"]))
    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-Xss16m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", classpath, "graft.perfbench.Harness",
              "--data", data, "--keys", ",".join(wl["keys"]),
              "--sink", "parquet" if wl["sink"] else "none",
              "--warm-passes", str(wl["warm"]),
              "--passes", str(n_passes),
              "--trace", str(args.trace),
              "--seed", str(args.seed), "--cores", str(cores),
              "--work", work])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic() - 15))
        except subprocess.TimeoutExpired:
            raise RunError(f"time limit hit in the JVM (see {jvm_log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        raise RunError(f"harness exited {rc} (see {jvm_log})")
    with open(result_file) as f:
        res = json.load(f)

    # The output check: preflight on Verify's dump of the same inputs.
    check = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "preflight.py"),
         data, os.path.join(work, "verify")],
        capture_output=True, text=True,
        timeout=max(1, deadline - time.monotonic()))
    with open(os.path.join(work, "preflight.log"), "w") as f:
        f.write(check.stdout + check.stderr)
    checked = {}
    for k in wl["keys"]:
        d = os.path.join(work, "verify", k)
        checked[k] = parquet_rows(d) if os.path.isdir(d) else None

    # A sample fails if it threw, if its row count differs from the checked
    # output's, or if its key's output failed the check.
    failed_keys = {ln.split()[1] for ln in check.stdout.splitlines()
                   if ln.startswith("FAIL ") and len(ln.split()) > 1}
    samples = res["samples"]
    bad = [s for s in samples
           if s["error"] is not None or s["rows"] != checked[s["key"]]
           or s["key"] in failed_keys]
    correct = check.returncode == 0 and not bad and all(
        v is not None for v in checked.values())
    passes = res["passes"]
    untraced = [p["sec"] for p in passes if not p["traced"]]
    traced = [p["sec"] for p in passes if p["traced"]]

    if args.trace:
        metrics = per_layer(res, cores, untraced, traced)
    else:
        times = [s["sec"] for s in samples]
        metrics = {
            "setup_s": (res["setup"]["setup_s"], "s"),
            "pass_s": (statistics.median(untraced), "s"),
            "query_p50_s": (statistics.median(times), "s"),
            "query_p90_s": (statistics.quantiles(
                times, n=10, method="inclusive")[8], "s"),
            "peak_heap_mb": (res["heap_peak_post_gc_mb"], "MB"),
        }

    summary = [ln for ln in check.stdout.splitlines()
               if " pass / " in ln or ln.startswith("FAIL")]
    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": cores, "heap_gb": heap_gb(),
        "data": os.path.relpath(data, root) if data.startswith(root) else data,
        "keys": wl["keys"], "sink": "parquet" if wl["sink"] else "count",
        "input_gen_s": round(gen_s, 3), "confs": res["confs"],
        "probes": res["probes"], "setup": res["setup"],
        "passes": len(passes), "samples": len(samples),
        "failed_frac": len(bad) / len(samples),
        "checked_rows": checked, "check": summary[-3:],
    }
    print("# meta " + json.dumps(meta, sort_keys=True))
    for s in bad[:10]:
        why = ("its key failed the check" if s["key"] in failed_keys
               else s["error"] or f"checked rows {checked[s['key']]}")
        print(f"# failed sample {s['key']} pass {s['pass']}: rows "
              f"{s['rows']}; {why}")
    line = {"correct": correct, "attempted": len(samples), "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}
    with open(os.path.join(cache, "results.jsonl"), "a") as f:
        f.write(json.dumps(dict(line, workload=args.workload, seed=args.seed,
                                trace=args.trace)) + "\n")
    for d in ("tmp", "spark-local", "sink"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(line))
    return 0 if correct else 1


def per_layer(res, cores, untraced, traced):
    """Per traced pass: span self times, listener counts, and the JVM,
    set-up and probe figures of the same run."""
    rollup = list(res["trace"].values())
    tpasses = [p for p in res["passes"] if p["traced"]]
    tsamples = [s for s in res["samples"] if s["traced"]]
    n = len(rollup)

    def mean(key):
        return sum(r[key] for r in rollup) / n

    m = {}
    for key, unit in [
            ("build.self_s", "s"), ("build.jobs", "count"),
            ("optimize.self_s", "s"), ("physical_plan.self_s", "s"),
            ("materialize.self_s", "s"), ("final.self_s", "s"),
            ("release.self_s", "s"), ("jobs", "count"), ("stages", "count"),
            ("tasks", "count"), ("scan.input_mb", "MB"),
            ("scan.input_rows", "count"), ("shuffle.write_mb", "MB"),
            ("shuffle.read_mb", "MB"), ("spill.mb", "MB"),
            ("exchanges", "count"), ("executor.cpu_s", "s"),
            ("executor.run_s", "s"), ("task.skew_max", "ratio")]:
        m[key] = (mean(key), unit)
    wall = statistics.mean(traced)
    m["executor.util"] = (m["executor.run_s"][0] / (wall * cores), "ratio")
    m["rows_out"] = (sum(s["rows"] for s in tsamples) / n, "count")
    m["sink.write_mb"] = (sum(s["sink_bytes"] for s in tsamples) / n / 1048576,
                          "MB")
    m["sink.files"] = (sum(s["sink_files"] for s in tsamples) / n, "count")
    hits = [s for s in res["samples"] if s["train_sec"] == 0]
    m["train.memo_hit_ratio"] = (len(hits) / len(res["samples"]), "ratio")
    m["materialize_cache.writes"] = (
        statistics.mean(p["materialize_writes"] for p in tpasses), "count")
    m["gc.s"] = (statistics.mean(p["gc_sec"] for p in tpasses), "s")
    m["jit.compile_s"] = (
        statistics.mean(p["jit_sec"] for p in tpasses), "s")
    m["codegen.compiles"] = (
        statistics.mean(p["codegen_compiles"] for p in tpasses), "count")
    m["heap.post_gc_mb"] = (res["heap_settled_mb"], "MB")
    m["setup.session_s"] = (res["setup"]["session_s"], "s")
    m["setup.codegen_warm_s"] = (res["setup"]["codegen_warm_s"], "s")
    m["probe.dispatch_2stage_s"] = (res["probes"]["probe_sql_2stage_s"], "s")
    m["tracing.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops its JVM (see the `finally` in run).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    try:
        return run(args)
    except (RunError, subprocess.TimeoutExpired, OSError) as e:
        log(f"run failed: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
