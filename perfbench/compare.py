#!/usr/bin/env python3
"""Compare a parent and a change on the benchmark's end-to-end metrics.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --alternate PARENT_DIR CHANGE_DIR \\
        --workload W [--out DIR]
    python3 perfbench/compare.py --selftest

A result set is a JSON-lines file of untraced run results, each tagged
with `workload` (what `perfbench/run.py` appends to
`.bench_build/results.jsonl`). Runs of one workload pair up in file order,
so record them alternating: `--alternate` does that, running both
checkouts in one session with the same seed per pair and swapping which
side goes first on every pair. Host drift then lands on both sides
instead of being normalized away. An alternating comparison always runs
ten pairs, seeds 1000 to 1009, each run as long as BENCHMARK.json's
`run_seconds`, so both sides measure the same work.

For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' medians and quartiles, the share of pairs the change won (ties
count for neither), and a verdict:

- improved: over at least 10 pairs, the change won at least 9 in 10 and
  the medians differ by more than the parent's quartile spread, with no
  more failed samples;
- unresolved: the parent's quartile spread is wider than the metric's
  bound, and not every change run beats every parent run; it reads
  `unresolved, median worse` when the change's median is also worse than
  the parent's by more than the bound;
- worse: the change's median is worse than the parent's by more than the
  bound;
- within bound: otherwise.

Exit status 1 when any verdict is `worse` or `unresolved, median worse`,
or any run was incorrect: a wide spread never lets a regression of the
median beyond its bound pass.
"""
import argparse
import json
import os
import random
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10
FIRST_SEED = 1000


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, bound, lower_better, failed_up):
    def better(a, b):
        return a < b if lower_better else a > b
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    spread = q3 - q1
    pairs = list(zip(parent, change))
    won = sum(better(c, p) for p, c in pairs)
    share = won / len(pairs) if pairs else 0.0
    worse_by = (cm - pm) if lower_better else (pm - cm)
    if (not failed_up and len(pairs) >= 10 and share >= 0.9
            and better(cm, pm) and abs(cm - pm) > spread):
        v = "improved"
    elif spread > bound * abs(pm) and not all(
            better(c, p) for c in change for p in parent):
        v = ("unresolved, median worse" if worse_by > bound * abs(pm)
             else "unresolved")
    elif worse_by > bound * abs(pm):
        v = "worse"
    else:
        v = "within bound"
    return v, share


def compare(spec, parent_runs, change_runs, out=sys.stdout):
    """Print one row per (workload, metric); return the exit status."""
    status = 0
    workloads = [w["name"] for w in spec["workloads"]]
    print(f"{'workload':18s} {'metric':14s} {'parent med [q1,q3]':>30s} "
          f"{'change med [q1,q3]':>30s} {'won':>5s}  verdict", file=out)
    for w in workloads:
        p = [r for r in parent_runs if r.get("workload") == w]
        c = [r for r in change_runs if r.get("workload") == w]
        if not p or not c:
            continue
        if not all(r["correct"] for r in p + c):
            print(f"{w:18s} incorrect runs: parent "
                  f"{sum(not r['correct'] for r in p)}, change "
                  f"{sum(not r['correct'] for r in c)}", file=out)
            status = 1
        failed_up = (sum(r["failed"] for r in c) / len(c)
                     > sum(r["failed"] for r in p) / len(p))
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [r["metrics"][name]["value"] for r in p
                  if name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in c
                  if name in r["metrics"]]
            if not pv or not cv:
                continue
            v, share = verdict(pv, cv, m["bound"], m["better"] == "lower",
                               failed_up)
            if v in ("worse", "unresolved, median worse"):
                status = 1

            def fmt(xs):
                q1, q3 = quartiles(xs)
                return f"{statistics.median(xs):.4g} [{q1:.4g},{q3:.4g}]"
            print(f"{w:18s} {name:14s} {fmt(pv):>30s} {fmt(cv):>30s} "
                  f"{share:5.0%}  {v}", file=out)
    return status


def alternate(args):
    """Run both checkouts pair by pair, alternating which goes first."""
    os.makedirs(args.out, exist_ok=True)
    paths = {side: os.path.join(args.out, f"{side}.jsonl")
             for side in ("parent", "change")}
    dirs = {"parent": args.parent, "change": args.change}
    seconds = load_spec()["run_seconds"]
    for i in range(PAIRS):
        seed = FIRST_SEED + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 args.workload, "--seed", str(seed), "--seconds",
                 str(seconds), "--trace", "0"],
                cwd=dirs[side], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode == 2 or not lines:
                sys.exit(f"{side} run failed:\n{p.stderr[-2000:]}")
            res = dict(json.loads(lines[-1]), workload=args.workload,
                       seed=seed)
            with open(paths[side], "a") as f:
                f.write(json.dumps(res) + "\n")
            print(f"pair {i} {side}: {json.dumps(res['metrics'])}",
                  file=sys.stderr)
    return compare(load_spec(), load(paths["parent"]), load(paths["change"]))


def selftest():
    """A doctored change, worse beyond one metric's bound, must trip the
    compare, both at a narrow spread and at a spread as wide as the host's
    worst (runs within +-35%, an IQR/median of about 0.35, wider than every
    bound); an unchanged one and an improved one must read as such."""
    spec = load_spec()
    rng = random.Random(7)
    w = spec["workloads"][0]["name"]

    def runs(scale, noise):
        out = []
        for _ in range(PAIRS):
            metrics = {}
            for m in spec["end_to_end"]:
                f = scale.get(m["name"], 1.0)
                jitter = 1 + rng.uniform(-1, 1) * noise(m)
                metrics[m["name"]] = {"value": 10.0 * f * jitter,
                                      "unit": m["unit"]}
            out.append({"workload": w, "correct": True, "attempted": 10,
                        "failed": 0, "metrics": metrics})
        return out

    def values(rs, name):
        return [r["metrics"][name]["value"] for r in rs]

    quiet = open(os.devnull, "w")
    for label, noise in (("narrow", lambda m: 0.1 * m["bound"]),
                         ("wide", lambda m: 0.35)):
        parent = runs({}, noise)
        assert compare(spec, parent, runs({}, noise), quiet) == 0, \
            f"unchanged tripped at a {label} spread"
        for m in spec["end_to_end"]:
            lower = m["better"] == "lower"
            worse = (1 + 2.5 * m["bound"]) if lower else 0.5
            assert compare(spec, parent, runs({m["name"]: worse}, noise),
                           quiet) == 1, \
                f"doctored {m['name']} not caught at a {label} spread"
            if label == "narrow":
                v, share = verdict(
                    values(parent, m["name"]),
                    values(runs({m["name"]: 2 - worse}, noise), m["name"]),
                    m["bound"], lower, False)
                assert v == "improved" and share == 1.0, \
                    (m["name"], v, share)
    quiet.close()
    print("compare selftest: ok (unchanged passes; each metric doctored "
          "worse beyond its bound trips at a narrow and at a wide spread; "
          "each improvement reads as improved)")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sets", nargs="*", help="PARENT.jsonl CHANGE.jsonl")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--alternate", nargs=2, metavar=("PARENT_DIR",
                                                     "CHANGE_DIR"))
    ap.add_argument("--workload")
    ap.add_argument("--out", default=".bench_build/compare")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if args.alternate:
        if not args.workload:
            ap.error("--alternate needs --workload")
        args.parent, args.change = args.alternate
        args.out = os.path.abspath(args.out)
        return alternate(args)
    if len(args.sets) != 2:
        ap.error("give PARENT.jsonl and CHANGE.jsonl")
    untraced = [[r for r in load(p) if not r.get("trace")] for p in args.sets]
    return compare(load_spec(), *untraced)


if __name__ == "__main__":
    sys.exit(main())
