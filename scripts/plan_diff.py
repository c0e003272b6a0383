#!/usr/bin/env python3
"""Per-key plan-shape diff of two `graft.Diag` plan directories.

    sbt "runMain graft.Diag all /root/testdata/sf0.01 0 /tmp/plans_a"
    ... change the code, then the same into /tmp/plans_b ...
    python3 scripts/plan_diff.py /tmp/plans_a /tmp/plans_b
    python3 scripts/plan_diff.py --selftest

Each `<key>.txt` that Diag writes holds the key's formatted initial plan
and its AQE-final executed plan. For each of the two plans this script
counts the nodes that decide a key's cost (Exchange, scans, each join
operator and join type, Window, Generate, Sort, Aggregate, the TopK*
nodes, ...), every `graft_*` native function call, and the in-lambda
unit-normalize `/ SQRT(graft_dot(`, which is evaluated per array element.
It prints every key whose counts differ, with the counts on both sides,
and lists keys present on one side only. Expression IDs, plan IDs, stage
and codegen IDs, lambda variable names, application IDs and the
`java.io.tmpdir` prefix of the `graft_rt_` paths keys write at build
time are normalized first, so two runs of the same code compare equal
under any tmpdir; the summary also counts keys whose normalized plan
text differs while every count is equal.

Exit status: 0 when no key differs in any count and both sides hold the
same keys, 1 otherwise.
"""
import os
import re
import sys
import tempfile
from collections import Counter

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),                  # expression IDs
    (re.compile(r"\b([a-z]\w*?)_\d+#N"), r"\1_N#N"),  # lambda variables
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"local-\d+"), "local-N"),            # application IDs
    (re.compile(r"app-\d+-\d+"), "app-N"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\$@[0-9a-f]+"), "$@N"),            # object identities
    (re.compile(r"RDD\[\d+\] at (\w+) at \w+\.scala:\d+"), r"RDD[N] at \1"),
    (re.compile(r"[^\s,\[\]]*/graft_rt_"), "TMPDIR/graft_rt_"),  # tmpdir
]

# a tree line of the formatted initial plan: "   :  +- * Project (12)"
INITIAL_NODE = re.compile(r"^[ :|+\-]*(?:\* )?([A-Z]\w*)((?: \w+)*)\s*\(\d+\)\s*$")
# a tree line of the executed plan: "   +- *(N) Sort [...], false, 0"
FINAL_NODE = re.compile(r"^[ :|+\-]*(?:\*\(N\) )?([A-Z]\w*)(.*)$")
GRAFT_FN = re.compile(r"\b(graft_\w+)\(")
IN_LAMBDA_NORM = re.compile(r"lambda \w+#N / SQRT\(graft_dot\(")
JOIN_TYPE = re.compile(r"\b(Inner|Cross|LeftOuter|RightOuter|FullOuter|"
                       r"LeftSemi|LeftAnti|LeftSingle|ExistenceJoin)\b")


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def node_label(name, rest):
    """Node kind; joins keep their join type ("SortMergeJoin LeftAnti")."""
    if name.endswith("Join"):
        m = JOIN_TYPE.search(rest)
        if m:
            return f"{name} {m.group(1)}"
    return name


def sections(text):
    """(initial, final) normalized text of one Diag plan report."""
    text = normalize(text)
    head, _, rest = text.partition(" AQE-final executed plan\n")
    final = rest.split("\n--- whole-stage", 1)[0]
    if "== Final Plan ==" in final:
        final = final.split("== Final Plan ==", 1)[1]
        final = final.split("== Initial Plan ==", 1)[0]
    return head, final


def counts(text):
    """Counter of node labels and graft_* calls in both plans of a report."""
    initial, final = sections(text)
    c = Counter()
    for line in initial.splitlines():
        m = INITIAL_NODE.match(line)
        if m:
            c["initial " + node_label(m.group(1), m.group(2))] += 1
    for line in final.splitlines():
        m = FINAL_NODE.match(line)
        if m and not line.lstrip().startswith("=="):
            c["final " + node_label(m.group(1), m.group(2))] += 1
    for name, part in (("initial", initial), ("final", final)):
        for fn in GRAFT_FN.findall(part):
            c[f"{name} {fn}()"] += 1
        n = len(IN_LAMBDA_NORM.findall(part))
        if n:
            c[f"{name} in-lambda SQRT(graft_dot("] += n
    return c


def load(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                out[f[:-4]] = fh.read()
    return out


def compare(a_dir, b_dir, out=sys.stdout):
    """Print per-key count deltas; return the number of differing keys."""
    a, b = load(a_dir), load(b_dir)
    bad = 0
    for k in sorted(set(a) ^ set(b)):
        print(f"{k}: only in {'A' if k in a else 'B'}", file=out)
        bad += 1
    text_only = 0
    for k in sorted(set(a) & set(b)):
        ca, cb = counts(a[k]), counts(b[k])
        deltas = [f"{n} {ca[n]}->{cb[n]}" for n in sorted(set(ca) | set(cb))
                  if ca[n] != cb[n]]
        if deltas:
            print(f"{k}: " + ", ".join(deltas), file=out)
            bad += 1
        elif sections(a[k]) != sections(b[k]):
            text_only += 1
    shared = len(set(a) & set(b))
    print(f"{shared} keys compared; {bad} with count deltas or missing; "
          f"{text_only} with equal counts but changed plan text", file=out)
    return bad


SAMPLE = """=== k @ /sf (explain formatted, initial plan)
== Physical Plan ==
AdaptiveSparkPlan (6)
+- Sort (5)
   +- Exchange (4)
      +- * BroadcastHashJoin LeftAnti BuildRight (3)
         :- * Scan parquet  (1)
         +- BroadcastExchange (2)


(1) Scan parquet
Location: InMemoryFileIndex [file:/tmp/graft_rt_part__sf_0123456789ab_local-1700000000001]
Output [2]: [v#12, transform(v#12, lambdafunction((lambda x_7#13 / SQRT(graft_dot(v#12, v#12))), lambda x_7#13, false)) AS u#14]

=== k AQE-final executed plan
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(2) Sort [a#1L ASC NULLS FIRST], true, 0
      +- ShuffleQueryStage 1
         +- Exchange rangepartitioning(a#1L ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS, [plan_id=77]
            +- *(1) BroadcastHashJoin [a#1L], [b#2L], LeftAnti, BuildRight, false
               :- *(1) Project [graft_dot(v#12, v#12) AS d#3]
               +- BroadcastQueryStage 0
+- == Initial Plan ==
   Sort [a#1L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(a#1L ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS, [plan_id=70]
--- whole-stage max method bytecode sizes (k, JIT limit 8000):
  stage *(1) Project 1234
"""


def selftest():
    """A renumbered copy must compare equal; a doctored one must not."""
    renumbered = (SAMPLE.replace("#12", "#912").replace("x_7#13", "x_41#55")
                  .replace("plan_id=77", "plan_id=3").replace("*(2)", "*(5)")
                  .replace("Stage 1", "Stage 4")
                  .replace("file:/tmp/", "file:/var/run/w2/tmp/")
                  .replace("local-1700000000001", "local-1700000000777"))
    doctored = SAMPLE.replace(
        "   +- Exchange (4)\n",
        "   +- Exchange (4)\n      +- Exchange (7)\n").replace(
        "Project [graft_dot(v#12, v#12) AS d#3]",
        "Project [graft_dot(v#12, v#12) AS d#3, graft_adc(l#4, c#5, 4) AS e#6]")
    ok = True
    with tempfile.TemporaryDirectory() as t:
        dirs = {}
        for name, text in (("a", SAMPLE), ("renum", renumbered),
                           ("doctored", doctored)):
            dirs[name] = os.path.join(t, name)
            os.mkdir(dirs[name])
            with open(os.path.join(dirs[name], "k.txt"), "w") as fh:
                fh.write(text)
        c = counts(SAMPLE)
        want = {"initial Exchange": 1, "initial BroadcastHashJoin LeftAnti": 1,
                "initial Scan": 1, "final Exchange": 1,
                "final BroadcastHashJoin LeftAnti": 1, "final graft_dot()": 1,
                "initial in-lambda SQRT(graft_dot(": 1}
        for n, v in want.items():
            if c[n] != v:
                print(f"selftest FAIL: {n} counted {c[n]}, want {v}")
                ok = False
        if c["final Sort"] != 1:  # the Initial Plan part must not count
            print(f"selftest FAIL: final Sort counted {c['final Sort']}")
            ok = False
        sink = open(os.devnull, "w")
        if compare(dirs["a"], dirs["renum"], sink) != 0:
            print("selftest FAIL: renumbered IDs read as a plan change")
            ok = False
        if sections(SAMPLE) != sections(renumbered):
            print("selftest FAIL: renumbered IDs or another tmpdir left "
                  "the plan text changed")
            ok = False
        if compare(dirs["a"], dirs["doctored"], sink) != 1:
            print("selftest FAIL: the doctored plan was not flagged")
            ok = False
        d = counts(doctored)
        if (d["initial Exchange"], d["final graft_adc()"]) != (2, 1):
            print("selftest FAIL: doctored deltas not counted")
            ok = False
    print("selftest " + ("ok" if ok else "FAILED"))
    return 0 if ok else 1


def main(argv):
    if argv[1:] == ["--selftest"]:
        return selftest()
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    return 1 if compare(argv[1], argv[2]) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
