#!/usr/bin/env python3
"""Regenerate OPERATORS.md: every registered Q key -> defining file:line,
with oracle status taken from the latest Verify dump's oracle_sql.json."""
import json
import os
import re
import sys

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_verify"
os.chdir(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
entries = []
for root, _, files in os.walk("src/main/scala/graft"):
    for f in files:
        if not f.endswith(".scala"):
            continue
        p = os.path.join(root, f)
        for i, line in enumerate(open(p), 1):
            m = re.search(r'Q\("([a-z0-9_]+)"', line)
            if m:
                entries.append((m.group(1), f"{p}:{i}"))
if not entries:
    sys.exit("no Q(...) definitions found - wrong working tree?")
oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
entries.sort()
with open("OPERATORS.md", "w") as out:
    out.write("# OPERATORS — generated key → implementation index\n\n")
    out.write(
        f"{len(entries)} declared query keys "
        f"({sum(1 for k, _ in entries if k in oracle)} with DuckDB oracle "
        f"SQL, {sum(1 for k, _ in entries if k not in oracle)} rows-only + "
        "unit-tested). Regenerate: `python3 scripts/gen_operators.py`.\n\n")
    out.write("| key | defined at | oracle |\n|---|---|---|\n")
    for k, loc in entries:
        mark = "✅" if k in oracle else "⛔ (tests)"
        out.write(f"| `{k}` | `{loc}` | {mark} |\n")
    out.write("""
## Streaming surface (not registry keys — Verify/t2 is batch-only)

`graft.streaming.StreamOps` entry points, exercised by StreamingSpec
(MemoryStream) and StreamingFileSpec (parquet file source, sf0.01).
RegistrySpec checks that this table lists exactly the public `def`s of
`StreamOps.scala`. Contracts that matter beyond the Scaladoc:

| entry point | batch twin | contract |
|---|---|---|
| `tumblingCounts` | `events_tumbling_window` | exact-cents sums; 2 h watermark |
| `slidingCounts` | `events_sliding_window` | **exact on out-of-order input**: append mode emits a window once the watermark passes its end, so any disorder within `horizon` yields the batch output |
| `sessionCounts` | `events_sessionization` | `session_window` gap algebra |
| `sessionizeBuffered` | `events_sessionization` | **exact on out-of-order input**: events buffer until the watermark passes their session's gap deadline, so output equals the batch gap algebra for any disorder within the watermark delay (in-order arrival included); state = watermark horizon per user |
| `funnelWatermarked` | `events_funnel` | **exact on out-of-order input**: the verdict is decided by an event-time timer at the first purchase's ceiling-ms, final once the watermark passes it (watermark-delay emission latency) |
| `dedupById` | `events_dedup_latest` family | state bounded by the watermark horizon |
| `attributionPairs` | `events_attribution` | watermarked stream-stream interval join |
| `latestPerKey` | `events_dedup_latest` | update-mode CDC keep-latest |
| `admitDocuments` | `pipeline_curate` gate + exact dedup | shared quality/lang gate, then first-arrival dedup on the content hash: one admission per gated hash; no watermark, the seen-set is the admission history |
""")
print(f"{len(entries)} keys -> OPERATORS.md")
