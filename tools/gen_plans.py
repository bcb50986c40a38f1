#!/usr/bin/env python3
"""Regenerate PLANS.md from graft.Explain output.

Usage: python3 tools/gen_plans.py [sfDir]
Runs graft.Explain over the compiled classes through tools/run_main.sh,
parses each query's explain("formatted") block, and rewrites PLANS.md.
"""
import os
import re
import subprocess
import sys

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

out = subprocess.run(
    ["bash", os.path.join(os.path.dirname(os.path.abspath(__file__)), "run_main.sh"),
     "graft.Explain", SF_DIR],
    env={**os.environ, "JVM_XMX": "8g"},
    capture_output=True, text=True, check=True).stdout

JOIN_KINDS = [
    ("BroadcastHashJoin", "BroadcastHash"),
    ("SortMergeJoin", "SortMerge"),
    ("ShuffledHashJoin", "ShuffledHash"),
    ("BroadcastNestedLoopJoin", "BroadcastNestedLoop"),
    ("CartesianProduct", "CARTESIAN"),
]

rows = []
parts = re.split(r"^==== (\S+) ====$", out, flags=re.M)[1:]
for name, body in zip(parts[::2], parts[1::2]):
    ops = re.findall(r"^\(\d+\) (\w+)", body, flags=re.M)
    joins = []
    for node, label in JOIN_KINDS:
        n = sum(1 for o in ops if o == node)
        if n:
            joins.append(f"{label}×{n}")
    exchanges = sum(1 for o in ops if o == "Exchange")
    pushed = set()
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", body):
        for f in re.split(r", (?=[A-Z])", m.group(1)):
            f = f.strip()
            if f and not f.startswith("IsNotNull"):
                pushed.add(f)
    def top_level_cols(s: str) -> int:
        # count top-level commas only — nested array<...>/struct<...>/
        # map<...> types carry internal commas and angle brackets
        if not s:
            return 0
        depth, n = 0, 1
        for ch in s:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                n += 1
        return n

    def read_schema_body(text: str, start: int) -> str:
        # balanced-bracket extraction of struct<...> starting at `start`
        depth = 0
        for i in range(start, len(text)):
            if text[i] == "<":
                depth += 1
            elif text[i] == ">":
                depth -= 1
                if depth == 0:
                    return text[start + len("struct<"):i]
        return ""

    scans = []
    for m in re.finditer(r"ReadSchema: (struct<)", body):
        inner = read_schema_body(body, m.start(1))
        scans.append(f"{top_level_cols(inner)} cols")
    # dedupe scan column counts preserving order
    seen, scan_list = set(), []
    for s in scans:
        if s not in seen:
            seen.add(s)
            scan_list.append(s)
    rows.append((name,
                 ", ".join(joins) or "—",
                 str(exchanges),
                 "; ".join(sorted(pushed))[:60] or "—",
                 "; ".join(scan_list) or "—"))

with open("PLANS.md", "w") as f:
    f.write(f"""# PLANS — physical-plan audit ({SF_DIR.rsplit('/', 1)[-1]}, local[4])

Per-query summary extracted from `graft.Explain` (`explain("formatted")`).
Audit criteria: joins broadcast where a side is small, filters pushed to
the parquet scan, ReadSchema pruned to needed columns, no CartesianProduct.
Note: `dedup_clusters` is iterative (large-star/small-star rounds) — its
'plan' is the final labels LogicalRDD; the per-round join/agg plans execute
during build. `pagerank_supply` is likewise iterative — the audited plan
is the final checkpointed ranks; each iteration's join+agg plan executes
during build. `token_quantiles`' single-partition window is domain-bounded
(one row per distinct length), not data-bounded — intentional.
Regenerate: `python3 tools/gen_plans.py [sfDir]`

| query | joins | exchanges | pushed filters beyond IsNotNull | scans (pruned cols) |
|---|---|---|---|---|
""")
    for r in sorted(rows):
        f.write("| " + " | ".join(r) + " |\n")

cart = [r[0] for r in rows if "CARTESIAN" in r[1]]
print(f"{len(rows)} queries; cartesians: {cart or 'none'}")
