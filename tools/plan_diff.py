#!/usr/bin/env python3
"""Dev-only tooling (NOT part of the shipped Scala library).

Compares two directories of physical plans written by
`graft.tools.PlanDump` and prints every operator whose plan differs.
Exits 1 if any operator differs (or is present on one side only),
0 otherwise.

Before comparing, each plan masks what changes from run to run on
identical code: expression ids (`#123`), `plan_id=123`, object hashes
(`@1f2e3d`) and `<File>.scala:<line>` call-site positions.

Three operators differ between two dumps of the SAME commit at sf0.01
even after masking, so a diff naming only them shows no change:
  - op_multimodal_decode: a Scala lambda class name in the plan;
  - op_sink_textdir: the temporary output directory;
  - op_stats_heaps: the Expand group order, which follows
    expression-id hashing.

Usage:
  sbt "Test/runMain graft.tools.PlanDump all SF_DIR DIR_A"
  (same again for the other commit into DIR_B)
  python3 tools/plan_diff.py DIR_A DIR_B

Files pair by operator name: `<op>_<tag>.txt` keys on `<op>`, so the
two dumps may use different tags.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]+\b"), "@H"),
    (re.compile(r"\b(\w+)\.scala:\d+"), r"\1.scala:L"),
]


def mask(text: str) -> str:
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def load(dir_: str) -> dict:
    plans = {}
    for name in os.listdir(dir_):
        if name.endswith(".txt"):
            op = name[:-len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(dir_, name), encoding="utf-8") as f:
                plans[op] = mask(f.read())
    return plans


def main(dir_a: str, dir_b: str) -> int:
    a, b = load(dir_a), load(dir_b)
    differ = sorted(op for op in a.keys() & b.keys() if a[op] != b[op])
    only = sorted(a.keys() ^ b.keys())
    for op in differ:
        print(f"differs: {op}")
    for op in only:
        print(f"only in {dir_a if op in a else dir_b}: {op}")
    print(f"{len(a.keys() & b.keys()) - len(differ)}/{len(a.keys() | b.keys())}"
          " operators with identical plans")
    return 1 if differ or only else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
