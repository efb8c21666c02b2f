#!/usr/bin/env python3
"""Compare the physical plans of two `graft.PlanDump` output directories.

Usage: python3 scripts/plan_shape.py <dirA> <dirB>

PlanDump writes one `df.explain("formatted")` file per query, named
`<query>_<suffix>.txt`. Files are paired across the two dirs by their
`qNN` prefix (unique per query in the registry), so the two runs may use
different suffixes.

Each file is reduced to a run-independent form before comparing:
  - expression ids (`doc_id#12L` -> `doc_id#L`),
  - exchange plan ids (`[plan_id=713]`),
  - RDD ids (`MapPartitionsRDD[26]`) and the source line of the call
    site that built the RDD (`at Dedup.scala:361`),
  - file paths (`file:/data/sf0.01/documents.parquet`)
are stripped. The first section of the file (the indented operator tree)
is compared on its own, then the per-node details (outputs, keys,
conditions) that follow it.

Prints one line per query: `identical`, `tree identical, details differ`
or `tree differs`, followed by a unified diff of the normalized text when
it is not identical. Exits 1 if any query differs or is missing from one
side, else 0.
"""
import argparse
import difflib
import os
import re
import sys

_RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1"),
    (re.compile(r"(\w+\.(?:scala|java)):\d+"), r"\1"),
    (re.compile(r"file:/[^\s,\]]*"), "<path>"),
    (re.compile(r"(?<![\w.])/(?:[\w.+-]+/)+[\w.+=-]*"), "<path>"),
]


def normalize(text):
    for pat, rep in _RULES:
        text = pat.sub(rep, text)
    return [line.rstrip() for line in text.splitlines()]


def split_sections(lines):
    """(operator tree, node details): the tree ends at the first blank line."""
    for i, line in enumerate(lines):
        if not line.strip():
            return lines[:i], lines[i:]
    return lines, []


def plans_by_query(d):
    out = {}
    for name in sorted(os.listdir(d)):
        m = re.match(r"(q\d+)_.*\.txt$", name)
        if m:
            out[m.group(1)] = os.path.join(d, name)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    args = ap.parse_args()
    a, b = plans_by_query(args.dir_a), plans_by_query(args.dir_b)
    differing = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            side = args.dir_a if q not in a else args.dir_b
            print(f"{q}: missing from {side}")
            differing += 1
            continue
        with open(a[q], encoding="utf-8") as fa, open(b[q], encoding="utf-8") as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        label = os.path.basename(a[q])[:-len(".txt")]
        if la == lb:
            print(f"{label}: identical")
            continue
        differing += 1
        tree_same = split_sections(la)[0] == split_sections(lb)[0]
        print(f"{label}: " + ("tree identical, details differ" if tree_same
                              else "tree differs"))
        for line in difflib.unified_diff(la, lb, a[q], b[q], lineterm="", n=2):
            print("    " + line)
    print(f"{len(set(a) | set(b)) - differing} identical, {differing} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
