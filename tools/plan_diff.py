#!/usr/bin/env python3
"""Compare two ExplainDump outputs query by query, ignoring run-specific ids.

A pure refactor must leave every physical plan unchanged. Two dumps of the
same plans still differ in ids Spark hands out per run, so both sides are
normalized before comparing:

  - expression ids           name#123            -> name#N
  - lambda variable ids      lambda x_7#N        -> lambda x_N#N
    (Spark numbers them from one JVM-wide counter)
  - AQE / subquery plan ids  plan_id=45          -> plan_id=N
  - RDD ids and call sites   MapPartitionsRDD[7] at localCheckpoint at
                             Graph.scala:875     -> MapPartitionsRDD[N] at localCheckpoint
  - temp directories         /tmp/graft-abc123/  -> /tmp/<tmp>/
  - JVM lambda / object ids  Mor$$Lambda$45/0x7f@1a2b -> Mor$$Lambda@<obj>
  - local server ports       graftrest://127.0.0.1:39449 -> ...:<port>
  - per-run 32-hex file ids  stream-...-q1a34...e6.parquet -> ...-q<uuid>...
  - operator ordinals        Project (113), [codegen id : 4] -> Project (n), ...
    (they renumber the whole dump after one inserted node; the tree shape
    and the node names still differ when the plan does)

ExplainDump writes each plan twice, from two builds of the query in one
session. A plan whose two dumps differ on either side (after normalization)
is `unstable`: its move says nothing about the change, since AQE can pick a
broadcast build side from whichever stage finishes first. Unstable plans are
reported apart from moved ones. A dump with one plan per query is read as
stable.

Usage: python3 tools/plan_diff.py PARENT.md CHANGE.md
Prints a unified diff per query whose plan moved (after normalization;
the diff is shown without the tree drawing, so a node inserted above a
subtree shows as that node alone), the diff between the two dumps of each
unstable plan, then a summary line that names every plan that moved, is
unstable or is on one side only. Exits 0 when no plan moved and none is
on one side only, 1 otherwise.
"""
import difflib
import re
import sys

NORMALIZERS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(RDD\w*)\[\d+\]"), r"\1[N]"),
    (re.compile(r" at [\w$.]+\.(?:scala|java):\d+"), ""),
    (re.compile(r"/tmp/[^/\s,\]\)]+"), "/tmp/<tmp>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@<obj>"),
    (re.compile(r"(://[\w.-]+):\d+"), r"\1:<port>"),
    (re.compile(r"[0-9a-f]{32}"), "<uuid>"),
    (re.compile(r"(?<=\w) \(\d+\)(?=$|[ ,])"), " (n)"),
    (re.compile(r"^\(\d+\) "), "(n) "),
    (re.compile(r"(codegen id : |Reuses operator id: )\d+"), r"\1n"),
]


TREE = re.compile(r"^[\s:+|-]*")


def normalize(line):
    for pat, rep in NORMALIZERS:
        line = pat.sub(rep, line)
    return line


def flat(lines):
    return [TREE.sub("", l) for l in lines]


def plans(path):
    """Map query name -> its normalized dumps (lists of lines), in order."""
    out = {}
    name = None
    block = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                name = line[3:].strip()
                out[name] = []
                block = None
            elif name is None:
                continue
            elif line.startswith("```"):
                if block is None:
                    block = []
                    out[name].append(block)
                else:
                    block = None
            elif block is not None:
                block.append(normalize(line.rstrip("\n")))
    return out


def show(a, b, label_a, label_b):
    # an inserted node re-indents its whole subtree; diffing the
    # lines without the tree drawing shows just the moved nodes
    for d in difflib.unified_diff(flat(a), flat(b), label_a, label_b,
                                  n=1, lineterm=""):
        print(d)


def unstable_dumps(dumps):
    """The first two dumps that differ, or None when all agree."""
    for d in dumps[1:]:
        if d != dumps[0]:
            return dumps[0], d
    return None


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    moved, unstable, one_side = [], [], []
    for name in a:
        if name not in b:
            print(f"## {name}: only in {argv[1]}")
            one_side.append(name)
            continue
        flips = [(path, unstable_dumps(side[name]))
                 for path, side in ((argv[1], a), (argv[2], b))]
        flips = [(path, f) for path, f in flips if f]
        if flips:
            unstable.append(name)
            for path, (d1, d2) in flips:
                print(f"## {name}: unstable in {path}")
                show(d1, d2, f"{path} (dump 1)", f"{path} (dump 2)")
        elif a[name][:1] != b[name][:1]:
            moved.append(name)
            print(f"## {name}")
            show(a[name][0] if a[name] else [], b[name][0] if b[name] else [],
                 argv[1], argv[2])
    for name in b:
        if name not in a:
            print(f"## {name}: only in {argv[2]}")
            one_side.append(name)
    same = len(a.keys() & b.keys()) - len(moved) - len(unstable)
    parts = [f"{same} identical", f"{len(moved)} moved", f"{len(unstable)} unstable",
             f"{len(one_side)} on one side"]
    print(", ".join(parts))
    for label, names in (("moved", moved), ("unstable", unstable),
                         ("on one side", one_side)):
        if names:
            print(f"{label}: " + ", ".join(names))
    return 1 if moved or one_side else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
