#!/usr/bin/env python3
"""Compare two ExplainDump outputs query by query, ignoring run-specific ids.

A pure refactor must leave every physical plan unchanged. Two dumps of the
same plans still differ in ids Spark hands out per run, so both sides are
normalized before comparing:

  - expression ids           name#123            -> name#N
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

Usage: python3 tools/plan_diff.py PARENT.md CHANGE.md
Prints a unified diff per query whose plan differs (after normalization;
the diff is shown without the tree drawing, so a node inserted above a
subtree shows as that node alone), then a summary line. Exits 0 when every plan is identical, 1 otherwise.
"""
import difflib
import re
import sys

NORMALIZERS = [
    (re.compile(r"#\d+"), "#N"),
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
    """Map query name -> normalized plan lines, in dump order."""
    out = {}
    name = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                name = line[3:].strip()
                out[name] = []
            elif name is not None and not line.startswith("```"):
                out[name].append(normalize(line.rstrip("\n")))
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    changed = []
    for name in a:
        if name not in b:
            print(f"## {name}: only in {argv[1]}")
            changed.append(name)
        elif a[name] != b[name]:
            changed.append(name)
            print(f"## {name}")
            # an inserted node re-indents its whole subtree; diffing the
            # lines without the tree drawing shows just the moved nodes
            for d in difflib.unified_diff(flat(a[name]), flat(b[name]),
                                          argv[1], argv[2], n=1, lineterm=""):
                print(d)
    for name in b:
        if name not in a:
            print(f"## {name}: only in {argv[2]}")
            changed.append(name)
    same = len(a.keys() & b.keys()) - len([n for n in changed if n in a and n in b])
    print(f"{same} identical, {len(changed)} differ"
          + (": " + ", ".join(changed) if changed else ""))
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
