#!/usr/bin/env python3
"""Diff the executed plans in two `graft.tools.Profile` stderr dumps.

Usage: python3 tools/plandiff.py <before.err> <after.err>

Profile writes each query's formatted plan to stderr under a
`== <query> executed plan` header, between Spark's log lines. This script
keeps only those plan sections and normalizes what differs from one run to
the next without changing the plan:

- expression IDs (`l_orderkey#856L` -> `l_orderkey#N`),
- plan ids (`[plan_id=123]`) and object hashes (`Foo@1a2b3c4d`),
- RDD ids and their call sites (`MapPartitionsRDD[563] at localCheckpoint
  at Cooccurrence.scala:78`), which move with source lines,
- temp paths (`/tmp/...`, `java.io.tmpdir` and Spark local dirs).

It prints a unified diff per query and exits 1 on any difference (a query
present in one dump only counts as a difference), 0 when every plan is
identical.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^== (\S+) executed plan$")
# Spark's log4j lines: `26/10/17 16:56:47 INFO SparkContext: ...`
LOG_LINE = re.compile(r"^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} [A-Z]+ ")

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(at \w+ at )[\w$.]+\.scala:\d+"), r"\1<site>"),
    (re.compile(r"(file:)?/(tmp|var/tmp|private/var/folders)/[^\s,\]\)]*"), "<tmp>"),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def plans(path):
    """Query name -> normalized plan lines, in dump order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = out.setdefault(m.group(1), [])
            elif cur is not None and not LOG_LINE.match(line):
                cur.append(normalize(line))
    # trailing blank lines are layout, not plan
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    if not a and not b:
        sys.stderr.write("plandiff: no '== <query> executed plan' sections in either dump\n")
        return 2
    differ = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"{q}: only in {argv[1] if q in a else argv[2]}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(a[q], b[q], f"{argv[1]}:{q}", f"{argv[2]}:{q}",
                                         lineterm="", n=2))
        if diff:
            print("\n".join(diff))
            differ += 1
        else:
            print(f"{q}: identical ({len(a[q])} lines)")
    print(f"plandiff: {differ} of {len(set(a) | set(b))} queries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
