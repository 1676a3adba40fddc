#!/usr/bin/env python3
"""Catalog-honesty sweep: every public def in src/main/scala/graft/ops/
(and functions/, io/, stream/) must be referenced from somewhere other
than its own definition — a query, a spec, another operator, Probe, or
a main. `override def`s are skipped: the framework calls them (listener
hooks, Aggregator plumbing), so a missing textual reference proves
nothing.

Usage: python3 tools/deadcode.py            # report + exit 1 on orphans

The check is textual (word-boundary grep over src/), which is the
right weight for a catalog gate: a def whose NAME appears nowhere else
in the tree is unreachable from the query/spec surface regardless of
types. Scala-side false negatives (same-named defs in two objects)
err toward passing, never toward deleting live code.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ["src/main/scala/graft/ops", "src/main/scala/graft/functions",
             "src/main/scala/graft/io", "src/main/scala/graft/stream"]
USE_DIRS = ["src/main/scala", "src/test/scala"]

DEF_RE = re.compile(r"^\s*def\s+([A-Za-z_][A-Za-z0-9_]*)")
PRIVATE_RE = re.compile(r"^\s*private")

def public_defs():
    out = []  # (file, line_no, name)
    for d in SCAN_DIRS:
        for fn in sorted(os.listdir(os.path.join(ROOT, d))):
            if not fn.endswith(".scala"):
                continue
            path = os.path.join(d, fn)
            with open(os.path.join(ROOT, path)) as f:
                for i, line in enumerate(f, 1):
                    m = DEF_RE.match(line)
                    if m and not PRIVATE_RE.match(line):
                        name = m.group(1)
                        # Aggregator/Encoder plumbing is framework-called
                        if name in ("zero", "reduce", "merge", "finish",
                                    "bufferEncoder", "outputEncoder",
                                    "main", "apply"):
                            continue
                        out.append((path, i, name))
    return out

def count_refs(name, def_path, def_line):
    pat = re.compile(r"\b" + re.escape(name) + r"\b")
    n = 0
    for d in USE_DIRS:
        for root, _, files in os.walk(os.path.join(ROOT, d)):
            for fn in files:
                if not fn.endswith(".scala"):
                    continue
                path = os.path.relpath(os.path.join(root, fn), ROOT)
                with open(os.path.join(ROOT, path)) as f:
                    for i, line in enumerate(f, 1):
                        if path == def_path and i == def_line:
                            continue  # the definition itself
                        n += len(pat.findall(line))
    return n

def main():
    orphans = []
    defs = public_defs()
    for path, line, name in defs:
        if count_refs(name, path, line) == 0:
            orphans.append((path, line, name))
    print(f"scanned {len(defs)} public defs in {'+'.join(SCAN_DIRS)}")
    if orphans:
        print(f"ORPHANS ({len(orphans)}): public defs with no reference "
              "outside their definition line:")
        for path, line, name in orphans:
            print(f"  {path}:{line}  {name}")
        sys.exit(1)
    print("no orphans: every public op def is referenced from a query, "
          "spec, or operator")

if __name__ == "__main__":
    main()
