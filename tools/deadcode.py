#!/usr/bin/env python3
"""Catalog-honesty sweep over the public defs of the whole main tree:
src/main/scala/graft/ (top level, ops/, functions/, io/, stream/,
sources/, model/, queries/) and org/apache/spark/sql/graftbridge/.
`override def`s are skipped: the framework calls them (listener hooks,
Aggregator plumbing), so a missing textual reference proves nothing.
`def apply`/`def unapply` are skipped for the same reason: Scala calls
them through `Name(...)` and pattern matches, never by name.

Pass 1 (orphans): every public def must be referenced from somewhere
other than its own definition — a query, a spec, another operator,
Probe, a main, or the benchmark harness.

Pass 2 (test-only API): a public def referenced only from src/test is
program code that the program never runs. It must be listed in
TEST_ONLY_API below with a one-line reason (library API kept for
callers outside the tree, or the reference a spec compares against);
otherwise it is dead code that a spec keeps alive. References from
perfbench/src count as program use: the benchmark harness compiles
src/main/scala. An entry that is no longer test-only fails too, so the
list cannot go stale.

Usage: python3 tools/deadcode.py            # report + exit 1 on findings

The check is textual (word-boundary grep), which is the right weight
for a catalog gate: a def whose NAME appears nowhere else in the tree
is unreachable from the query/spec surface regardless of types.
Scala-side false negatives (same-named defs in two objects) err toward
passing, never toward deleting live code.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ["src/main/scala/graft", "src/main/scala/graft/ops",
             "src/main/scala/graft/functions", "src/main/scala/graft/io",
             "src/main/scala/graft/stream", "src/main/scala/graft/sources",
             "src/main/scala/graft/model", "src/main/scala/graft/queries",
             "src/main/scala/org/apache/spark/sql/graftbridge"]
PROGRAM_DIRS = ["src/main/scala", "perfbench/src"]
TEST_DIRS = ["src/test/scala"]

# <file stem>.<def> -> why a def no program code calls stays public
TEST_ONLY_API = {
    "Auth.configLookup": "library API: the S6/F3 per-client config join",
    "Dedup.withMinhashSignatureUnfused":
        "reference: TrainingSpec compares the fused MinHash kernel to it",
    "Dedup.connectedComponentsAuto":
        "library API: one CC entry point for any graph size",
    "Ingest.sinkGuard": "library API: the reference's sink-side ts guard",
    "Ingest.toMarketData": "library API: the market_data row a JdbcSink appends",
    "AnnLayout.prunedCorpusScan":
        "library API: the probe-pruned corpus scan, for input-file audits",
    "ForgetStore.readCorpusAt": "library API: time travel to a retained epoch",
    "ForgetStore.positionalIndexAt":
        "library API: time travel to a retained epoch",
    "ForgetStore.readAnnCorpusAt": "library API: time travel to a retained epoch",
    "ForgetStore.knnAt": "library API: time travel to a retained epoch",
    "Registry.connectionCount": "library API: per-client connection count",
}

DEF_RE = re.compile(r"^\s*def\s+([A-Za-z_][A-Za-z0-9_]*)")
PRIVATE_RE = re.compile(r"^\s*private")

def scala_files(dirs):
    out = {}  # relpath -> lines
    for d in dirs:
        for root, _, files in os.walk(os.path.join(ROOT, d)):
            for fn in sorted(files):
                if fn.endswith(".scala"):
                    path = os.path.relpath(os.path.join(root, fn), ROOT)
                    with open(os.path.join(ROOT, path)) as f:
                        out[path] = f.read().split("\n")
    return out

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
                                    "main", "apply", "unapply"):
                            continue
                        out.append((path, i, name))
    return out

def count_refs(files, name, def_path, def_line):
    pat = re.compile(r"\b" + re.escape(name) + r"\b")
    n = 0
    for path, lines in files.items():
        for i, line in enumerate(lines, 1):
            if path == def_path and i == def_line:
                continue  # the definition itself
            n += len(pat.findall(line))
    return n

def main():
    program, tests = scala_files(PROGRAM_DIRS), scala_files(TEST_DIRS)
    orphans, test_only = [], []
    defs = public_defs()
    for path, line, name in defs:
        in_program = count_refs(program, name, path, line)
        in_tests = count_refs(tests, name, path, line)
        key = f"{os.path.basename(path)[:-len('.scala')]}.{name}"
        if in_program + in_tests == 0:
            orphans.append((path, line, key))
        elif in_program == 0:
            test_only.append((path, line, key))
    unlisted = [t for t in test_only if t[2] not in TEST_ONLY_API]
    stale = sorted(set(TEST_ONLY_API) - {t[2] for t in test_only})
    print(f"scanned {len(defs)} public defs in {len(SCAN_DIRS)} main-tree "
          f"dirs; "
          f"{len(test_only)} test-only, {len(TEST_ONLY_API)} listed")
    if orphans:
        print(f"ORPHANS ({len(orphans)}): public defs with no reference "
              "outside their definition line:")
        for path, line, key in orphans:
            print(f"  {path}:{line}  {key}")
    if unlisted:
        print(f"TEST-ONLY ({len(unlisted)}): public defs referenced only "
              "from src/test and not in TEST_ONLY_API:")
        for path, line, key in unlisted:
            print(f"  {path}:{line}  {key}")
    if stale:
        print(f"STALE ({len(stale)}): TEST_ONLY_API entries that are not "
              "test-only public defs: " + ", ".join(stale))
    if orphans or unlisted or stale:
        sys.exit(1)
    print("no orphans; every test-only public def is listed with a reason")

if __name__ == "__main__":
    main()
