#!/usr/bin/env python3
"""Catalog-honesty sweep over the public defs of the whole main tree:
src/main/scala/graft/ (top level, ops/, functions/, io/, stream/,
sources/, model/, queries/) and org/apache/spark/sql/graftbridge/.
`override def`s are skipped: the framework calls them (listener hooks,
Aggregator plumbing), so a missing textual reference proves nothing.
`def apply`/`def unapply` are skipped for the same reason: Scala calls
them through `Name(...)` and pattern matches, never by name.

A def nested in the body of another def or of a member val (a local
helper, e.g. a connection handler's `reject`) is not API and is not
scanned. A body is the def's line plus every following line indented
deeper than it (and its closing `}`/`)` line); lines inside a
multi-line string literal never end a body.

Pass 1 (orphans): every public def must be referenced from somewhere
other than its own body — a query, a spec, another operator, Probe, a
main, or the benchmark harness. A def that names itself (recursion, an
error message) is not kept alive by that.

Pass 2 (test-only API): a public def referenced only from src/test is
program code that the program never runs. A reference inside the body
of a def already found test-only is not program use either, so the
pass repeats until the test-only set stops growing: a helper that only
test-only API calls is test-only too. Each must be listed in
TEST_ONLY_API below with a one-line reason (library API kept for
callers outside the tree); otherwise it is dead code that a spec keeps
alive. A reference kernel a spec compares against is `private[graft]`
instead, which keeps it out of the scan. References from
perfbench/src count as program use: the benchmark harness compiles
src/main/scala. An entry that is no longer test-only fails too, so the
list cannot go stale.

The summary line also reports the tree's size in lines (every line of
every .scala file): the main tree, its io/ part, and the tests.

Usage: python3 tools/deadcode.py            # report + exit 1 on findings

References are counted in code only: `//` and `/* */` comments
(scaladoc included) are blanked before counting, so a `[[name]]`
mention keeps nothing alive; string literals stay as they are.

The check is textual (word-boundary grep), which is the right weight
for a catalog gate: a def whose NAME appears nowhere else in the tree
is unreachable from the query/spec surface regardless of types.
Scala-side false negatives (same-named defs in two objects) err toward
passing, never toward deleting live code.
"""
import bisect
import collections
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
# label -> dir whose .scala lines the summary line counts
LOC_DIRS = {"main": "src/main/scala", "io/": "src/main/scala/graft/io",
            "test": "src/test/scala"}

# <file stem>.<def> -> why a def no program code calls stays public
TEST_ONLY_API = {
    "Ingest.sinkGuard": "library API: the reference's sink-side ts guard",
    "Ingest.toMarketData": "library API: the market_data row a JdbcSink appends",
    "LatestStream.keepLastStateful":
        "library API: stateful keep-last with TTL and state migration",
    "Pipeline.replayQuarantine":
        "library API: re-append quarantined batches after a sink outage",
    "Pipeline.rebuildLatest":
        "library API: rebuild the latest table from the append log",
    "WsServer.tlsServerSocket": "library API: TLS listener for wss:// serving",
    "LatestStream.updateLatest":
        "library API: keepLastStateful's state update, for TestGroupState",
}

DEF_RE = re.compile(r"^\s*def\s+([A-Za-z_][A-Za-z0-9_]*)")
PRIVATE_RE = re.compile(r"^\s*private")
# any def or member val, modifiers included: the bodies that nest
BODY_RE = re.compile(r"^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+|"
                     r"override\s+|final\s+|implicit\s+|lazy\s+|"
                     r"@\w+\s+)*(?:def|val|var)\s")
FRAMEWORK_NAMES = {"zero", "reduce", "merge", "finish", "bufferEncoder",
                   "outputEncoder", "main", "apply", "unapply"}

# one token at a time, leftmost first: a string or char literal (kept)
# or a comment (blanked); a `//` inside a string is never a comment.
# Block comments are taken unnested, and a quote nested inside an
# interpolation splice splits that string in two, which only misreads
# a comment marker placed inside the splice itself.
TOKEN_RE = re.compile(r'"""[\s\S]*?"""+|"(?:\\.|[^"\\\n])*"'
                      r"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/")


def strip_comments(src):
    """`src` with every comment's characters blanked (newlines kept, so
    line numbers hold); string and char literals unchanged."""
    return TOKEN_RE.sub(
        lambda m: re.sub(r"[^\n]", " ", m.group())
        if m.group()[0] == "/" else m.group(), src)


def in_string_lines(src):
    """1-based numbers of the lines that begin inside a string literal."""
    starts = [0] + [i + 1 for i, c in enumerate(src) if c == "\n"]
    inside = set()
    for m in TOKEN_RE.finditer(src):
        if m.group()[0] == '"':
            first = bisect.bisect_right(starts, m.start()) + 1
            last = bisect.bisect_left(starts, m.end())
            inside.update(range(first, last + 1))
    return inside


def indent(line):
    return len(line) - len(line.lstrip(" "))


def body_end(lines, skip, i):
    """Last line (1-based) of the body of the def/val on line `i`."""
    ind, end = indent(lines[i - 1]), i
    for j in range(i + 1, len(lines) + 1):
        line = lines[j - 1]
        if j in skip or not line.strip():
            continue
        if indent(line) > ind:
            end = j
            continue
        if indent(line) == ind and line.lstrip()[:1] in ("}", ")"):
            end = j
        break
    return end


def read_scala(path):
    """(lines with comments blanked, lines that begin inside a string)."""
    with open(os.path.join(ROOT, path)) as f:
        code = strip_comments(f.read())
    return code.split("\n"), in_string_lines(code)


def scala_files(dirs):
    out = {}  # relpath -> lines, comments blanked
    for d in dirs:
        for root, _, files in os.walk(os.path.join(ROOT, d)):
            for fn in sorted(files):
                if fn.endswith(".scala"):
                    path = os.path.relpath(os.path.join(root, fn), ROOT)
                    out[path] = read_scala(path)[0]
    return out


def loc(d):
    """Lines of every .scala file under `d`."""
    n = 0
    for root, _, files in os.walk(os.path.join(ROOT, d)):
        for fn in files:
            if fn.endswith(".scala"):
                with open(os.path.join(root, fn)) as f:
                    n += sum(1 for _ in f)
    return n


def public_defs():
    out = []  # (file, first line, last body line, name)
    for d in SCAN_DIRS:
        for fn in sorted(os.listdir(os.path.join(ROOT, d))):
            if not fn.endswith(".scala"):
                continue
            path = os.path.join(d, fn)
            code, skip = read_scala(path)
            enclosing_end = 0  # last line of the open member body
            for i, line in enumerate(code, 1):
                if i in skip or i <= enclosing_end or not BODY_RE.match(line):
                    continue
                end = body_end(code, skip, i)
                enclosing_end = end
                m = DEF_RE.match(line)
                # Aggregator/Encoder plumbing is framework-called
                if (m and not PRIVATE_RE.match(line)
                        and m.group(1) not in FRAMEWORK_NAMES):
                    out.append((path, i, end, m.group(1)))
    return out


def word_index(files):
    """name -> [(path, line, occurrences)] over every word of `files`."""
    index = collections.defaultdict(list)
    for path, lines in files.items():
        for i, line in enumerate(lines, 1):
            for w, n in collections.Counter(re.findall(r"\w+", line)).items():
                index[w].append((path, i, n))
    return index


def count_refs(index, name, excluded):
    """References to `name` outside the `excluded` (path, first, last)
    line spans."""
    return sum(n for path, i, n in index.get(name, ())
               if not any(p == path and a <= i <= b for p, a, b in excluded))


def main():
    program = word_index(scala_files(PROGRAM_DIRS))
    tests = word_index(scala_files(TEST_DIRS))
    defs = public_defs()
    key = {d: f"{os.path.basename(d[0])[:-len('.scala')]}.{d[3]}"
           for d in defs}
    orphans = [d for d in defs
               if count_refs(program, d[3], [d[:3]])
               + count_refs(tests, d[3], [d[:3]]) == 0]
    # fixpoint: a reference from a test-only body is not program use
    test_only = set()
    while True:
        dead = [d[:3] for d in test_only]
        found = {d for d in defs if d not in orphans
                 and count_refs(program, d[3], [d[:3]] + dead) == 0}
        if found == test_only:
            break
        test_only = found
    test_only = sorted(test_only)
    unlisted = [d for d in test_only if key[d] not in TEST_ONLY_API]
    stale = sorted(set(TEST_ONLY_API) - {key[d] for d in test_only})
    lines = ", ".join(f"{k} {loc(d):,}" for k, d in LOC_DIRS.items())
    print(f"scanned {len(defs)} public defs in {len(SCAN_DIRS)} main-tree "
          f"dirs; "
          f"{len(test_only)} test-only, {len(TEST_ONLY_API)} listed; "
          f"LoC {lines}")
    if orphans:
        print(f"ORPHANS ({len(orphans)}): public defs with no reference "
              "outside their own body:")
        for d in orphans:
            print(f"  {d[0]}:{d[1]}  {key[d]}")
    if unlisted:
        print(f"TEST-ONLY ({len(unlisted)}): public defs referenced only "
              "from src/test (or from test-only bodies) and not in "
              "TEST_ONLY_API:")
        for d in unlisted:
            print(f"  {d[0]}:{d[1]}  {key[d]}")
    if stale:
        print(f"STALE ({len(stale)}): TEST_ONLY_API entries that are not "
              "test-only public defs: " + ", ".join(stale))
    if orphans or unlisted or stale:
        sys.exit(1)
    print("no orphans; every test-only public def is listed with a reason")

if __name__ == "__main__":
    main()
