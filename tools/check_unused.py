#!/usr/bin/env python3
"""List src/main definitions that nothing in the program reaches.

A `def`/`val`/`var` declared in src/main/scala whose name occurs nowhere
else in src/main/scala or perfbench/src (comments stripped, so a
scaladoc link is not a caller) has no product caller: only specs can
reach it. Such a definition either gains a caller or goes; a test
oracle moves into src/test.

A name scan cannot see what the JVM or Spark reaches by name or by
override, so those names are listed in ALLOW below with the reason.
`override` members are skipped outright (the DataSourceV2 connector's
Table/Scan members, LocalFs's RawLocalFileSystem methods, most
Expression members), and so are constructor
fields (a `val` with no `=` on its line): they are part of their
type's shape, not code with a caller.

Usage: python3 tools/check_unused.py   (exit 1 on an unlisted hit)
"""
import glob
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(REPO, "src", "main", "scala")
BENCH = os.path.join(REPO, "perfbench", "src")

ALLOW = {
    # JVM entry points (build.sbt mainClass, runMain, perfbench/build.py).
    "main",
    # Catalyst Expression members Spark calls through the Expression
    # API, implementing abstract members without `override`.
    "nullSafeEval", "doGenCode", "withNewChildInternal", "withNewChildrenInternal",
    # SparkEntry.entry: the one-call smoke entry (a fixed sf0.001 query)
    # that runners outside the build call by name.
    "entry",
}

# A comment, or a string literal kept as it is (so a `/*` in a glob
# pattern opens no comment, and a name passed as a string still counts).
TOKEN = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|/\*(?:.|\n)*?\*/|//[^\n]*')
DECL = re.compile(r"^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|final|lazy|implicit|"
                  r"override|@\w+)\s+)*(def|val|var)\s+([A-Za-z_]\w*)", re.M)
WORD = re.compile(r"[A-Za-z_]\w*")


def blank(m):
    """A comment becomes its newlines, so line numbers hold."""
    t = m.group(0)
    return t if t.startswith('"') else "\n" * t.count("\n")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def main():
    texts = {p: TOKEN.sub(blank, open(p, encoding="utf-8").read())
             for p in sources(MAIN) + sources(BENCH)}
    counts = {}
    for t in texts.values():
        for w in WORD.findall(t):
            counts[w] = counts.get(w, 0) + 1
    decls = {}
    for p, t in texts.items():
        if not p.startswith(MAIN):
            continue
        for m in DECL.finditer(t):
            if "override" in (m.group(1) or ""):
                continue
            eol = t.find("\n", m.end())
            if m.group(2) == "val" and "=" not in t[m.end():eol]:
                continue
            line = t.count("\n", 0, m.start()) + 1
            decls.setdefault(m.group(3), []).append((os.path.relpath(p, REPO), line))
    hits = sorted((loc, name) for name, locs in decls.items()
                  if counts[name] <= len(locs) and name not in ALLOW
                  for loc in locs)
    for (path, line), name in hits:
        print(f"{path}:{line}: {name} has no caller in src/main or perfbench/src")
    print(f"check_unused: {len(hits)} unreached definition(s)")
    return 1 if hits else 0


if __name__ == "__main__":
    sys.exit(main())
