#!/usr/bin/env python3
"""Verify file:line anchors in the doc crosswalk still land where they claim.

Scans markdown files (default: COVERAGE.md) for backticked citations of
the form `path/File.scala:NN` with optional bare `:NN` continuations
that inherit the preceding file, e.g.:

    `transform/GdcTransforms.scala:78` (`rawReadOptions`), `:111` (`readRaw`)

For each citation:
  * ERROR if the file does not exist under src/{main,test}/scala/graft
    or the line number is past EOF.
  * If the citation is followed by a parenthesized group whose
    backticked chunks name plain identifiers (the convention used
    throughout COVERAGE.md), ERROR unless at least one named identifier
    occurs within a small window around the cited line — this is what
    catches silent line drift after insertions.
  * Otherwise fall back to requiring a declaration keyword near the
    cited line, and WARN (not fail) if absent: an anchor without a
    named symbol can only be weakly checked by grep.

Exit 1 on any ERROR. Run by tools/gate.sh before the suites.
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_ROOTS = [
    os.path.join(REPO, "src", "main", "scala", "graft"),
    os.path.join(REPO, "src", "test", "scala", "graft"),
    REPO,  # tools/*.py citations, if any appear later
]
DOCS = sys.argv[1:] or ["COVERAGE.md"]

# `path.scala:NN` or bare `:NN` continuation; both as whole backtick chunks.
CITE = re.compile(r"`(?:(?P<file>[\w/]+\.(?:scala|py)):)?(?P<line>\d+)`")
IDENT = re.compile(r"^[A-Za-z_]\w*$")
DECL = re.compile(r"\b(def|val|var|lazy val|object|class|trait|type)\s")
WINDOW_BEFORE, WINDOW_AFTER = 3, 8


def resolve(path):
    for root in SRC_ROOTS:
        cand = os.path.join(root, path)
        if os.path.isfile(cand):
            return cand
    return None


def symbols_after(text, end):
    """Backticked identifier chunks inside a '(...)' group right after a
    citation; stops at the closing paren or the next citation."""
    m = re.match(r"\s*\(", text[end:])
    if not m:
        return []
    rest = text[end + m.end():]
    close = rest.find(")")
    group = rest[:close] if close >= 0 else rest
    syms = []
    for chunk in re.findall(r"`([^`]+)`", group):
        if re.match(r"\d+$", chunk) or ".scala:" in chunk:
            break  # ran into the next citation
        # `readRaw positional` -> readRaw; `fillFrom: join` -> fillFrom
        tok = re.split(r"[^\w]", chunk.strip(), 1)[0]
        if tok and IDENT.match(tok):
            syms.append(tok)
    return syms


errors, warns, checked = [], [], 0
for doc in DOCS:
    doc_path = os.path.join(REPO, doc)
    if not os.path.isfile(doc_path):
        errors.append(f"{doc}: document not found")
        continue
    for ln, line in enumerate(open(doc_path, encoding="utf-8"), 1):
        current_file = None
        for m in CITE.finditer(line):
            if m.group("file"):
                current_file = m.group("file")
            if current_file is None:
                continue  # bare `:NN` with no preceding file on this line
            lineno = int(m.group("line"))
            where = f"{doc}:{ln} -> {current_file}:{lineno}"
            target = resolve(current_file)
            if target is None:
                errors.append(f"{where}: file not found")
                continue
            src = open(target, encoding="utf-8").read().splitlines()
            checked += 1
            if lineno > len(src):
                errors.append(f"{where}: line past EOF ({len(src)} lines)")
                continue
            lo = max(0, lineno - 1 - WINDOW_BEFORE)
            hi = min(len(src), lineno + WINDOW_AFTER)
            window = "\n".join(src[lo:hi])
            syms = symbols_after(line, m.end())
            if syms:
                if not any(re.search(rf"\b{re.escape(s)}\b", window) for s in syms):
                    errors.append(
                        f"{where}: none of {syms} within lines {lo + 1}-{hi}")
            elif not DECL.search(
                    "\n".join(src[max(0, lineno - 2):min(len(src), lineno + 1)])):
                warns.append(f"{where}: no symbol named, no declaration nearby")

for w in warns:
    print(f"WARN  {w}")
for e in errors:
    print(f"ERROR {e}")
print(f"check_anchors: {checked} anchors checked, "
      f"{len(errors)} errors, {len(warns)} warnings in {', '.join(DOCS)}")
sys.exit(1 if errors else 0)
