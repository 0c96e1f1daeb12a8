#!/usr/bin/env python3
"""List the definitions in src/main/scala that nothing calls.

Usage: python3 tools/uncalled_defs.py

A `def` or `val` declared in src/main/scala is reported when its name
has no word-boundary occurrence in src/main/scala or perfbench/src
other than at its own declaration. Comments are stripped first, so a
name that only a scaladoc mentions counts as uncalled. `override`
members and `main` are skipped: Spark and the JVM call those.

The allowlist, tools/uncalled_allow.txt, names the test-only
reference entries: one `Owner.name  SpecName` per line, `#` comments.
An entry is accepted only if src/test/scala/**/SpecName.scala mentions
the name; a stale entry (the spec no longer calls it, or the name is
now called from src/main) is reported too.

Exit status 1 when anything is reported, 0 otherwise. Python stdlib
only.
"""
import os
import re
import sys
from collections import Counter

DECL = re.compile(
    r"^\s*(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+"
    r"|implicit\s+|override\s+|sealed\s+)*)(?:def|val)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"^\s*(?:private(?:\[\w+\])?\s+|final\s+|case\s+|sealed\s+"
                   r"|abstract\s+)*(?:object|class|trait)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(src):
    """Blank out // and /* */ comments, keeping line breaks and string
    literals (so line numbers stay true)."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j]); i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * src.count("\n", i, j)); i = j
        else:
            out.append(c); i += 1
    return "".join(out)


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOW = os.path.join(ROOT, "tools", "uncalled_allow.txt")


def main():
    main_dir = os.path.join(ROOT, "src", "main", "scala")
    bench_dir = os.path.join(ROOT, "perfbench", "src")
    test_dir = os.path.join(ROOT, "src", "test", "scala")

    words = Counter()
    decls = []  # (owner.name, name, path, line)
    for root in (main_dir, bench_dir):
        for p in scala_files(root):
            text = strip_comments(open(p, encoding="utf-8").read())
            words.update(WORD.findall(text))
            if root != main_dir:
                continue
            owners = []  # (indent, name) of the enclosing object/class/trait
            for ln, line in enumerate(text.split("\n"), 1):
                indent = len(line) - len(line.lstrip())
                m = OWNER.match(line) or DECL.match(line)
                if m:
                    while owners and owners[-1][0] >= indent:
                        owners.pop()
                if isinstance(m, re.Match) and m.re is OWNER:
                    owners.append((indent, m.group(1)))
                    continue
                if not m or "override" in m.group("mods") or m.group("name") == "main":
                    continue
                owner = owners[-1][1] if owners else "?"
                decls.append((f"{owner}.{m.group('name')}", m.group("name"),
                              os.path.relpath(p, ROOT), ln))

    # a name declared k times needs more than k occurrences to be called
    declared = Counter(n for _, n, _, _ in decls)
    uncalled = [(q, n, p, ln) for q, n, p, ln in decls if words[n] <= declared[n]]

    allow = {}
    if os.path.exists(ALLOW):
        for raw in open(ALLOW, encoding="utf-8"):
            line = raw.split("#", 1)[0].strip()
            if line:
                qual, spec = line.split()[:2]
                allow[qual] = spec
    tests = {os.path.splitext(os.path.basename(p))[0]: p
             for p in scala_files(test_dir)}

    bad = allowed = 0
    reported = {q for q, _, _, _ in uncalled}
    for q, n, p, ln in uncalled:
        spec = allow.get(q)
        if spec is None:
            print(f"UNCALLED {q}  ({p}:{ln})"); bad += 1
        elif spec not in tests or not re.search(
                rf"\b{re.escape(n)}\b", open(tests[spec], encoding="utf-8").read()):
            print(f"STALE ALLOW {q}: {spec} does not call it  ({p}:{ln})"); bad += 1
        else:
            allowed += 1
    for q in sorted(set(allow) - reported):
        print(f"STALE ALLOW {q}: called from src/main or perfbench, or gone"); bad += 1
    print(f"== {len(decls)} definitions, {len(uncalled)} without a caller, "
          f"{allowed} allowlisted, {bad} reported ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
