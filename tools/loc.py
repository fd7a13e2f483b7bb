#!/usr/bin/env python3
"""Non-blank, non-comment line counts for the Scala sources.

Usage:
  python3 tools/loc.py              # per package, for src/main and src/test
  python3 tools/loc.py FILE|DIR...  # per file, plus the total

A line counts when it holds any character outside a `//` line comment or a
`/* ... */` block comment (scaladoc included); string literals are skipped
so a "//" or "/*" inside one does not open a comment. Standard library only.
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    n = 0
    in_block = 0          # block comments nest in Scala
    in_str = None         # None, '"' or '"""'
    for line in text.split("\n"):
        code = False
        i = 0
        while i < len(line):
            if in_block:
                if line.startswith("*/", i):
                    in_block -= 1
                    i += 2
                elif line.startswith("/*", i):
                    in_block += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if in_str == '"""' and line.startswith('"""', i):
                    in_str = None
                    i += 3
                elif in_str == '"' and line[i] == "\\":
                    i += 2
                elif in_str == '"' and line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block = 1
                i += 2
                continue
            c = line[i]
            if line.startswith('"""', i):
                in_str = '"""'
                code = True
                i += 3
                continue
            if c == '"':
                in_str = '"'
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3          # a char literal such as '"'
                code = True
                continue
            if not c.isspace():
                code = True
            i += 1
        if in_str == '"':
            in_str = None       # single-quoted strings never span lines
        if code:
            n += 1
    return n


def count_file(path):
    with open(path, encoding="utf-8") as f:
        return code_lines(f.read())


def scala_files(top):
    for d, _, names in os.walk(top):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def per_package():
    for tree in ("src/main/scala", "src/test/scala"):
        top = os.path.join(ROOT, tree)
        pkgs = {}
        for p in scala_files(top):
            pkg = os.path.relpath(os.path.dirname(p), top).replace(os.sep, ".")
            pkgs[pkg] = pkgs.get(pkg, 0) + count_file(p)
        print(f"== {tree}")
        for pkg in sorted(pkgs):
            print(f"{pkgs[pkg]:7d}  {pkg}")
        print(f"{sum(pkgs.values()):7d}  total")


def per_file(args):
    total = 0
    for a in args:
        files = list(scala_files(a)) if os.path.isdir(a) else [a]
        for p in files:
            n = count_file(p)
            total += n
            print(f"{n:7d}  {os.path.relpath(p)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    if len(sys.argv) > 1:
        per_file(sys.argv[1:])
    else:
        per_package()
