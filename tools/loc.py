#!/usr/bin/env python3
"""Code lines per Scala file, and their total.

A line counts when it holds code outside comments: blank lines, lines
that are only a `//` comment and lines inside `/* ... */` blocks
(scaladoc included, nested blocks honored) are not counted. Comment
markers inside string literals are ignored.

Usage:
  python3 tools/loc.py                       # src/main/scala
  python3 tools/loc.py src/main/scala/graft/pipeline/Similarity.scala ...
  python3 tools/loc.py --total-only PATH...  # the total only
"""
import argparse
import os
import sys


def code_lines(text):
    """Number of lines of `text` carrying code outside comments."""
    n = 0
    depth = 0          # /* */ nesting depth carried across lines
    in_triple = False  # inside a """ string carried across lines
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                code = True
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line.startswith("'\"'", i):
                code = True
                i += 3
            else:
                if not line[i].isspace():
                    code = True
                i += 1
        if code:
            n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(root, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="*", default=["src/main/scala"])
    ap.add_argument("--total-only", action="store_true")
    args = ap.parse_args()
    total = 0
    for p in args.paths:
        if not os.path.exists(p):
            sys.exit(f"loc.py: no such path: {p}")
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            if not args.total_only:
                print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
