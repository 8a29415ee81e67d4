#!/usr/bin/env python3
"""Count code lines of Scala files: every line except blank lines, `//`
line comments and lines inside `/* ... */` or `/** ... */` comments.

Usage: python3 tools/code_lines.py <file.scala | dir>...
A directory stands for every `*.scala` file under it, recursively.
Prints `<count> <file>` per file, then `<count> total`."""
import os
import sys


def code_lines(path):
    n, in_doc = 0, False
    for line in open(path, encoding="utf-8"):
        s = line.strip()
        if in_doc:
            in_doc = "*/" not in s
        elif s.startswith("/*"):
            in_doc = "*/" not in s
        elif s and not s.startswith("//"):
            n += 1
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


total = 0
for f in scala_files(sys.argv[1:]):
    n = code_lines(f)
    total += n
    print(f"{n:6d} {f}")
print(f"{total:6d} total")
