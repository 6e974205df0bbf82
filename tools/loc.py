#!/usr/bin/env python3
"""Count code lines: per file and in total.

A code line is a non-blank line that, after its leading whitespace, does
not start with `//`, `/*` or `*` (so scaladoc and block-comment bodies do
not count). Directories are walked for `.scala` and `.java` files, whose
comments follow that rule.

Usage: python3 tools/loc.py <path> [<path> ...]
"""
import os
import sys

EXTENSIONS = (".scala", ".java")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.lstrip().startswith(("//", "/*", "*")))


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith(EXTENSIONS):
                        yield os.path.join(root, n)
        else:
            yield p


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    total = 0
    for path in files(argv):
        n = code_lines(path)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
