#!/usr/bin/env python3
"""Code and comment line counts of the Scala sources. Usage:

    python3 tools/loc.py [root]        # root defaults to src/main

Prints one tab-separated line per .scala file under root (path, code
lines, comment lines) and a total line. A code line is a non-blank line
that is neither inside a /* ... */ block nor starts with //; every other
non-blank line is a comment line. A block comment is recognised where a
line starts with /*, so a "/*" inside a string literal starts nothing.
"""
import os
import sys


def count(path):
    code = comment = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if not s:
                continue
            if in_block:
                comment += 1
                in_block = "*/" not in s
            elif s.startswith("//"):
                comment += 1
            elif s.startswith("/*"):
                comment += 1
                in_block = "*/" not in s[2:]
            else:
                code += 1
    return code, comment


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(root)
                   for n in names if n.endswith(".scala"))
    total_code = total_comment = 0
    for p in paths:
        code, comment = count(p)
        total_code += code
        total_comment += comment
        print(f"{os.path.relpath(p, root)}\t{code}\t{comment}")
    print(f"total\t{total_code}\t{total_comment}")


if __name__ == "__main__":
    main()
