#!/usr/bin/env python3
"""Code line, comment line and public entry point counts of the Scala
sources. Usage:

    python3 tools/loc.py [root]        # root defaults to src/main

Prints one tab-separated line per .scala file under root (path, code
lines, comment lines, public entry points) and a total line. A code line
is a non-blank line that is neither inside a /* ... */ block nor starts
with //; every other non-blank line is a comment line. A block comment is
recognised where a line starts with /*, so a "/*" inside a string literal
starts nothing. A public entry point is a code line indented exactly two
spaces that declares a def, val or lazy val with no private or protected
modifier (other modifiers such as final or override may precede it): a
public member of a top-level object, class or trait.
"""
import os
import re
import sys

MEMBER = re.compile(r"^  (?! )((?:[\w\[\]]+\s+)*?)(?:def|val|lazy\s+val)\b")


def is_public_member(line):
    m = MEMBER.match(line)
    return bool(m) and not any(w.startswith(("private", "protected"))
                               for w in m.group(1).split())


def count(path):
    code = comment = public = 0
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
                public += is_public_member(line)
    return code, comment, public


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(root)
                   for n in names if n.endswith(".scala"))
    totals = [0, 0, 0]
    for p in paths:
        counts = count(p)
        totals = [t + c for t, c in zip(totals, counts)]
        print("\t".join([os.path.relpath(p, root)] + [str(c) for c in counts]))
    print("\t".join(["total"] + [str(t) for t in totals]))


if __name__ == "__main__":
    main()
