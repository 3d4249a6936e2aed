#!/usr/bin/env python3
"""Count code lines of the Scala sources under src/main.

Usage: python3 tools/loc.py [ROOT]

A code line is any line that is not blank, not a `//` line comment, and
not inside a `/* ... */` block comment (scaladoc included). A line that
holds code next to a comment counts as code. Prints one line per file
(code lines, path), sorted by path, then the total.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            elif line.startswith("/*"):
                in_block = True
                line = line[2:]
            else:
                code = True
                break
        if code:
            n += 1
    return n


def main(argv):
    root = argv[0] if argv else "."
    base = os.path.join(root, "src", "main")
    files = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))
    total = 0
    for rel in files:
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {rel}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
