#!/usr/bin/env python3
"""Count the code lines of every source file under src/main.

A code line is a line that is neither blank nor comment only: lines inside
a /* ... */ or /** ... */ block and lines that start with // do not count.
A line holding code and a comment counts.

Usage: python3 tools/code_lines.py [repo_root]
Prints "<count>  <path>" per file, sorted by path, then the total.
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


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    main_dir = os.path.join(root, "src", "main")
    counts = []
    for d, _, files in os.walk(main_dir):
        for f in files:
            if f.endswith((".scala", ".java")):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((os.path.relpath(p, root), code_lines(fh.read())))
    for p, n in sorted(counts):
        print(f"{n:6d}  {p}")
    print(f"{sum(n for _, n in counts):6d}  total")


if __name__ == "__main__":
    main()
