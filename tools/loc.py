#!/usr/bin/env python3
"""Count code lines of the Scala sources: non-blank lines that are neither
`//` comments nor inside `/* */` or scaladoc blocks. A line that holds code
before or after a one-line block comment counts as code.

    python3 tools/loc.py [ROOT]

ROOT defaults to src/main/scala under the repository root. Prints one
`<count> <path>` line per .scala file (paths relative to ROOT, sorted) and a
last line `<total> total`.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" not in s:
                continue
            in_block = False
            s = s.split("*/", 1)[1].strip()
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            rest = s[2:]
            if "*/" not in rest:
                in_block = True
                continue
            s = rest.split("*/", 1)[1].strip()
            if not s or s.startswith("//"):
                continue
        n += 1
    return n


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, "src", "main", "scala")
    counts = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts[os.path.relpath(p, root)] = code_lines(fh.read())
    for p in sorted(counts):
        print(f"{counts[p]} {p}")
    print(f"{sum(counts.values())} total")


if __name__ == "__main__":
    main()
