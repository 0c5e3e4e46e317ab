#!/usr/bin/env python3
"""Count repeated code per Scala source file.

For each file under src/main/scala, print the number of lines that belong
to a 3-line window already seen earlier in the same file. Lines are
trimmed; blank lines, comment lines (starting with `//`, `*` or `/**`)
and lines of 12 characters or fewer are skipped before windows are
formed. A high count marks a kernel written out more than once, a
candidate for stating it once.

Usage: python3 tools/dupscan.py [root]
  root  source root (default: src/main/scala next to this script)

Files with a count of 0 are not printed; the last line is the total.
"""
import os
import sys


def kept_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line or len(line) <= 12:
                continue
            if line.startswith(("//", "*", "/**")):
                continue
            out.append(line)
    return out


def dup_lines(lines, width=3):
    seen = set()
    dup = set()
    for i in range(len(lines) - width + 1):
        window = tuple(lines[i:i + width])
        if window in seen:
            dup.update(range(i, i + width))
        else:
            seen.add(window)
    return len(dup)


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[0] if argv else os.path.join(here, "..", "src", "main", "scala")
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                rows.append((dup_lines(kept_lines(path)), os.path.relpath(path, root)))
    rows.sort(key=lambda r: (-r[0], r[1]))
    total = 0
    for n, rel in rows:
        total += n
        if n:
            print(f"{n:6d}  {rel}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
