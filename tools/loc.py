#!/usr/bin/env python3
"""Line counts of the engine's Scala sources (standard library only).

Usage (from the repository root):
    python3 tools/loc.py [--files] [ROOT]

ROOT defaults to src/main. Prints the non-blank, comment and code line
counts over every .scala file under ROOT; --files adds one line per file.
A comment line is a non-blank line that starts with `//` or lies inside a
`/* ... */` block (its opening and closing lines included); every other
non-blank line is code. Markers inside string literals are not special-
cased.
"""
import argparse
import os
import sys


def count(path):
    """(non_blank, comment) lines of one Scala file."""
    non_blank = comment = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            non_blank += 1
            if in_block:
                comment += 1
                in_block = "*/" not in line
            elif line.startswith("//"):
                comment += 1
            elif line.startswith("/*"):
                comment += 1
                in_block = "*/" not in line[2:]
    return non_blank, comment


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("root", nargs="?", default="src/main")
    ap.add_argument("--files", action="store_true",
                    help="also print the counts of every file")
    args = ap.parse_args()
    if not os.path.isdir(args.root):
        sys.exit(f"loc: no directory {args.root}")
    rows = []
    for d, _, names in os.walk(args.root):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                rows.append((p,) + count(p))
    rows.sort()
    if args.files:
        for p, nb, c in rows:
            print(f"{nb:7d} {c:7d} {nb - c:7d}  {p}")
    nb = sum(r[1] for r in rows)
    c = sum(r[2] for r in rows)
    print(f"{len(rows)} files: {nb} non-blank, {c} comment, {nb - c} code")


if __name__ == "__main__":
    main()
