#!/usr/bin/env python3
"""Count the lines of main code per package.

    python3 scripts/loc.py              # this checkout
    python3 scripts/loc.py ../base      # another checkout, e.g. a base commit

Prints one line per package directory under `src/main` (the directories
that hold source files directly, e.g. `graft/streaming`) with its count,
then the total. A line counts when it is not blank and does not start,
after its indentation, with `//`, `/*` or `*`, so scaladoc and comment
lines are left out and code lines with a trailing comment are kept.
"""
import os
import sys

SOURCE_EXTS = (".scala", ".java")
COMMENT_STARTS = ("//", "/*", "*")


def count(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for ln in f
                   if ln.strip() and not ln.strip().startswith(COMMENT_STARTS))


def per_package(root):
    main = os.path.join(root, "src", "main")
    counts = {}
    for dirpath, _, files in os.walk(main):
        n = sum(count(os.path.join(dirpath, f)) for f in files if f.endswith(SOURCE_EXTS))
        if n:
            rel = os.path.relpath(dirpath, main)
            # src/main/scala/graft/streaming -> graft/streaming
            pkg = rel.split(os.sep, 1)[1] if os.sep in rel else rel
            counts[pkg.replace(os.sep, "/")] = n
    return counts


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    counts = per_package(root)
    width = max((len(p) for p in counts), default=5)
    for pkg in sorted(counts):
        print(f"{pkg:<{width}}  {counts[pkg]:>6,}")
    print(f"{'total':<{width}}  {sum(counts.values()):>6,}")


if __name__ == "__main__":
    main()
