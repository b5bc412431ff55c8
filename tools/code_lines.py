#!/usr/bin/env python3
"""Count code lines in Scala/Java sources.

A code line is a non-blank line that is neither a `//` comment line nor
inside a `/* ... */` block (scaladoc included). A line holding code before
or after a comment counts. Directories are walked for *.scala and *.java.

    python3 tools/code_lines.py src/main            # per file + total
    python3 tools/code_lines.py --total src/main    # total only
"""
import os
import sys

EXTS = (".scala", ".java")


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block = False
            line = line[end + 2:].strip()
        while line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block = True
                line = ""
            else:
                line = line[end + 2:].strip()
        if line and not line.startswith("//"):
            n += 1
    return n


def sources(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    if f.endswith(EXTS):
                        yield os.path.join(root, f)
        else:
            yield p


def main(argv):
    total_only = "--total" in argv
    paths = [a for a in argv if a != "--total"]
    if not paths:
        sys.exit(__doc__)
    total = 0
    for f in sources(paths):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        if not total_only:
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
