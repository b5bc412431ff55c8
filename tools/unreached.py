#!/usr/bin/env python3
"""List the `def`s of src/main that nothing but tests can reach.

A name is printed when it is declared with `def` in src/main (an
`override def` is skipped: the framework calls it) and occurs as a whole
word exactly once across src/main and kgbench/src, i.e. only at its own
declaration. Comments count as occurrences, so a name a scaladoc links to
is not printed.

    python3 tools/unreached.py                   # from the repo root
    python3 tools/unreached.py ROOT              # another checkout
"""
import os
import re
import sys

EXTS = (".scala", ".java")
DECL = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")


def sources(root):
    for root, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(EXTS):
                yield os.path.join(root, f)


def declared(text):
    names = set()
    for line in text.splitlines():
        for m in DECL.finditer(line):
            if "override" not in WORD.findall(line[:m.start()]):
                names.add(m.group(1))
    return names


def main(argv):
    root = argv[1] if len(argv) > 1 else "."
    main_src = os.path.join(root, "src", "main")
    texts = {p: open(p, encoding="utf-8").read()
             for d in (main_src, os.path.join(root, "kgbench", "src"))
             for p in sources(d)}
    names = set()
    counts = {}
    for p, text in texts.items():
        if p.startswith(main_src + os.sep):
            names |= declared(text)
        for w in WORD.findall(text):
            counts[w] = counts.get(w, 0) + 1
    for name in sorted(n for n in names if counts.get(n, 0) == 1):
        print(name)


if __name__ == "__main__":
    main(sys.argv)
