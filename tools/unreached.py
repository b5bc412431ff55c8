#!/usr/bin/env python3
"""List the `def`s of src/main that nothing but tests can reach.

A name is printed when it is declared with `def` in src/main (an
`override def` is skipped: the framework calls it) and occurs as a whole
word exactly once across src/main and kgbench/src, i.e. only at its own
declaration. Comments count as occurrences, so a name a scaladoc links to
is not printed.

`--defaults` lists parameter defaults instead: one `file:line def(param)`
line for each parameter with a default value in a src/main `def` (again
not `override`) whose name is never passed as a named argument,
`(param =` or `, param =`, anywhere in src/main or kgbench/src. Comments
and string literals are ignored. An argument passed by position is not
seen, so a printed line is a lead to check, not a proof.

    python3 tools/unreached.py                   # from the repo root
    python3 tools/unreached.py ROOT              # another checkout
    python3 tools/unreached.py --defaults [ROOT]
"""
import os
import re
import sys

EXTS = (".scala", ".java")
DECL = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")
OPEN, CLOSE = "([{", ")]}"


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


def blank(text):
    """`text` with comments and string/char literal contents replaced by
    spaces; newlines (hence line numbers) are kept."""
    out = list(text)
    i, n = 0, len(text)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            wipe(i, j)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j
            while text.startswith('"', j + 3):  # """...""""" closes last
                j += 1
            wipe(i + 3, j)
            i = j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            wipe(i + 1, j)
            i = j + 1
        elif re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            j = text.index("'", i + 2)
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def param_lists(text, i):
    """(start, end) of each `(...)` parameter list of the def whose name
    ends at `i`, after an optional `[...]` type-parameter list."""
    spans = []
    while True:
        while i < len(text) and text[i] in " \t\n":
            i += 1
        if i >= len(text) or text[i] not in "([" or (text[i] == "[" and spans):
            return spans
        depth, j = 0, i
        while j < len(text):
            if text[j] in OPEN:
                depth += 1
            elif text[j] in CLOSE:
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if text[i] == "(":
            spans.append((i + 1, j))
        i = j + 1


def top_level(text, a, b, chars):
    """Offsets in text[a:b] of `chars` at bracket depth 0."""
    depth, hits = 0, []
    for k in range(a, b):
        c = text[k]
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif depth == 0 and c in chars:
            hits.append(k)
    return hits


def is_assign(text, k):
    """Whether the `=` at k is an assignment, not part of =>, ==, <=, ..."""
    return text[k + 1:k + 2] not in ("=", ">") and text[k - 1] not in "=<>!:"


def defaulted(text):
    """(line, def name, param name) for each defaulted parameter."""
    for m in DECL.finditer(text):
        line_start = text.rfind("\n", 0, m.start()) + 1
        if "override" in WORD.findall(text[line_start:m.start()]):
            continue
        for a, b in param_lists(text, m.end()):
            cuts = [a] + [k + 1 for k in top_level(text, a, b, ",")] + [b + 1]
            for pa, pb in zip(cuts, cuts[1:]):
                eqs = [k for k in top_level(text, pa, pb - 1, "=")
                       if is_assign(text, k)]
                names = WORD.findall(text[pa:pb].split(":")[0])
                names = [w for w in names if w not in ("implicit", "val", "var")]
                if eqs and names:
                    start = pa + re.search(r"\S", text[pa:pb]).start()
                    yield text.count("\n", 0, start) + 1, m.group(1), names[-1]


def main(argv):
    args = argv[1:]
    defaults = "--defaults" in args
    args = [a for a in args if a != "--defaults"]
    root = args[0] if args else "."
    main_src = os.path.join(root, "src", "main")
    texts = {p: open(p, encoding="utf-8").read()
             for d in (main_src, os.path.join(root, "kgbench", "src"))
             for p in sources(d)}
    if defaults:
        code = {p: blank(t) for p, t in texts.items()}
        for p, text in code.items():
            if not p.startswith(main_src + os.sep):
                continue
            for line, fn, param in defaulted(text):
                named = re.compile(r"[(,]\s*" + re.escape(param) + r"\s*=(?![=>])")
                if not any(named.search(t) for t in code.values()):
                    print(f"{os.path.relpath(p, root)}:{line} {fn}({param})")
        return
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
