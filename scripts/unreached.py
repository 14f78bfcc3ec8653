#!/usr/bin/env python3
"""List public main members that no main code reaches.

A member is a `def`, `val`, `var`, `object`, `class`, `trait` or `type`
declared without `private`, `protected` or `override` in `src/main/scala`.
It is reached when its name (as a whole word) occurs on some other
non-comment line of `src/main/scala` or `perfbench/src`, the benchmark's
own entry points. `main`, `apply` and objects that hold a `main` are entry
points and are skipped. Comment lines (those starting with `//`, `/*` or
`*`) are skipped, so a scaladoc mention is not a caller. The match is by
name: an unrelated member of the same name counts as a caller, so the list
is a lower bound.

Usage, from the repo root:  python3 scripts/unreached.py
Prints `path:line name` per unreached member, then the count.
"""
import collections
import pathlib
import re

DECL = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[\w+\])?|final|implicit|lazy|sealed|"
    r"case|abstract|override)\s+)*(def|val|var|object|class|trait|type)\s+"
    r"([A-Za-z_]\w*)")
HIDDEN = re.compile(r"\b(private|protected|override)\b")
WORD = re.compile(r"[A-Za-z_]\w*")


def code_lines(path):
    for n, line in enumerate(path.read_text().splitlines(), 1):
        if not line.lstrip().startswith(("//", "/*", "*")):
            yield n, line


def main():
    main_files = sorted(pathlib.Path("src/main/scala").rglob("*.scala"))
    bench_files = sorted(pathlib.Path("perfbench/src").rglob("*.scala"))
    uses = collections.Counter()
    decls = []
    for f in main_files + bench_files:
        lines = list(code_lines(f))
        has_main = any("def main(" in line for _, line in lines)
        for n, line in lines:
            uses.update(WORD.findall(line))
            m = DECL.match(line)
            if f in main_files and m and not HIDDEN.search(m.group(1) or "") \
                    and m.group(3) not in ("main", "apply") \
                    and not (m.group(2) == "object" and has_main):
                decls.append((f, n, m.group(3), WORD.findall(line).count(m.group(3))))
    unreached = [d for d in decls if uses[d[2]] == d[3]]
    for f, n, name, _ in unreached:
        print(f"{f}:{n} {name}")
    print(f"{len(unreached)} unreached")


if __name__ == "__main__":
    main()
