#!/usr/bin/env python3
"""Non-blank, non-comment Scala lines per tree: python3 scripts/loc.py [repo_root].
A line counts when, outside /* */ blocks, it holds more than a // comment."""
import pathlib
import re
import sys

TREES = ["src/main", "src/main/scala/graft/tools", "src/test"]


def code_lines(text):
    n, in_block = 0, False
    for line in text.splitlines():
        rest, code = line, ""
        while rest:
            if in_block:
                end = rest.find("*/")
                in_block, rest = (False, rest[end + 2:]) if end >= 0 else (True, "")
                continue
            m = re.search(r'/\*|//|"(?:[^"\\]|\\.)*"', rest)
            code += rest if m is None else rest[:m.start()]
            if m is None or m.group() == "//":
                break
            if m.group() == "/*":
                in_block = True
            else:
                code += m.group()  # a string literal may hold "//"
            rest = rest[m.end():]
        n += bool(code.strip())
    return n


root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
for tree in TREES:
    files = sorted((root / tree).rglob("*.scala"))
    print(f"{tree}\t{sum(code_lines(f.read_text()) for f in files)}")
