#!/usr/bin/env python
"""Count code lines: lines holding Python tokens other than comments
and docstrings. Blank lines, comment-only lines and every line of a
docstring (a statement that is a lone string literal) do not count; a
line inside any other multi-line token (a triple-quoted SQL string, a
bracketed expression) does.

    python scripts/code_lines.py                      # every file under kudu_spark/, and the total
    python scripts/code_lines.py kudu_spark/table.py  # one file
    python scripts/code_lines.py kudu_spark/plans     # a directory

Prints one ``<count> <path>`` line per file, then the total of every
path given when there is more than one file.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}
# tokens after which a new statement starts
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        toks = list(tokenize.generate_tokens(io.StringIO(f.read()).readline))
    lines: set[int] = set()
    prev = tokenize.NEWLINE
    for i, t in enumerate(toks):
        if t.type in _SKIP:
            if t.type in _STMT_START:
                prev = t.type
            continue
        if t.type == tokenize.STRING and prev in _STMT_START:
            j = i + 1
            while toks[j].type in (tokenize.COMMENT, tokenize.NL):
                j += 1
            if toks[j].type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                prev = t.type
                continue  # a docstring: the statement is a lone string
        prev = t.type
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        out += [os.path.join(dirpath, n) for n in sorted(filenames) if n.endswith(".py")]
    return out


def main(argv: list[str]) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(root, "kudu_spark")]
    files = [f for p in paths for f in python_files(p)]
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(n, os.path.relpath(f))
    if len(files) > 1:
        print(total, "total")


if __name__ == "__main__":
    main(sys.argv[1:])
