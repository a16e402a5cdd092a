"""Count package code lines per module, excluding blank, comment and
docstring lines.

A line counts when it carries at least one token that is neither a
comment nor part of a docstring. A docstring is any string literal
that forms a statement on its own (module, class and function
docstrings, and bare strings used as block comments). Deleting or
reflowing comments and docstrings therefore never changes the count,
so the total measures code, not prose.

Usage: python tools/code_lines.py [package_dir]
(default: flink_user_behavior_analysis_spark next to this tools dir)
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

# tokens that mark structure, not code (comments and NL are dropped
# before the scan)
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
               tokenize.ENCODING}
_SKIP = _STMT_START | {tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    """Number of distinct physical lines holding a code token."""
    toks = [t for t in tokenize.generate_tokens(io.StringIO(source).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL)]
    lines: set[int] = set()
    for i, tok in enumerate(toks):
        if tok.type in _SKIP:
            continue
        if (tok.type == tokenize.STRING
                and (i == 0 or toks[i - 1].type in _STMT_START)
                and (i + 1 == len(toks)
                     or toks[i + 1].type in (tokenize.NEWLINE,
                                             tokenize.ENDMARKER))):
            continue  # a docstring / bare-string statement
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def count_package(root: str) -> dict[str, int]:
    """{module path relative to ``root``'s parent: code lines}."""
    base = os.path.dirname(os.path.abspath(root))
    out: dict[str, int] = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    out[os.path.relpath(path, base)] = code_lines(fh.read())
    return out


def main(argv: list[str]) -> None:
    root = argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flink_user_behavior_analysis_spark")
    counts = count_package(root)
    for mod in sorted(counts, key=lambda m: (-counts[m], m)):
        print(f"{counts[mod]:7d}  {mod}")
    print(f"{sum(counts.values()):7d}  total")


if __name__ == "__main__":
    main(sys.argv)
