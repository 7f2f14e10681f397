"""Comments and docstrings in ``go_iceberg_spark/`` and ``scripts/`` describe
the code as it is now, so none names a development round (``r7``, ``R12``).

Only comments and docstrings are scanned. Code and other string literals
are not, so the Avro record names ``r2``, ``r102`` and ``r508`` and
variables such as ``r1`` stay legal.
"""

from __future__ import annotations

import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
_ROUND = re.compile(r"\b[rR]\d{1,3}\b")
_STATEMENT_START = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)


def comments_and_docstrings(source: str):
    """(line, text) of every comment and every string that is a whole
    statement (a docstring) in ``source``."""
    toks = [t for t in tokenize.generate_tokens(io.StringIO(source).readline)
            if t.type != tokenize.NL]
    prev = tokenize.NEWLINE
    for i, tok in enumerate(toks):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
            continue
        if tok.type == tokenize.STRING and prev in _STATEMENT_START:
            nxt = next((t for t in toks[i + 1:] if t.type != tokenize.COMMENT), None)
            if nxt is None or nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                yield tok.start[0], tok.string
        prev = tok.type


def round_references(source: str) -> list[tuple[int, str]]:
    return [(line + text[:m.start()].count("\n"), m.group())
            for line, text in comments_and_docstrings(source)
            for m in _ROUND.finditer(text)]


def test_scanner_reads_comments_and_docstrings_only():
    source = '''"""Module docstring (r3)."""
r1 = {"name": "r102"}  # fixed in r5


def f():
    """Function
    docstring, R12."""
    return r1, """not a docstring: r9"""
'''
    assert round_references(source) == [(1, "r3"), (2, "r5"), (7, "R12")]


def test_no_round_history_in_comments_or_docstrings():
    paths = sorted([*(ROOT / "go_iceberg_spark").rglob("*.py"),
                    *(ROOT / "scripts").rglob("*.py")])
    assert paths
    hits = [f"{p.relative_to(ROOT)}:{line}: {ref}"
            for p in paths
            for line, ref in round_references(p.read_text(encoding="utf-8"))]
    assert not hits, "round-history references in comments or docstrings:\n" + \
        "\n".join(hits)
