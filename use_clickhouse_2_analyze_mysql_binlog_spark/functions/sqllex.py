"""The one lexical contract shared by the ClickHouse SQL and DDL translators.

- A ``'...'`` string literal is opaque. It takes both ClickHouse escapes:
  a doubled quote (``'don''t'``) and a backslash (``'don\\'t'``). An
  unterminated literal runs to the end of the text.
- ``()`` and ``[]`` both nest, and they count alike.
- A keyword matches only at a word boundary that is not preceded by
  ``.``: in ``t.from`` or ``l.asof`` the keyword is a field name.

"Top level" below means bracket depth 0 relative to the scan start, outside
literals. A top-level scan ends at the closer of the enclosing bracket, so
a scan started inside ``( ... )`` never leaves it.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from functools import lru_cache

LITERAL = re.compile(r"'(?:[^'\\]|\\.|'')*'", re.DOTALL)
_MASKED = re.compile(r"\x00L(\d+)\x00")
_TOKEN = re.compile(r"['()\[\]]")


def mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace each literal with a ``\\x00L<n>\\x00`` token; return the
    masked text and the literal list that :func:`unmask` restores from."""
    lits: list[str] = []

    def repl(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x00L{len(lits) - 1}\x00"

    return LITERAL.sub(repl, sql), lits


def unmask(text: str, lits: list[str]) -> str:
    """Restore the literals that :func:`mask_literals` replaced."""
    return _MASKED.sub(lambda m: lits[int(m.group(1))], text)


def literal_end(s: str, i: int) -> int:
    """Index just past the literal that opens at ``s[i] == "'"``."""
    m = LITERAL.match(s, i)
    return m.end() if m else len(s)


def _tokens(s: str, start: int) -> Iterator[tuple[int, int, int]]:
    """Yield ``(j, end, depth)`` for each literal ``s[j:end]`` and each
    bracket ``s[j]``, with the bracket depth just after the token."""
    depth, i = 0, start
    while (m := _TOKEN.search(s, i)) is not None:
        j = m.start()
        if s[j] == "'":
            i = literal_end(s, j)
        else:
            depth += 1 if s[j] in "([" else -1
            i = j + 1
        yield j, i, depth


def _top_spans(s: str, start: int) -> Iterator[tuple[int, int]]:
    """Yield the top-level stretches of ``s[start:]``. The last one ends at
    the end of ``s``, or just past the closer of the enclosing bracket."""
    lo, outer = start, 0
    for j, end, depth in _tokens(s, start):
        if depth < 0:
            yield lo, end
            return
        if outer == 0:
            yield lo, j
        lo, outer = end, depth
    if outer == 0:
        yield lo, len(s)


@lru_cache(maxsize=256)
def _guarded(pattern: str) -> re.Pattern:
    # a match that starts with a word character must start a word that is
    # not qualified by a preceding '.'
    return re.compile(
        rf"(?:(?<![\w.])(?=\w)|(?!\w))(?:{pattern})", re.IGNORECASE
    )


def find_top_level(s: str, pattern: str, start: int = 0) -> Iterator[re.Match]:
    """Yield the top-level matches of ``pattern`` (case-insensitive) in
    ``s[start:]``, left to right. The scan ends at the closer of the
    enclosing bracket, which a pattern such as ``[)\\]]`` also matches."""
    pat = _guarded(pattern)
    for lo, hi in _top_spans(s, start):
        yield from pat.finditer(s, lo, hi)


def split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split ``text`` at the top-level matches of the ``sep`` pattern.
    Items are returned verbatim: not stripped, empty ones kept."""
    parts, lo = [], 0
    for m in find_top_level(text, sep):
        parts.append(text[lo : m.start()])
        lo = m.end()
    parts.append(text[lo:])
    return parts


def matching_close(s: str, i: int) -> int:
    """``s[i]`` is ``(`` or ``[``: index just past its matching closer."""
    for j, end, depth in _tokens(s, i):
        if depth == 0 and s[j] != "'":
            return end
    raise ValueError(f"unbalanced brackets from {s[i : i + 40]!r}")


def owning_select(s: str, pos: int) -> tuple[int, int] | None:
    """``(start, end)`` of the SELECT block that owns position ``pos``:
    ``start`` is the last SELECT keyword before ``pos`` whose bracket is
    still open there, ``end`` the index of that bracket's closer (or the
    end of ``s`` at top level). None when no SELECT owns ``pos``."""
    select = _guarded(r"select\b")
    # per open bracket: [its index, the last SELECT seen directly in it]
    scopes: list[list] = [[None, None]]
    lo = 0
    for j, end, _ in _tokens(s, 0):
        if j >= pos:
            break
        for m in select.finditer(s, lo, j):
            scopes[-1][1] = m.start()
        if s[j] in "([":
            scopes.append([j, None])
        elif s[j] != "'" and len(scopes) > 1:
            scopes.pop()
        lo = end
    for m in select.finditer(s, lo, max(lo, pos)):
        scopes[-1][1] = m.start()
    for open_at, kw in reversed(scopes):
        if kw is not None:
            if open_at is None:
                return kw, len(s)
            return kw, matching_close(s, open_at) - 1
    return None


def bracket_depth(text: str) -> int:
    """Net bracket depth at the end of ``text``."""
    depth = 0
    for _, _, depth in _tokens(text, 0):
        pass
    return depth
