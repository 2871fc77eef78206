"""One SQL lexer for the rewrite passes.

Every pass that needs to know where a clause, an argument list or a
bracketed group ends asks this module, so quoting and comments are
handled in one place:

* ``'…'`` strings with ``''`` and ``\\'`` escapes, and ``$$…$$``;
* ``"…"`` and ```…``` quoted identifiers;
* ``--`` line comments and ``/* */`` block comments;
* numbers, words and one-character punctuation.

A bracket, separator or keyword inside a string, a quoted identifier or
a comment never counts. An unterminated string, identifier or comment
runs to the end of the text and passes through unchanged, so Spark's
parser reports it. ``\\x00N\\x00`` (a string masked by ``mask``) reads
as one string token.

Depth is relative to where a scan starts. An open bracket and its close
report the same depth, the depth of the text around them; a close that
leaves the starting level reports -1."""

from __future__ import annotations

import re
from functools import lru_cache
from typing import NamedTuple

_STRING = (
    r"'(?:[^'\\]|\\.?|'')*'?"
    r"|\$\$.*?(?:\$\$|\Z)"
)
_QUOTED_IDENT = r'"(?:[^"]|"")*"?|`(?:[^`]|``)*`?'
_COMMENT = r"--[^\n]*|/\*.*?(?:\*/|\Z)"
_OPAQUE = f"{_STRING}|{_QUOTED_IDENT}|{_COMMENT}"

_TOKEN = re.compile(
    rf"(?P<str>{_STRING}|\x00\d+\x00)"
    rf"|(?P<ident>{_QUOTED_IDENT})"
    rf"|(?P<comment>{_COMMENT})"
    r"|(?P<num>(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
    r"|(?P<word>[^\W\d]\w*)"
    r"|(?P<op>\S)",
    re.S,
)


class Token(NamedTuple):
    kind: str  # str | ident | comment | num | word | op
    text: str
    start: int
    depth: int

    @property
    def end(self) -> int:
        return self.start + len(self.text)


def _token_iter(s: str, start: int = 0, end: int | None = None):
    depth = 0
    for m in _TOKEN.finditer(s, start, len(s) if end is None else end):
        kind, text = m.lastgroup, m.group()
        if text == ")":
            depth -= 1
        yield Token(kind, text, m.start(), depth)
        if text == "(":
            depth += 1


def tokens(s: str, start: int = 0, end: int | None = None) -> list[Token]:
    """Every token of ``s[start:end]`` with its paren depth."""
    return list(_token_iter(s, start, end))


@lru_cache(maxsize=None)
def _scanner(chars: str, stop: str | None = None) -> re.Pattern:
    tail = f"|(?P<stop>(?i:{stop}))" if stop else ""
    return re.compile(
        f"(?:{_OPAQUE})|(?P<ch>[{re.escape(chars)}]){tail}", re.S
    )


@lru_cache(maxsize=None)
def _keyword(word: str) -> str:
    return r"\b" + r"\s+".join(map(re.escape, word.split())) + r"\b"


def _events(s: str, start: int, end: int | None, pairs: str, chars: str = "",
            stop: str | None = None):
    """``(match, char or None, depth)`` for each bracket, char of
    ``chars`` and match of the regex ``stop`` outside quotes and
    comments."""
    opens, depth = pairs[::2], 0
    for m in _scanner(pairs + chars, stop).finditer(
        s, start, len(s) if end is None else end
    ):
        ch = m.group("ch")
        if ch is None:
            if stop and m.group("stop") is not None:
                yield m, None, depth
        elif ch in opens:
            yield m, ch, depth
            depth += 1
        elif ch in pairs:
            depth -= 1
            yield m, ch, depth
        else:
            yield m, ch, depth


def scan(s: str, start: int = 0, end: int | None = None, pairs: str = "()",
         chars: str = ""):
    """Yield ``(index, char, depth)`` for each bracket of ``pairs`` (open
    and close chars interleaved, e.g. ``"()[]"``; all kinds share one
    depth) and each char of ``chars`` outside quotes and comments."""
    for m, ch, depth in _events(s, start, end, pairs, chars):
        yield m.start(), ch, depth


def close_bracket(s: str, i: int, pairs: str = "()") -> int:
    """Index of the bracket closing the one at ``s[i]``, or -1."""
    for j, ch, depth in scan(s, i, pairs=pairs):
        if depth == 0 and j > i and ch in pairs[1::2]:
            return j
        if depth < 0:
            return -1
    return -1


def open_bracket(s: str, j: int, pairs: str = "()") -> int:
    """Index of the bracket opening the one that closes at ``s[j]``, or
    -1."""
    stack: list[int] = []
    for i, ch, _ in scan(s, 0, j + 1, pairs):
        if ch in pairs[::2]:
            stack.append(i)
        elif i == j:
            return stack[-1] if stack else -1
        elif stack:
            stack.pop()
    return -1


def enclosing_open(s: str, pos: int, pairs: str = "()") -> int:
    """Index of the innermost bracket still open at ``pos``, or -1."""
    stack: list[int] = []
    for i, ch, _ in scan(s, 0, pos, pairs):
        if ch in pairs[::2]:
            stack.append(i)
        elif stack:
            stack.pop()
    return stack[-1] if stack else -1


def split_top(s: str, sep: str = ",", pairs: str = "()") -> list[str]:
    """``s`` split where ``sep`` stands at depth 0. A one-char ``sep`` is
    a char; a longer one is a keyword, matched as ``find_top`` does."""
    events = (
        _events(s, 0, None, pairs, sep)
        if len(sep) == 1
        else _events(s, 0, None, pairs, stop=_keyword(sep))
    )
    parts, last = [], 0
    for m, ch, depth in events:
        if depth == 0 and (ch == sep or ch is None):
            parts.append(s[last : m.start()])
            last = m.end()
    parts.append(s[last:])
    return parts


def find_top(s: str, word: str, start: int = 0) -> int:
    """Index of the first keyword ``word`` at or after ``start`` that
    stands at depth 0 of the whole of ``s``, or -1. A space in ``word``
    matches any run of whitespace; case is ignored."""
    for m, ch, depth in _events(s, 0, None, "()", stop=_keyword(word)):
        if ch is None and depth == 0 and m.start() >= start:
            return m.start()
    return -1


def clause_end(s: str, start: int, stop: re.Pattern | None = None,
               chars: str = "") -> int:
    """End of the clause that begins at ``start``: the first close paren
    that leaves its level, char of ``chars`` at its level, or match of
    ``stop`` (case-insensitive) at its level; ``len(s)`` if none."""
    for m, ch, depth in _events(
        s, start, None, "()", chars, stop.pattern if stop else None
    ):
        if depth < 0 or (depth == 0 and ch not in ("(", ")")):
            return m.start()
    return len(s)


_REF_NAME = re.compile(r"[\w.`$]+")
_REF_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)(\s*\([^)]*\))?", re.I)
_NOT_ALIAS = frozenset(
    """ON USING WHERE JOIN INNER LEFT RIGHT FULL OUTER CROSS NATURAL ASOF
    ANY SEMI ANTI GROUP ORDER HAVING LIMIT OFFSET UNION EXCEPT INTERSECT
    WINDOW QUALIFY LATERAL PIVOT UNPIVOT""".split()
)


def table_ref(s: str, pos: int) -> tuple[str, str | None, int] | None:
    """The table reference at ``pos``: ``name[(args)]`` or
    ``(subquery)``, then an optional ``[AS] alias[(cols)]``. Returns
    ``(relation, alias or None, end)``, or None when there is none."""
    i = pos
    while i < len(s) and s[i].isspace():
        i += 1
    start = i
    if s[i : i + 1] == "(":
        i = close_bracket(s, i) + 1
        if i == 0:
            return None
    else:
        m = _REF_NAME.match(s, i)
        if not m:
            return None
        i = k = m.end()
        while k < len(s) and s[k].isspace():
            k += 1
        if s[k : k + 1] == "(":  # table function arguments
            i = close_bracket(s, k) + 1
            if i == 0:
                return None
    am = _REF_ALIAS.match(s, i)
    if am and am.group(1).upper() not in _NOT_ALIAS:
        return s[start:i], am.group(1) + (am.group(2) or ""), am.end()
    return s[start:i], None, i


_FROM_ITEM_START = frozenset(("FROM", "JOIN", ","))


def relation_before(s: str, pos: int) -> tuple[str, str | None, int] | None:
    """The table reference that ends just before ``pos`` (a join's left
    side): ``(relation, alias or None, start)``, or None."""
    toks = tokens(s, 0, pos)
    level = toks[-1].depth if toks else 0
    start = 0
    for t in reversed(toks):
        if t.depth < level or (
            t.depth == level and t.text.upper() in _FROM_ITEM_START
        ):
            start = t.end
            break
    ref = table_ref(s, start)
    if ref is None or s[ref[2] : pos].strip():
        return None
    while s[start].isspace():
        start += 1
    return ref[0], ref[1], start


_EXPR_STOP = frozenset(
    "SELECT WHERE AND OR BY THEN ELSE WHEN AS ON FROM SET".split()
)


def expr_start(s: str, end: int) -> int:
    """Start of the arithmetic expression that ends just before ``end``:
    the operands, ``::`` casts and ``+ - * /`` at its level back to a
    comma, an open paren, a clause keyword or any other operator."""
    toks = tokens(s, 0, end)
    level = toks[-1].depth if toks else 0
    start = end
    for t in reversed(toks):
        if t.depth > level or t.kind == "comment":
            continue
        if t.depth < level or (
            t.kind == "op" and t.text not in "()+-*/.:"
        ) or (t.kind == "word" and t.text.upper() in _EXPR_STOP):
            break
        start = t.start
    return start


def operand_end(s: str, pos: int) -> int:
    """End of the operand that starts at ``pos``: a literal, a name with
    an optional call or literal after it (``f(…)``, ``DATE '…'``) or a
    parenthesised group, then any ``::type`` casts."""
    stream = (t for t in _token_iter(s, pos) if t.kind != "comment")
    toks: list[Token] = []

    def tok(k: int) -> Token | None:  # read on demand: an operand is short
        while len(toks) <= k:
            t = next(stream, None)
            if t is None:
                return None
            toks.append(t)
        return toks[k]

    def group(k: int) -> int:  # index of the token after the group at k
        while (t := tok(k)) is not None and not (t.text == ")" and t.depth == 0):
            k += 1
        return k + 1

    k, end = 0, pos
    while (t := tok(k)) is not None:
        if t.text == "(":
            k = group(k + 1)
        elif t.kind in ("word", "ident", "num", "str"):
            k += 1
            if t.kind == "word" and (nxt := tok(k)) is not None:
                if nxt.text == "(":
                    k = group(k + 1)
                elif nxt.kind == "str":
                    k += 1
        else:
            break
        end = toks[k - 1].end if k <= len(toks) else len(s)
        colon, colon2 = tok(k), tok(k + 1)
        if tok(k + 2) is None or not (
            colon.text == colon2.text == ":" and colon2.start == colon.end
        ):
            break
        k += 2  # a '::' cast: its type is the next operand
    return end


_MASKED = re.compile(r"\x00(\d+)\x00")
_MASK = re.compile(f"({_STRING})|{_QUOTED_IDENT}|{_COMMENT}", re.S)


def mask(s: str) -> tuple[str, list[str]]:
    """Replace each string literal with a ``\\x00N\\x00`` placeholder so
    regex rewrites never touch literal content."""
    literals: list[str] = []

    def stash(m: re.Match) -> str:
        if m.group(1) is None:
            return m.group()
        literals.append(m.group())
        return f"\x00{len(literals) - 1}\x00"

    return _MASK.sub(stash, s), literals


def unmask(s: str, literals: list[str]) -> str:
    """Put back the literals ``mask`` took out."""
    return _MASKED.sub(
        lambda m: literals[int(m.group(1))]
        if int(m.group(1)) < len(literals)
        else m.group(),
        s,
    )
