"""Databend's ``sql_dialect = 'experimental'`` expression syntax
(reference ast/src/parser/expr.rs experimental branches; corpus
query/functions/02_0069_experimental_expr.test):

* method calls      ``expr.f(args)``            → ``f(expr, args)``
* map literals      ``{'k': v}``                → ``map('k', v)``
* map dot access    ``{…}.k``                   → ``element_at({…}, 'k')``
* comprehensions    ``[e FOR x IN arr IF c]``   → ``transform(filter(...))``
* numeric readability underscores ``12_000``    → ``12000``

Runs BEFORE the main dialect rewrite, on masked text."""

from __future__ import annotations

import re

from databend_spark.sqlgen.lexer import close_bracket, mask, open_bracket, unmask

_METHOD = re.compile(r"\.\s*([A-Za-z_]\w*)\s*\(")
_TOKEN_BACK = re.compile(r"[\w`\x00]$")


_PAIRS = {"(": "()", "[": "[]", "{": "{}", ")": "()", "]": "[]", "}": "{}"}


def _balanced_fwd(s: str, i: int) -> int:
    """Index just past the closer matching the opener at s[i], or 0."""
    return close_bracket(s, i, _PAIRS[s[i]]) + 1


def _operand_back(s: str, end: int) -> int:
    """Start index of the receiver expression ending at ``end``
    (exclusive): chains of identifiers, masked literals, ``::type``
    casts, and balanced () [] {} groups connected by '.' / '::'."""
    i = end
    while True:
        while i > 0 and s[i - 1] in " \t\n":
            i -= 1
        if i == 0:
            return i
        c = s[i - 1]
        if c in ")]}":
            j = open_bracket(s, i - 1, _PAIRS[c])
            if j < 0:
                return i
            # include a function name directly before '('
            k = j
            while k > 0 and (s[k - 1].isalnum() or s[k - 1] in "_`"):
                k -= 1
            i = k if c == ")" else j
        elif _TOKEN_BACK.search(s[:i]):
            j = i
            while j > 0 and (s[j - 1].isalnum() or s[j - 1] in "_`\x00"):
                j -= 1
            i = j
        else:
            return i
        # connector?
        k = i
        while k > 0 and s[k - 1] in " \t\n":
            k -= 1
        if k >= 2 and s[k - 2 : k] == "::":
            i = k - 2
            continue
        if k >= 1 and s[k - 1] == "." and not (
            k >= 2 and s[k - 2] == "."
        ):
            i = k - 1
            continue
        return i


def _rewrite_methods(s: str) -> str:
    while True:
        done = True
        for m in _METHOD.finditer(s):
            start = _operand_back(s, m.start())
            recv = s[start : m.start()].strip()
            if not recv:
                continue
            close = _balanced_fwd(s, m.end() - 1)
            if close == 0:
                continue
            args = s[m.end() : close - 1].strip()
            call = f"{m.group(1)}({recv}" + (f", {args}" if args else "") + ")"
            s = s[:start] + call + s[close:]
            done = False
            break
        if done:
            return s


def _rewrite_comprehensions(s: str) -> str:
    while True:
        m = re.search(r"\[", s)
        found = None
        for m in re.finditer(r"\[", s):
            end = _balanced_fwd(s, m.start())
            if end == 0:
                continue
            inner = s[m.start() + 1 : end - 1]
            mf = re.search(
                r"\s+FOR\s+(\w+)\s+IN\s+", inner, re.I
            )
            if mf and s.count("[", m.start() + 1, m.start() + 1 + mf.start()) \
                    == s.count("]", m.start() + 1, m.start() + 1 + mf.start()):
                found = (m.start(), end, inner, mf)
                break
        if not found:
            return s
        start, end, inner, mf = found
        expr = inner[: mf.start()].strip()
        rest = inner[mf.end() :]
        var = mf.group(1)
        mi = re.search(r"\s+IF\s+", rest, re.I)
        if mi and rest.count("[", 0, mi.start()) == rest.count(
            "]", 0, mi.start()
        ):
            arr, cond = rest[: mi.start()].strip(), rest[mi.end() :].strip()
            src = f"filter({arr}, {var} -> ({cond}))"
        else:
            arr, src = rest.strip(), None
            src = f"({arr})"
        s = (
            s[:start]
            + f"transform({src}, {var} -> ({expr}))"
            + s[end:]
        )


def rewrite_experimental(sql: str) -> str:
    masked, lits = mask(sql)
    # readability underscores in numbers
    masked = re.sub(
        r"\b\d+(?:_\d+)+\b", lambda m: m.group(0).replace("_", ""), masked
    )
    # comprehensions first ([… FOR x IN …]) — they contain brackets the
    # other passes must not touch
    masked = _rewrite_comprehensions(masked)
    # map literals: {'k': v, …} → map('k', v, …); dot access afterwards
    masked = re.sub(
        r"\{\s*\}",
        "map()",
        masked,
    )
    masked = re.sub(
        r"\{((?:[^{}]|\x00\d+\x00)+)\}",
        lambda m: "map(" + m.group(1).replace(":", ",") + ")",
        masked,
    )
    # map('k', v).k1 / map(...).k1 dot access → element_at
    masked = re.sub(
        r"(map\s*\((?:[^()]|\([^()]*\))*\))\s*\.\s*([A-Za-z_]\w*)(?!\s*\()",
        lambda m: f"element_at({m.group(1)}, '{m.group(2)}')",
        masked,
    )
    masked = _rewrite_methods(masked)
    return unmask(masked, lits)
