"""Set-returning functions (unnest/explode) in the SELECT list with
reference ProjectSet semantics (src/query/sql/src/planner/semantic/
project_set.rs; corpus: query/functions/02_0062_function_unnest.test).

Spark natively supports exactly ONE bare generator in a select list.
Everything else needs a rewrite:

* several SRFs → zipped positionally with NULL padding,
* an SRF nested in an expression (``unnest(a) + 1``, ``max(unnest(x))``),
* deeply nested arrays → flattened all the way to scalars, dropping
  null SUB-ARRAYS at each level but keeping leaf nulls,
* variant arguments → per-element canonical jsonb texts,
* null/void arguments → zero rows (not an error).

The rewrite: every SRF call is pulled into one ``inline(zip_with(...))``
in a subquery, and the outer select references the generated __uK
columns:

    SELECT unnest(a) + 1 AS ua, a FROM t ORDER BY ua
      →
    SELECT __u0 + 1 AS ua, a FROM (
        SELECT *, inline(transform(a, __z0 -> struct(__z0 AS __u0)))
        FROM t
    ) __srf ORDER BY ua

Element-type decisions (flatten depth, variant vs varchar, void) come
from a caller-provided ``probe`` that type-checks the argument with a
LIMIT-0 analysis. Whitespace-only plan change — the SRF still runs as
one Generate per input row (no joins), so the shape scales exactly like
Spark's native explode.
"""

from __future__ import annotations

import re

_SRF_RE = re.compile(r"\b(?:unnest|explode)\s*\(", re.I)
_SELECT_RE = re.compile(r"^\s*SELECT\s+(DISTINCT\s+)?", re.I)
_TAIL_KW = re.compile(
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET)\b", re.I
)
_SETOP = re.compile(r"\b(UNION|EXCEPT|INTERSECT)\b", re.I)
_VARIANT_HINT = re.compile(
    r"parse_json|::\s*variant|as\s+variant|json_", re.I
)


def _balanced(s: str, i: int) -> int:
    """Index just past the ')' matching the '(' at s[i]."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if depth == 0:
                return j + 1
    return -1


def _top_level_spans(s: str, pattern: re.Pattern) -> list[re.Match]:
    out = []
    for m in pattern.finditer(s):
        depth = s.count("(", 0, m.start()) - s.count(")", 0, m.start())
        if depth == 0:
            out.append(m)
    return out


def _split_items(s: str) -> list[str]:
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i])
            start = i + 1
    items.append(s[start:])
    return items


def _over_spans(s: str) -> list[tuple[int, int]]:
    spans = []
    for m in re.finditer(r"\bOVER\s*\(", s, re.I):
        end = _balanced(s, m.end() - 1)
        if end != -1:
            spans.append((m.start(), end))
    return spans


def rewrite_select_srfs(sql: str, probe) -> str:
    """``probe(arg_sql, from_seg)`` → Spark dtype simpleString of the
    SRF argument (e.g. 'array<array<int>>', 'string', 'void'), or None
    when analysis fails (leave untouched). Raises ValueError on a
    non-array, non-variant argument that the rewrite can't defer to
    Spark's own error."""
    from databend_spark.sqlgen.lexer import (
        mask as _mask_strings,
        unmask as _unmask_strings,
    )

    body, _lits = _mask_strings(sql.strip().rstrip(";"))
    # table-factor form over a standalone argument: SELECT * FROM
    # unnest(<expr>) ≡ SELECT unnest(<expr>) — route it through the
    # same deep-flatten machinery
    mtf = re.match(
        r"^\s*SELECT\s+\*\s+FROM\s+((?:unnest|explode)\s*\()", body, re.I
    )
    if mtf:
        end = _balanced(body, mtf.end(1) - 1)
        if end != -1 and not body[end:].strip():
            body = "SELECT " + body[mtf.start(1) : end]
    sel = _SELECT_RE.match(body)
    if not sel or not _SRF_RE.search(body):
        return sql
    # top-level set operations: rewriting each branch isn't wired — the
    # corpus doesn't mix SRFs with set ops
    if _top_level_spans(body, _SETOP):
        return sql
    froms = _top_level_spans(body, re.compile(r"\bFROM\b", re.I))
    tails = _top_level_spans(body, _TAIL_KW)
    from_pos = froms[0].start() if froms else None
    tail_pos = tails[0].start() if tails else len(body)
    list_end = from_pos if from_pos is not None else tail_pos
    select_list = body[sel.end() : list_end]
    over = _over_spans(select_list)

    # collect distinct SRF calls outside OVER(...) spans
    calls: list[str] = []
    pos_of: dict[str, int] = {}
    i = 0
    while True:
        m = _SRF_RE.search(select_list, i)
        if not m:
            break
        end = _balanced(select_list, m.end() - 1)
        if end == -1:
            return sql
        if any(a <= m.start() < b for a, b in over):
            i = end
            continue
        text = select_list[m.start() : end]
        if text not in pos_of:
            pos_of[text] = len(calls)
            calls.append(text)
        i = end
    if not calls:
        return sql

    items = _split_items(select_list)
    bare_single = (
        len(calls) == 1
        and sum(1 for it in items if calls[0] in it) == 1
        and any(
            re.fullmatch(
                re.escape(calls[0]) + r"\s*(?:AS\s+\w+|\w+)?\s*",
                it.strip(),
                re.I,
            )
            for it in items
        )
    )

    from_seg = body[from_pos:tail_pos] if from_pos is not None else ""
    outer_tail = body[tail_pos:]

    prepared: list[str] = []
    for text in calls:
        arg = text[_SRF_RE.match(text).end() : -1]
        dtype = probe(
            _unmask_strings(arg, _lits), _unmask_strings(from_seg, _lits)
        )
        if dtype is None:
            return sql
        d = dtype.replace(" ", "")
        if d == "void":
            prepared.append("array()")
            continue
        depth = 0
        while d.startswith("array<"):
            depth += 1
            d = d[6:-1]
        if depth == 0:
            if d == "string" and _VARIANT_HINT.search(arg):
                prepared.append(f"__va_elems({arg})")
                continue
            raise ValueError(
                f"[1065] invalid unnest argument type: {dtype}"
            )
        if d == "void":
            prepared.append("array()")  # null-typed leaves → no rows
            continue
        e = f"({arg})"
        for _ in range(depth - 1):
            e = f"flatten(filter({e}, __nn -> __nn IS NOT NULL))"
        prepared.append(e)

    if bare_single and prepared[0] == f"({calls[0][_SRF_RE.match(calls[0]).end():-1]})":
        return sql  # native single generator, depth 1 — leave untouched

    # zip all SRFs into one struct array (zip_with NULL-pads the shorter)
    zipped = (
        f"transform(coalesce({prepared[0]}, array()),"
        f" __z0 -> struct(__z0 AS __u0))"
    )
    for k, p in enumerate(prepared[1:], start=1):
        fields = ", ".join(f"__zs.__u{j} AS __u{j}" for j in range(k))
        zipped = (
            f"zip_with({zipped}, coalesce({p}, array()),"
            f" (__zs, __z{k}) -> struct({fields}, __z{k} AS __u{k}))"
        )

    new_items = []
    ucols = ", ".join(f"__u{k}" for k in range(len(calls)))
    for it in items:
        for text, k in pos_of.items():
            it = it.replace(text, f"__u{k}")
        it = it.strip()
        # a star item would re-expand the generated __uK columns from
        # the subquery — extend its exclusion list
        ms = re.match(r"^\*\s*(?:exclude\s*\(([^)]*)\))?\s*$", it, re.I)
        if ms:
            prev = (ms.group(1) or "").strip()
            it = f"* exclude({prev + ', ' if prev else ''}{ucols})"
        new_items.append(it)

    inner = "SELECT " + ("*, " if from_seg else "") + f"inline({zipped})"
    if from_seg:
        inner += " " + from_seg
    distinct = sel.group(1) or ""
    return _unmask_strings(
        f"SELECT {distinct}"
        + ", ".join(new_items)
        + f" FROM ({inner}) __srf "
        + outer_tail,
        _lits,
    )
