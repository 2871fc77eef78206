"""Minimal PRQL → SQL compiler for the PRQL dialect surface.

The reference pipes queries through prql-compiler when
``sql_dialect='prql'`` (``src/query/sql/src/planner/planner.rs:110-120``).
This covers the pipeline forms its test corpus uses: ``from``,
``derive``, ``select``, ``filter``, ``sort``, ``take``, ``group …
(aggregate …)``, ``aggregate``, and ``s"…"`` raw-SQL splices.
"""

from __future__ import annotations

import re

from databend_spark.sqlgen.lexer import split_top

_PAIRS = "()[]{}"  # brackets that nest in a PRQL pipeline
_AGG_FNS = (
    "sum", "average", "avg", "min", "max", "count", "stddev", "count_distinct"
)


def _expr(e: str) -> str:
    """PRQL expression → SQL: s-strings splice raw, `==` → `=`,
    `sum col` → `sum(col)`."""
    e = e.strip()
    ms = re.match(r'^s"(.*)"$', e, re.S)
    if ms:
        return ms.group(1)
    e = e.replace("==", "=")
    e = re.sub(
        rf"\b({'|'.join(_AGG_FNS)})\s+([\w.`]+)",
        lambda m: (
            {"average": "avg", "count_distinct": "count(distinct %s)"}
            .get(m.group(1), m.group(1) + "(%s)")
            .replace("%s", m.group(2))
            if m.group(1) in ("average", "count_distinct")
            else f"{m.group(1)}({m.group(2)})"
        ),
        e,
    )
    return e


def _items(body: str) -> list[str]:
    """`{ a = x, b }` or a single bare item → list of item texts."""
    body = body.strip()
    if body.startswith("{") and body.endswith("}"):
        body = body[1:-1]
    return [p.strip() for p in split_top(body, ",", _PAIRS) if p.strip()]


def _named(items: list[str]) -> list[str]:
    out = []
    for it in items:
        m = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+)$", it, re.S)
        if m:
            out.append(f"{_expr(m.group(2))} AS {m.group(1)}")
        else:
            out.append(_expr(it))
    return out


def prql_to_sql(pipeline: str) -> str:
    """Compile a `from … | …` PRQL pipeline to ANSI SQL.

    Like prql-compiler, consecutive select/derive stages collapse into
    ONE projection over the current relation (so a derive after a
    narrowing select can still reference base-table columns), with
    derived aliases substituted into later selections."""
    stages = [s.strip() for s in split_top(pipeline, "|", _PAIRS) if s.strip()]
    if not stages or not re.match(r"^from\b", stages[0], re.I):
        raise ValueError("[1005] PRQL parse error: pipeline must start with `from`")
    rel = stages[0][4:].strip().rstrip(";")
    proj: list[str] | None = None  # None = `*`
    derived: dict[str, str] = {}  # alias → SQL expr over `rel`
    order: list[str] = []
    n = 0

    def flush() -> None:
        nonlocal rel, proj, derived, n
        if proj is None and not derived:
            return
        items = (
            proj
            if proj is not None
            else ["*"] + [f"{e} AS {k}" for k, e in derived.items()]
        )
        n += 1
        rel = f"(SELECT {', '.join(items)} FROM {rel}) AS _prql{n}"
        proj, derived = None, {}

    for st in stages[1:]:
        st = st.strip().rstrip(";")
        kw = st.split(None, 1)[0].lower()
        rest = st[len(kw):].strip()
        if kw == "derive":
            for it in _items(rest):
                m = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+)$", it, re.S)
                name, e = (
                    (m.group(1), _expr(m.group(2))) if m else (it, _expr(it))
                )
                derived[name] = e
                if proj is not None:
                    proj.append(f"{e} AS {name}")
        elif kw == "select":
            newproj = []
            for it in _items(rest):
                m = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+)$", it, re.S)
                if m:
                    e = _expr(m.group(2))
                    derived[m.group(1)] = e
                    newproj.append(f"{e} AS {m.group(1)}")
                elif it in derived:
                    newproj.append(f"{derived[it]} AS {it}")
                else:
                    newproj.append(_expr(it))
            proj = newproj
        elif kw == "filter":
            flush()
            n += 1
            rel = f"(SELECT * FROM {rel} WHERE {_expr(rest)}) AS _prql{n}"
        elif kw == "sort":
            order = [
                f"{it.lstrip('-')} DESC" if it.startswith("-") else it
                for it in _items(rest)
            ]
        elif kw == "take":
            flush()
            n += 1
            rel = f"(SELECT * FROM {rel} LIMIT {int(rest)}) AS _prql{n}"
        elif kw == "group":
            m = re.match(
                r"^(\{[^{}]*\}|[\w.`]+)\s*\(\s*aggregate\b(.*)\)\s*$",
                rest,
                re.S | re.I,
            )
            if not m:
                raise ValueError(f"[1005] PRQL parse error at `group {rest[:40]}`")
            flush()
            keys = _items(m.group(1))
            aggs = _named(_items(m.group(2)))
            proj = None
            derived = {}
            n += 1
            rel = (
                f"(SELECT {', '.join(keys + aggs)} FROM {rel} "
                f"GROUP BY {', '.join(keys)}) AS _prql{n}"
            )
        elif kw == "aggregate":
            flush()
            n += 1
            rel = (
                f"(SELECT {', '.join(_named(_items(rest)))} FROM {rel})"
                f" AS _prql{n}"
            )
        else:
            raise ValueError(f"[1005] PRQL parse error: unknown step `{kw}`")
    items = proj if proj is not None else (
        ["*"] + [f"{e} AS {k}" for k, e in derived.items()]
    )
    sql = f"SELECT {', '.join(items)} FROM {rel}"
    if order:
        sql += f" ORDER BY {', '.join(order)}"
    return sql
