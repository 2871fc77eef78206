"""One SQL execution path: rewrite, run, and on error walk a table of
named fallbacks.

Spark rejects some Databend statements only at analysis time, when the
column types are known: a VARIANT column that reads like an array, an
integer used as a boolean, a lateral alias inside a window. Each
``Fallback`` names one such case. Its error predicate looks at the
failed attempt; its candidates are Databend SQL texts (rewritten under
the caller's ``RewriteOptions`` with the entry's flags set; one that
rewrites to the failed text is skipped) or thunks that return a
DataFrame, or None to decline.
``execute`` tries the entries in table order and returns the first
success with the entry's name; when nothing succeeds the first
attempt's error is raised. Before a Spark text runs, the Python
helper UDFs it calls are registered on the session, once each.
``SessionContext.sql``, the suite and the SLT runner all run SQL
through ``execute``; the runner splices its side-effecting entries
into the table (``splice``)."""

from __future__ import annotations

import dataclasses
import re
from collections.abc import Callable, Iterable
from functools import partial
from typing import Any

from databend_spark.functions.registry import rewrite_call
from databend_spark.functions.variant_runtime import register_called_helpers
from databend_spark.sqlgen import (
    DEFAULT,
    RewriteOptions,
    auto_alias_view_body,
    inline_select_aliases,
    rewrite_databend_sql,
    rewrite_date_minus,
    rewrite_values_as_select,
    variant_paths_to_access,
    variant_paths_to_json,
    variant_paths_to_struct,
    wrap_where_boolean,
)
from databend_spark.sqlgen.lexer import close_bracket, find_top, split_top


@dataclasses.dataclass
class Failure:
    """The failed first attempt, as the fallbacks see it."""

    spark: Any
    sql: str  # the Databend text
    rewritten: str  # the Spark text that failed
    msg: str  # its error message
    resubmit: Callable[[str], Any]  # runs a new text through the whole path
    opts: RewriteOptions = DEFAULT  # the caller's; candidates add theirs


@dataclasses.dataclass(frozen=True)
class Fallback:
    name: str
    # error predicate: a truthy result is handed to ``candidates``
    when: Callable[[Failure], Any]
    # Databend SQL texts and/or thunks; a generator gets each failed
    # candidate's exception back from ``yield`` (None when skipped)
    candidates: Callable[[Failure, Any], Iterable]
    opts: RewriteOptions = DEFAULT
    # the error of the entry's last failed candidate is raised instead
    # of falling through to the next entry
    propagate: bool = False
    # a candidate whose rewrite raises counts as failed (otherwise the
    # rewrite error is raised at once)
    catch_rewrite: bool = False


def execute(
    spark,
    sql: str,
    opts: RewriteOptions = DEFAULT,
    *,
    rewritten: str | None = None,
    table: tuple[Fallback, ...] | None = None,
    resubmit: Callable[[str], Any] | None = None,
):
    """Run Databend ``sql``; return ``(DataFrame, fallback name or
    None)``. ``rewritten`` overrides the first attempt's Spark text;
    ``resubmit`` is what the chaining fallbacks call (default: this
    function, with ``opts``); candidates add their entry's flags."""
    table = FALLBACKS if table is None else table
    if rewritten is None:
        rewritten = rewrite_databend_sql(sql, opts)
    register_called_helpers(spark, rewritten)
    try:
        return spark.sql(rewritten), None
    except Exception as e:  # noqa: BLE001
        f = Failure(
            spark, sql, rewritten, str(e),
            resubmit or (lambda s: execute(spark, s, opts, table=table)[0]),
            opts,
        )
        for fb in table:
            hit = fb.when(f)
            if hit:
                df = _attempt(fb, f, hit)
                if df is not None:
                    return df, fb.name
        raise


def _attempt(fb: Fallback, f: Failure, hit):
    flags = {k: True for k, v in dataclasses.asdict(fb.opts).items() if v}
    opts = dataclasses.replace(f.opts, **flags)
    gen, err = iter(fb.candidates(f, hit)), None
    while True:
        try:
            cand = gen.send(err) if hasattr(gen, "send") else next(gen)
        except StopIteration:
            break
        err = None
        if callable(cand):
            run = cand
        else:
            try:
                text = rewrite_databend_sql(cand, opts)
            except Exception as e:  # noqa: BLE001
                if not fb.catch_rewrite:
                    raise
                err = e
                continue
            if text == f.rewritten:
                continue
            register_called_helpers(f.spark, text)
            run = partial(f.spark.sql, text)
        try:
            df = run()
        except Exception as e:  # noqa: BLE001
            err = e
            continue
        if df is not None:
            return df
    if err is not None and fb.propagate:
        raise err
    return None


def splice(table, before=None, candidates=None) -> tuple[Fallback, ...]:
    """``table`` with ``before[name]`` inserted ahead of entry ``name``;
    entry ``name`` keeps its predicate and flags but takes
    ``candidates[name]`` as its candidates."""
    out: list[Fallback] = []
    for fb in table:
        out += (before or {}).get(fb.name, ())
        c = (candidates or {}).get(fb.name)
        out.append(dataclasses.replace(fb, candidates=c) if c else fb)
    return tuple(out)


def split_top_level(text: str) -> list[str]:
    """Split an argument/type list on depth-0 commas (none in an empty
    text)."""
    return split_top(text) if text else []


def _when(*needles, sql=None, msg=None) -> Callable[[Failure], Any]:
    """Predicate: every needle (a string, or a tuple of alternatives) is
    in the error message, the ``msg`` regex matches it and the ``sql``
    regex matches the statement. Returns the ``msg`` match, else the
    ``sql`` match."""

    def when(f):
        if not all(
            any(n in f.msg for n in ((g,) if isinstance(g, str) else g))
            for g in needles
        ):
            return None
        ms = re.search(sql, f.sql, re.I) if sql else True
        mm = re.search(msg, f.msg, re.S) if msg else True
        return ms and mm and (mm if msg else ms)

    return when


def _if_changed(f: Failure, alt: str):
    return (alt,) if alt != f.sql else ()


# ---------------------------------------------------------------------
# Candidate generators, in table order.
# ---------------------------------------------------------------------


def _order_by_ordinal(f, _):
    # duplicate output names make a QUALIFIED order-by ref ambiguous in
    # Spark; bind to the select-item ordinal
    mo2 = re.match(
        r"^(\s*SELECT\s+)(.*?)(\s+FROM\b.*?)"
        r"(ORDER\s+BY\s+)([\w.`]+)(\s*;?\s*)$",
        f.sql,
        re.I | re.S,
    )
    if not mo2:
        return
    tgt = mo2.group(5).replace("`", "").lower()
    for idx, it in enumerate(split_top_level(mo2.group(2))):
        if it.strip().replace("`", "").lower() == tgt:
            yield (
                mo2.group(1) + mo2.group(2) + mo2.group(3)
                + mo2.group(4) + str(idx + 1) + mo2.group(6)
            )
            return


def _lag_lead_cast(f, mlag):
    # lag/lead default value coerces to the value type in the
    # reference; Spark demands an exact match
    return _if_changed(f, re.sub(
        rf"\b{mlag.group(1)}\s*\("
        r"((?:[^(),]|\([^()]*\)|\[[^\[\]]*\])+),"
        r"((?:[^(),]|\([^()]*\))+),"
        r"((?:[^()]|\([^()]*\)|\[[^\[\]]*\])+)\)",
        rf"{mlag.group(1)}(\1,\2, CAST(\3 AS {mlag.group(2)}))",
        f.sql,
        flags=re.I,
    ))


def _window_alias_inline(f, _):
    # window specs may reference select-list aliases in the reference —
    # inline the defining expressions
    msel = re.match(r"^(\s*SELECT\s+)(.*?)(\s+FROM\b.*)$", f.sql, re.I | re.S)
    if not msel:
        return ()
    amap = {}
    for it in split_top_level(msel.group(2)):
        ma = re.match(r"^\s*(.*?)\s+(?:AS\s+)?`?(\w+)`?\s*$", it, re.I | re.S)
        if ma and "OVER" not in ma.group(1).upper():
            amap[ma.group(2).lower()] = ma.group(1)

    def _inline(mm):
        spec = mm.group(1)
        for al, ex in amap.items():
            spec = re.sub(
                rf"(?<![\w.`']){al}(?![\w.`'(])", f"({ex})", spec, flags=re.I
            )
        return f"OVER ({spec})"

    return _if_changed(f, re.sub(
        r"\bOVER\s*\(((?:[^()]|\([^()]*\))*)\)", _inline, f.sql, flags=re.I
    ))


def _window_in_order_by(f, _):
    # window expressions in ORDER BY: hoist them into hidden projection
    # columns (the reference binds them directly). Find the last
    # DEPTH-0 ORDER BY (one inside an OVER spec must not split the
    # statement)
    s0 = f.sql.rstrip().rstrip(";")
    ob_at, k = -1, find_top(s0, "ORDER BY")
    while k != -1:
        ob_at, k = k, find_top(s0, "ORDER BY", k + 1)
    ms0 = re.match(r"^\s*SELECT\s+", s0, re.I)
    if not (ob_at > 0 and ms0):
        return
    mtl = re.match(
        r"(ORDER\s+BY\s+)(.*?)(\s+LIMIT\s+[\d, ]+)?$", s0[ob_at:], re.I | re.S
    )
    if not mtl or "(" in (mtl.group(3) or ""):
        return
    hoisted, new_ob, aux = [], [], 0
    for it in split_top_level(mtl.group(2)):
        if re.search(r"\bOVER\b", it, re.I):
            mdir = re.search(r"\s+(ASC|DESC)\s*$", it, re.I)
            expr = it[: mdir.start()] if mdir else it
            hoisted.append(f"({expr.strip()}) AS __slt_o{aux}")
            new_ob.append(f"__slt_o{aux}" + (f" {mdir.group(1)}" if mdir else ""))
            aux += 1
        else:
            new_ob.append(it.strip())
    # insert hoisted exprs into the SELECT list (before the depth-0
    # FROM), not after the query tail
    body = s0[ms0.end():ob_at].rstrip()
    fat = find_top(body, "FROM")
    if hoisted and fat > 0:
        excl = ", ".join(f"__slt_o{k}" for k in range(aux))
        yield (
            f"SELECT * EXCEPT({excl}) FROM ("
            f"{ms0.group(0)}{body[:fat]}, "
            f"{', '.join(hoisted)} {body[fat:]}) ORDER BY "
            f"{', '.join(new_ob)}{mtl.group(3) or ''}"
        )


def _alias_list_arity(f, _):
    # a short column-alias list names a prefix in the reference; the
    # rest keep their colN auto-names
    mar = re.search(
        r"aliased: (\d+) does not match the number of source "
        r"expressions: (\d+)", f.msg
    )
    mal = re.search(
        r"((?:AS\s+)?\w+)\s*\(([^()]*)\)\s*(as\b|select|order|where|group|$)",
        f.sql, re.I,
    )
    if not (mar and mal and int(mar.group(2)) < int(mar.group(1))):
        return ()
    have = [x.strip() for x in mal.group(2).split(",") if x.strip()]
    fills = [f"col{k}" for k in range(len(have), int(mar.group(1)))]
    new = f"{mal.group(1)}({', '.join(have + fills)})"
    old = f"{mal.group(1)}({mal.group(2)})"
    alt = f.sql.replace(old, new, 1) if old in f.sql else re.sub(
        re.escape(mal.group(1)) + r"\s*\(" + re.escape(mal.group(2)) + r"\)",
        new, f.sql, count=1,
    )
    return _if_changed(f, alt)


def _filter_not_boolean_expr(f, mfb):
    # non-boolean WHERE/HAVING: non-zero is true
    expr = mfb.group(1)
    if expr.startswith("(") and expr.endswith(")"):
        expr = expr[1:-1]
    pat = r"\s*".join(re.escape(t) for t in re.findall(r"\w+|\S", expr))
    repl = f"(({expr}) <> 0)"
    # match from the first filter keyword on: an earlier select item
    # with the same text must stay as it is
    kw = re.search(r"\b(WHERE|HAVING)\b", f.sql, re.I)
    head, tail = (f.sql[: kw.start()], f.sql[kw.start():]) if kw else ("", f.sql)
    alt = re.sub(rf"\(\s*{pat}\s*\)", lambda m2: repl, tail, count=1)
    if alt == tail:
        alt = re.sub(pat, lambda m2: repl, tail, count=1)
    # chain further retries, but never wrap an expression this chain
    # already wrapped (a wrap that did not fix the filter would nest
    # without end)
    if alt != tail and repl not in f.sql:
        yield partial(f.resubmit, head + alt)


def _having_as_where(f, _):
    # HAVING without GROUP BY is a plain filter in the reference; Spark
    # forces a global aggregate
    where = "AND" if re.search(r"\bWHERE\b", f.sql, re.I) else "WHERE"
    return _if_changed(
        f, re.sub(r"\bHAVING\b", where, f.sql, count=1, flags=re.I)
    )


def _typeof_srf_hoist(f, _):
    # typeof over a duplicated SRF call: hoist the SRF into a subquery;
    # typeof of a variant value is its jsonb type
    msrf = re.match(
        r"^\s*select\s+(.*?)\s+from\s+([\w.`]+)\s*;?\s*$", f.sql, re.I | re.S
    )
    if not msrf:
        return
    items = [it.strip() for it in split_top_level(msrf.group(1))]
    srf = next(
        (it for it in items if re.match(r"json_path_query\s*\(", it, re.I)),
        None,
    )
    if not srf:
        return
    tyex = (
        "CASE WHEN upper(__json_typeof(CAST(__slt_v AS STRING))) = 'STRING'"
        " THEN 'VARCHAR' ELSE upper(__json_typeof(CAST(__slt_v AS STRING)))"
        " END"
    )
    outer = [
        tyex
        if re.fullmatch(rf"typeof\s*\(\s*{re.escape(srf)}\s*\)", it, re.I)
        else ("__slt_v" if it == srf else it)
        for it in items
    ]
    inner = [i for i in items if i != srf and not re.match("typeof", i, re.I)]
    yield (
        f"SELECT {', '.join(outer)} FROM (SELECT {', '.join(inner)}, "
        f"{srf} AS __slt_v FROM {msrf.group(2)})"
    )


def _fuse_internal_columns(f, _):
    # fuse internal columns (reference 05_0031): emulate with Spark's
    # row-id generator / input file metadata
    alt = re.sub(
        r"(?<![\w.`])_row_id(?![\w.`])", "monotonically_increasing_id()", f.sql
    )
    alt = re.sub(
        r"(?<![\w.`])_(block_name|segment_name)(?![\w.`])",
        "input_file_name()",
        alt,
    )
    return _if_changed(f, alt)


def _derived_table_alias(f, mqal):
    # anonymous derived tables inherit their source table's name in the
    # reference — attach it as the alias
    tn = mqal.group(1)
    return _if_changed(f, re.sub(
        rf"(\((?:[^()]|\([^()]*\))*\bFROM\s+{re.escape(tn)}\b"
        rf"(?:[^()]|\([^()]*\))*\))"
        rf"(\s*(?:,|JOIN\b|WHERE\b|ORDER\b|GROUP\b|LIMIT\b|ON\b|$))",
        rf"\1 AS {tn}\2",
        f.sql,
        count=1,
        flags=re.I,
    ))


def _duplicate_alias_ordinal(f, mdupa):
    # duplicate select-list aliases make ORDER BY <alias> ambiguous in
    # Spark; the reference binds the first — rewrite to its ordinal
    name = mdupa.group(1)
    msel = re.match(r"^\s*SELECT\s+(.*?)\s+FROM\b", f.sql, re.I | re.S)
    if not msel:
        return
    named = rf"\bAS\s+`?{re.escape(name)}`?\s*$"
    items = split_top_level(msel.group(1))
    same = {
        re.sub(
            r"\s+|\(|\)", "", re.sub(named, "", it.strip(), flags=re.I)
        ).lower()
        for it in items
        if re.search(named, it.strip(), re.I)
    }
    for idx, it in enumerate(items):
        if len(same) == 1 and re.search(named, it.strip(), re.I):
            alt = re.sub(
                rf"(ORDER\s+BY\s+){re.escape(name)}\b",
                rf"\g<1>{idx + 1}",
                f.sql,
                flags=re.I,
            )
            if alt != f.sql:
                yield alt
            return


def _window_alias_drop(f, mlat):
    # Spark refuses lateral aliases inside window ORDER BY; inline the
    # alias expression (reference allows it)
    al = mlat.group(1)
    mdef = re.search(
        rf"((?:[^,()]|\((?:[^()]|\([^()]*\))*\))+?)\s+AS\s+{al}\b",
        f.rewritten,
        re.I,
    )
    expr = mdef.group(1).strip() if mdef else None

    def _inline_over(mo):
        if expr and "(" not in expr:
            return re.sub(rf"\b{al}\b", f"({expr})", mo.group(0))
        # drop the alias key instead (safe: lateral aliases appear as
        # trailing tie-breakers in these suites)
        return re.sub(rf",\s*\b{al}\b", "", mo.group(0))

    forced = re.sub(
        r"OVER\s*\((?:[^()]|\([^()]*\))*\)", _inline_over, f.rewritten,
        flags=re.I,
    )
    return (partial(f.spark.sql, forced),) if forced != f.rewritten else ()


_STRUCT_FIELD = re.compile(r"No such struct field `(\d+)` in ((?:`[^`]+`(?:,\s*)?)+)")


def _tuple_positional(f, _):
    # Databend positional tuple access (t.N) on a NAMED tuple: resolve N
    # against the field list the error reports (reference
    # member_fields); loop since one query can hold several positional
    # accesses. Later predicates see the last error.
    forced = f.rewritten
    for _ in range(8):
        mfnf = _STRUCT_FIELD.search(f.msg)
        if not mfnf:
            return
        flds = re.findall(r"`([^`]+)`", mfnf.group(2))
        idx = int(mfnf.group(1))
        if not 1 <= idx <= len(flds):
            return
        nxt = forced.replace(f"`{idx}`", f"`{flds[idx - 1]}`")
        if nxt == forced:
            return
        forced = nxt
        f.msg = str((yield partial(f.spark.sql, forced)))


_RELATION_AS = (
    r"(\bFROM\s+[\w.`()]+\s+AS\s+|\bJOIN\s+[\w.`()]+\s+AS\s+"
    r"|,\s*[\w.`()]+\s+AS\s+)"
)


def _extract_outer_alias(f, _):
    # `z.z` inside a correlated subquery: Spark prefers an inner
    # relation's COLUMN z (field-extract on a scalar, hence this error)
    # where the reference resolves the OUTER table alias z. Rename the
    # table-position alias so the qualified refs resolve unambiguously
    # (query/cte/basic_r_cte.test sudoku shapes).
    msh = re.search(r"""Can't extract a value from "(\w+)\"""", f.msg)
    if not msh or not re.search(
        _RELATION_AS + rf"{re.escape(msh.group(1))}\b", f.sql, re.I
    ):
        return
    al = msh.group(1)
    new = f"__sa_{al}"
    s2 = re.sub(
        _RELATION_AS + rf"{re.escape(al)}\b", rf"\g<1>{new}", f.sql, flags=re.I
    )
    s2 = re.sub(rf"\b{re.escape(al)}\s*\.", f"{new}.", s2)
    if s2 != f.sql:
        yield partial(f.resubmit, s2)


def _extract_relation_alias(f, _):
    # a relation alias equal to one of its column names makes Spark parse
    # `z.z` as field extraction of the COLUMN — rename the relation
    # alias and its qualified references
    mex = re.search(r'value from "(\w+)"', f.msg)
    if not (mex and re.search(rf"\bAS\s+{mex.group(1)}\b", f.sql, re.I)):
        return ()
    a = mex.group(1)
    alt = re.sub(rf"\bAS\s+{a}\b", f"AS __rel_{a}", f.sql, flags=re.I)
    return (re.sub(rf"\b{a}\s*\.", f"__rel_{a}.", alt, flags=re.I),)


def _arrays_zip_broadcast(f, _):
    """arrays_zip broadcasts scalar COLUMNS along the array argument
    (reference array.rs): probe each argument's type and wrap scalars;
    NULL arrays act as [NULL]."""
    sql = f.sql
    m = re.search(r"\barrays_zip\s*(\()", sql, re.I)
    if not m:
        return ()
    j = close_bracket(sql, m.start(1)) + 1 or len(sql)
    args = split_top_level(sql[m.start(1) + 1 : j - 1])
    mf = re.search(r"\bFROM\b.*$", sql, re.I | re.S)
    fseg = mf.group(0).rstrip("; \n") if mf else ""
    kinds = []
    for a in args:
        try:
            dt = f.spark.sql(
                rewrite_databend_sql(f"SELECT ({a}) AS __p {fseg} LIMIT 0")
            ).schema[0].dataType.simpleString()
        except Exception:  # noqa: BLE001
            return ()
        kinds.append("arr" if dt.startswith("array<") else "scalar")
    if "arr" not in kinds:
        return ()
    ref = f"coalesce({args[kinds.index('arr')]}, array(NULL))"
    prep = [
        f"coalesce(({a}), array(NULL))"
        if k == "arr"
        else f"transform({ref}, __bc -> ({a}))"
        for a, k in zip(args, kinds)
    ]
    return (sql[: m.start()] + f"arrays_zip({', '.join(prep)})" + sql[j:],)


def _unnest_variant(f, _):
    # unnest() over a VARIANT (JSON-string) array: in table position the
    # reference exposes a variant `value` column — route through the
    # flatten UDTF; in scalar position explode the parsed JSON list
    yield re.sub(
        r"\b(LATERAL\s+|FROM\s+|,\s*)unnest\s*\(",
        r"\1flatten(input => ",
        f.sql,
        flags=re.I,
    )
    yield rewrite_call(
        f.sql,
        "unnest",
        "explode(from_json(__variant_path_query("
        "CAST(({0}) AS STRING), '$[*]', 'list'), 'array<string>'))",
        arity=1,
    )


def _exclude_star_join(f, _):
    # `* EXCLUDE id` over a join where both sides have the column: the
    # reference drops it from EVERY side — expand to per-relation
    # qualified stars
    mex = re.match(
        r"^(\s*SELECT\s+)\*\s+(?:EXCLUDE|EXCEPT)\s*"
        r"(?:\(([^)]*)\)|([\w`]+))\s*(\s+FROM\s+.*)$",
        f.sql,
        re.I | re.S,
    )
    if not mex:
        return ()
    exn = {
        c.strip().strip("`").lower()
        for c in (mex.group(2) or mex.group(3)).split(",")
    }
    stars = []
    try:
        for r_ in re.findall(r"\b(?:from|join)\s+([\w.`]+)", mex.group(4), re.I):
            qual = r_.split(".")[-1].strip("`")
            stars.extend(
                f"`{qual}`.`{c}`"
                for c in f.spark.table(r_).columns
                if c.lower() not in exn
            )
    except Exception:  # noqa: BLE001
        return ()
    return (mex.group(1) + ", ".join(stars) + mex.group(4),)


_VA_TEMPLATES = (
    ("array_insert", "__va_insert(CAST(({0}) AS STRING), ({1}),"
     " CAST(({2}) AS STRING))", 3),
    ("array_distinct", "__va_distinct(CAST(({0}) AS STRING))", 1),
    ("array_intersection", "__va_intersection(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_except", "__va_except(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_overlap", "__va_overlap(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_slice", "__va_slice(CAST(({0}) AS STRING), ({1}), ({2}))", 3),
    ("array_concat", "__va_concat(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_append", "__va_append(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_prepend", "__va_prepend(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_compact", "__va_compact(CAST(({0}) AS STRING))", 1),
    ("array_contains", "__va_contains(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_flatten", "__va_flatten(CAST(({0}) AS STRING))", 1),
    ("array_indexof", "__va_indexof(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_remove", "__va_remove(CAST(({0}) AS STRING),"
     " CAST(({1}) AS STRING))", 2),
    ("array_remove_first", "__va_remove_first(CAST(({0}) AS STRING))", 1),
    ("array_remove_last", "__va_remove_last(CAST(({0}) AS STRING))", 1),
    ("array_reverse", "__va_reverse(CAST(({0}) AS STRING))", 1),
    ("array_unique", "__va_unique(CAST(({0}) AS STRING))", 1),
)


def _variant_array_functions(f, _):
    # array functions over VARIANT columns: the macro's textual dispatch
    # can't see runtime types — force the JSONB implementations
    # (reference scalars/variant.rs)
    alt = f.sql
    for name, tpl, ar in _VA_TEMPLATES:
        alt = rewrite_call(alt, name, tpl, arity=ar)
    return (alt,)


def _quoted_literal_name(f, um):
    # Databend names a literal select item with its quotes (`'hello'`);
    # our CTAS strips them — retry unquoted
    v = um.group(1)
    return (f.sql.replace(f"`'{v}'`", f"`{v}`").replace(f"\"'{v}'\"", f"`{v}`"),)


def _date_plus_clamp(f, _):
    # DATE + Int64 in the reference is saturating-add then clamp:
    # out-of-range → DATE_MIN 0001-01-01 (reference datetime.rs
    # register_timestamp_add_sub: clamp_date((a as i64).saturating_add(
    # b)), date.rs:51 clamp_date)
    def _clamp_plus(m: re.Match) -> str:
        days = f"(unix_date({m.group(1)}) + CAST({m.group(2)} AS BIGINT))"
        return (
            "date_from_unix_date(CAST(CASE WHEN "
            f"{days} BETWEEN -719162 AND 2932896 "
            f"THEN {days} ELSE -719162 END AS INT))"
        )

    return _if_changed(f, re.sub(
        r"(DATE\s*'[^']*'|to_date\s*\([^()]*\))\s*\+\s*"
        r"(CAST\s*\([^()]*\s+AS\s+BIGINT\s*\))",
        _clamp_plus,
        f.sql,
        flags=re.I,
    ))


def _date_add_bigint(f, _):
    # DATE + BIGINT: Spark's date_add takes INT; the reference accepts
    # int64 (overflow then errors — the ANSI BIGINT→INT cast raises the
    # same way)
    alt = re.sub(
        r"\bCAST\s*\(([^()]*)\s+AS\s+BIGINT\s*\)", r"CAST(\1 AS INT)",
        f.sql, flags=re.I,
    )
    # timestamp + N adds MICROSECONDS in the reference
    alt = re.sub(
        r"((?:to_datetime|to_timestamp)\s*\([^()]*\)"
        r"|TIMESTAMP\s*'[^']*')\s*\+\s*"
        r"([A-Za-z_][\w.]*(?:\s*%\s*\d+)?)",
        r"timestampadd(MICROSECOND, CAST(\2 AS BIGINT), \1)",
        alt,
        flags=re.I,
    )
    # date + bigint_column: narrow the added identifier
    return (re.sub(
        r"(to_date\s*\([^()]*\)|DATE\s*'[^']*')\s*\+\s*([A-Za-z_][\w.]*)",
        r"\1 + CAST(\2 AS INT)",
        alt,
        flags=re.I,
    ),)


def _inline_alias_srf(f, _):
    # SRFs over a lateral select-list alias: inline the aliased
    # expression and retry (with the variant-path fallbacks, since the
    # inlined expr may carry `:` paths)
    inl = inline_select_aliases(f.sql)
    if inl == f.sql:
        return ()
    return (
        inl,
        variant_paths_to_json(variant_paths_to_access(inl)),
        # accessors first (identifier receivers), then inline the
        # aliases inside the rewritten calls
        inline_select_aliases(
            variant_paths_to_json(variant_paths_to_access(f.sql))
        ),
    )


def _length_contains_of_array(f, _):
    # Databend length()/contains() also take arrays — Spark needs
    # size()/array_contains() there
    if 'Cannot resolve "length(' in f.msg:
        return (re.sub(r"\blength\s*\(", "size(", f.sql, flags=re.I),)
    # exists-lambda form: the = comparison coerces the needle to the
    # element type (array_contains won't)
    return (rewrite_call(f.sql, "contains", "exists({0}, __ce -> __ce = {1})"),)


_CMP = r"(=|!=|<>|>=|<=|>|<)"


def _string_int_compare(f, _):
    # string ↔ integer comparison: ANSI Spark casts the string to the
    # int type (fails on '3.1'); the reference compares numerically —
    # cast both sides to DOUBLE. Chained `A cmp B cmp N` first
    # (left-assoc boolean result vs numeric literal → boolean
    # comparison).
    alt = re.sub(
        r"((?:[\w.`']+\s*)(?:=|!=|<>|>=|<=|>|<)(?:\s*[\w.`']+))\s*"
        + _CMP + r"\s*(\d+(?:\.\d+)?)",
        r"(\1) \2 CAST(\3 AS BOOLEAN)",
        f.sql,
    )
    alt = re.sub(
        r"('(?:[^']|'')*')\s*" + _CMP + r"\s*(\d+(?:\.\d+)?)",
        r"CAST(\1 AS DOUBLE) \2 CAST(\3 AS DOUBLE)",
        alt,
    )
    return _if_changed(f, re.sub(
        r"(\d+(?:\.\d+)?)\s*" + _CMP + r"\s*('(?:[^']|'')*')",
        r"CAST(\1 AS DOUBLE) \2 CAST(\3 AS DOUBLE)",
        alt,
    ))


def _decimal_text_int_cast(f, _):
    # decimal-text string CAST to integer rounds in the reference
    # ('29.55'::Int → 30)
    alt = re.sub(
        r"'(-?\d+\.\d+)'\s*::\s*(u?int\w*|unsigned\b)",
        r"CAST(CAST(\1 AS DOUBLE) AS BIGINT)",
        f.sql,
        flags=re.I,
    )
    return _if_changed(f, re.sub(
        r"CAST\s*\(\s*'(-?\d+\.\d+)'\s+AS\s+"
        r"((?:TINY|SMALL|BIG)?INT|UNSIGNED)\s*\)",
        r"CAST(CAST(\1 AS DOUBLE) AS BIGINT)",
        alt,
        flags=re.I,
    ))


def _string_int_column_compare(f, _):
    # column-vs-column (JOIN ON t.a = t1.a with a string side holding
    # '1.0'): numeric comparison via DOUBLE
    return _if_changed(f, re.sub(
        r"(?<![\w.`'])((?:\w+\.)?`?\w+`?)\s*" + _CMP
        + r"\s*((?:\w+\.)?`?\w+`?)(?![\w.`'(])",
        lambda m2: (
            m2.group(0)
            if re.match(
                r"^\d|^'|^(true|false|null)$", m2.group(1) + m2.group(3), re.I
            )
            else f"CAST({m2.group(1)} AS DOUBLE) "
            f"{m2.group(2)} CAST({m2.group(3)} AS DOUBLE)"
        ),
        f.sql,
    ))


def _to_date_from_int(f, _):
    # Databend to_date/to_timestamp accept integers (days / seconds
    # since epoch); Spark's parse strings only
    alt = rewrite_call(
        f.sql, "to_date", "date_add(DATE'1970-01-01', CAST(({0}) AS INT))",
        arity=1,
    )
    return (rewrite_call(
        alt, "to_timestamp", "timestamp_seconds(CAST(({0}) AS BIGINT))",
        arity=1,
    ),)


def _int_to_date_cast(f, _):
    # integer ::Date cast on a column (Databend: days since epoch); Spark
    # refuses BIGINT→DATE — hop through date_add like the literal form
    # in rewrite_databend_sql
    alt = re.sub(
        r"([\w.`]+)\s*::\s*Date\b",
        r"date_add(DATE'1970-01-01', CAST(\1 AS INT))",
        f.sql,
        flags=re.I,
    )
    return (re.sub(
        r"\bCAST\s*\(\s*([\w.`]+)\s+AS\s+DATE\s*\)",
        r"date_add(DATE'1970-01-01', CAST(\1 AS INT))",
        alt,
        flags=re.I,
    ),)


def _and_or_numeric_literal(f, _):
    # numeric operands of AND/OR/NOT coerce non-zero → true
    alt = re.sub(
        r"\b(\d+(?:\.\d+)?)(?=\s+(?:AND|OR)\b)", r"(\1 <> 0)", f.sql,
        flags=re.I,
    )
    return _if_changed(f, re.sub(
        r"\b(AND|OR|NOT|SELECT)\s+(\d+(?:\.\d+)?)\b(?!\s*[.\w(])",
        r"\1 (\2 <> 0)",
        alt,
        flags=re.I,
    ))


_AND_OR_COLS = re.compile(r'"\((\w+) (AND|OR) (\w+)\)"')


def _and_or_int_columns(f, _):
    # integer COLUMNS under AND/OR coerce non-zero → true; the analyzer
    # names one bad conjunct per pass, so chase successive errors up to
    # a small bound
    alt, m2 = f.sql, _AND_OR_COLS.search(f.msg)
    for _ in range(6):
        if not m2:
            return
        l, op, r_ = m2.group(1), m2.group(2), m2.group(3)
        new = re.sub(
            rf"\b{re.escape(l)}\s+{op}\s+{re.escape(r_)}\b",
            f"(({l} <> 0) {op} ({r_} <> 0))",
            alt,
            count=1,
            flags=re.I,
        )
        if new == alt:
            return
        alt = new
        err = yield alt
        m2 = _AND_OR_COLS.search(str(err)) if err is not None else None


def _numeric_bool_compare(f, _):
    # numeric ↔ boolean comparison casts the NUMERIC side to boolean in
    # the reference (non-zero = true)
    alt = re.sub(
        # chained comparison `A cmp B cmp N` is left-assoc: boolean
        # result vs numeric literal
        r"((?:[\w.`']+\s*)(?:=|!=|<>|>=|<=|>|<)(?:\s*[\w.`']+))\s*"
        + _CMP + r"\s*(\d+(?:\.\d+)?)",
        r"(\1) \2 CAST(\3 AS BOOLEAN)",
        f.sql,
        flags=re.I,
    )
    alt = re.sub(
        r"([\w.`]+(?:\([^()]*\))?)\s*" + _CMP + r"\s*(true|false)\b",
        r"(CAST(\1 AS BOOLEAN) \2 \3)",
        alt,
        flags=re.I,
    )
    alt = re.sub(
        r"\b(true|false)\s*" + _CMP + r"\s*([\w.`]+(?:\([^()]*\))?)",
        r"(\1 \2 CAST(\3 AS BOOLEAN))",
        alt,
        flags=re.I,
    )
    # column-vs-column: cast the numeric side from the error's exact
    # expression text
    mbx = re.search(
        r'Cannot resolve "\((\w+) (=|!=|<>|>=|<=|>|<) (\w+)\)"'
        r'.*?\("(\w+)" and "(\w+)"\)', f.msg, re.S
    )
    if mbx and alt == f.sql:
        l_, op_, r_ = mbx.group(1), mbx.group(2), mbx.group(3)
        lb = mbx.group(4) == "BOOLEAN"

        def _castbool(m2):
            left, right = m2.group(1), m2.group(2)
            if lb:
                right = f"CAST({right} AS BOOLEAN)"
            else:
                left = f"CAST({left} AS BOOLEAN)"
            return f"{left} {op_} {right}"

        alt = re.sub(
            rf"(?<![\w.`])((?:\w+\.)?{re.escape(l_)})\s*{re.escape(op_)}\s*"
            rf"((?:\w+\.)?{re.escape(r_)})(?![\w.`])",
            _castbool,
            f.sql,
        )
    return _if_changed(f, alt)


def _date_add_bigint_column(f, _):
    # date + bigint column: Spark's date_add wants INT
    md = re.search(r'however "([\w.`]+)" has the type "BIGINT"', f.msg)
    if not md:
        return ()
    alt = re.sub(
        rf"([+-])\s*({re.escape(md.group(1))})\b", r"\1 CAST(\2 AS INT)", f.sql
    )
    # the un-blocked expression may still hit the date-minus-date
    # interval problem — fix both
    return _if_changed(f, rewrite_date_minus(alt))


def _partial_timestamp(f, _):
    # partial timestamp literals ('2024-01-02T', '22:', '21:59:') parse
    # with zero-padding in the reference
    def _pad_ts(m):
        t = (m.group(2) or "").strip("T ")
        parts = [p for p in t.split(":") if p != ""]
        while len(parts) < 3:
            parts.append("00")
        hh, mi, ss = (p.zfill(2) for p in parts[:3])
        return f"'{m.group(1)} {hh}:{mi}:{ss}'"

    return _if_changed(f, re.sub(
        r"'(\d{4}-\d{2}-\d{2})[T ]((?:\d{1,2}:){0,2}(?:\d{1,2})?)?'",
        _pad_ts,
        f.sql,
    ))


def _nondeterministic_hoist(f, _):
    # the reference evaluates per-row nondeterministic calls inside
    # aggregates; Spark refuses — hoist each call into a derived column
    # of the relation and aggregate over it
    smatch = re.match(r"^\s*SELECT\s+", f.sql, re.I)
    fmatch = re.search(
        r"\bFROM\s+([\w.`()]+(?:\s*\(\s*\d*\s*\))?)\s*;?\s*$", f.sql, re.I
    )
    if not (smatch and fmatch):
        return ()
    nd_cols = []

    def _hoist(m):
        nd_cols.append(m.group(0))
        return f"__nd{len(nd_cols) - 1}"

    body = re.sub(
        r"\b(gen_random_uuid|uuid|rand(?:om)?)\s*\(\s*\)",
        _hoist,
        f.sql[smatch.end() : fmatch.start()],
        flags=re.I,
    )
    adds = ", ".join(f"{c} AS __nd{i}" for i, c in enumerate(nd_cols))
    return (f"SELECT {body} FROM (SELECT *, {adds} FROM {fmatch.group(1)})",)


def decorrelate_join_on(sql: str) -> str | None:
    """Correlated subqueries inside JOIN ON (reference decorrelates;
    Spark rejects): push each scalar subquery into its correlated side
    as a derived-table column, reference it in the condition, and EXCEPT
    it out of the star projection. EXISTS over both sides (inner join)
    moves to WHERE."""
    m = re.match(
        r"^\s*select\s+\*\s+from\s+(\w+)\s+"
        r"((?:left|right|full|inner)\s+(?:outer\s+)?)?join\s+(\w+)"
        r"\s+on\s+(.*?)(\s+order\s+by\s+.*?)?;?\s*$",
        sql,
        re.I | re.S,
    )
    if not m:
        return None
    t1, jt, t2, cond, tail = (
        m.group(1),
        (m.group(2) or "").strip(),
        m.group(3),
        m.group(4).strip(),
        m.group(5) or "",
    )
    if re.match(r"^exists\s*\(", cond, re.I) and not jt:
        return f"select * from {t1} join {t2} on 1=1 where {cond} {tail}"
    # collect balanced scalar subqueries in the condition
    subs = []
    i = 0
    while True:
        ms = re.search(r"\(\s*select\b", cond[i:], re.I)
        if not ms:
            break
        start = i + ms.start()
        j = close_bracket(cond, start) + 1 or len(cond)
        subs.append(cond[start:j])
        i = j
    if not subs:
        return None
    derived: dict[str, list[tuple[str, str]]] = {t1: [], t2: []}
    for k, sub in enumerate(subs):
        if re.search(rf"\b{re.escape(t2)}\.", sub):
            side = t2
        elif re.search(rf"\b{re.escape(t1)}\.", sub):
            side = t1
        else:
            return None
        alias = f"__sc{k}"
        derived[side].append((alias, sub))
        cond = cond.replace(sub, f"{side}.{alias}")

    def rel(side: str) -> str:
        if not derived[side]:
            return side
        cols = ", ".join(f"{sub} as {alias}" for alias, sub in derived[side])
        return f"(select {side}.*, {cols} from {side}) {side}"

    excepts = ", ".join(
        alias for side in (t1, t2) for alias, _ in derived[side]
    )
    return (
        f"select * except ({excepts}) from {rel(t1)} "
        f"{jt + ' ' if jt else ''}join {rel(t2)} on {cond} {tail}"
    )


_DATE_ADD_BIGINT = ("UNEXPECTED_INPUT_TYPE", 'Cannot resolve "date_add(', "BIGINT")
_STRING_INT_CAST = _when(
    "CAST_INVALID_INPUT", '"STRING"', msg=r'to "(TINY|SMALL|BIG)?INT"'
)
_TYPE_ERR = ("DATATYPE_MISMATCH", "UNEXPECTED_INPUT_TYPE")


def _same_sql(f, _):
    return (f.sql,)


# The table. Order matters: the first entry whose predicate holds and
# whose candidate succeeds wins.
FALLBACKS: tuple[Fallback, ...] = (
    Fallback("order_by_ordinal", _when("AMBIGUOUS_REFERENCE", sql=r"ORDER\s+BY"),
             _order_by_ordinal, catch_rewrite=True),
    Fallback("lag_lead_default_cast", _when(msg=(
        r'"(lag|lead)\(.*due to data type mismatch: The third '
        r'parameter requires the \("([^"]+)"')),
        _lag_lead_cast, catch_rewrite=True),
    Fallback("window_alias_inline", _when("LATERAL_COLUMN_ALIAS_IN_WINDOW"),
             _window_alias_inline, catch_rewrite=True),
    Fallback("window_in_order_by",
             _when("UNSUPPORTED_EXPR_FOR_OPERATOR", sql=r"\bOVER\b"),
             _window_in_order_by, catch_rewrite=True),
    Fallback("alias_list_arity", _when("ASSIGNMENT_ARITY_MISMATCH"),
             _alias_list_arity, catch_rewrite=True),
    Fallback("filter_not_boolean_expr", _when("FILTER_NOT_BOOLEAN", msg=(
        r'Filter expression "(.+?)" of type "\w+" is not a boolean')),
        _filter_not_boolean_expr),
    Fallback("having_without_group_by", lambda f: _when(
        "MISSING_AGGREGATION", sql=r"\bHAVING\b")(f)
        and not re.search(r"\bGROUP\s+BY\b", f.sql, re.I),
        _having_as_where, catch_rewrite=True),
    Fallback("typeof_srf_hoist",
             _when("NESTED_IN_EXPRESSIONS", sql=r"\btypeof\s*\("),
             _typeof_srf_hoist, catch_rewrite=True),
    Fallback("fuse_internal_columns",
             _when(msg=r"name `_(row_id|block_name|segment_name)`"),
             _fuse_internal_columns, catch_rewrite=True),
    Fallback("derived_table_alias",
             _when(msg=r"name `(\w+)`\.`(\w+)` cannot be resolved"),
             _derived_table_alias, catch_rewrite=True),
    # a DATE default in a numeric column is its day number
    Fallback("default_date_day_number",
             _when("INVALID_DEFAULT_VALUE", sql=r"AS\s+DATE"),
             lambda f, _: _if_changed(f, re.sub(
                 r"CAST\s*\(\s*('[^']+')\s+AS\s+DATE\s*\)",
                 r"datediff(\1, '1970-01-01')", f.sql, flags=re.I)),
             catch_rewrite=True),
    # Databend numbers VALUES columns col0.., Spark col1..
    Fallback("values_column_numbering", _when(msg=(
        r"name `col(\d+)` cannot be resolved.*?"
        r"Did you mean one of the following\? \[`col\d+`")),
        lambda f, _: _if_changed(f, re.sub(
            r"\bcol(\d+)\b", lambda m2: f"col{int(m2.group(1)) + 1}", f.sql)),
        catch_rewrite=True),
    Fallback("duplicate_alias_ordinal", lambda f: (m := re.search(
        r"name `(\w+)` cannot be resolved. Did you mean one of "
        r"the following\? \[`(\w+)`, `\2`", f.msg
    )) and m.group(1) == m.group(2) and m,
        _duplicate_alias_ordinal, catch_rewrite=True),
    # `col:path` with bracket segments never parses natively
    Fallback("variant_path_parse_error",
             lambda f: "PARSE_SYNTAX_ERROR" in f.msg and ":" in f.sql,
             lambda f, _: (variant_paths_to_json(f.sql),)),
    Fallback("window_alias_drop", _when(msg=(
        r"LATERAL_COLUMN_ALIAS_IN_WINDOW.*?lateral column alias `(\w+)`")),
        _window_alias_drop),
    Fallback("tuple_positional_field", lambda f: _STRUCT_FIELD.search(f.msg),
             _tuple_positional),
    Fallback("extract_outer_alias", _when("INVALID_EXTRACT_BASE_FIELD_TYPE"),
             _extract_outer_alias),
    # Databend `col:path` reads named tuples AND json — Spark's native
    # `:` needs true VARIANT. Retry as struct access, then as
    # get_json_object over the JSON text.
    Fallback("column_not_variant", _when("COLUMN_IS_NOT_VARIANT_TYPE"),
             lambda f, _: (
                 variant_paths_to_struct(f.sql),
                 variant_paths_to_json(variant_paths_to_access(f.sql)),
                 variant_paths_to_json(f.sql),
             )),
    # array function over a VARIANT column (textually an array)
    Fallback("variant_array", _when(
        _TYPE_ERR, sql=r"\b(?:array_\w+|contains|json_array_\w+)\s*\("),
        _same_sql, opts=RewriteOptions(variant_array=True)),
    Fallback("extract_relation_alias", _when("INVALID_EXTRACT_BASE_FIELD_TYPE"),
             _extract_relation_alias, catch_rewrite=True),
    # a macro expanded to a Python UDF inside a lambda body
    Fallback("lambda_safe", _when("LAMBDA_FUNCTION_WITH_PYTHON_UDF"),
             _same_sql, opts=RewriteOptions(lambda_safe=True)),
    # Databend's length() also counts array/map elements
    Fallback("length_of_array", _when(
        "UNEXPECTED_INPUT_TYPE", 'Cannot resolve "length(',
        sql=r"\blength\s*\("),
        lambda f, _: (re.sub(r"\blength\s*\(", "size(", f.sql, flags=re.I),),
        catch_rewrite=True),
    Fallback("arrays_zip_broadcast",
             _when("DATATYPE_MISMATCH", sql=r"\barrays_zip\s*\("),
             _arrays_zip_broadcast, catch_rewrite=True),
    # get() on a VARIANT column: textually indistinguishable from
    # array/map get — retry with the JSONB interpretation
    Fallback("variant_get", _when(
        _TYPE_ERR, sql=r"\bget\s*\(", msg=r'has the type "STRING"'),
        _same_sql, opts=RewriteOptions(variant_get=True)),
    Fallback("unnest_variant", _when(
        "UNEXPECTED_INPUT_TYPE", 'Cannot resolve "explode(',
        sql=r"\bunnest\s*\("),
        _unnest_variant),
    Fallback("exclude_star_join",
             _when("AMBIGUOUS_REFERENCE", sql=r"\*\s+(EXCLUDE|EXCEPT)\b"),
             _exclude_star_join, catch_rewrite=True),
    # NOT over an integer column: the reference coerces int→bool
    # (0 = false) — retry as `expr = 0`
    Fallback("not_over_int", _when(
        "UNEXPECTED_INPUT_TYPE", '"(NOT ', sql=r"\bnot\s*\("),
        lambda f, _: _if_changed(f, re.sub(
            r"\bnot\s*\(((?:[^()]|\([^()]*\))*)\)", r"((\1) = 0)", f.sql,
            flags=re.I)),
        catch_rewrite=True),
    Fallback("variant_array_functions", _when(
        ("DATATYPE_MISMATCH", "CAST_INVALID_INPUT"), sql=(
            r"\barray_(insert|distinct|intersection|except|overlap"
            r"|slice|concat|append|prepend|compact|contains|flatten"
            r"|indexof|remove|remove_first|remove_last|reverse"
            r"|unique)\s*\(")),
        _variant_array_functions),
    Fallback("quoted_literal_name", lambda f: (um := re.search(
        r"UNRESOLVED_COLUMN.*?name `'([^`']+)'`.*?"
        r"Did you mean.*?\[`([^`]+)`", f.msg, re.S
    )) and um.group(1) == um.group(2) and um,
        _quoted_literal_name),
    # comparing a DATE/TIMESTAMP column with '' errors in Spark; the
    # reference compares as strings (no match)
    Fallback("temporal_vs_empty_string", _when(
        "CAST_INVALID_INPUT", sql=r"(=|!=|<>)\s*''", msg=(
            r"The value '[^']*' of the type \"STRING\" cannot be cast"
            r" to \"(DATE|TIMESTAMP)\"")),
        lambda f, _: (re.sub(
            r"([\w.`]+)\s*(=|!=|<>)\s*''", r"CAST(\1 AS STRING) \2 ''", f.sql),)),
    Fallback("date_plus_bigint_clamp", _when(*_DATE_ADD_BIGINT, sql=(
        r"(DATE\s*'[^']*'|to_date\s*\([^()]*\)|[\w.`]+)\s*\+\s*CAST\s*\(")),
        _date_plus_clamp),
    Fallback("date_add_bigint", _when(*_DATE_ADD_BIGINT), _date_add_bigint),
    Fallback("inline_alias_srf", _when(("INTERNAL_ERROR", "LATERAL_COLUMN_ALIAS")),
             _inline_alias_srf, catch_rewrite=True),
    Fallback("length_contains_of_array", _when(
        "UNEXPECTED_INPUT_TYPE",
        ('Cannot resolve "length(', 'Cannot resolve "contains(')),
        _length_contains_of_array),
    Fallback("string_int_compare", _STRING_INT_CAST, _string_int_compare),
    Fallback("decimal_text_int_cast", _STRING_INT_CAST,
             _decimal_text_int_cast, catch_rewrite=True),
    Fallback("string_int_column_compare", _STRING_INT_CAST,
             _string_int_column_compare, catch_rewrite=True),
    Fallback("to_date_from_int", _when(
        "CAST_INVALID_INPUT", sql=r"\bto_(date|timestamp)\s*\("),
        _to_date_from_int),
    Fallback("int_to_date_cast", _when(
        msg=r'cannot cast "(TINYINT|SMALLINT|INT|BIGINT)" to "DATE"'),
        _int_to_date_cast),
    # Databend casts '' to the epoch date/timestamp; Spark refuses —
    # substitute the epoch literal
    Fallback("empty_string_epoch", _when(
        "CAST_INVALID_INPUT", "The value ''", ('"DATE"', '"TIMESTAMP')),
        lambda f, _: (f.sql.replace("''", "'1970-01-01'" if '"DATE"' in f.msg
                                    else "'1970-01-01 00:00:00'"),)),
    # timestamp ± integer is microsecond arithmetic in the reference
    # (datetime.rs register_timestamp_plus_int) — hop through unix_micros
    Fallback("timestamp_plus_int", _when(
        ("BINARY_OP_DIFF_TYPES", "UNEXPECTED_INPUT_TYPE"),
        ('"TIMESTAMP"', "TIMESTAMP OR TIMESTAMP"),
        ('"INT"', '"BIGINT"', '"SMALLINT"')),
        lambda f, _: _if_changed(f, re.sub(
            r"([\w.`]+\((?:[^()]|\([^()]*\))*\)|[\w.`]+)\s*([+-])\s*(\d+)\b",
            r"timestamp_micros(unix_micros(CAST(\1 AS TIMESTAMP)) \2 \3)",
            f.sql))),
    Fallback("and_or_numeric_literal", _when(
        ("BINARY_OP_WRONG_TYPE", "BINARY_OP_DIFF_TYPES", "UNEXPECTED_INPUT_TYPE"),
        sql=r"\b(AND|OR|NOT)\s+\d|\d\s+(AND|OR)\b", msg=r"\(NOT |\bAND\b|\bOR\b"),
        _and_or_numeric_literal),
    Fallback("and_or_int_columns", _when(
        "BINARY_OP_WRONG_TYPE", msg=r'"\(\w+ (?:AND|OR) \w+\)"'),
        _and_or_int_columns, catch_rewrite=True),
    Fallback("numeric_bool_compare", lambda f: _when(
        "BINARY_OP_DIFF_TYPES", '"BOOLEAN"')(f) and (
        re.search(r'"(TINY|SMALL|BIG)?INT"', f.msg) or '"DOUBLE"' in f.msg),
        _numeric_bool_compare),
    # date - date is an INT day count in the reference; Spark yields
    # INTERVAL
    Fallback("date_minus_date", _when("BINARY_OP_DIFF_TYPES", "INTERVAL DAY"),
             lambda f, _: _if_changed(f, rewrite_date_minus(f.sql))),
    Fallback("date_add_bigint_column", lambda f: _when(
        "UNEXPECTED_INPUT_TYPE", '"BIGINT"')(f)
        and '"date_add(' in f.msg.replace("Cannot resolve ", ""),
        _date_add_bigint_column),
    Fallback("partial_timestamp_literal",
             _when("CAST_INVALID_INPUT", '"TIMESTAMP"'), _partial_timestamp),
    Fallback("nondeterministic_hoist", _when(
        "NONDETERMINISTIC",
        sql=r"\b(gen_random_uuid|uuid|rand(om)?)\s*\(\s*\)"),
        _nondeterministic_hoist),
    # the reference coerces numeric filters (non-zero = true)
    Fallback("filter_not_boolean_wrap", _when("FILTER_NOT_BOOLEAN"),
             lambda f, _: (wrap_where_boolean(f.sql),)),
    # change-tracking hidden columns (_origin_version, _origin_block_id,
    # …) are NULL on plain tables
    Fallback("origin_columns_null", lambda f: "UNRESOLVED_COLUMN" in f.msg
             and re.search(r"\b_origin_\w+", f.sql),
             lambda f, _: (re.sub(r"\b_origin_\w+\b", "NULL", f.sql),)),
    Fallback("view_auto_alias", _when("CREATE_PERMANENT_VIEW_WITHOUT_ALIAS"),
             lambda f, _: (auto_alias_view_body(f.sql),), propagate=True),
    Fallback("inline_select_aliases", _when((
        "LATERAL_COLUMN_ALIAS_IN_AGGREGATE_FUNC",
        "LATERAL_COLUMN_ALIAS_IN_WINDOW", "UNRESOLVED_COLUMN")),
        lambda f, _: (inline_select_aliases(f.sql),), propagate=True),
    Fallback("decorrelate_join_on",
             _when("UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY"),
             lambda f, _: () if (d := decorrelate_join_on(f.sql)) is None else (d,)),
    Fallback("drop_if_exists_noop", _when(
        ("REQUIRES_SINGLE_PART_NAMESPACE", "SCHEMA_NOT_FOUND"),
        sql=r"^\s*DROP\s+(TABLE|VIEW)\s+IF\s+EXISTS\b"),
        lambda f, _: (partial(f.spark.sql, "SELECT 1 AS ok WHERE false"),),
        propagate=True),
    # mixed-type VALUES rows Databend would cast on insert — the
    # SELECT..UNION ALL form goes through LEGACY store assignment
    Fallback("values_as_select", _when("INVALID_INLINE_TABLE"),
             lambda f, _: (rewrite_values_as_select(f.sql),), propagate=True),
)
