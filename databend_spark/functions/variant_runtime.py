"""Variant accessor runtime — canonical JSONB semantics over the
JSON-as-string variant model.

Reference: ``src/query/functions/src/scalars/variant.rs`` (get /
get_ignore_case / get_path / json_extract_path_text and the ``->``,
``->>``, ``#>``, ``#>>`` operators, ~3.6k LoC). Databend stores VARIANT
as JSONB, whose object keys are **sorted** — every serialization below
canonicalizes with sorted keys to reproduce the reference's output
byte-for-byte.

This is dialect surface, not a data path: the UDF only appears in
rewritten SQL-test statements (sqlgen arrow rewrites, registry get_*
macros). Pipeline operators never route through it.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from databend_spark.functions.dt_parse import convert_tz_eval, dt_parse_eval
from databend_spark.functions.geom_runtime import GEOMETRY_UDFS
from databend_spark.functions.hashes import (
    blake3_value,
    city64_seed_value,
    siphash64_value,
    xxhash32_value,
    xxhash64_value,
)
from databend_spark.functions.interval_type import (
    interval_compare_key,
    interval_text,
    timestamp_tz_add,
    timestamp_tz_micros,
    timestamp_tz_text,
)
from databend_spark.functions.pg_numfmt import pg_format_number
from databend_spark.operators.markov import MARKOV_UDFS
from databend_spark.session import session_state


def _canon(v) -> str:
    return json.dumps(v, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _parse_path(path: str):
    """Databend object path grammar: ``attr[0].name``, ``a["k"][1]``,
    ``''`` (whole value). Returns a list of (kind, arg) steps or None on
    a malformed path."""
    steps: list[tuple[str, object]] = []
    i, n = 0, len(path)
    while i < n:
        c = path[i]
        if c == ".":
            i += 1
            continue
        if c == "[":
            j = path.find("]", i)
            if j < 0:
                return None
            tok = path[i + 1 : j].strip()
            if tok[:1] in "\"'" and tok[-1:] == tok[:1]:
                raw = tok[1:-1]
                try:  # unescape \" \uXXXX (incl. surrogate pairs)
                    raw = json.loads('"' + raw + '"')
                except ValueError:
                    pass
                steps.append(("k", raw))
            else:
                try:
                    steps.append(("i", int(tok)))
                except ValueError:
                    return None
            i = j + 1
            continue
        j = i
        while j < n and path[j] not in ".[":
            j += 1
        steps.append(("k", path[i:j].strip()))
        i = j
    return steps


def _walk(cur, steps):
    """Apply steps; returns (found, value)."""
    for kind, arg in steps:
        if isinstance(cur, dict):
            if kind == "ki":
                key = str(arg)
                if key in cur:
                    cur = cur[key]
                    continue
                cands = sorted(k for k in cur if k.lower() == key.lower())
                if not cands:
                    return False, None
                cur = cur[cands[0]]
                continue
            key = str(arg)
            if key not in cur:
                return False, None
            cur = cur[key]
        elif isinstance(cur, list):
            try:
                idx = int(arg)
            except (TypeError, ValueError):
                return False, None
            if 0 <= idx < len(cur):
                cur = cur[idx]
            else:
                return False, None
        else:
            return False, None
    return True, cur


def variant_access(v, mode, arg, text):
    """modes: 'a' auto key-or-index, 'k' key, 'i' index, 'ki'
    case-insensitive key (exact first, then sorted-key first match),
    'path' Databend object path, 'pg' Postgres '{a,b}' path, '' whole.
    text=True unquotes strings and maps JSON null to SQL NULL."""
    if v is None or mode is None:
        return None
    try:
        cur = json.loads(v)
    except (ValueError, TypeError):
        return None
    if mode == "":
        steps = []
    elif mode in ("a", "k", "i", "ki"):
        if arg is None:
            return None
        steps = [(mode if mode == "ki" else "a", arg)]
    elif mode == "path":
        if arg is None:
            return None
        steps = _parse_path(arg) if arg else []
        if steps is None:
            return None
    elif mode == "pg":
        if arg is None:
            return None
        t = arg.strip()
        if not (t.startswith("{") and t.endswith("}")):
            return None
        inner = t[1:-1].strip()
        steps = (
            [("a", tok.strip()) for tok in inner.split(",")] if inner else []
        )
    else:
        return None
    found, val = _walk(cur, steps)
    if not found:
        return None
    if text:
        if val is None:
            return None
        if isinstance(val, str):
            return val
        if isinstance(val, bool):
            return "true" if val else "false"
        return _canon(val)
    return _canon(val)


# --- JSONPath subset (reference srfs/variant.rs json_path_query family,
# jsonb path grammar): $, .key, ."key", [i], [i, a to b], [*], last±k,
# ?(@ cmp lit && …, @.path, starts with), .** / .**{a to b} ------------


def _jp_parse(path: str):
    if not path or not path.startswith("$"):
        return None
    steps = []
    i, n = 1, len(path)
    while i < n:
        c = path[i]
        if c in " \t":
            i += 1
            continue
        if c == ".":
            i += 1
            if path[i : i + 2] == "**":
                i += 2
                lo, hi = 0, 1 << 30
                if i < n and path[i] == "{":
                    j = path.find("}", i)
                    if j < 0:
                        return None
                    spec = path[i + 1 : j].strip()
                    i = j + 1
                    if "to" in spec:
                        a, b = (t.strip() for t in spec.split("to", 1))
                        lo = int(a)
                        hi = (1 << 30) if b == "last" else int(b)
                    else:
                        lo = hi = int(spec)
                steps.append(("rec", lo, hi))
                continue
            if i < n and path[i] == "*":
                steps.append(("wild",))
                i += 1
                continue
            if i < n and path[i] in "\"'":
                q = path[i]
                j = i + 1
                buf = []
                while j < n:
                    if path[j] == "\\" and j + 1 < n:
                        buf.append(path[j : j + 2])
                        j += 2
                        continue
                    if path[j] == q:
                        break
                    buf.append(path[j])
                    j += 1
                try:
                    key = json.loads('"' + "".join(buf) + '"')
                except ValueError:
                    key = "".join(buf)
                steps.append(("key", key))
                i = j + 1
                continue
            j = i
            while j < n and path[j] not in ".[?{ \t":
                if path[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                j += 1
            if j == i:
                return None
            key = path[i:j]
            if "\\" in key:
                try:  # unescape \" \uXXXX in bare keys
                    key = json.loads('"' + key + '"')
                except ValueError:
                    pass
            steps.append(("key", key))
            i = j
            continue
        if c == "[":
            j, depth = i, 0
            while j < n:
                if path[j] == "[":
                    depth += 1
                elif path[j] == "]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:
                return None
            inner = path[i + 1 : j].strip()
            i = j + 1
            if inner == "*":
                steps.append(("wild",))
                continue
            sels = []
            for tok in inner.split(","):
                tok = tok.strip()
                if " to " in tok:
                    a, b = (t.strip() for t in tok.split(" to ", 1))
                    sels.append(("range", _jp_idx(a), _jp_idx(b)))
                elif tok[:1] in "\"'":
                    sels.append(("key", tok[1:-1]))
                else:
                    sels.append(("one", _jp_idx(tok)))
            steps.append(("idx", sels))
            continue
        if c == "?":
            i += 1
            while i < n and path[i] in " \t":
                i += 1
            if i >= n or path[i] != "(":
                return None
            j, depth = i, 0
            while j < n:
                if path[j] == "(":
                    depth += 1
                elif path[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:
                return None
            steps.append(("filter", path[i + 1 : j].strip()))
            i = j + 1
            continue
        return None
    return steps


def _jp_idx(tok: str):
    """int, or ('last', offset)."""
    tok = tok.strip()
    if tok.startswith("last"):
        rest = tok[4:].replace(" ", "")
        off = int(rest) if rest else 0
        return ("last", off)
    return int(tok)


def _jp_resolve_idx(sel, length: int) -> int:
    if isinstance(sel, tuple) and sel[0] == "last":
        return length - 1 + sel[1]
    return sel


def _jp_operand(expr: str, cur):
    """Evaluate a filter operand against the current item: @ path or a
    JSON literal. Returns (ok, value)."""
    expr = expr.strip()
    if expr.startswith("@"):
        sub = expr[1:].strip()
        if not sub:
            return True, cur
        steps = _jp_parse("$" + sub)
        if steps is None:
            return False, None
        vals = _jp_apply(cur, steps)
        if not vals:
            return False, None
        return True, vals[0]
    try:
        return True, json.loads(expr)
    except ValueError:
        return False, None


_JP_CMP = re.compile(r"(==|!=|<>|>=|<=|>|<)")


def _jp_filter_match(cond: str, cur) -> bool:
    for part in _split_jp(cond, "||"):
        if all(_jp_cmp(t, cur) for t in _split_jp(part, "&&")):
            return True
    return False


def _split_jp(s: str, op: str):
    out, depth, last, i = [], 0, 0, 0
    while i < len(s):
        c = s[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and s[i : i + 2] == op:
            out.append(s[last:i])
            i += 2
            last = i
            continue
        i += 1
    out.append(s[last:])
    return out


def _jp_cmp(term: str, cur) -> bool:
    term = term.strip()
    sw = re.match(r"(.+?)\s+starts\s+with\s+(.+)$", term, re.I)
    if sw:
        ok1, a = _jp_operand(sw.group(1), cur)
        ok2, b = _jp_operand(sw.group(2), cur)
        return (
            ok1 and ok2 and isinstance(a, str) and isinstance(b, str)
            and a.startswith(b)
        )
    m = _JP_CMP.search(term)
    if not m:
        ok, v = _jp_operand(term, cur)
        return bool(ok and v)
    ok1, a = _jp_operand(term[: m.start()], cur)
    ok2, b = _jp_operand(term[m.end() :], cur)
    if not (ok1 and ok2):
        return False
    op = m.group(1)
    try:
        if op == "==":
            return a == b
        if op in ("!=", "<>"):
            return a != b
        if isinstance(a, bool) or isinstance(b, bool):
            return False
        if op == ">":
            return a > b
        if op == "<":
            return a < b
        if op == ">=":
            return a >= b
        if op == "<=":
            return a <= b
    except TypeError:
        return False
    return False


def _jp_descendants(v, depth: int, lo: int, hi: int, out: list) -> None:
    if lo <= depth <= hi:
        out.append(v)
    if depth >= hi:
        return
    if isinstance(v, dict):
        # jsonb object keys are stored sorted
        for _, x in sorted(v.items()):
            _jp_descendants(x, depth + 1, lo, hi, out)
    elif isinstance(v, list):
        for x in v:
            _jp_descendants(x, depth + 1, lo, hi, out)


def _jp_apply(doc, steps) -> list:
    cur = [doc]
    for step in steps:
        nxt: list = []
        kind = step[0]
        for v in cur:
            if kind == "key":
                if isinstance(v, dict) and step[1] in v:
                    nxt.append(v[step[1]])
            elif kind == "wild":
                if isinstance(v, list):
                    nxt.extend(v)
                elif isinstance(v, dict):
                    nxt.extend(x for _, x in sorted(v.items()))
            elif kind == "idx":
                if isinstance(v, list):
                    for sel in step[1]:
                        if sel[0] == "one":
                            ix = _jp_resolve_idx(sel[1], len(v))
                            if 0 <= ix < len(v):
                                nxt.append(v[ix])
                        elif sel[0] == "range":
                            a = _jp_resolve_idx(sel[1], len(v))
                            b = _jp_resolve_idx(sel[2], len(v))
                            for ix in range(max(a, 0), min(b, len(v) - 1) + 1):
                                nxt.append(v[ix])
                        elif sel[0] == "key" and isinstance(v, dict):
                            if sel[1] in v:
                                nxt.append(v[sel[1]])
                elif isinstance(v, dict):
                    for sel in step[1]:
                        if sel[0] == "key" and sel[1] in v:
                            nxt.append(v[sel[1]])
            elif kind == "filter":
                if isinstance(v, list):
                    nxt.extend(x for x in v if _jp_filter_match(step[1], x))
                elif _jp_filter_match(step[1], v):
                    nxt.append(v)
            elif kind == "rec":
                _jp_descendants(v, 0, step[1], step[2], nxt)
        cur = nxt
    return cur


# --- jsonpath arithmetic expressions: '+$.a', '$.a[0] + 3', '2 * $.x' --


def _find_top_op(e: str, ops: str) -> int:
    depth = 0
    for i in range(len(e) - 1, -1, -1):
        c = e[i]
        if c in ")]}":
            depth += 1
        elif c in "([{":
            depth -= 1
        elif depth == 0 and c in ops:
            j = i - 1
            while j >= 0 and e[j] in " \t":
                j -= 1
            if j < 0 or e[j] in "+-*/%(,":
                continue  # unary / part of another op
            return i
    return -1


def _num_list(vals):
    """Arithmetic operand coercion: flatten arrays one level, numbers
    only (booleans excluded)."""
    out = []
    for v in vals:
        items = v if isinstance(v, list) else [v]
        for x in items:
            if isinstance(x, bool) or not isinstance(x, (int, float)):
                raise ValueError("non-numeric operand in jsonpath expression")
            out.append(x)
    return out


def _jp_arith(op: str, a, b):
    import math

    if op == "+":
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    if op == "/":
        return a / b
    r = math.fmod(a, b)  # C-style sign (−11 % 2 → −1, like jsonb)
    return int(r) if isinstance(a, int) and isinstance(b, int) else r


def _jp_expr_eval(doc, e: str) -> list:
    e = e.strip()
    if not e:
        raise ValueError("empty jsonpath expression")
    i = _find_top_op(e, "+-")
    if i < 0:
        i = _find_top_op(e, "*/%")
    if i > 0:
        op = e[i]
        left = _num_list(_jp_expr_eval(doc, e[:i]))
        right = _num_list(_jp_expr_eval(doc, e[i + 1 :]))
        if len(left) == 1:
            return [_jp_arith(op, left[0], r) for r in right]
        if len(right) >= 1:
            return [_jp_arith(op, l, right[0]) for l in left]
        return []
    if e[0] in "+-":
        vals = _num_list(_jp_expr_eval(doc, e[1:]))
        return vals if e[0] == "+" else [-v for v in vals]
    if e.startswith("("):
        if not e.endswith(")"):
            raise ValueError("unbalanced parens in jsonpath expression")
        return _jp_expr_eval(doc, e[1:-1])
    if e.startswith("$"):
        steps = _jp_parse(e)
        if steps is None:
            raise ValueError(f"Invalid JSON Path '{e}'")
        return _jp_apply(doc, steps)
    return [json.loads(e)]


def _find_cmp_outside(term: str):
    depth = 0
    for m in _JP_CMP.finditer(term):
        depth = 0
        for c in term[: m.start()]:
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
        if depth == 0:
            return m
    return None


def _cmp_vals(op, a, b) -> bool:
    try:
        if op == "==":
            return a == b
        if op in ("!=", "<>"):
            return a != b
        if isinstance(a, bool) or isinstance(b, bool):
            return False
        return {
            ">": a > b, "<": a < b, ">=": a >= b, "<=": a <= b
        }[op]
    except TypeError:
        return False


def _jp_match_eval(doc, expr: str) -> bool | None:
    """jsonb path-predicate (@@ / json_path_match): '$path op literal'
    terms joined by && / ||; a term is true when ANY match satisfies,
    and NULL (SQL unknown) when the path yields no candidates —
    three-valued AND/OR combine as in SQL."""
    any_true = False
    any_null = False
    for part in _split_jp(expr, "||"):
        vals = [_jp_match_term(doc, t) for t in _split_jp(part, "&&")]
        if any(v is False for v in vals):
            continue
        if any(v is None for v in vals):
            any_null = True
        else:
            any_true = True
    if any_true:
        return True
    return None if any_null else False


def _jp_match_term(doc, term: str) -> bool | None:
    term = term.strip()
    m = _find_cmp_outside(term)
    if not m:
        raise ValueError(f"Invalid jsonpath predicate '{term}'")
    lhs, op = term[: m.start()].strip(), m.group(1)
    rhs = json.loads(term[m.end() :].strip())
    steps = _jp_parse(lhs)
    if steps is None:
        raise ValueError(f"Invalid jsonpath predicate '{term}'")
    # a root array wildcard over a non-array base is SQL unknown; a
    # plain missing member/index is simply false (pg jsonb_path_match)
    if re.match(r"\$\s*\[\s*\*\s*\]", lhs) and not isinstance(doc, list):
        return None
    vals = []
    for v in _jp_apply(doc, steps):
        vals.extend(v if isinstance(v, list) else [v])
    if not vals:
        return None if "[*]" in lhs and not isinstance(doc, list) else False
    return any(_cmp_vals(op, v, rhs) for v in vals)


def check_json(v):
    """NULL when valid JSON, else a jsonb-style error message
    (reference scalars/variant.rs check_json)."""
    if v is None:
        return None
    try:
        json.loads(v)
        return None
    except json.JSONDecodeError as e:
        if "Unterminated string" in e.msg or e.pos >= len(v.rstrip()):
            return f"EOF while parsing a value, pos {len(v.rstrip())}"
        return f"expected value, pos {e.pos + 1}"
    except (TypeError, ValueError):
        return "expected value, pos 1"


def variant_path_query(v, path, mode):
    """modes: 'list' → JSON array of canonical texts (for explode),
    'arr' → one canonical JSON array, 'first' → first match or NULL,
    'exists' → 'true'/'false'."""
    if v is None or path is None:
        return None
    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        return None
    if mode == "match":
        r = _jp_match_eval(doc, path.strip())
        return None if r is None else ("true" if r else "false")
    steps = _jp_parse(path.strip())
    if steps is None:
        # not plain-path syntax: arithmetic expression form
        # ('+$.a', '$.a[0] + 3') — raises on malformed text, matching
        # the reference's error on bad jsonpath
        matches = _jp_expr_eval(doc, path.strip())
    else:
        matches = _jp_apply(doc, steps)
    if mode == "exists":
        return "true" if matches else "false"
    if mode == "first":
        return _canon(matches[0]) if matches else None
    if mode == "arr":
        return _canon(matches)
    return json.dumps([_canon(m) for m in matches], ensure_ascii=False)


def decimal_text(x, scale):
    """Exact double→decimal text at scales beyond Spark's DECIMAL(38)
    ceiling (reference to_decimal supports precision ≤ 76,
    src/query/expression/src/types/decimal.rs). A double is a dyadic
    rational, so its decimal expansion is exact; quantize at the asked
    scale with banker's rounding like the reference."""
    if x is None or scale is None:
        return None
    import decimal

    try:
        with decimal.localcontext() as ctx:
            ctx.prec = 120
            d = decimal.Decimal(float(x)).quantize(
                decimal.Decimal(1).scaleb(-int(scale)),
                rounding=decimal.ROUND_HALF_EVEN,
            )
        return format(d, "f")
    except (decimal.InvalidOperation, ValueError, OverflowError):
        return None


_POSIX_CLASSES = {
    "[:alnum:]": "a-zA-Z0-9", "[:alpha:]": "a-zA-Z", "[:digit:]": "0-9",
    "[:lower:]": "a-z", "[:upper:]": "A-Z", "[:space:]": r"\s",
    "[:blank:]": " \\t", "[:punct:]": r"!-/:-@\[-`{-~",
    "[:xdigit:]": "0-9a-fA-F", "[:word:]": r"\w", "[:cntrl:]": r"\x00-\x1f",
}


def _mysql_regex(pat: str, match_type: str | None):
    """Compile a MySQL-style pattern: POSIX classes, (?<name>) groups,
    ci default; match_type c/i/m/n toggles (bad flags raise)."""
    for k, v in _POSIX_CLASSES.items():
        pat = pat.replace(k, v)
    pat = re.sub(r"\(\?<([A-Za-z])", r"(?P<\1", pat)
    flags = re.IGNORECASE
    for ch in match_type or "":
        if ch == "c":
            flags &= ~re.IGNORECASE
        elif ch == "i":
            flags |= re.IGNORECASE
        elif ch == "m":
            flags |= re.MULTILINE
        elif ch in ("n", "s"):
            flags |= re.DOTALL
        elif ch == "u":
            pass
        else:
            raise ValueError(f"invalid match_type flag {ch!r}")
    return re.compile(pat, flags)


def regexp_instr_eval(s, pat, pos, occ, ro, mt):
    """MySQL REGEXP_INSTR: 1-based CHAR position of the occ-th match
    starting at pos; return_option 1 reports the position after it.
    A NULL argument yields NULL; pos/occ out of domain raise."""
    if (s is None or pat is None or pos is None or occ is None
            or ro is None or mt is None):
        return None
    pos, occ = int(pos), int(occ)
    if pos < 1 or occ < 1:
        raise ValueError("regexp_instr: pos and occurrence must be >= 1")
    if pos > len(s):
        return 0
    rx = _mysql_regex(pat, mt)
    i = 0
    for m in rx.finditer(s, pos - 1):
        i += 1
        if i == occ:
            return m.end() + 1 if int(ro) else m.start() + 1
    return 0


def regexp_substr_eval(s, pat, pos, occ, mt):
    if (s is None or pat is None or pos is None or occ is None
            or mt is None):
        return None
    pos, occ = int(pos), int(occ)
    if pos < 1 or occ < 1:
        raise ValueError("regexp_substr: pos and occurrence must be >= 1")
    if pos > len(s):
        return None
    rx = _mysql_regex(pat, mt)
    i = 0
    for m in rx.finditer(s, pos - 1):
        i += 1
        if i == occ:
            return m.group(0)
    return None


def regexp_extract_eval(s, pat, group):
    """Databend regexp_extract (string_multi_args.rs:623-684): on a
    match, group > 9 errors; a group index beyond the pattern's groups
    (or an unmatched optional group) yields ''; no match yields ''
    — never NULL for non-NULL args."""
    if s is None or pat is None or group is None:
        return None
    group = int(group)
    rx = re.compile(pat)
    m = rx.search(s)
    if m is None:
        return ""
    if group > 9:
        raise ValueError("Group index must be between 0 and 9!")
    if group > rx.groups:
        return ""
    return m.group(group) or ""


def regexp_extract_all_eval(s, pat, group):
    """Databend regexp_extract_all (string_multi_args.rs:544-622):
    group > 9 errors unconditionally; group beyond the pattern's
    groups errors per match; unmatched optional groups yield ''."""
    if s is None or pat is None or group is None:
        return None
    group = int(group)
    rx = re.compile(pat)
    if group > 9:
        raise ValueError("Group index must be between 0 and 9!")
    out = []
    for m in rx.finditer(s):
        if group > rx.groups:
            raise ValueError(
                f"Pattern has {rx.groups + 1} groups. "
                f"Cannot access group {group}"
            )
        out.append(m.group(group) or "")
    return out


def regexp_extract_named_eval(s, pat, names):
    """Databend regexp_extract(s, pat, [names...]) → JSON object of the
    LAST match's positional groups keyed by the given names
    (string_multi_args.rs:348-412: captures_iter().last(), values by
    position, '' for misses)."""
    if s is None or pat is None or names is None:
        return None
    rx = re.compile(pat)
    last = None
    for last in rx.finditer(s):
        pass
    if last is not None and len(names) > rx.groups:
        raise ValueError("Not enough group names in regexp_extract")
    obj = {}
    for i, name in enumerate(names):
        v = last.group(i + 1) if last is not None else None
        obj[name] = v or ""
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def split_eval(s, sep):
    """Databend split (string.rs:987): LITERAL separator (not regex);
    s == sep → [""], empty sep → [s], else str.split keeping empties."""
    if s is None or sep is None:
        return None
    if s == sep:
        return [""]
    if sep == "":
        return [s]
    return s.split(sep)


def split_part_eval(s, sep, part):
    """Databend split_part (string.rs:1037): literal separator; part 0
    behaves like 1, negatives count from the end, out-of-range → ''."""
    if s is None or sep is None or part is None:
        return None
    part = int(part)
    if sep == "":
        return s if part in (0, 1, -1) else ""
    if s == sep:
        return ""
    parts = s.split(sep)
    if part < 0:
        idx = len(parts) + part
        return parts[idx] if idx >= 0 else ""
    idx = 0 if part == 0 else part - 1
    return parts[idx] if idx < len(parts) else ""


def interval_add_eval(a, b):
    """interval + interval (reference months_days_micros add)."""
    from databend_spark.functions.interval_type import (
        interval_format,
        interval_parse,
    )

    if a is None or b is None:
        return None
    ma, da, ua = interval_parse(str(a))
    mb, db, ub = interval_parse(str(b))
    return interval_format(ma + mb, da + db, ua + ub)


def interval_mul_eval(a, k):
    """interval * integer (component-wise)."""
    from databend_spark.functions.interval_type import (
        interval_format,
        interval_parse,
    )

    if a is None or k is None:
        return None
    m, d, u = interval_parse(str(a))
    k = int(k)
    return interval_format(m * k, d * k, u * k)


def interval_from_micros_eval(m):
    """micros total → interval display (sum() over intervals folds
    months at 30 days into the micros bucket — 11_0007 sum goldens)."""
    from databend_spark.functions.interval_type import interval_format

    if m is None:
        return None
    return interval_format(0, 0, int(m))


def interval_make_eval(n, unit):
    """Number→interval constructors (reference interval.rs
    register_number_to_interval: to_years/to_weeks/to_hours/…)."""
    from databend_spark.functions.interval_type import interval_format

    if n is None or unit is None:
        return None
    n = int(n)
    months = {"millennium": 12000, "century": 1200, "decade": 120,
              "year": 12, "month": 1}
    days = {"week": 7, "day": 1}
    micros = {"hour": 3_600_000_000, "minute": 60_000_000,
              "second": 1_000_000, "millisecond": 1000, "microsecond": 1}
    if unit in months:
        return interval_format(n * months[unit], 0, 0)
    if unit in days:
        return interval_format(0, n * days[unit], 0)
    return interval_format(0, 0, n * micros[unit])


def interval_extract_eval(field, s):
    """EXTRACT(field FROM interval) — reference interval→i64
    extractors: the time bucket does NOT roll into days (hour of
    '48 hours' is 48), months fold at 12 into years."""
    from databend_spark.functions.interval_type import interval_parse

    if field is None or s is None:
        return None
    m, d, u = interval_parse(str(s))
    f = str(field).lower()
    if f == "epoch":
        return m * 2_592_000.0 + d * 86_400.0 + u / 1_000_000.0
    if f == "year":
        return float(int(m / 12))
    if f == "month":
        return float(m - int(m / 12) * 12)
    if f == "day":
        return float(d)
    if f == "hour":
        return float(int(u / 3_600_000_000))
    rem = u - int(u / 3_600_000_000) * 3_600_000_000
    if f == "minute":
        return float(int(rem / 60_000_000))
    rem -= int(rem / 60_000_000) * 60_000_000
    if f == "second":
        return rem / 1_000_000.0
    if f == "microsecond":
        return float(rem)
    if f == "millisecond":
        return rem / 1000.0
    raise ValueError(f"cannot extract {field} from interval")


def age_eval(a, b):
    """PostgreSQL-style age(end, begin) → interval display (reference
    interval.rs age: calendar years/months/days + time remainder)."""
    import datetime as _dt

    from databend_spark.functions.interval_type import interval_format

    if a is None or b is None:
        return None

    def _to_dt(x):
        if isinstance(x, _dt.datetime):
            return x
        if isinstance(x, _dt.date):
            return _dt.datetime(x.year, x.month, x.day)
        t = str(x).strip()
        # trailing UTC offset (+0800 / +08:00) → convert to UTC naive
        mo = re.search(r"\s*([+-])(\d{2}):?(\d{2})?$", t)
        off = None
        # an offset only follows a time component (bare dates like
        # '2026-08-15' must not lose their day to the regex)
        if mo and ":" in t[: mo.start()]:
            off = (1 if mo.group(1) == "+" else -1) * (
                int(mo.group(2)) * 60 + int(mo.group(3) or 0)
            )
            t = t[: mo.start()].strip()
        for fmt in (
            "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"
        ):
            try:
                d = _dt.datetime.strptime(t, fmt)
                if off is not None:
                    d -= _dt.timedelta(minutes=off)
                return d
            except ValueError:
                continue
        raise ValueError(f"cannot parse timestamp {x!r}")

    end, beg = _to_dt(a), _to_dt(b)
    sign = 1
    if end < beg:
        end, beg = beg, end
        sign = -1

    def _dim(y, mo):
        return [31, 29 if y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
                else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31][mo - 1]

    def _shift_back(d, n):
        # d minus n calendar months, END-anchored with day clamping
        # (jiff Span semantics — the reference's age counts whole
        # months backward from the end timestamp)
        y, mo = divmod(d.year * 12 + d.month - 1 - n, 12)
        return d.replace(year=y, month=mo + 1,
                         day=min(d.day, _dim(y, mo + 1)))

    months = (end.year - beg.year) * 12 + (end.month - beg.month)
    anchor = _shift_back(end, months)
    if anchor < beg:
        months -= 1
        anchor = _shift_back(end, months)
    delta = anchor - beg
    days = delta.days
    micros = delta.seconds * 1_000_000 + delta.microseconds
    return interval_format(sign * months, sign * days, sign * micros)


def _jsonb_rank(x) -> tuple:
    """Databend jsonb total order (jsonb crate compare): boolean <
    number < string < object < array < null (json null largest)."""
    if isinstance(x, bool):
        return (0, 1.0 if x else 0.0, "")
    if isinstance(x, (int, float)):
        return (1, float(x), "")
    if isinstance(x, str):
        return (2, 0.0, x)
    if isinstance(x, dict):
        return (3, 0.0, _canon(x))
    if isinstance(x, list):
        return (4, 0.0, _canon(x))
    return (5, 0.0, "")  # json null


def json_order_key_eval(v):
    """Sortable struct key reproducing jsonb value ordering."""
    if v is None:
        return None
    try:
        x = json.loads(v)
    except (ValueError, TypeError):
        x = v
    return _jsonb_rank(x)


def json_array_sort_eval(arr, asc):
    """Sort an array of variant (JSON text) values in jsonb order."""
    if arr is None:
        return None
    keyed = sorted(
        (x for x in arr if x is not None),
        key=lambda s: _jsonb_rank(
            json.loads(s) if _try_json(s) else s
        ),
        reverse=not asc,
    )
    return list(keyed)


def _try_json(s) -> bool:
    try:
        json.loads(s)
        return True
    except (ValueError, TypeError):
        return False


def vec_distance_eval(a, b, metric, f32):
    """cosine/l1/l2/dot distances (reference scalars/vector.rs): the
    VECTOR type computes in float32, bare float arrays in float64."""
    if a is None or b is None:
        return None
    import math

    if f32:
        import numpy as np

        va = np.asarray([float(x) for x in a], dtype=np.float32)
        vb = np.asarray([float(x) for x in b], dtype=np.float32)
        if metric == "cosine":
            dot = np.float32(np.dot(va, vb))
            na = np.sqrt(np.float32(np.dot(va, va)))
            nb = np.sqrt(np.float32(np.dot(vb, vb)))
            return float(np.float32(1.0) - np.float32(dot / (na * nb)))
        if metric == "l1":
            return float(np.float32(np.abs(va - vb).sum(dtype=np.float32)))
        if metric == "l2":
            d = va - vb
            return float(np.sqrt(np.float32(np.dot(d, d))))
        if metric == "dot":
            return float(np.float32(np.dot(va, vb)))
        raise ValueError(f"unknown vector metric {metric}")
    va = [float(x) for x in a]
    vb = [float(x) for x in b]
    if metric == "cosine":
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(y * y for y in vb))
        return 1.0 - dot / (na * nb)
    if metric == "l1":
        return sum(abs(x - y) for x, y in zip(va, vb))
    if metric == "l2":
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(va, vb)))
    if metric == "dot":
        return sum(x * y for x, y in zip(va, vb))
    raise ValueError(f"unknown vector metric {metric}")


def jsonb_binary_eval(v):
    """Databend jsonb binary encoding (jsonb crate layout): u32 BE
    container header (0x20000000 scalar / 0x40000000 object /
    0x80000000 array | count), u32 BE JEntries (0x10000000|len string,
    0x20000000|len number, 0x00000000 null, 0x30000000 false,
    0x40000000 true), then payloads; numbers as 0x50-tagged minimal
    big-endian magnitudes; object keys sorted."""
    import struct as _st

    if v is None:
        return None
    x = json.loads(v)

    def enc_num(n) -> bytes:
        if isinstance(n, float) and not float(n).is_integer():
            raise ValueError("non-integer jsonb numbers unsupported")
        n = int(n)
        mag = n.to_bytes(max(1, (n.bit_length() + 7) // 8), "big")
        return b"\x50" + mag

    def entry_payload(val) -> tuple[int, bytes]:
        if val is None:
            return (0x00000000, b"")
        if isinstance(val, bool):
            return (0x40000000 if val else 0x30000000, b"")
        if isinstance(val, str):
            b = val.encode("utf-8")
            return (0x10000000 | len(b), b)
        if isinstance(val, (int, float)):
            b = enc_num(val)
            return (0x20000000 | len(b), b)
        raise ValueError("nested containers unsupported in jsonb enc")

    out = bytearray()
    if isinstance(x, dict):
        items = sorted(x.items())
        out += _st.pack(">I", 0x40000000 | len(items))
        entries, payloads = [], []
        for k, _ in items:
            kb = k.encode("utf-8")
            entries.append(0x10000000 | len(kb))
            payloads.append(kb)
        for _, val in items:
            e, p = entry_payload(val)
            entries.append(e)
            payloads.append(p)
        for e in entries:
            out += _st.pack(">I", e)
        for p in payloads:
            out += p
    elif isinstance(x, list):
        out += _st.pack(">I", 0x80000000 | len(x))
        entries, payloads = [], []
        for val in x:
            e, p = entry_payload(val)
            entries.append(e)
            payloads.append(p)
        for e in entries:
            out += _st.pack(">I", e)
        for p in payloads:
            out += p
    else:
        out += _st.pack(">I", 0x20000000)
        e, p = entry_payload(x)
        out += _st.pack(">I", e)
        out += p
    return bytes(out)


def bitmap_binary_eval(vals):
    """Databend bitmap binary serialization observed in the goldens:
    magic 'HB', version 0x0100 LE, LEB128 cardinality, sorted u64 LE
    values."""
    import struct as _st

    if vals is None:
        return None
    out = bytearray(b"HB\x01\x00")
    n = len(vals)
    while True:  # LEB128
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            break
    for v in sorted(int(x) for x in vals):
        out += _st.pack("<q", v)
    return bytes(out)


def quantile_tdigest_eval(vals, qs):
    """tdigest quantiles over singleton centroids (reference
    aggregate_quantile_tdigest.rs): rank = q*n - 0.5 interpolated
    between adjacent sorted values, clamped at the ends."""
    if vals is None or qs is None:
        return None
    a = sorted(float(x) for x in vals if x is not None)
    n = len(a)
    out = []
    for q in qs:
        if n == 0:
            out.append(None)
            continue
        r = float(q) * n - 0.5
        if r <= 0:
            out.append(a[0])
        elif r >= n - 1:
            out.append(a[-1])
        else:
            i = int(r)
            frac = r - i
            out.append(a[i] + frac * (a[i + 1] - a[i]))
    return out


def vec_norm_eval(a, f32):
    if a is None:
        return None
    import math

    if f32:
        import numpy as np

        va = np.asarray([float(x) for x in a], dtype=np.float32)
        return float(np.sqrt(np.float32(np.dot(va, va))))
    return math.sqrt(sum(float(x) ** 2 for x in a))


def wide_decimal_cast_eval(v, p, s):
    """Decimal256 cast emulation (reference types/decimal.rs:82,
    p<=76): exact fixed-point rendering of values Spark's 38-digit
    decimal cannot hold; raises a message containing 'overflow' when
    the integer digits exceed p-s (decimal_overflow_error)."""
    if v is None:
        return None
    import decimal as _dec

    t = str(v).strip()
    if t.startswith('"') and t.endswith('"'):
        t = t[1:-1]
    if t == "" or t.lower() == "null":
        return None
    with _dec.localcontext() as ctx:
        ctx.prec = 160
        try:
            d = _dec.Decimal(t)
        except Exception:
            raise ValueError(f"[1006] cannot parse '{t}' as decimal")
        q = d.quantize(
            _dec.Decimal(1).scaleb(-int(s)), rounding=_dec.ROUND_HALF_UP
        )
        if abs(q) >= _dec.Decimal(1).scaleb(int(p) - int(s)):
            raise ValueError(
                f"[1002] Decimal overflow at precision {p}, scale {s}"
            )
        return str(q)


def regexp_replace_eval(s, pat, repl, pos, occ, mt):
    """occ = 0 replaces every occurrence from pos."""
    if (s is None or pat is None or repl is None or pos is None
            or occ is None or mt is None):
        return None
    pos, occ = int(pos), int(occ)
    if pos < 1 or occ < 0:
        raise ValueError("regexp_replace: pos must be >= 1, occ >= 0")
    if pos > len(s):
        return s
    rx = _mysql_regex(pat, mt)
    head, tail = s[: pos - 1], s[pos - 1 :]
    rr = re.sub(r"\$\{(\w+)\}", r"\\g<\1>", repl)
    rr = re.sub(r"\$(\w+)", r"\\g<\1>", rr)
    if occ == 0:
        return head + rx.sub(rr, tail)
    out = []
    last = 0
    i = 0
    for m in rx.finditer(tail):
        i += 1
        if i == occ:
            out.append(tail[last : m.start()])
            out.append(m.expand(rr))
            last = m.end()
            break
    out.append(tail[last:])
    return head + "".join(out)


def variant_like_eval(v, pat, escape=None):
    """VARIANT LIKE (reference comparison.rs:2025-2073
    variant_vectorize_like_jsonb): *simple* patterns — exact, 'prefix%',
    '%suffix' (repeated %s collapse), no '_' and no escaped wildcard —
    only match when the variant is a scalar string, compared unquoted;
    every other pattern traverses the document and matches any string
    leaf (variant_like_requires_traversal, :2057)."""
    if v is None or pat is None:
        return None
    if escape and escape != "\\":
        out = []
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == escape and i + 1 < len(pat):
                out.append("\\" + pat[i + 1])
                i += 2
            elif c == "\\":
                out.append("\\\\")
                i += 1
            else:
                out.append(c)
                i += 1
        pat = "".join(out)
    has_escaped_wild = bool(re.search(r"\\[%_\\]", pat))
    simple = not has_escaped_wild and (
        re.fullmatch(r"[^%_]*", pat)  # exact (OrdinalStr)
        or re.fullmatch(r"%+[^%_]*", pat)  # StartOfPercent
        or re.fullmatch(r"[^%_]*%+", pat)  # EndOfPercent
    )
    rx = []
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            rx.append(re.escape(pat[i + 1]))
            i += 2
            continue
        if c == "%":
            rx.append(".*")
        elif c == "_":
            rx.append(".")
        else:
            rx.append(re.escape(c))
        i += 1
    rxp = re.compile("^" + "".join(rx) + "$", re.S)

    def leaves(x):
        if isinstance(x, str):
            yield x
        elif isinstance(x, list):
            for e in x:
                yield from leaves(e)
        elif isinstance(x, dict):
            for e in x.values():
                yield from leaves(e)

    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        doc = v
    if simple:
        return isinstance(doc, str) and bool(rxp.match(doc))
    return any(rxp.match(s) for s in leaves(doc))


def chr_eval(n):
    """Unicode code point → character (Spark's char() is mod-256)."""
    if n is None:
        return None
    n = int(n)
    if n < 0 or n > 0x10FFFF:
        raise ValueError("char code point out of range")
    return chr(n)


def instr_eval(s, sub, pos, occ):
    """Oracle/MySQL 4-arg INSTR: 1-based char position of the occ-th
    occurrence searching from pos (negative pos searches backward from
    the end, reference scalars/string.rs instr)."""
    if s is None or sub is None or pos is None or occ is None:
        return None
    pos, occ = int(pos), int(occ)
    if pos == 0 or occ <= 0 or not sub:
        return 0
    if pos > 0:
        i = pos - 1
        for _ in range(occ):
            i = s.find(sub, i)
            if i < 0:
                return 0
            i += 1
        return i
    # negative: search backward, windows ending at len(s)+pos+len(sub)-1
    start = len(s) + pos
    i = start
    for _ in range(occ):
        i = s.rfind(sub, 0, i + len(sub))
        if i < 0:
            return 0
        i -= 1
    return i + 2


def humanize_size_eval(v):
    """convert_byte_size (reference common/base/src/base/string.rs:131)."""
    if v is None:
        return None
    import math

    num = float(v)
    neg = "" if math.copysign(1, num) > 0 else "-"
    num = abs(num)
    units = ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB", "ZiB", "YiB"]
    if num < 1:
        return f"{neg}{num:.2f} B"
    exp = min(int(math.floor(math.log(num) / math.log(1024))), len(units) - 1)
    return f"{neg}{num / 1024 ** exp:.2f} {units[exp]}"


def humanize_number_eval(v):
    """convert_number_size (reference string.rs:148): trailing zeros
    drop via float round-trip like Rust's Display."""
    if v is None:
        return None
    import math

    num = float(v)
    if num == 0.0:
        return "0"
    neg = "" if math.copysign(1, num) > 0 else "-"
    num = abs(num)
    units = ["", " thousand", " million", " billion", " trillion",
             " quadrillion"]
    if num < 1:
        return f"{neg}{num:.2f}"
    exp = min(int(math.floor(math.log(num) / math.log(1000))), len(units) - 1)
    pretty = float(f"{num / 1000 ** exp:.2f}")
    txt = "%g" % pretty
    return f"{neg}{txt}{units[exp]}"


def inet_aton_eval(s, strict):
    if s is None:
        return None
    parts = str(s).strip().split(".")
    try:
        if len(parts) != 4:
            raise ValueError
        nums = [int(p) for p in parts]
        if any(p < 0 or p > 255 for p in nums):
            raise ValueError
        return (nums[0] << 24) | (nums[1] << 16) | (nums[2] << 8) | nums[3]
    except ValueError:
        if strict:
            raise ValueError(f"invalid IPv4 address: {s!r}") from None
        return None


def inet_ntoa_eval(v, strict):
    if v is None:
        return None
    try:
        n = int(float(v))
        if n < 0 or n > 0xFFFFFFFF:
            raise ValueError
    except (ValueError, TypeError):
        if strict:
            raise ValueError(f"invalid IPv4 number: {v!r}") from None
        return None
    return f"{(n >> 24) & 255}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"


def soundex_eval(s):
    """MySQL-style unbounded soundex (reference scalars/string.rs mod
    soundex): first uni-alphabetic char kept uppercased, consonant codes
    appended with adjacent-dedupe, zero-padded to at least 4."""
    if s is None:
        return None
    codes = {
        "b": "1", "f": "1", "p": "1", "v": "1",
        "c": "2", "g": "2", "j": "2", "k": "2", "q": "2", "s": "2",
        "x": "2", "z": "2", "d": "3", "t": "3", "l": "4", "m": "5",
        "n": "5", "r": "6",
    }
    out = []
    last = None
    for ch in s:
        lo = ch.lower() if ch.isascii() else ch
        score = codes.get(lo, "0")
        if last is None:
            if not (ch.isascii() and ch.isalpha() or ord(ch) >= 0xC0):
                continue
            last = score
            out.append(ch.upper() if ch.isascii() else ch)
        else:
            if (
                not (ch.isascii() and ch.isalpha())
                or lo in "aeiouyhw"
                or score == last
            ):
                continue
            last = score
            out.append(score)
    out.extend("0" * max(0, 4 - len(out)))
    return "".join(out)


def histogram_eval(k, vals):
    """Equi-height histogram text exactly like the reference
    (aggregates/aggregate_histogram.rs): ceil-filled buckets over the
    sorted distinct values; strings/dates render single-quoted,
    timestamps with microseconds."""
    import datetime as _dt
    import decimal as _decimal

    if not vals:
        return None
    k = int(k or 254)

    def rep(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, _dt.datetime):
            return "'" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
        if isinstance(v, _dt.date):
            return "'" + v.isoformat() + "'"
        if isinstance(v, float):
            import struct as _struct

            if _struct.unpack("<f", _struct.pack("<f", v))[0] == v:
                # a float32 widened to double — shortest f32 text
                for p in range(1, 10):
                    s = "%.*g" % (p, v)
                    if _struct.unpack("<f", _struct.pack("<f", float(s)))[0] == v:
                        return s
            return repr(v)
        if isinstance(v, (int, _decimal.Decimal)):
            return str(v)
        return "'" + str(v) + "'"

    vals = sorted(v for v in vals if v is not None)
    if not vals:
        return None
    dist = sorted(set(vals))
    n = len(dist)
    per = -(-n // k)  # ceil
    out = []
    pre = 0
    i = 0
    while i < n:
        chunk = dist[i : i + per]
        lo, hi = chunk[0], chunk[-1]
        cnt = sum(1 for v in vals if lo <= v <= hi)
        out.append(
            '{"lower":"%s","upper":"%s","ndv":%d,"count":%d,"pre_sum":%d}'
            % (rep(lo).replace('"', '\\"'), rep(hi).replace('"', '\\"'),
               len(chunk), cnt, pre)
        )
        pre += cnt
        i += per
    return "[" + ",".join(out) + "]"


def window_funnel_eval(window, rows):
    """ClickHouse-style windowFunnel over collected (t, cond...) rows
    (reference aggregates window_funnel): max chain level where each
    step's event falls within `window` of the chain start. Dates count
    days, datetimes seconds, numbers as-is."""
    import datetime as _dt

    if window is None or rows is None:
        return 0

    def t_of(v):
        if isinstance(v, _dt.datetime):
            return v.timestamp() * 1_000_000  # timestamps are micros
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        return float(v)

    evs = []
    for r in rows:
        vals = list(r)
        t = t_of(vals[0])
        for i, c in enumerate(vals[1:]):
            if c:
                evs.append((t, i))
    evs.sort()
    n = max((i for _, i in evs), default=-1) + 1
    if n == 0:
        return 0
    times = [None] * n
    best = 0
    for t, i in evs:
        if i == 0:
            times[0] = t
            best = max(best, 1)
        elif times[i - 1] is not None and t - times[i - 1] <= float(window):
            times[i] = times[i - 1]
            best = max(best, i + 1)
    return best


def jaro_winkler(s1, s2):
    """Jaro-Winkler similarity (reference scalars/string.rs jaro_winkler,
    standard prefix weight 0.1, max prefix 4) — computed over UTF-8
    bytes like the reference's &[u8] implementation."""
    if s1 is None or s2 is None:
        return None
    if s1 == s2:
        return 1.0
    s1, s2 = s1.encode("utf-8"), s2.encode("utf-8")
    n1, n2 = len(s1), len(s2)
    if not n1 or not n2:
        return 0.0
    window = max(n1, n2) // 2 - 1
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    j = 0
    for i in range(n1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    jaro = (
        matches / n1 + matches / n2 + (matches - t / 2) / matches
    ) / 3
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


class _LenientJson:
    """The reference's jsonb text parser is tolerant (reference jsonb
    crate via scalars/variant.rs parse_json): `+1`, leading zeros,
    `1.` / `.2`, hex numbers, NULL/True any case, nan/±infinity → null,
    array holes → null, single-quoted strings, unquoted object keys."""

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def ws(self):
        while self.i < len(self.s) and self.s[self.i] in " \t\r\n":
            self.i += 1

    def parse(self):
        v = self.value()
        self.ws()
        if self.i < len(self.s):
            raise ValueError("trailing input")
        return v

    def value(self):
        self.ws()
        if self.i >= len(self.s):
            return None
        c = self.s[self.i]
        if c == "{":
            return self.obj()
        if c == "[":
            return self.arr()
        if c in "\"'":
            return self.string(c)
        return self.scalar()

    def obj(self):
        self.i += 1
        out: dict = {}
        self.ws()
        if self.s[self.i : self.i + 1] == "}":
            self.i += 1
            return out
        while True:
            self.ws()
            c = self.s[self.i : self.i + 1]
            if c in "\"'":
                k = self.string(c)
            else:
                j = self.i
                while j < len(self.s) and self.s[j] not in ':,}{[]" \t\r\n':
                    j += 1
                k = self.s[self.i : j]
                if not k:
                    raise ValueError("bad object key")
                self.i = j
            self.ws()
            if self.s[self.i : self.i + 1] != ":":
                raise ValueError("expected ':'")
            self.i += 1
            out[k] = self.value()
            self.ws()
            c = self.s[self.i : self.i + 1]
            if c == ",":
                self.i += 1
                continue
            if c == "}":
                self.i += 1
                return out
            raise ValueError("bad object")

    def arr(self):
        self.i += 1
        out: list = []
        expecting = True
        while True:
            self.ws()
            c = self.s[self.i : self.i + 1]
            if c == "":
                raise ValueError("unterminated array")
            if c == "]":
                self.i += 1
                if expecting and out:
                    out.append(None)
                return out
            if c == ",":
                self.i += 1
                if expecting:
                    out.append(None)
                expecting = True
                continue
            out.append(self.value())
            expecting = False

    def string(self, q):
        self.i += 1
        buf = []
        while self.i < len(self.s):
            c = self.s[self.i]
            if c == "\\":
                nxt = self.s[self.i + 1 : self.i + 2]
                if nxt == "u":
                    buf.append(chr(int(self.s[self.i + 2 : self.i + 6], 16)))
                    self.i += 6
                    continue
                buf.append(
                    {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f"}.get(
                        nxt, nxt
                    )
                )
                self.i += 2
                continue
            if c == q:
                self.i += 1
                return "".join(buf)
            buf.append(c)
            self.i += 1
        raise ValueError("unterminated string")

    def scalar(self):
        j = self.i
        while j < len(self.s) and self.s[j] not in ",]}":
            j += 1
        tok = self.s[self.i : j].strip()
        self.i = j
        low = tok.lower()
        if low in (
            "null", "nan", "+nan", "-nan", "inf", "+inf", "-inf",
            "infinity", "+infinity", "-infinity",
        ):
            return None
        if low == "true":
            return True
        if low == "false":
            return False
        m = re.fullmatch(r"([+-]?)0x([0-9a-f]+)(?:\.([0-9a-f]+))?", low)
        if m:
            val = float(int(m.group(2), 16))
            if m.group(3):
                val += int(m.group(3), 16) / (16.0 ** len(m.group(3)))
            else:
                val = int(m.group(2), 16)
            return -val if m.group(1) == "-" else val
        try:
            f = float(tok)
        except ValueError:
            raise ValueError(f"bad token {tok!r}") from None
        if f.is_integer() and "e" not in low:
            # integral with no exponent: 1., 0012, +1 → integer
            frac = low.split(".", 1)[1] if "." in low else ""
            if frac.strip("0") == "":
                return int(f)
        return f


def parse_json_strict(v):
    """parse_json: canonical JSONB text (sorted keys, compact), raising
    on malformed input; falls back to the reference's lenient jsonb text
    grammar when strict JSON parsing fails (scalars/variant.rs)."""
    if v is None:
        return None
    try:
        return _canon(json.loads(v))
    except (ValueError, TypeError):
        pass
    try:
        return _canon(_LenientJson(v).parse())
    except ValueError as e:
        raise ValueError(f"[1006] invalid JSON text: {v[:80]!r}") from e


def json_length(v):
    """length(variant): array/object element count; other values fall
    back to the text length (reference scalars/variant.rs length)."""
    if v is None:
        return None
    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        return len(v)
    if isinstance(doc, (list, dict)):
        return len(doc)
    return len(v)


def time_slice(x, n, unit, kind):
    """TIME_SLICE(ts, n, unit[, 'START'|'END']) (reference
    scalars/datetime.rs time_slice; Snowflake semantics): epoch-aligned
    n-unit buckets — weeks align to the epoch Monday 1969-12-29. The
    result renders in the input's own display type (date vs timestamp)."""
    import datetime as _dt

    if x is None or n is None:
        return None
    n = int(n)
    unit = (unit or "").lower()
    kind = (kind or "start").lower()
    if kind not in ("start", "end"):
        raise ValueError(f"[1006] invalid TIME_SLICE kind '{kind}'")
    end = kind == "end"
    is_date = isinstance(x, _dt.date) and not isinstance(x, _dt.datetime)
    dt = x if isinstance(x, _dt.datetime) else _dt.datetime(x.year, x.month, x.day)

    def out(res: _dt.datetime) -> str:
        if is_date:
            return res.date().isoformat()
        return res.strftime("%Y-%m-%d %H:%M:%S.%f")

    if unit == "year":
        y = 1970 + (dt.year - 1970) // n * n + (n if end else 0)
        return out(_dt.datetime(y, 1, 1))
    if unit in ("quarter", "month"):
        per = 3 if unit == "quarter" else 1
        months = (dt.year - 1970) * 12 + dt.month - 1
        sl = months // (per * n) * (per * n) + (per * n if end else 0)
        return out(_dt.datetime(1970 + sl // 12, sl % 12 + 1, 1))
    if unit == "week":
        base = _dt.datetime(1969, 12, 29)
        days = (dt - base).days
        sl = days // (7 * n) * (7 * n) + (7 * n if end else 0)
        return out(base + _dt.timedelta(days=sl))
    if unit == "day":
        base = _dt.datetime(1970, 1, 1)
        days = (dt - base).days
        sl = days // n * n + (n if end else 0)
        return out(base + _dt.timedelta(days=sl))
    if unit in ("hour", "minute", "second"):
        secs = {"hour": 3600, "minute": 60, "second": 1}[unit] * n
        base = _dt.datetime(1970, 1, 1)
        total = int((dt - base).total_seconds())
        sl = total // secs * secs + (secs if end else 0)
        return out(base + _dt.timedelta(seconds=sl))
    raise ValueError(f"[1006] invalid TIME_SLICE unit '{unit}'")


def to_hex(v):
    """hex()/to_hex() (reference scalars/string.rs hex): integers render
    uppercase two's-complement (Spark-compatible), strings and binary
    render lowercase byte hex."""
    if v is None:
        return None
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, int):
        return format(v if v >= 0 else (1 << 64) + v, "X")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v).encode("utf-8").hex()


def json_typeof(v):
    """Databend json type names (reference scalars/variant.rs:2538
    json_typeof): NULL_VALUE / BOOLEAN / STRING / INTEGER / DECIMAL /
    DOUBLE / ARRAY / OBJECT."""
    if v is None:
        return None
    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        return None
    if doc is None:
        return "NULL_VALUE"
    if isinstance(doc, bool):
        return "BOOLEAN"
    if isinstance(doc, int):
        return "INTEGER"
    if isinstance(doc, float):
        # integral floats only arise from exponent/overflow forms
        return "DOUBLE" if doc.is_integer() else "DECIMAL"
    if isinstance(doc, str):
        return "STRING"
    if isinstance(doc, list):
        return "ARRAY"
    return "OBJECT"


def json_strip_nulls(v):
    """Recursively remove null-valued object fields (reference
    scalars/variant.rs json_strip_nulls)."""
    if v is None:
        return None

    def strip(x):
        if isinstance(x, dict):
            return {k: strip(val) for k, val in x.items() if val is not None}
        if isinstance(x, list):
            return [strip(e) for e in x]
        return x

    try:
        return _canon(strip(json.loads(v)))
    except (ValueError, TypeError):
        return None


def variant_has(v, keys_json, mode):
    """jsonb ``?`` / ``?|`` / ``?&`` (reference scalars/variant.rs
    json_exists_key family): object → key membership, array → string
    element membership, scalar → false. NULL operand → NULL."""
    if v is None or keys_json is None:
        return None
    try:
        doc = json.loads(v)
        keys = json.loads(keys_json)
    except (ValueError, TypeError):
        return None
    if any(k is None for k in keys):
        return None
    def has(k):
        if isinstance(doc, dict):
            return k in doc
        if isinstance(doc, list):
            return k in [e for e in doc if isinstance(e, str)]
        return False
    if mode == "all":
        return all(has(k) for k in keys)
    return any(has(k) for k in keys)


def variant_contains(a, b):
    """jsonb ``@>`` containment (reference scalars/variant.rs
    contains_in_left; Postgres jsonb semantics): objects recursively
    contain sub-objects, arrays contain every element of the right
    side, and at top level an array contains a matching scalar."""
    if a is None or b is None:
        return None
    try:
        da, db = json.loads(a), json.loads(b)
    except (ValueError, TypeError):
        return None

    def contains(x, y, top):
        if isinstance(x, dict) and isinstance(y, dict):
            return all(
                k in x and contains(x[k], v, False) for k, v in y.items()
            )
        if isinstance(x, list) and isinstance(y, list):
            return all(
                any(contains(e, f, False) for e in x) for f in y
            )
        if isinstance(x, list) and top and not isinstance(y, (list, dict)):
            return any(contains(e, y, False) for e in x)
        if isinstance(x, bool) != isinstance(y, bool):
            return False
        return x == y

    return contains(da, db, True)


def _va_parse(v):
    """Variant array-function operand: a non-array value acts as a
    1-element array (reference scalars/variant.rs array functions)."""
    doc = json.loads(v)
    return doc if isinstance(doc, list) else [doc]


def va_insert(v, idx, val_json):
    if v is None or idx is None or val_json is None:
        return None
    doc = _va_parse(v)
    i = int(idx)
    i = max(0, i + len(doc)) if i < 0 else min(i, len(doc))
    return _canon(doc[:i] + [json.loads(val_json)] + doc[i:])


def va_distinct(v):
    if v is None:
        return None
    seen, out = set(), []
    for e in _va_parse(v):
        c = _canon(e)
        if c not in seen:
            seen.add(c)
            out.append(e)
    return _canon(out)


def va_intersection(a, b):
    """Multiset intersection preserving left order (reference
    scalars/variant.rs array_intersection)."""
    if a is None or b is None:
        return None
    from collections import Counter

    counts = Counter(_canon(e) for e in _va_parse(b))
    out = []
    for e in _va_parse(a):
        c = _canon(e)
        if counts.get(c, 0) > 0:
            counts[c] -= 1
            out.append(e)
    return _canon(out)


def va_except(a, b):
    """Multiset difference preserving left order (reference
    scalars/variant.rs array_except)."""
    if a is None or b is None:
        return None
    from collections import Counter

    counts = Counter(_canon(e) for e in _va_parse(b))
    out = []
    for e in _va_parse(a):
        c = _canon(e)
        if counts.get(c, 0) > 0:
            counts[c] -= 1
        else:
            out.append(e)
    return _canon(out)


def va_overlap(a, b):
    if a is None or b is None:
        return None
    left = {_canon(e) for e in _va_parse(a)}
    return any(_canon(e) in left for e in _va_parse(b))


def va_slice(v, lo, hi):
    if v is None:
        return None
    doc = _va_parse(v)
    return _canon(
        doc[int(lo) if lo is not None else 0 : int(hi) if hi is not None else len(doc)]
    )


def va_concat(a, b):
    if a is None or b is None:
        return None
    return _canon(_va_parse(a) + _va_parse(b))


def va_append(v, val_json):
    if v is None or val_json is None:
        return None
    return _canon(_va_parse(v) + [json.loads(val_json)])


def va_prepend(val_json, v):
    if v is None or val_json is None:
        return None
    return _canon([json.loads(val_json)] + _va_parse(v))


def va_compact(v):
    if v is None:
        return None
    doc = json.loads(v)
    if not isinstance(doc, list):
        raise ValueError("[1006] array_compact requires an ARRAY value")
    return _canon([e for e in doc if e is not None])


def va_contains(v, val_json):
    if v is None or val_json is None:
        return None
    needle = _canon(json.loads(val_json))
    return any(_canon(e) == needle for e in _va_parse(v))


def va_flatten(v):
    if v is None:
        return None
    doc = json.loads(v)
    if not isinstance(doc, list) or not all(isinstance(e, list) for e in doc):
        raise ValueError("[1006] array_flatten requires an ARRAY of arrays")
    return _canon([x for e in doc for x in e])


def va_indexof(v, val_json):
    """0-based first index, NULL when absent (reference
    scalars/variant.rs array_indexof)."""
    if v is None or val_json is None:
        return None
    needle = _canon(json.loads(val_json))
    for i, e in enumerate(_va_parse(v)):
        if _canon(e) == needle:
            return i
    return None


def va_remove(v, val_json):
    if v is None or val_json is None:
        return None
    needle = _canon(json.loads(val_json))
    return _canon([e for e in _va_parse(v) if _canon(e) != needle])


def va_remove_first(v):
    if v is None:
        return None
    return _canon(_va_parse(v)[1:])


def va_remove_last(v):
    if v is None:
        return None
    return _canon(_va_parse(v)[:-1])


def va_unique(v):
    if v is None:
        return None
    return len({_canon(e) for e in _va_parse(v)})


def va_reverse(v):
    if v is None:
        return None
    return _canon(_va_parse(v)[::-1])


def variant_concat(a, b):
    """jsonb ``||`` (reference scalars/variant.rs concat): two objects
    merge (right wins); otherwise both sides are arrays-or-wrapped and
    concatenated."""
    if a is None or b is None:
        return None
    da, db = json.loads(a), json.loads(b)
    if isinstance(da, dict) and isinstance(db, dict):
        out = dict(da)
        out.update(db)
        return _canon(out)
    la = da if isinstance(da, list) else [da]
    lb = db if isinstance(db, list) else [db]
    return _canon(la + lb)


def variant_minus(v, k, is_int):
    """jsonb ``-`` (reference scalars/variant.rs delete_by_name /
    delete_by_index): int → delete array index (negative from end);
    string → delete object key or equal array string elements."""
    if v is None or k is None:
        return None
    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        return None
    if is_int:
        i = int(k)
        if not isinstance(doc, list):
            raise ValueError("[1006] cannot delete from non-array by index")
        j = i + len(doc) if i < 0 else i
        if 0 <= j < len(doc):
            doc = doc[:j] + doc[j + 1 :]
        return _canon(doc)
    if isinstance(doc, dict):
        doc.pop(k, None)
        return _canon(doc)
    if isinstance(doc, list):
        return _canon([e for e in doc if not (isinstance(e, str) and e == k)])
    raise ValueError("[1006] cannot delete from a scalar")


def variant_delete_path(v, pgpath):
    """jsonb ``#-`` with a Postgres ``'{a,1}'`` path (reference
    scalars/variant.rs delete_by_keypath)."""
    if v is None or pgpath is None:
        return None
    t = pgpath.strip()
    if not (t.startswith("{") and t.endswith("}")):
        return None
    toks = [x.strip() for x in t[1:-1].split(",") if x.strip()] if t != "{}" else []
    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        return None
    if not toks:
        return _canon(doc)

    def delete(cur, path):
        head, rest = path[0], path[1:]
        if isinstance(cur, dict):
            if head in cur:
                if rest:
                    delete(cur[head], rest)
                else:
                    del cur[head]
        elif isinstance(cur, list):
            try:
                i = int(head)
            except ValueError:
                return
            j = i + len(cur) if i < 0 else i
            if 0 <= j < len(cur):
                if rest:
                    delete(cur[j], rest)
                else:
                    del cur[j]

    delete(doc, toks)
    return _canon(doc)


def object_insert(v, key, val_json, update):
    """object_insert(obj, key, value[, update]) (reference
    scalars/variant.rs object_insert): errors on non-objects and on an
    existing key without update=true; SQL-NULL value inserts nothing
    (update=true deletes the key); JSON null is kept."""
    if v is None or key is None:
        return None
    doc = json.loads(v)
    if not isinstance(doc, dict):
        raise ValueError("[1006] object_insert requires an OBJECT value")
    if val_json is None:
        if update:
            doc.pop(key, None)
        return _canon(doc)
    if key in doc and not update:
        raise ValueError(f"[1006] object key {key} already exists")
    doc[key] = json.loads(val_json)
    return _canon(doc)


def object_delete(v, keys_json):
    """object_delete(obj, k1, k2, …) (reference scalars/variant.rs)."""
    if v is None:
        return None
    doc = json.loads(v)
    if not isinstance(doc, dict):
        raise ValueError("[1006] object_delete requires an OBJECT value")
    keys = {k for k in json.loads(keys_json or "[]") if k is not None}
    return _canon({k: x for k, x in doc.items() if k not in keys})


def object_pick(v, keys_json):
    """object_pick(obj, k1, k2, …) (reference scalars/variant.rs)."""
    if v is None:
        return None
    doc = json.loads(v)
    if not isinstance(doc, dict):
        raise ValueError("[1006] object_pick requires an OBJECT value")
    keys = {k for k in json.loads(keys_json or "[]") if k is not None}
    return _canon({k: x for k, x in doc.items() if k in keys})


def json_each_list(v):
    """Select-position json_each: the object's entries pre-rendered in
    the reference's tuple display form ``("key",value)``."""
    if v is None:
        return None
    try:
        doc = json.loads(v)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict):
        return []
    return [
        "(" + json.dumps(k, ensure_ascii=False) + "," + _canon(doc[k]) + ")"
        for k in sorted(doc)
    ]


class JsonEachUDTF:
    """Table-position ``json_each(variant)`` (reference
    srfs/variant.rs json_each): one (key, value) row per object entry."""

    def eval(self, v):
        if v is None:
            return
        try:
            doc = json.loads(v)
        except (ValueError, TypeError):
            return
        if not isinstance(doc, dict):
            return
        for k in sorted(doc):
            yield (k, _canon(doc[k]))


class FlattenUDTF:
    """Snowflake/Databend FLATTEN table function (reference
    srfs/variant.rs:436 flatten; FlattenGenerator srfs/variant.rs:627-922):
    walks a variant value and emits one row per element with columns
    (seq, key, path, index, value, this). ``seq`` is the 1-based input
    row number within the partition (reference: (row + 1), variant.rs:402);
    ``outer`` emits a single all-NULL row for empty input; ``recursive``
    descends into nested containers; ``mode`` restricts flattening to
    'object' / 'array' / 'both'."""

    def __init__(self) -> None:
        self._row = 0

    def _walk_out(self, v, path, mode, recursive, out) -> None:
        if isinstance(v, list) and mode in ("both", "array"):
            this = _canon(v)
            for i, val in enumerate(v):
                inner = f"{path}[{i}]"
                out.append((None, inner, i, _canon(val), this))
                if recursive:
                    self._walk_out(val, inner, mode, recursive, out)
        if isinstance(v, dict) and mode in ("both", "object"):
            this = _canon(v)
            for k in sorted(v):
                val = v[k]
                inner = f"{path}.{k}" if path else k
                out.append((k, inner, None, _canon(val), this))
                if recursive:
                    self._walk_out(val, inner, mode, recursive, out)

    def eval(self, input, path, outer, recursive, mode):  # noqa: A002
        self._row += 1
        seq = self._row
        mode = (mode or "both").lower()
        if mode not in ("both", "object", "array"):
            raise ValueError(f"Invalid mode '{mode}'")
        if input is None:
            return
        try:
            doc = json.loads(input)
        except (ValueError, TypeError):
            return
        start = path or ""
        missing = False
        if start:
            steps = _parse_path(start)
            if steps is None:
                raise ValueError(f"Select json path failed err: '{start}'")
            found, doc = _walk(doc, steps)
            missing = not found
        rows: list[tuple] = []
        if not missing:
            self._walk_out(doc, start, mode, bool(recursive), rows)
        if not rows:
            if outer:
                yield (seq, None, None, None, None, None)
            return
        for key, pth, idx, val, this in rows:
            yield (seq, key, pth, idx, val, this)


FLATTEN_SCHEMA = (
    "seq bigint, key string, path string, index bigint,"
    " value string, this string"
)


class JqUDTF:
    """``jq(filter, variant)`` set-returning function (reference
    srfs/variant.rs:439-562): runs the jq filter over each input row's
    JSON value and emits one variant row per jq output. NULL input
    emits no rows; a malformed filter raises."""

    def eval(self, filter_text, input):  # noqa: A002
        from databend_spark.functions.jq_runtime import jq_run

        if filter_text is None or input is None:
            return
        doc = json.loads(input)
        for out in jq_run(filter_text, doc):
            yield (_canon(out),)


def jq_list(filter_text, input):  # noqa: A002
    """Scalar form backing select-position ``jq(...)``: the jq output
    stream as an array (exploded by the sqlgen macro)."""
    from databend_spark.functions.jq_runtime import jq_run

    if filter_text is None or input is None:
        return None
    doc = json.loads(input)
    return [_canon(out) for out in jq_run(filter_text, doc)]


def _va_list(s):
    if s is None:
        return None
    try:
        v = json.loads(s)
    except (ValueError, TypeError):
        return None
    return v if isinstance(v, list) else None


def va_elems(s):
    # variant array → canonical jsonb text per element (unnest over
    # variants; non-arrays produce no rows like the reference)
    v = _va_list(s)
    return [_canon(x) for x in v] if v is not None else []


def va_join(arr):
    # element texts (jsonb or plain SQL strings) → canonical jsonb
    # array text; SQL NULL elements become JSON nulls
    if arr is None:
        return None
    out = []
    for x in arr:
        if x is None:
            out.append("null")
        else:
            try:
                out.append(_canon(json.loads(x)))
            except (ValueError, TypeError):
                out.append(_canon(x))
    return "[" + ",".join(out) + "]"


def va_scalar(s):
    # jsonb text → SQL-castable text: strings unquote, json null →
    # SQL NULL, everything else keeps its json spelling
    if s is None:
        return None
    try:
        v = json.loads(s)
    except (ValueError, TypeError):
        return s
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return s


def va_sort(s):
    v = _va_list(s)
    if v is None:
        return None
    return _canon(sorted(v, key=_jsonb_rank))


def va_count(s):
    v = _va_list(s)
    return len(v) if v is not None else None


def va_max(s):
    v = _va_list(s)
    return _canon(max(v, key=_jsonb_rank)) if v else None


def va_min(s):
    v = _va_list(s)
    return _canon(min(v, key=_jsonb_rank)) if v else None


def va_acd(s):
    v = _va_list(s)
    return len({_canon(x) for x in v}) if v is not None else None


def dec_sum_wide(arr):
    # exact sum of decimal strings beyond Spark's 38-digit cap
    # (reference decimal256 sums, enable_decimal_sum_widening)
    from decimal import Decimal

    if arr is None:
        return None
    tot = None
    for x in arr:
        if x is None:
            continue
        v = Decimal(x)
        tot = v if tot is None else tot + v
    return None if tot is None else str(tot)


_S, _B, _L, _D, _BIN = (
    StringType(), BooleanType(), LongType(), DoubleType(), BinaryType()
)
_SA = ArrayType(StringType())

# Every Python helper that rewritten SQL may call: name → (function,
# return type). A session registers a helper the first time a statement
# run through ``sqlgen.fallbacks.execute`` calls it
# (register_called_helpers); register_all_helpers registers them all.
HELPERS: dict[str, tuple] = {
    "__variant_access": (variant_access, _S),
    "__variant_path_query": (variant_path_query, _S),
    "__check_json": (check_json, _S),
    "__jaro_winkler": (jaro_winkler, _D),
    "__decimal_text": (decimal_text, _S),
    "__siphash64": (siphash64_value, _S),
    "__blake3": (blake3_value, _S),
    "__city64_seed": (city64_seed_value, _S),
    "__xxhash64": (xxhash64_value, _S),
    "__xxhash32": (xxhash32_value, _S),
    "__jq_list": (jq_list, _SA),
    "__parse_json_strict": (parse_json_strict, _S),
    "__json_typeof": (json_typeof, _S),
    "__json_length": (json_length, _L),
    "__window_funnel": (window_funnel_eval, _L),
    "__histogram": (histogram_eval, _S),
    "__soundex": (soundex_eval, _S),
    "__humanize_size": (humanize_size_eval, _S),
    "__humanize_number": (humanize_number_eval, _S),
    "__inet_aton": (inet_aton_eval, _L),
    "__inet_ntoa": (inet_ntoa_eval, _S),
    "__instr": (instr_eval, _L),
    "__chr": (chr_eval, _S),
    "__variant_like": (variant_like_eval, _B),
    "__regexp_instr": (regexp_instr_eval, _L),
    "__regexp_extract": (regexp_extract_eval, _S),
    "__regexp_extract_all": (regexp_extract_all_eval, _SA),
    "__regexp_extract_named": (regexp_extract_named_eval, _S),
    "__wide_decimal_cast": (wide_decimal_cast_eval, _S),
    "__split": (split_eval, _SA),
    "__split_part": (split_part_eval, _S),
    "__interval_add": (interval_add_eval, _S),
    "__interval_mul": (interval_mul_eval, _S),
    "__interval_from_micros": (interval_from_micros_eval, _S),
    "__interval_make": (interval_make_eval, _S),
    "__interval_extract": (interval_extract_eval, _D),
    "__age": (age_eval, _S),
    "__vec_distance": (vec_distance_eval, _D),
    "__vec_norm": (vec_norm_eval, _D),
    "__json_order_key": (json_order_key_eval, StructType([
        StructField("rank", IntegerType()),
        StructField("num", _D),
        StructField("txt", _S),
    ])),
    "__json_array_sort": (json_array_sort_eval, _SA),
    "__quantile_tdigest": (quantile_tdigest_eval, ArrayType(_D)),
    "__jsonb_binary": (jsonb_binary_eval, _BIN),
    "__bitmap_binary": (bitmap_binary_eval, _BIN),
    **GEOMETRY_UDFS,
    **MARKOV_UDFS,
    "__pg_to_char": (pg_format_number, _S),
    "__dec_sum_wide": (dec_sum_wide, _S),
    "__dt_parse": (dt_parse_eval, _S),
    "__convert_tz": (convert_tz_eval, _S),
    "__regexp_substr": (regexp_substr_eval, _S),
    "__regexp_replace": (regexp_replace_eval, _S),
    "__time_slice": (time_slice, _S),
    "__to_hex": (to_hex, _S),
    "__json_strip_nulls": (json_strip_nulls, _S),
    "__variant_has": (variant_has, _B),
    "__variant_contains": (variant_contains, _B),
    "__variant_concat": (variant_concat, _S),
    "__va_insert": (va_insert, _S),
    "__va_distinct": (va_distinct, _S),
    "__va_intersection": (va_intersection, _S),
    "__va_except": (va_except, _S),
    "__va_overlap": (va_overlap, _B),
    "__va_slice": (va_slice, _S),
    "__va_concat": (va_concat, _S),
    "__va_append": (va_append, _S),
    "__va_prepend": (va_prepend, _S),
    "__va_compact": (va_compact, _S),
    "__va_contains": (va_contains, _B),
    "__va_elems": (va_elems, _SA),
    "__va_join": (va_join, _S),
    "__va_scalar": (va_scalar, _S),
    "__va_sort": (va_sort, _S),
    "__va_count": (va_count, _L),
    "__va_max": (va_max, _S),
    "__va_min": (va_min, _S),
    "__va_acd": (va_acd, _L),
    "__va_flatten": (va_flatten, _S),
    "__va_indexof": (va_indexof, _L),
    "__va_remove": (va_remove, _S),
    "__va_remove_first": (va_remove_first, _S),
    "__va_remove_last": (va_remove_last, _S),
    "__va_unique": (va_unique, _L),
    "__va_reverse": (va_reverse, _S),
    "__variant_minus": (variant_minus, _S),
    "__variant_delete_path": (variant_delete_path, _S),
    "__object_insert": (object_insert, _S),
    "__object_delete": (object_delete, _S),
    "__object_pick": (object_pick, _S),
    "__json_each_list": (json_each_list, _SA),
    "__interval_text": (interval_text, _S),
    "__interval_key": (interval_compare_key, _L),
    "__ts_tz_text": (timestamp_tz_text, _S),
    "__ts_tz_text_auto": (
        lambda v, tz: timestamp_tz_text(v, tz, auto=True), _S
    ),
    "__ts_tz_text_try": (
        lambda v, tz: timestamp_tz_text(v, tz, soft=True), _S
    ),
    "__ts_tz_text_try_auto": (
        lambda v, tz: timestamp_tz_text(v, tz, auto=True, soft=True), _S
    ),
    "__ts_tz_us": (timestamp_tz_micros, _L),
    "__ts_tz_add": (
        lambda s, iv, sg, tz: timestamp_tz_add(
            s, iv, int(sg) if sg is not None else 1, tz
        ),
        _S,
    ),
}

# table functions: name → (handler class, output schema)
UDTFS: dict[str, tuple] = {
    "flatten": (FlattenUDTF, FLATTEN_SCHEMA),
    "__jq_table": (JqUDTF, "jq string"),
    "__json_each_table": (JsonEachUDTF, "key string, value string"),
}

_ALL = frozenset(HELPERS) | frozenset(UDTFS)
# a function call in Spark SQL text; the names in _ALL are the helpers
_CALL = re.compile(r"\b(\w+)\s*\(")


def register_helpers(spark: SparkSession, names) -> None:
    """Register each helper in ``names`` that ``spark`` lacks. The
    session's record is checked and filled under its lock, so threads
    naming the same helper register it once."""
    state = session_state(spark)
    if not names - state.udfs:
        return
    with state.lock:
        for name in sorted(names - state.udfs):
            if name in UDTFS:
                handler, schema = UDTFS[name]
                spark.udtf.register(name, udtf(handler, returnType=schema))
            else:
                spark.udf.register(name, *HELPERS[name])
            state.udfs.add(name)


def register_called_helpers(spark: SparkSession, text: str) -> None:
    """Register the helpers the Spark SQL ``text`` calls."""
    names = {n.lower() for n in _CALL.findall(text)} & _ALL
    if names:
        register_helpers(spark, names)


def register_all_helpers(spark: SparkSession) -> None:
    """Register every helper: for a caller that hands Spark text to
    ``spark.sql`` outside ``sqlgen.fallbacks.execute`` (the SLT runner)."""
    register_helpers(spark, _ALL)
