"""Databend-SQL → Spark-SQL rewrites (SURVEY.md §7.4).

Spark SQL already accepts ~90% of Databend's surface (ANSI core, `::`
casts since 3.4, QUALIFY is the notable gap). We keep a small, explicit
pre-parse rewrite list instead of a full transpiler, and raise a clear
error for constructs we know we don't support rather than mis-parsing.

Reference dialect evidence: parser at
``/root/reference/src/query/ast/src/parser/parser.rs``; Databend-only
syntax like ``AT (...)`` time travel (``ast/query.rs:568``) and
``CHANGES`` (``ast/query.rs:724``) are handled by the incremental layer,
not plain SQL.
"""

from __future__ import annotations

import json
import re

from databend_spark.sqlgen.lexer import (
    clause_end,
    close_bracket,
    enclosing_open,
    expr_start,
    find_top,
    mask,
    open_bracket,
    operand_end,
    relation_before,
    scan,
    split_top,
    table_ref,
    tokens,
    unmask,
)
from databend_spark.sqlgen.options import (
    _CURRENT,
    DEFAULT,
    RewriteOptions,
    current_options,
)

_UNSUPPORTED = [
    (re.compile(r"\bCHANGES\s*\(", re.I),
     "CHANGES(...) — use databend_spark.streaming.VersionedTable.changes()"),
    (re.compile(r"\bAT\s*\(\s*(SNAPSHOT|TIMESTAMP|OFFSET|STREAM)\b", re.I),
     "AT(...) time travel — use databend_spark.streaming.VersionedTable.read()"),
]

# positional tuple access  t.1  →  t.`1`: Databend tuples map to Spark
# structs with positional field names `1`,`2`… which Spark needs
# backquoted. The receiver must be an identifier or a call's closing
# paren — a leading digit would be a float literal like 1.5.
_TUPLE_FIELD = re.compile(r"((?:[A-Za-z_]\w*|\)|\]))\.(\d+)\b")
# col:a / col:a.b / col:a[0]:b — Databend variant path extraction; the
# lookbehind/lookahead exclude `::` casts, the leading-letter requirement
# excludes array slices like arr[1:3]
_VARIANT_SEG = r"(?:[A-Za-z_]\w*|\d+|\x00\d+\x00|\"[^\"]*\"|\[\s*(?:\x00\d+\x00|\d+)\s*\])"
_VARIANT_PATH = re.compile(
    r"(?<![:\w.`])((?:try_)?parse_json\s*\((?:[^()]|\([^()]*\))*\)"
    r"|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)\s*:(?!:)\s*"
    rf"({_VARIANT_SEG}(?:[.:]{_VARIANT_SEG}|\[\s*(?:\x00\d+\x00|\d+)\s*\])*)"
)


def _variant_path_text(raw: str, lits: list[str]) -> str:
    """Canonical dotted/bracketed path text from a matched `:a.b["k"]`
    accessor: identifier segments dotted, quoted segments (double-quoted
    or masked single-quoted) become bracket keys with single quotes."""
    segs = re.findall(
        '"[^"]*"|\\[\\s*(?:\x00\\d+\x00|\\d+)\\s*\\]'
        "|\x00\\d+\x00|[A-Za-z_]\\w*|\\d+",
        raw,
    )
    parts: list[str] = []
    for sg in segs:
        if sg.startswith('"'):
            parts.append("['" + sg[1:-1] + "']")
        elif re.fullmatch("\x00\\d+\x00", sg):
            i = int(sg.strip("\x00"))
            parts.append("[" + lits[i] + "]" if i < len(lits) else sg)
        elif sg.startswith("["):
            inner = sg[1:-1].strip()
            mi = re.fullmatch("\x00(\\d+)\x00", inner)
            if mi and int(mi.group(1)) < len(lits):
                inner = lits[int(mi.group(1))]
            parts.append("[" + inner + "]")
        else:
            parts.append(("." + sg) if parts else sg)
    return "".join(parts)


def variant_paths_to_json(sql: str) -> str:
    """`col:a.b`, `col:a['k.x'][0].b` → get_json_object(CAST(col AS
    STRING), '$.a[''k.x''][0].b') — the fallback when the column stores
    JSON text (Spark's native `:` demands true VARIANT). Applied on
    retry by the runner / SessionContext."""
    masked, lits = mask(sql)

    def repl(m: re.Match) -> str:
        path = _variant_path_text(m.group(2), lits)
        path_lit = "'$." + path.replace("'", "''") + "'"
        return f"get_json_object(CAST({m.group(1)} AS STRING), {path_lit})"

    return unmask(_VARIANT_PATH.sub(repl, masked), lits)


def variant_paths_to_access(sql: str) -> str:
    """`col:a.b` → quote-preserving ``__variant_access(col, 'path', …)``
    — keeps variant display semantics (strings stay JSON-quoted), unlike
    the get_json_object fallback. A trailing ``::STRING`` cast folds to
    text mode; accessors feeding a comparison keep get_json_object
    semantics elsewhere, so this rewrite only touches accessors NOT
    immediately followed by a comparison operator."""
    masked, lits = mask(sql)

    def repl(m: re.Match) -> str:
        tail = masked[m.end() :]
        cm = re.match(r"\s*::\s*(STRING|VARCHAR|TEXT)\b", tail, re.I)
        # temporal casts need the UNQUOTED text (variant string →
        # date/timestamp cast, reference variant.rs as_* semantics) but
        # keep the cast itself
        cm_t = cm or re.match(
            r"\s*::\s*(DATE|DATETIME|TIMESTAMP)\b", tail, re.I
        )
        after = tail[cm.end() :] if cm else tail
        if re.match(r"\s*(=|<>|!=|<=|>=|<|>|\bIN\b|\bLIKE\b)", after, re.I):
            return m.group(0)
        path = _variant_path_text(m.group(2), lits)
        path_lit = "'" + path.replace("'", "''") + "'"
        text = "true" if cm_t else "false"
        return (
            f"__variant_access(CAST({m.group(1)} AS STRING), 'path',"
            f" {path_lit}, {text})" + ("\x04" if cm else "")
        )

    out = _VARIANT_PATH.sub(repl, masked)
    # \x04 marks a folded ::STRING cast — drop the cast text
    out = re.sub("\x04\\s*::\\s*(STRING|VARCHAR|TEXT)\\b", "", out, flags=re.I)
    out = out.replace("\x04", "")
    return unmask(out, lits)


def variant_paths_to_struct(sql: str) -> str:
    """`col:a.b` → col.`a`.`b` — the fallback when the column is a named
    TUPLE (Databend's `:` also reads tuple fields).

    A bare select item gets an explicit alias carrying the ORIGINAL
    accessor text: Spark names ``d.`a``` just ``a``, and ORDER BY
    resolves output names before input columns, so ``select d:a …
    order by a`` would silently sort by the struct field instead of the
    table column (the reference names the output ``d:a`` — no clash)."""
    masked, lits = mask(sql)

    def repl(m: re.Match) -> str:
        if "[" in m.group(2):  # bracket segs are json-only territory
            return m.group(0)
        fields = re.findall(r'"[^"]*"|[^.:]+', m.group(2))
        out = []
        for f in fields:
            mq = re.fullmatch("\x00(\\d+)\x00", f)
            if mq:
                f = lits[int(mq.group(1))]
            # quoted field name (`col:b:"X测试"`) → backticked
            out.append(f".`{f.strip(chr(39) + chr(34))}`")
        return m.group(1) + "".join(out)

    sel = re.match(r"(\s*SELECT\s+)(.*?)(\s+FROM\b.*)$", masked, re.I | re.S)
    if sel:
        out_items = []
        for it in split_top(sel.group(2)):
            mm = _VARIANT_PATH.fullmatch(it.strip())
            if mm and "[" not in mm.group(2):
                # double quotes dropped: a later pass rewrites "x" →
                # `x` even inside this backticked alias
                orig = it.strip().replace("`", "").replace('"', "")
                out_items.append(f"{repl(mm)} AS `{orig}`")
            else:
                out_items.append(_VARIANT_PATH.sub(repl, it))
        masked = (
            sel.group(1)
            + ",".join(out_items)
            + _VARIANT_PATH.sub(repl, sel.group(3))
        )
    else:
        masked = _VARIANT_PATH.sub(repl, masked)
    return unmask(masked, lits)

_QUALIFY = re.compile(r"\bQUALIFY\b", re.I)
_DROP_TABLE_ALL = re.compile(
    r"(\bDROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?[\w.`]+)\s+ALL\b", re.I
)
_DROP_DB = re.compile(
    r"\bDROP\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+EXISTS\s+)?[\w.`]+(?!\s*CASCADE)\s*$",
    re.I,
)
_LIMIT_OFFSET = re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", re.I)
_NUMBERS_TVF = re.compile(
    r"\bnumbers(?:_mt|_local)?\s*\(\s*([\d\s*+/-]+)\s*\)", re.I
)

# type-name aliases (Databend unsigned/width names + common dialect
# spellings) → Spark types; unsigned widen per SURVEY §1.2. The names
# below rewrite both as bare type names and in cast position.
_TYPE_NAMES = {
    "UTINYINT": "SMALLINT", "USMALLINT": "INT", "UINTEGER": "BIGINT",
    "UBIGINT": "DECIMAL(20,0)", "UINT8": "SMALLINT", "UINT16": "INT",
    "UINT32": "BIGINT", "UINT64": "DECIMAL(20,0)", "INT8": "BIGINT",
    "INT4": "INT", "INT2": "SMALLINT", "INT1": "TINYINT",
    "INT16": "SMALLINT", "INT32": "INT", "INT64": "BIGINT",
    "FLOAT32": "FLOAT", "FLOAT64": "DOUBLE", "HUGEINT": "DECIMAL(38,0)",
    "FLOAT4": "FLOAT", "FLOAT8": "DOUBLE", "BOOL": "BOOLEAN",
    "BYTEA": "BINARY",
    # our Variant model is JSON-as-string (functions.registry
    # parse_json_variant); Spark 4's native VARIANT lacks most accessors
    "VARIANT": "STRING",
}


def _bare_type(name: str, spark_type: str | None = None):
    # not quoted or qualified, and not followed by an identifier
    # (``int8 BIGINT`` declares a column named int8)
    pat = (rf"(?<![`.\w]){name}\b(?!\s*`)(?!\s+(?!NOT\b|NULL\b|DEFAULT\b"
           r"|COMMENT\b|UNSIGNED\b|AS\b)[A-Za-z_])")
    return re.compile(pat, re.I), spark_type or _TYPE_NAMES[name]


_TYPE_ALIASES = [
    # postfix-cast occurrences (`x::Int64 alias`) must rewrite even when
    # an identifier follows — the bare-name lookahead only protects bare
    # column positions (select_orc reads columns literally named int8)
    *(
        (re.compile(rf"(?<=::)\s*{nm}\b(?!\s*`)", re.I), rep)
        for nm, rep in _TYPE_NAMES.items()
    ),
    *(
        (re.compile(rf"(\bAS\s+){nm}\b(?=\s*[,)\s])", re.I), rf"\g<1>{rep}")
        for nm, rep in _TYPE_NAMES.items()
    ),
    *map(_bare_type, (
        "UTINYINT USMALLINT UINTEGER UBIGINT UINT8 UINT16 UINT32 UINT64 "
        "INT8 INT4 INT2 INT1 INT16 INT32 INT64 FLOAT32 FLOAT64 HUGEINT"
    ).split()),
    (re.compile(r"\bDATETIME\s*\(\s*\d+\s*\)", re.I), "TIMESTAMP"),
    (re.compile(r"\bDATETIME\b", re.I), "TIMESTAMP"),
    _bare_type("FLOAT4"),
    _bare_type("FLOAT8"),
    (re.compile(r"\bVARCHAR\b(?!\s*\()", re.I), "STRING"),
    # CHAR only as a bare type name — char(97) is the code-point function
    (re.compile(r"\bCHAR\b(?!\s*\()", re.I), "STRING"),
    _bare_type("BOOL"),
    # TEXT only in type position (cast syntax) — `text` is a common
    # column name and must not be rewritten
    (re.compile(r"::\s*TEXT\b", re.I), "::STRING"),
    (re.compile(r"\bAS\s+TEXT\s*\)", re.I), "AS STRING)"),
    _bare_type("BYTEA"),
    _bare_type("VARIANT"),
    # JSON as a declared type (not the json_* function family)
    (re.compile(r"\bJSON\b(?!\s*\()", re.I), "STRING"),
    # GEOMETRY/GEOGRAPHY columns hold EWKB bytes (functions/geom_kernel.py)
    _bare_type("GEOMETRY", "BINARY"),
    _bare_type("GEOGRAPHY", "BINARY"),
    # Vector(N) → float array (reference types/vector.rs)
    (re.compile(r"\bVECTOR\s*\(\s*\d+\s*\)", re.I), "ARRAY<FLOAT>"),
    # bitmap model: sorted array of distinct int64 (functions/bitmap.py)
    (re.compile(r"\bBITMAP\b", re.I), "ARRAY<BIGINT>"),
    (
        re.compile(
            r"\b(?:TINYINT|SMALLINT|INT|INTEGER|BIGINT)\s+UNSIGNED\b", re.I
        ),
        "BIGINT",
    ),
    (re.compile(r"\bUNSIGNED\b", re.I), "BIGINT"),
    (re.compile(r"\bSIGNED\b", re.I), "BIGINT"),
]

_DDL_TEXT = re.compile(r"\bTEXT\b", re.I)

# Databend-only table options in DDL (fuse-engine knobs) — no Spark analog
_DDL_OPTIONS = [
    re.compile(r"\bENGINE\s*=\s*\w+", re.I),
    re.compile(
        r"\bCLUSTER\s+BY\s*\((?:[^()]|\([^()]*\)|\((?:[^()]|\([^()]*\))*\))*\)",
        re.I,
    ),
    re.compile(
        r"\b(row_per_block|block_per_segment|block_size_threshold|"
        r"bloom_index_columns|storage_format|compression|"
        r"data_retention_period_in_hours|change_tracking|"
        r"data_retention_num_snapshots_to_keep|enable_auto_analyze|"
        r"approx_distinct_columns|analyze_frequency_columns|"
        r"analyze_top_n_size|segment_format|row_per_page|"
        r"enable_auto_vacuum|enable_virtual_column|row_avg_depth_threshold)"
        r"\s*=\s*('[^']*'|\x00\d+\x00|\d+|\w+)",
        re.I,
    ),
    re.compile(
        # table-level COMMENT= option (column comments use no '=')
        r"\bCOMMENT\s*=\s*('[^']*'|\x00\d+\x00)",
        re.I,
    ),
    re.compile(
        # inline secondary-index clauses in the column list (reference
        # NGRAM/SPATIAL/INVERTED/VECTOR INDEX defs) — metadata only;
        # the runner records them for system.indexes / SHOW CREATE
        r",\s*(?:SYNC\s+|ASYNC\s+)?(?:NGRAM|SPATIAL|INVERTED|VECTOR)\s+"
        r"INDEX\s+\w+\s*\([^)]*\)"
        r"(?:\s+\w+\s*=\s*(?:'[^']*'|\x00\d+\x00|\w+))*",
        re.I,
    ),
    re.compile(
        # computed (generated) column clause — Spark v1 tables have no
        # generated columns; the runner records the expression and
        # recomputes on every write (reference ee computed_column).
        # A preceding bare NULL goes too (Spark rejects `col t NULL ,`)
        r"(?:\bNULL\s+)?(?:\bGENERATED\s+ALWAYS\s+)?\bAS\s*"
        r"\((?:[^()]|\([^()]*\)|\((?:[^()]|\([^()]*\))*\))*\)\s*"
        r"(?:STORED|VIRTUAL)\b",
        re.I,
    ),
]
# `settings (k = v[, ...])` statement prefix (per-query session settings)
_SETTINGS_PREFIX = re.compile(r"^\s*settings\s*\([^)]*\)\s*", re.I)
_COUNT_EMPTY = re.compile(r"\bcount\s*\(\s*\)", re.I)
_CREATE_TABLE = re.compile(
    r"\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP\w*\s+|TRANSIENT\s+)?TABLE", re.I
)
_DDL_NULL = re.compile(r"(?<!NOT)\s+NULL(?=\s*([,)]|DEFAULT\b))", re.I)
# Databend `DEFAULT(expr)` → Spark `DEFAULT expr`
_DDL_DEFAULT_PAREN = re.compile(r"\bDEFAULT\s*\(", re.I)


class UnsupportedSQL(Exception):
    pass


# strftime → Java datetime pattern (Databend formats use MySQL/%-codes:
# reference src/query/functions/src/scalars/timestamp.rs to_string fns)
_STRF_MAP = [
    ("%%", "'%'"), ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"),
    ("%d", "dd"), ("%e", "d"), ("%H", "HH"), ("%I", "hh"), ("%M", "mm"),
    ("%S", "ss"), ("%f", "SSSSSS"), ("%p", "a"), ("%j", "DDD"),
    ("%a", "EEE"), ("%b", "MMM"), ("%W", "EEEE"), ("%T", "HH:mm:ss"),
]
_STRFTIME_FN = re.compile(
    r"\b(date_format|to_datetime|to_timestamp|str_to_date|"
    r"str_to_timestamp|to_date|try_to_timestamp|to_string)"
    r"\s*\(([^()]*%[^()]*)\)",
    re.I,
)


def _strftime_repl(m: re.Match) -> str:
    inner = m.group(2)
    for a, b in _STRF_MAP:
        inner = inner.replace(a, b)
    return f"{m.group(1)}({inner})"


# %-codes and Oracle-style tokens → Java pattern pieces (reference
# src/query/functions/src/scalars/timestamp.rs to_char/to_string;
# longest-match-first)
_DT_FMT_TOKENS = [
    ("%%", "'%'"), ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"),
    ("%d", "dd"), ("%e", "d"), ("%H", "HH"), ("%I", "hh"), ("%M", "mm"),
    ("%S", "ss"), ("%f", "SSSSSS"), ("%p", "a"), ("%j", "DDD"),
    ("%a", "EEE"), ("%b", "MMM"), ("%W", "EEEE"), ("%T", "HH:mm:ss"),
    ("YYYY", "yyyy"), ("YY", "yy"), ("MONTH", "MMMM"), ("MON", "MMM"),
    ("MM", "MM"), ("DDD", "DDD"), ("DD", "dd"), ("DY", "EEE"),
    ("DAY", "EEEE"), ("HH24", "HH"), ("HH12", "hh"), ("HH", "hh"),
    ("MI", "mm"), ("SS", "ss"), ("FF6", "SSSSSS"), ("FF3", "SSS"),
    ("FF", "SSSSSS"), ("AM", "a"), ("PM", "a"), ("TZH", "XXX"),
]
_DT_FMT_ORDER = sorted(_DT_FMT_TOKENS, key=lambda t: -len(t[0]))


def convert_dt_format(fmt: str) -> str:
    """Convert a Databend format literal (%-codes and/or Oracle tokens)
    to a Java DateTimeFormatter pattern, quoting literal ASCII-letter
    runs so arbitrary text survives strict parsing."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    n = len(fmt)
    while i < n:
        matched = False
        for tok, java in _DT_FMT_ORDER:
            if fmt[i : i + len(tok)] == tok or (
                tok[0] != "%" and fmt[i : i + len(tok)].upper() == tok
            ):
                flush()
                out.append(java)
                i += len(tok)
                matched = True
                break
        if matched:
            continue
        c = fmt[i]
        if c.isascii() and (c.isalpha() or c == "'"):
            lit.append(c)
        else:
            flush()
            out.append(c)
        i += 1
    flush()
    return "".join(out)


_DT_FMT_CALL = re.compile(
    r"\b(to_string|to_char|str_to_date|str_to_timestamp|to_date"
    r"|to_timestamp|try_to_timestamp|try_to_date|date_format"
    r"|to_datetime|try_to_datetime)"
    r"\s*\(((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*?),\s*'((?:[^']|'')*)'\s*\)",
    re.I,
)


def _dt_fmt_repl(m: re.Match) -> str:
    fn, fmt = m.group(1).lower(), m.group(3)
    # %-code PARSING goes through the chrono-semantics Python parser
    # (partial formats, %z-to-session-tz, %s, ISO week dates — Java's
    # DateTimeFormatter can express none of these; see dt_parse.py)
    if "%" in fmt and fn in (
        "to_timestamp", "try_to_timestamp", "str_to_timestamp",
        "to_date", "try_to_date", "to_datetime", "try_to_datetime",
    ):
        fl = fmt.replace("'", "''")
        out = "DATE" if fn.endswith("to_date") else "TIMESTAMP"
        # the UDF itself NEVER raises (Spark extracts Python UDFs into a
        # pre-filter projection, so it sees rows other conjuncts would
        # have guarded away — query/filter.test); non-try forms raise
        # JVM-side, which stays inside the short-circuiting Filter
        parse = (
            f"__dt_parse(CAST({m.group(2)} AS STRING), '{fl}',"
            f" current_timezone(), true)"
        )
        if fn.startswith("try_"):
            return f"CAST({parse} AS {out})"
        return (
            f"CAST((CASE WHEN ({m.group(2)}) IS NOT NULL AND"
            f" {parse} IS NULL THEN"
            f" raise_error(concat('cannot parse ',"
            f" CAST({m.group(2)} AS STRING), ' with format {fl}'))"
            f" ELSE {parse} END) AS {out})"
        )
    # PG NUMERIC templates (digit positions 9/0 outside quotes, no
    # %-codes) are not datetime formats at all — leave the call intact
    # for the to_char macro's __pg_to_char dispatch
    if fn in ("to_char", "to_string") and "%" not in fmt and re.search(
        r"[90]", re.sub(r'"(?:[^"\\]|\\.)*"', "", fmt)
    ):
        return m.group(0)
    # convert only when the literal is clearly Databend-style: %-codes,
    # UPPERCASE Oracle tokens, non-ASCII literal text, or a to_char /
    # to_string call (those never take Java patterns). A Java pattern
    # like 'yyyy-MM-dd HH:mm:ss' must pass through untouched.
    if not (
        "%" in fmt
        or fn in ("to_char", "to_string")
        or re.search(r"[^\x00-\x7f]", fmt)
        or re.search(r"YYYY|HH24|HH12|MI|DD|MON", fmt)
    ):
        return m.group(0)
    return f"{m.group(1)}({m.group(2)}, '{convert_dt_format(fmt)}')"


# identifier-ish chars for receiver scans (\x00 = masked string literal)
_IDENT_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.`$\x00"
)

# keywords that can directly precede an array literal's '[' — an
# identifier NOT in this set before '[' is a subscripted column/expr
_BRACKET_KEYWORDS = frozenset(
    """select from where when then else end and or not in is as on by all
    distinct union except intersect having group order limit offset join
    using case row values set array return returns between like ilike
    rlike exists any some coalesce if nullif""".split()
)


# integer-literal temporal conversions: Databend to_date(N) = epoch
# days; to_datetime/to_timestamp(N) auto-scales by magnitude (seconds /
# millis / micros). Literal-only — column args keep string semantics.
_TO_DATE_INT = re.compile(r"\bto_date\s*\(\s*(-?\d+)\s*\)", re.I)
_TO_TS_INT = re.compile(r"\bto_(?:datetime|timestamp)\s*\(\s*(-?\d+)\s*\)", re.I)


def _ts_int_repl(m: re.Match) -> str:
    n = int(m.group(1))
    if abs(n) >= 10**15:
        return f"timestamp_micros({n})"
    if abs(n) >= 10**12:
        return f"timestamp_millis({n})"
    return f"timestamp_seconds({n})"


# bitmap values display as comma-joined members, not array syntax:
# cast-to-string of a bitmap call renders via array_join (3 nesting
# levels of parens supported — enough for bitmap_op(build_bitmap(..)))
_BMP_CALL = (
    r"(?:build_bitmap|to_bitmap|bitmap_and|bitmap_or|bitmap_xor|"
    r"bitmap_not|bitmap_and_not|sub_bitmap|bitmap_subset_limit|"
    r"bitmap_subset_in_range|bitmap_union|bitmap_intersect|"
    r"bitmap_construct_agg|group_bitmap_agg|bitmap_or_agg|"
    r"bitmap_and_agg|bitmap_xor_agg)"
)
_BMP_PARENS = r"\((?:[^()]|\([^()]*\)|\((?:[^()]|\([^()]*\))*\))*\)"
_BMP_TO_STRING = re.compile(
    rf"\b({_BMP_CALL}\s*{_BMP_PARENS})\s*::\s*(?:String|VARCHAR|TEXT)\b"
    rf"|\bto_string\s*\(\s*({_BMP_CALL}\s*{_BMP_PARENS})\s*\)",
    re.I,
)


def _bmp_to_string_repl(m: re.Match) -> str:
    return f"array_join({m.group(1) or m.group(2)}, ',')"


# simple-operand infix rewrites (complex operands keep Spark semantics)
_CARET_POW = re.compile(r"([\w.]+(?:\([^()]*\))?)\s*\^\s*(-?[\w.]+(?:\([^()]*\))?)")
_SQRT_OP = re.compile(r"\|/\s*(-?[\w.]+(?:\([^()]*\))?)")
_CBRT_OP = re.compile(r"\|\|/\s*(-?[\w.]+(?:\([^()]*\))?)")

_PARAM_AGG = re.compile(
    r"\b(quantile_cont|quantile_disc|quantile_tdigest_weighted|quantile_tdigest|quantile|"
    r"try_to_decimal|to_decimal|as_decimal|approx_count_distinct|window_funnel|"
    r"intersect_count|"
    r"group_array_moving_avg|group_array_moving_sum|histogram)"
    r"\s*\(([^()]*)\)\s*\(((?:[^()]|\([^()]*\))*)\)",
    re.I,
)

_INNER_BRACE = re.compile(r"\{([^{}]*)\}")


def _rewrite_map_literals(s: str) -> str:
    """Databend map literals ``{'k1': v1, 'k2': v2}`` → ``map('k1', v1,
    'k2', v2)`` (operates on masked SQL, so braces inside strings are
    invisible). Innermost-first to handle nested maps."""
    for _ in range(20):
        m = _INNER_BRACE.search(s)
        if not m:
            return s
        body = m.group(1)
        # depth-0 colons become commas; '::' cast operators inside the
        # values pass through untouched
        keys: list[str] = []
        out, last, seg_start, cast_at = [], 0, 0, -1
        for i, ch, depth in scan(body, pairs="()[]", chars=",:"):
            if depth != 0 or ch not in ",:" or i == cast_at:
                continue
            if ch == ",":
                seg_start = i + 1
            elif body[i + 1 : i + 2] == ":":
                cast_at = i + 1
            else:
                keys.append(body[seg_start:i].strip())
                out.append(body[last:i] + ", ")
                last = i + 1
        out.append(body[last:])
        # literal duplicate keys error in the reference (map semantics)
        lit_keys = [k for k in keys if re.fullmatch(r"[\x00\d.\w-]+", k)]
        if len(lit_keys) != len(set(lit_keys)):
            raise ValueError("[1006] map keys have to be unique")
        flat = "".join(out)
        # scientific-notation values parse as DOUBLE in Spark but as
        # DECIMAL in the reference; expand to plain decimal text so the
        # map's value type (and its JSON display) unifies decimally
        def _expand_sci(mm: re.Match) -> str:
            from decimal import Decimal

            return format(Decimal(mm.group(0)), "f")

        flat = re.sub(
            r"(?<![\w.])-?\d+(?:\.\d+)?[eE][+-]?\d+\b", _expand_sci, flat
        )
        s = s[: m.start()] + "map(" + flat + ")" + s[m.end() :]
    return s


# nested DDL type constructors → Spark generics (innermost-first loop)
_NEST1 = r"((?:[^()]|\([^()]*\))*)"  # one nesting level: Decimal(10,5)
_ARRAY_TYPE = re.compile(r"\bARRAY\s*\(" + _NEST1 + r"\)", re.I)
_MAP_TYPE = re.compile(r"\bMAP\s*\(" + _NEST1 + r"\)", re.I)
_TUPLE_TYPE = re.compile(r"\bTUPLE\s*\(((?:[^()<>]|\([^()<>]*\))*)\)", re.I)


def _rewrite_ddl_nested_types(s: str) -> str:
    """``Array(Int Null)`` → ``ARRAY<INT>``, ``Map(String, Int)`` →
    ``MAP<STRING, INT>``, ``Tuple(A, B)`` → ``STRUCT<`1`: A, `2`: B>``
    (positional fields match the t.1 access rewrite). Fully recursive —
    arbitrarily nested Tuple/Map/Array compose (csv_types' complex
    column). DDL-only — in DML ``array(...)``/``map(...)`` are
    constructor calls."""

    def strip_null(t: str) -> str:
        return re.sub(r"\s*(NOT\s+)?NULL\b", "", t, flags=re.I).strip()

    def conv_type(t: str) -> str:
        t = strip_null(t)
        m = re.match(r"^(TUPLE|ARRAY|MAP|NULLABLE)\s*\((.*)\)$", t, re.I | re.S)
        if not m:
            return t
        kind = m.group(1).upper()
        body = m.group(2)
        if kind == "NULLABLE":
            return conv_type(body)
        parts = [p.strip() for p in split_top(body, pairs="()<>")]
        if kind == "ARRAY":
            return f"ARRAY<{conv_type(parts[0])}>"
        if kind == "MAP":
            return f"MAP<{conv_type(parts[0])}, {conv_type(parts[1])}>"
        # TUPLE: named (`a Int`, backtick-quoted names allowed) or
        # positional
        named = all(
            len(p.split(None, 1)) >= 2
            and re.match(r"^([A-Za-z_]\w*|`[^`]+`)$", p.split(None, 1)[0])
            and not re.match(
                r"^(TUPLE|ARRAY|MAP|NULLABLE)$", p.split(None, 1)[0], re.I
            )
            for p in parts
        )
        if named:
            fields = ", ".join(
                f"{p.split(None, 1)[0]}: {conv_type(p.split(None, 1)[1])}"
                for p in parts
            )
        else:
            fields = ", ".join(
                f"`{i + 1}`: {conv_type(p)}" for i, p in enumerate(parts)
            )
        return f"STRUCT<{fields}>"

    # scan for top-level TUPLE/ARRAY/MAP( ... ) type expressions with
    # balanced parens and convert each recursively
    out, i, n = [], 0, len(s)
    rx = re.compile(r"\b(TUPLE|ARRAY|MAP)\s*\(", re.I)
    while i < n:
        m = rx.search(s, i)
        if not m:
            out.append(s[i:])
            break
        out.append(s[i : m.start()])
        j = close_bracket(s, m.end() - 1)
        if j == -1:
            j = n
        seg = s[m.start() : j + 1]
        out.append(conv_type(seg))
        i = j + 1
    return "".join(out)


_QUANT_CMP = re.compile(
    r"(=|!=|<>|<=|>=|<|>)\s*(ALL|ANY|SOME)\s*\(", re.I
)


_NEG_OP = {"<": ">=", "<=": ">", ">": "<=", ">=": "<"}


def _rewrite_ctas_null_items(s: str, sel_end: int) -> str:
    """Top-level bare NULL items in a CTAS select list →
    CAST(NULL AS STRING)."""
    f = find_top(s, "FROM", sel_end)
    end = f if f != -1 else len(s)
    out = []
    for it in split_top(s[sel_end:end]):
        m = re.fullmatch(r"(\s*)NULL(\s*(?:AS\s+[\w`]+)?\s*)", it, re.I)
        if m:
            out.append(f"{m.group(1)}CAST(NULL AS STRING){m.group(2)}")
        else:
            out.append(it)
    return s[:sel_end] + ",".join(out) + s[end:]


_OB_END_KW = re.compile(
    r"\b(LIMIT|OFFSET|FETCH|UNION|EXCEPT|INTERSECT|SETTINGS|IGNORE_RESULT|"
    r"WINDOW)\b",
    re.I,
)


_FLATTEN_CALL = re.compile(r"(?<![\w.$])FLATTEN\s*\(", re.I)
_FLATTEN_ARG_ORDER = ("input", "path", "outer", "recursive", "mode")


def _rewrite_lateral_flatten(s: str, literals: list[str] | None = None) -> str:
    """Snowflake-style ``[LATERAL] FLATTEN(input => expr, path => 'p',
    outer => b, recursive => b, mode => 'm') f`` (reference
    srfs/variant.rs:436 flatten) → the registered ``flatten`` Python
    UDTF (variant_runtime.FlattenUDTF) with all five args positional.
    Only table-position calls are rewritten (preceded by FROM / LATERAL
    / JOIN / a relation comma, or carrying an ``input =>`` named arg) so
    scalar array ``flatten`` expressions pass through."""
    from databend_spark.functions.registry import _split_top_level_args

    def lit(v: str) -> str:
        if literals is None:
            return v
        literals.append(v)
        return f"\x00{len(literals) - 1}\x00"

    pos = 0
    aliases: list[str] = []
    while True:
        m = _FLATTEN_CALL.search(s, pos)
        if not m:
            break
        parsed = _split_top_level_args(s, m.end())
        if parsed is None:
            break
        raw_args, after = parsed
        prefix = s[: m.start()].rstrip()
        in_table_pos = bool(
            re.search(r"(\bFROM|\bLATERAL|\bJOIN|,)$", prefix, re.I)
        )
        has_named = any(
            re.match(r"\s*input\s*=>", a, re.I) for a in raw_args
        )
        if not (in_table_pos or has_named):
            pos = after
            continue
        named: dict[str, str] = {}
        positional: list[str] = []
        bad = False
        for a in raw_args:
            nm = re.match(r"\s*(\w+)\s*=>\s*(.*)$", a, re.S)
            if nm:
                named[nm.group(1).lower()] = nm.group(2).strip()
            elif named:
                bad = True  # positional after named
            else:
                positional.append(a.strip())
        if bad or len(positional) > 5 or "input" in named and positional:
            pos = after
            continue
        for i, p in enumerate(positional):
            named.setdefault(_FLATTEN_ARG_ORDER[i], p)
        x = named.get("input")
        if x is None:
            pos = after
            continue
        call = (
            f"flatten(CAST(({x}) AS STRING),"
            f" {named.get('path') or lit(chr(39) * 2)},"
            f" CAST(({named.get('outer', 'false')}) AS BOOLEAN),"
            f" CAST(({named.get('recursive', 'false')}) AS BOOLEAN),"
            f" {named.get('mode') or lit(chr(39) + 'both' + chr(39))})"
        )
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", s[after:], re.I)
        if am and am.group(1).upper() not in (
            "ON", "WHERE", "GROUP", "ORDER", "LIMIT", "JOIN", "LEFT",
            "RIGHT", "INNER", "CROSS", "UNION", "HAVING", "LATERAL",
            "AS", "SELECT", "SET", "FULL", "SEMI", "ANTI", "USING",
            "QUALIFY", "WINDOW", "EXCEPT", "INTERSECT",
        ):
            aliases.append(am.group(1))
        s = s[: m.start()] + call + s[after:]
        pos = m.start() + len(call)
    for alias in aliases:
        # `f.value:a.b` / `f.this:k` — path access on the flatten output
        # keeps variant (quoted-JSON) semantics; a trailing ::STRING cast
        # folds to text mode (variant→string cast unquotes, reference
        # scalars/variant.rs as_string)
        acc = re.compile(
            rf"\b{re.escape(alias)}\.(value|this)\s*:(?!:)\s*"
            rf"({_VARIANT_SEG}(?:[.:]{_VARIANT_SEG}"
            rf"|\[\s*(?:\x00\d+\x00|\d+)\s*\])*)"
            rf"(\s*::\s*(?:STRING|VARCHAR|TEXT)\b)?",
            re.I,
        )

        def acc_repl(m: re.Match) -> str:
            path = m.group(2).replace(":", ".")
            path = re.sub(
                "\\[\\s*\x00(\\d+)\x00\\s*\\]",
                lambda sm: "["
                + (
                    literals[int(sm.group(1))]
                    if literals and int(sm.group(1)) < len(literals)
                    else sm.group(0)
                )
                + "]",
                path,
            )
            text = "true" if m.group(3) else "false"
            path_lit = lit("'" + path.replace("'", "''") + "'")
            return (
                f"__variant_access({alias}.{m.group(1)},"
                f" {lit(chr(39) + 'path' + chr(39))}, {path_lit}, {text})"
            )

        s = acc.sub(acc_repl, s)
        # `f.value::STRING` unquotes variant strings (variant→string
        # cast semantics, reference scalars/variant.rs as_string)
        s = re.sub(
            rf"\b{re.escape(alias)}\.value\s*::\s*(STRING|VARCHAR|TEXT)\b",
            f"__variant_access({alias}.value, {lit(chr(39) * 2)},"
            f" {lit(chr(39) * 2)}, true)",
            s,
            flags=re.I,
        )
        # variant-vs-string-literal comparison: compare JSON text — keep
        # the variant side QUOTED (false); _rewrite_variant_equality
        # json-quotes the literal side to match
        s = re.sub(
            rf"(\b{re.escape(alias)}\.value)\s*(=|<>|!=)\s*(\x00\d+\x00)",
            rf"__variant_access(\1, {lit(chr(39) * 2)},"
            rf" {lit(chr(39) * 2)}, false) \2 \3",
            s,
        )
    return s


_LATERAL_VALUES = re.compile(r"\bLATERAL\s*\(\s*VALUES\b", re.I)
_JQ_TVF = re.compile(r"(\bFROM\s+|\bLATERAL\s+)(jq|json_each)\s*\(", re.I)


def _rewrite_jq_tvf(s: str) -> str:
    """Table-position variant SRFs: ``FROM jq(filter, doc)`` (reference
    srfs/variant.rs:439) → the ``__jq_table`` Python UDTF, ``FROM
    json_each(doc)`` → ``__json_each_table``; variant args are cast to
    their JSON text. Select-position forms go through the
    expression-macro registry (explode over the _list UDFs)."""
    from databend_spark.functions.registry import _split_top_level_args

    while True:
        m = _JQ_TVF.search(s)
        if not m:
            return s
        parsed = _split_top_level_args(s, m.end())
        if parsed is None:
            return s
        args, after = parsed
        name = m.group(2).lower()
        if name == "jq" and len(args) == 2:
            call = (
                f"{m.group(1)}__jq_table({args[0]},"
                f" CAST(({args[1]}) AS STRING))"
            )
        elif name == "json_each" and len(args) == 1:
            call = (
                f"{m.group(1)}__json_each_table("
                f"CAST(({args[0]}) AS STRING))"
            )
        else:
            return s
        s = s[: m.start()] + call + s[after:]


def _rewrite_lateral_values(s: str) -> str:
    """Correlated ``LATERAL (VALUES (e1, e2), …) AS v (c1, c2)``
    (reference binder bind_table_reference lateral VALUES) → a lateral
    subquery of UNION ALL selects — Spark refuses outer references
    inside inline tables but allows them in lateral subqueries."""
    from databend_spark.functions.registry import _split_top_level_args

    while True:
        m = _LATERAL_VALUES.search(s)
        if not m:
            return s
        # scan row tuples: ( ... ) [, ( ... )]* then the closing paren
        i = m.end()
        rows: list[list[str]] = []
        n = len(s)
        while True:
            while i < n and s[i] in " \t\r\n,":
                i += 1
            if i >= n:
                return s
            if s[i] == ")":
                i += 1
                break
            if s[i] != "(":
                return s
            parsed = _split_top_level_args(s, i + 1)
            if parsed is None:
                return s
            args, i = parsed
            rows.append(args)
        rest = s[i:]
        am = re.match(
            r"\s*(?:AS\s+)?([A-Za-z_]\w*|`[^`]+`)\s*\(([^()]*)\)",
            rest,
            re.I,
        )
        if not am or not rows:
            return s
        alias, colcsv = am.group(1), am.group(2)
        cols = [c.strip() for c in colcsv.split(",") if c.strip()]
        selects = []
        for ri, row in enumerate(rows):
            if ri == 0:
                items = [
                    f"({e}) AS {c}" for e, c in zip(row, cols)
                ] + [f"NULL AS {c}" for c in cols[len(row) :]]
            else:
                items = [f"({e})" for e in row] + [
                    "NULL" for _ in cols[len(row) :]
                ]
            selects.append("SELECT " + ", ".join(items))
        sub = (
            "LATERAL ("
            + " UNION ALL ".join(selects)
            + f") AS {alias}"
        )
        s = s[: m.start()] + sub + rest[am.end() :]


_RIGHT_SA = re.compile(r"\bRIGHT\s+(SEMI|ANTI)\s+JOIN\b", re.I)
_REL_BACK = re.compile(
    r"((?:\((?:[^()]|\([^()]*\))*\)|[\w.`]+)"
    r"(?:\s+(?:AS\s+)?[A-Za-z_]\w*)?)\s*$",
)
_REL_FWD = re.compile(
    r"\s*((?:\((?:[^()]|\([^()]*\))*\)|[\w.`]+)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)[A-Za-z_]\w*)?)",
    re.I,
)


_REL_KEYWORDS = frozenset(
    ["FROM", "JOIN", "ON", "WHERE", "AND", "OR", "LATERAL", "SELECT",
     "UNION", "ALL", "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "USING"]
)


def _scan_relation_back(s: str, end: int) -> int | None:
    """Start of the relation (subquery/ident, optional alias) whose last
    char index is ``end`` — fully balanced, unlike a regex."""
    start = _scan_operand_back(s, end)
    if start is None:
        return None
    tok = s[start : end + 1]
    if re.fullmatch(r"[A-Za-z_]\w*", tok) and tok.upper() not in _REL_KEYWORDS:
        # looks like an alias — include the preceding operand when it is
        # a subquery or a non-keyword identifier
        j = start - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        if j >= 0 and (s[j] == ")" or s[j] in _OPERAND_CHARS):
            prev = _scan_operand_back(s, j)
            if prev is not None:
                ptok = s[prev : j + 1].strip()
                if ptok.upper() == "AS":
                    # explicit alias: include the relation before AS
                    j2 = prev - 1
                    while j2 >= 0 and s[j2] in " \t\n":
                        j2 -= 1
                    if j2 >= 0:
                        prev2 = _scan_operand_back(s, j2)
                        if prev2 is not None:
                            p2 = s[prev2 : j2 + 1].strip()
                            if s[j2] == ")" or p2.upper() not in _REL_KEYWORDS:
                                return prev2
                    return None
                if s[j] == ")" or ptok.upper() not in _REL_KEYWORDS:
                    return prev
    return start


def _scan_relation_fwd(s: str, pos: int) -> int | None:
    """End index (exclusive) of the relation starting at/after pos."""
    while pos < len(s) and s[pos] in " \t\n":
        pos += 1
    if pos >= len(s):
        return None
    if s[pos] == "(":
        j = close_bracket(s, pos)
        pos = (j if j != -1 else len(s)) + 1
    else:
        while pos < len(s) and s[pos] in _OPERAND_CHARS:
            pos += 1
    # optional alias
    am = re.match(r"\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*)", s[pos:], re.I)
    if am and am.group(1).upper() not in _REL_KEYWORDS:
        pos += am.end()
    return pos


def _rewrite_right_semi_anti(s: str) -> str:
    """``A RIGHT SEMI/ANTI JOIN B ON c`` → ``B LEFT SEMI/ANTI JOIN A ON
    c`` (reference join.rs RightSemi/RightAnti — bound with sides
    swapped; Spark only parses the LEFT spellings)."""
    while True:
        m = _RIGHT_SA.search(s)
        if not m:
            return s
        k = m.start() - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        left_start = _scan_relation_back(s, k) if k >= 0 else None
        if left_start is None:
            return s
        left = s[left_start : m.start()].strip()
        rend = _scan_relation_fwd(s, m.end())
        if rend is None:
            return s
        right = s[m.end() : rend].strip()
        if not left or not right:
            return s
        s = (
            s[:left_start]
            + f"{right} LEFT {m.group(1).upper()} JOIN {left} "
            + s[rend:]
        )
    return s


_FRAME_BOUNDS = re.compile(
    r"\bBETWEEN\s+(\d+)\s+(PRECEDING|FOLLOWING)\s+AND\s+(\d+)\s+"
    r"(PRECEDING|FOLLOWING)\b",
    re.I,
)


def _rewrite_empty_window_frames(s: str) -> str:
    """A frame whose lower bound exceeds its upper (``BETWEEN 1
    PRECEDING AND 2 PRECEDING``) is a constant-empty window: Spark
    rejects it outright, the reference evaluates it (sum→NULL, count→0,
    duckdb/window SLT goldens). Replace the whole ``fn(...) OVER (...)``
    with the empty-frame constant."""
    while True:
        fm = None
        for m in _FRAME_BOUNDS.finditer(s):
            lo = int(m.group(1)) * (
                -1 if m.group(2).upper() == "PRECEDING" else 1
            )
            hi = int(m.group(3)) * (
                -1 if m.group(4).upper() == "PRECEDING" else 1
            )
            if lo > hi:
                fm = m
                break
        if fm is None:
            return s
        # enclosing OVER( ... ) span
        start_paren = enclosing_open(s, fm.start())
        if start_paren == -1 or not re.search(
            r"\bOVER\s*$", s[:start_paren], re.I
        ):
            return s  # not inside an OVER — give up (shouldn't happen)
        end_paren = close_bracket(s, start_paren)
        if end_paren == -1:
            return s
        om = re.search(r"\bOVER\s*$", s[:start_paren], re.I)
        k = om.start() - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        fn_start = _scan_operand_back(s, k)
        if fn_start is None:
            return s
        # `sum (a)` — callee separated from its args by whitespace
        if s[fn_start] == "(":
            j2 = fn_start - 1
            while j2 >= 0 and s[j2] in " \t\n":
                j2 -= 1
            j3 = j2
            while j3 >= 0 and (s[j3].isalnum() or s[j3] == "_"):
                j3 -= 1
            if j3 < j2 and s[j3 + 1 : j2 + 1].upper() not in (
                "OVER", "AND", "OR", "WHEN", "THEN", "ELSE", "SELECT",
                "WHERE", "BY", "ON", "FROM",
            ):
                fn_start = j3 + 1
        fn_txt = s[fn_start : om.start()].strip()
        fname = fn_txt.split("(")[0].strip().lower()
        spec = s[start_paren + 1 : end_paren]
        mode_m = re.search(r"\b(ROWS|RANGE)\s+BETWEEN\b", spec, re.I)
        is_range = bool(mode_m) and mode_m.group(1).upper() == "RANGE"
        pb = re.search(
            r"PARTITION\s+BY\s+(.*?)(?=ORDER\s+BY|ROWS\b|RANGE\b|$)",
            spec,
            re.I | re.S,
        )
        ob = re.search(
            r"ORDER\s+BY\s+(.*?)(?=ROWS\b|RANGE\b|$)", spec, re.I | re.S
        )
        okey = None
        if ob:
            okey = re.sub(
                r"\s+(ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST)\b",
                "",
                ob.group(1).strip(),
                flags=re.I,
            ).strip()
        if is_range and okey and "," not in okey:
            # RANGE: NULL order keys form one peer group where offsets
            # don't apply — the frame is the whole NULL group; non-null
            # keys get the empty frame (reference window_range goldens)
            part = f"PARTITION BY {pb.group(1).strip()}" if pb else ""
            am = re.match(r"[\w ]+\((.*)\)\s*$", fn_txt, re.S)
            arg = am.group(1).strip() if am else "1"
            if fname in ("count", "count_if") or arg in ("", "*"):
                inner = (
                    f"count(CASE WHEN ({okey}) IS NULL THEN 1 END)"
                    f" OVER ({part})"
                )
                repl = (
                    f"(CASE WHEN ({okey}) IS NULL THEN {inner}"
                    f" ELSE 0 END)"
                )
            else:
                inner = (
                    f"{fname}(CASE WHEN ({okey}) IS NULL THEN ({arg})"
                    f" END) OVER ({part})"
                )
                repl = (
                    f"(CASE WHEN ({okey}) IS NULL THEN {inner}"
                    f" ELSE NULL END)"
                )
        elif fname in ("count", "count_if"):
            repl = "CAST(0 AS BIGINT)"
        else:
            repl = "CAST(NULL AS DOUBLE)"
        s = s[:fn_start] + repl + s[end_paren + 1 :]
    return s


def _rewrite_order_by_nulls(s: str) -> str:
    """ORDER BY items (top level and subqueries) get explicit null
    ordering: Databend defaults to NULLS LAST on ASC / NULLS FIRST on
    DESC — the mirror of Spark's defaults (reference: sort option
    defaults in the binder; SURVEY §7.4). Window ORDER BY (inside
    OVER(...) parens) keeps engine defaults."""
    for m in reversed(list(re.finditer(r"\bORDER\s+BY\b", s, re.I))):
        p = enclosing_open(s, m.start())
        if p != -1 and re.search(r"\bOVER\s*$", s[:p], re.I):
            continue
        start = m.end()
        end = clause_end(s, start, _OB_END_KW, chars=";")
        out = []
        for it in split_top(s[start:end]):
            body = it.rstrip(" \n\t")
            tail = it[len(body):]
            if not body.strip() or re.search(
                r"\bNULLS\s+(FIRST|LAST)\s*$", body, re.I
            ):
                out.append(it)
            else:
                # Databend sorts NULLS LAST in BOTH directions unless
                # told otherwise (query/order.test, top_n.test goldens)
                out.append(body + " NULLS LAST" + tail)
        s = s[:start] + ", ".join(out) + s[end:]
    return s

_IN_SUB = re.compile(r"\b(NOT\s+)?IN\s*\(\s*(?=SELECT\b)", re.I)
_CTX_KW = re.compile(
    r"(SELECT|FROM|WHERE|HAVING|QUALIFY|ON|WHEN|BY|JOIN|USING|VALUES|SET)$",
    re.I,
)


def _in_select_list_context(s: str, pos: int) -> bool:
    """True when position ``pos`` sits in a SELECT list (scanning back
    at the current nesting level, popping out of subexpressions)."""
    toks = tokens(s, 0, pos)
    level = toks[-1].depth if toks else 0
    for t in reversed(toks):
        if t.text == "(":
            level = min(level, t.depth)  # left a subexpression
        elif (
            t.depth <= level
            and t.kind == "word"
            and _CTX_KW.fullmatch(t.text)
            and s[t.start - 1 : t.start] not in (".", "`")
        ):
            return t.text.upper() == "SELECT"
    return False


def _single_column_subquery(q: str) -> bool:
    m = re.match(r"\s*SELECT\s+(DISTINCT\s+)?", q, re.I)
    if not m:
        return False
    f = find_top(q, "FROM", m.end())
    return not any(  # SELECT without FROM — single expr
        depth == 0 and ch in ",*"
        for _, ch, depth in scan(q, m.end(), f if f != -1 else None, chars=",*")
    )


def _rewrite_projected_in_subquery(s: str) -> str:
    """``x [NOT] IN (SELECT …)`` in a SELECT list → a CASE over
    witness/NULL-presence EXISTS probes. Spark's ExistenceJoin gives
    two-valued results in projections (NULL collapses to FALSE); the
    reference follows SQL's three-valued semantics. WHERE/HAVING
    contexts keep the native (already filter-equivalent, faster) form."""
    pos = 0
    while True:
        m = _IN_SUB.search(s, pos)
        if not m:
            return s
        i = close_bracket(s, s.index("(", m.start()))
        if i == -1:
            return s
        q = s[s.index("(", m.start()) + 1 : i]
        if not _single_column_subquery(q) or not _in_select_list_context(
            s, m.start()
        ):
            pos = m.end()
            continue
        k = m.start() - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        x_start = _scan_operand_back(s, k) if k >= 0 else None
        if x_start is None:
            pos = m.end()
            continue
        x = s[x_start : m.start()].strip()
        if not x or "," in x.strip("()"):
            pos = m.end()
            continue
        neg = bool(m.group(1))
        t, f = ("FALSE", "TRUE") if neg else ("TRUE", "FALSE")
        # <=> : the reference's IN probes match NULL against NULL
        # (mark-join null-safe equality), unlike standard =
        repl = (
            f"(CASE WHEN EXISTS (SELECT 1 FROM ({q}) AS __qw(__v)"
            f" WHERE ({x}) <=> __v) THEN {t}"
            f" WHEN EXISTS (SELECT 1 FROM ({q}) AS __qn(__v)"
            f" WHERE __v IS NULL OR ({x}) IS NULL)"
            f" THEN CAST(NULL AS BOOLEAN)"
            f" ELSE {f} END)"
        )
        s = s[:x_start] + repl + s[i + 1 :]
        pos = x_start + len(repl)
    return s


def _rewrite_quantified_comparisons(s: str) -> str:
    """op ALL/ANY (subquery) → Spark-expressible NULL-correct forms:
    ``= ANY`` → IN and ``!= ALL`` → NOT IN (native three-valued
    semantics); ordered ops and ``= ALL`` → a CASE over witness /
    counterexample / NULL-presence EXISTS probes, reproducing SQL's
    quantified-comparison logic exactly (TRUE on witness, NULL when a
    NULL hides the answer, FALSE otherwise — empty set: ANY→FALSE,
    ALL→TRUE). The min/max shortcut used before ignored NULLs."""
    out = []
    pos = 0
    while True:
        m = _QUANT_CMP.search(s, pos)
        if not m:
            out.append(s[pos:])
            return "".join(out)
        # balanced subquery span starting at the '('
        i = close_bracket(s, m.end() - 1)
        if i == -1:
            out.append(s[pos:])
            return "".join(out)
        q = s[m.end() : i]
        if not re.match(r"\s*(SELECT|WITH|VALUES)\b", q, re.I):
            out.append(s[pos : m.end()])  # e.g. any(col) aggregate
            pos = m.end()
            continue
        op = m.group(1)
        quant = m.group(2).upper()
        repl = None
        case_kind = None
        if quant in ("ANY", "SOME"):
            if op == "=":
                repl = f"IN ({q})"
            elif op in _NEG_OP or op in ("!=", "<>"):
                case_kind = "any"
        else:  # ALL
            if op in ("!=", "<>"):
                repl = f"NOT IN ({q})"
            elif op in _NEG_OP or op == "=":
                case_kind = "all"
        if case_kind:
            # need the left operand — consume it from the emitted text
            k = m.start() - 1
            while k >= 0 and s[k] in " \t\n":
                k -= 1
            x_start = _scan_operand_back(s, k) if k >= 0 else None
            if x_start is not None and x_start >= pos:
                x = s[x_start : m.start()].strip()
                # flush text before the left operand
                out.append(s[pos:x_start])
                nullp = (
                    f"EXISTS (SELECT 1 FROM ({q}) AS __qn(__v)"
                    f" WHERE __v IS NULL OR ({x}) IS NULL)"
                )
                if case_kind == "any":
                    probe = (
                        f"EXISTS (SELECT 1 FROM ({q}) AS __qw(__v)"
                        f" WHERE ({x}) {op} __v)"
                    )
                    repl_full = (
                        f"(CASE WHEN {probe} THEN TRUE"
                        f" WHEN {nullp} THEN CAST(NULL AS BOOLEAN)"
                        f" ELSE FALSE END)"
                    )
                else:
                    cop = _NEG_OP.get(op, "<>")
                    probe = (
                        f"EXISTS (SELECT 1 FROM ({q}) AS __qw(__v)"
                        f" WHERE __v IS NOT NULL AND ({x}) IS NOT NULL"
                        f" AND ({x}) {cop} __v)"
                    )
                    repl_full = (
                        f"(CASE WHEN {probe} THEN FALSE"
                        f" WHEN {nullp} THEN CAST(NULL AS BOOLEAN)"
                        f" ELSE TRUE END)"
                    )
                out.append(repl_full)
                pos = i + 1
                continue
        if repl is None:
            out.append(s[pos : i + 1])
        else:
            out.append(s[pos : m.start()])
            out.append(repl)
        pos = i + 1


_VALUES_RELATION = re.compile(r"\(\s*VALUES\s*\(", re.I)


def _rewrite_values_relation_alias(s: str) -> str:
    """DuckDB/Databend name inline-table columns col0, col1, …; Spark
    names them col1, col2. Alias unaliased (VALUES …) derived tables.
    Only applies in FROM/JOIN position — CTE bodies (`x(a,b) AS (VALUES
    …)`) and `IN (VALUES …)` must keep their own column naming."""
    pos = 0
    while True:
        m = _VALUES_RELATION.search(s, pos)
        if not m:
            return s
        before = s[: m.start()].rstrip()
        if not re.search(r"(?:\bFROM|\bJOIN)$", before, re.I):
            pos = m.end()
            continue
        i = close_bracket(s, m.start())
        if i == -1:
            return s
        after = s[i + 1 :].lstrip()
        if re.match(r"(AS\b|[A-Za-z_])", after):
            pos = i + 1  # already aliased
            continue
        # column count from the first row group
        row = re.search(r"\(((?:[^()]|\([^()]*\))*)\)", s[m.end() - 1 : i])
        ncols = len(split_top(row.group(1), pairs="()[]")) if row else 1
        cols = ", ".join(f"col{j}" for j in range(ncols))
        s = s[: i + 1] + f" AS __vals({cols})" + s[i + 1 :]
        pos = i + 1
    return s


_INSERT_VALUES = re.compile(
    r"^(\s*INSERT\s+INTO\s+(?:TABLE\s+)?[\w.`]+\s*(?:\([^)]*\))?\s*)"
    r"VALUES\s*(.+)$",
    re.I | re.S,
)
_HAS_CALL = re.compile(r"[A-Za-z_]\w*\s*\(")


def _rewrite_insert_values_with_exprs(s: str, force: bool = False) -> str:
    """Spark inline tables (VALUES) reject non-foldable expressions and
    are stricter about mixed literal types than Databend's
    insert-with-cast path. When a VALUES row contains a function call or
    a cast (or on ``force``, e.g. retrying an INVALID_INLINE_TABLE
    error), rewrite to INSERT … SELECT … UNION ALL …, which goes
    through regular (LEGACY store-assignment) evaluation."""
    m = _INSERT_VALUES.match(s)
    if not m:
        return s
    body = m.group(2).rstrip()
    if not force and not (_HAS_CALL.search(body) or "::" in body):
        return s
    # split top-level (...) row groups
    rows = []
    for row in split_top(body):
        row = row.strip(" \t\n")
        if not (row.startswith("(") and close_bracket(row, 0) == len(row) - 1):
            return s  # unexpected trailing syntax — leave untouched
        rows.append(row[1:-1])
    selects = " UNION ALL ".join(f"SELECT {r}" for r in rows)
    # COALESCE(1) keeps the written row order = VALUES order, which
    # insertion-order-sensitive aggregates (any/first) observe
    return (
        f"{m.group(1)}SELECT /*+ COALESCE(1) */ * FROM ({selects}) __v"
    )


def _rewrite_brackets(s: str) -> str:
    """Databend/DuckDB bracket syntax → Spark (operates on masked SQL):

    * array literals ``[1, 2]`` → ``array(1, 2)`` — a ``[`` is a literal
      unless the previous non-space char is an identifier, ``)`` or ``]``;
    * subscripts ``x[i]`` → ``element_at(x, i)`` — both source dialects
      index arrays 1-based (and maps by key) while Spark's native ``[]``
      is 0-based for arrays (reference: array get() in
      tests/sqllogictests/suites/query/functions/02_0061_function_array.test).
    """

    def prev_nonspace(i: int) -> int:
        j = i - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        return j

    def is_literal_open(i: int) -> bool:
        j = prev_nonspace(i)
        if j < 0:
            return True
        if s[j] in ")]":
            return False
        if s[j] not in _IDENT_CHARS:
            return True
        # identifier right before '[': a keyword means a literal follows
        # (SELECT [1,2] / WHEN [..] / ARRAY[..]), a column/expr name means
        # a subscript
        k = j
        while k >= 0 and s[k] in _IDENT_CHARS:
            k -= 1
        return s[k + 1 : j + 1].lower() in _BRACKET_KEYWORDS

    # pass 1: array literals (stack matches each ']' to its '[' kind)
    out = list(s)
    stack: list[bool] = []
    for i, ch, _ in scan(s, pairs="[]"):
        if ch == "[":
            lit = is_literal_open(i)
            stack.append(lit)
            if lit:
                out[i] = "\x01"
        elif ch == "]" and stack:
            if stack.pop():
                out[i] = "\x02"
    s = "".join(out).replace("\x01", "array(").replace("\x02", ")")

    # pass 2: subscripts, innermost-last (rescan after each rewrite)
    for _ in range(100):
        i = s.find("[")
        if i == -1:
            return s
        j = close_bracket(s, i, "[]")
        if j == -1:
            return s  # unbalanced — leave untouched
        # receiver: identifier chain, optionally behind call/subscript parens
        k = prev_nonspace(i)
        end = k
        while k >= 0:
            if s[k] in ")]":
                k = open_bracket(s, k, "()" if s[k] == ")" else "[]") - 1
            elif s[k] in _IDENT_CHARS:
                while k >= 0 and s[k] in _IDENT_CHARS:
                    k -= 1
                break
            else:
                break
        start = k + 1
        recv = s[start : end + 1]
        idx = s[i + 1 : j]
        if re.fullmatch(r"\s*0\s*", idx):
            # 1-based dialects return NULL at index 0; Spark raises
            repl = "NULL"
        else:
            repl = f"try_element_at({recv}, {idx})"
        s = s[:start] + repl + s[j + 1 :]
    return s


def _rewrite_srf_post(s: str) -> str:
    """Post-macro-expansion SRF fixes (reference ProjectSet semantics,
    src/query/sql/src/planner/semantic/project_set.rs):

    * ``count(explode(X))`` — the reference expands the SRF then counts
      its rows; Spark rejects a generator inside an aggregate. Rewrite
      to ``size(filter(X, nn -> nn IS NOT NULL))`` (count skips NULLs).
    * Two or more ``explode(..)`` items in one select list — the
      reference zips SRFs positionally with NULL padding (pg-style);
      Spark would reject multiple generators. Rewrite to one
      ``inline(zip_with(...))`` over NULL-padded struct arrays.
    """
    # count(explode(X)) → size(filter(X, …))
    out = []
    i = 0
    while True:
        m = re.search(r"\bcount\s*\(\s*explode\s*(\()", s[i:], re.I)
        if not m:
            out.append(s[i:])
            break
        arg_open = i + m.start(1)
        arg_end = close_bracket(s, arg_open) + 1
        close = s.find(")", arg_end)
        if arg_end == 0 or close == -1 or s[arg_end:close].strip():
            out.append(s[i : i + m.end()])
            i += m.end()
            continue
        arr = s[arg_open + 1 : arg_end - 1]
        out.append(s[i : i + m.start()])
        out.append(f"size(filter(({arr}), __cnt_e -> __cnt_e IS NOT NULL))")
        i = close + 1
    s = "".join(out)

    # multi-SRF select list → inline(zip_with(...))
    sel = re.match(r"^\s*SELECT\s+", s, re.I)
    if not sel:
        return s
    f = find_top(s, "FROM")
    items = split_top(s[sel.end() : f] if f != -1 else s[sel.end() :])
    srf_args: list[tuple[int, str, str]] = []  # (item idx, arg, alias)
    for idx, it in enumerate(items):
        m = re.match(
            r"^\s*explode\s*(\()", it, re.I
        )
        if not m:
            continue
        end = close_bracket(it, m.start(1)) + 1
        if end == 0:
            continue
        rest = it[end:].strip()
        ma = re.match(r"^(?:AS\s+)?([A-Za-z_]\w*)?\s*$", rest, re.I)
        if not ma:
            continue
        alias = ma.group(1) or f"c{len(srf_args)}"
        srf_args.append((idx, it[m.start(1) + 1 : end - 1], alias))
    if len(srf_args) < 2:
        return s
    # zip the SRFs positionally into one struct array; non-SRF items
    # stay scalar (per-row) like the reference's ProjectSet
    a0 = srf_args[0][2]
    zipped = f"transform(({srf_args[0][1]}), __z0 -> struct(__z0 AS {a0}))"
    for k, (_, arg, alias) in enumerate(srf_args[1:], start=1):
        fields = ", ".join(
            f"__zs.{al} AS {al}" for _, _, al in srf_args[:k]
        )
        zipped = (
            f"zip_with({zipped}, ({arg}),"
            f" (__zs, __z{k}) -> struct({fields}, __z{k} AS {alias}))"
        )
    first = srf_args[0][0]
    srf_idx = {i for i, _, _ in srf_args}
    new_items = []
    for idx, it in enumerate(items):
        if idx == first:
            new_items.append(f" inline({zipped})")
        elif idx not in srf_idx:
            new_items.append(it)
    new_body = ",".join(new_items) + " "
    return s[: sel.end()] + new_body + (s[f:] if f != -1 else "")


_AGG_CALL = re.compile(
    r"\b(sum|count|avg|mean|min|max|median|mode|stddev\w*|std|var\w*|corr|"
    r"covar\w*|skewness|kurtosis\w*|percentile\w*|approx_\w+|string_agg|"
    r"array_agg|listagg|group_concat|bool_and|bool_or|every|bit_and|bit_or|"
    r"bit_xor|arg_min|arg_max|any_value|first_value|last_value|count_if|"
    r"sum_if|avg_if|min_if|max_if)\s*\(",
    re.I,
)


def _rewrite_scalar_having(s: str) -> str:
    """Databend allows HAVING without GROUP BY in two flavors
    (duckdb/sql/aggregate/having/test_scalar_having.test):

    * aggregate query (``SELECT SUM(a) … HAVING SUM(a) > 10``) — a global
      aggregate then a filter → Spark needs an explicit ``GROUP BY ()``;
    * plain row filter (``SELECT a … WHERE a=13 HAVING a > 11``) — HAVING
      acts as a second WHERE → merge into the WHERE clause.
    """
    h = find_top(s, "HAVING")
    if h == -1 or find_top(s, "GROUP BY") != -1:
        return s
    # does the query aggregate? look at the select list and HAVING cond
    if _AGG_CALL.search(s):
        # Spark has no bare `GROUP BY ()`; the empty grouping set is it
        return s[:h] + "GROUP BY GROUPING SETS (()) " + s[h:]
    cond_start = h + len("HAVING")
    tail_at = len(s)
    for kw in ("ORDER BY", "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT"):
        k = find_top(s, kw, cond_start)
        if k != -1:
            tail_at = min(tail_at, k)
    h_cond = _subst_select_aliases(s, s[cond_start:tail_at].strip())
    w = find_top(s, "WHERE")
    if w == -1:
        return s[:h] + f"WHERE {h_cond} " + s[tail_at:]
    # merge: WHERE (w_cond) AND (h_cond)
    w_end = h  # WHERE clause runs up to HAVING in this position
    w_cond = s[w + len("WHERE") : w_end].strip()
    return (
        s[:w]
        + f"WHERE ({w_cond}) AND ({h_cond}) "
        + s[tail_at:]
    )


def _subst_select_aliases(s: str, cond: str) -> str:
    """Replace select-list alias references in ``cond`` with their
    expressions (Databend's no-GROUP-BY HAVING resolves both output
    aliases and input columns; Spark's WHERE sees inputs only)."""
    sel = re.search(r"\bSELECT\s+(?:DISTINCT\s+)?", s, re.I)
    if not sel:
        return cond
    f = find_top(s, "FROM", sel.end())
    if f == -1:
        return cond
    for item in split_top(s[sel.end() : f]):
        m = re.match(r"^\s*(.+?)\s+AS\s+([\w`]+)\s*$", item, re.I | re.S)
        if not m:
            continue
        expr, name = m.group(1).strip(), m.group(2).strip("`")
        if expr.lower() == name.lower():
            continue
        cond = re.sub(
            rf"\b{re.escape(name)}\b", f"({expr})", cond, flags=re.I
        )
    return cond


def _rewrite_unnest_hoist(s: str, literals: list[str] | None = None) -> str:
    """unnest() used under GROUP BY or nested inside another function
    (reference SRF-in-aggregation: binds the exploded value) → hoist
    each distinct unnest argument into a LATERAL VIEW explode and
    reference the generated column. Duplicate calls are matched by
    their literal-resolved text (masking assigns distinct tokens to
    equal literals)."""
    sel = re.search(r"^\s*SELECT\b", s, re.I)
    if not sel:
        return s
    f = find_top(s, "FROM")
    if f == -1:
        return s
    g = find_top(s, "GROUP")
    has_group = g != -1 and g > f

    def resolve(t: str) -> str:
        t = " ".join(t.split())
        if literals:
            t = re.sub(
                "\x00(\\d+)\x00",
                lambda m: literals[int(m.group(1))]
                if int(m.group(1)) < len(literals)
                else m.group(0),
                t,
            )
        return t

    def find_calls(seg: str) -> list[tuple[int, int, str]]:
        out = []
        for m in re.finditer(r"\bunnest\s*\(", seg, re.I):
            j = close_bracket(seg, m.end() - 1)
            if j != -1:
                out.append((m.start(), j + 1, seg[m.end() : j]))
        return out

    body = s[sel.end() : f]
    tail = s[f:]
    body_calls = find_calls(body)
    # GROUP BY clause unnest calls (within the tail)
    tail_calls = find_calls(tail) if has_group else []
    if not body_calls and not tail_calls:
        return s
    nested = any(
        re.search(r"\w\s*\(\s*$", body[: c[0]]) for c in body_calls
    )
    if not (has_group or nested):
        return s
    uniq: dict[str, tuple[str, str]] = {}  # resolved → (alias, raw args)
    for _, _, args in body_calls + tail_calls:
        key = resolve(args)
        if key not in uniq:
            uniq[key] = (f"__ue{len(uniq)}", args)

    def subst(seg: str, calls: list[tuple[int, int, str]]) -> str:
        out, last = [], 0
        for start, end, args in calls:
            out.append(seg[last:start])
            out.append(uniq[resolve(args)][0])
            last = end
        out.append(seg[last:])
        return "".join(out)

    new_body = subst(body, body_calls)
    tail = subst(tail, tail_calls)
    em = _CLAUSE_END_GB2.search(tail, len("FROM"))
    insert_at = em.start() if em else len(tail)
    lvs = "".join(
        f" LATERAL VIEW explode({raw}) __lv_{alias} AS {alias}"
        for alias, raw in uniq.values()
    )
    tail = tail[:insert_at].rstrip() + lvs + " " + tail[insert_at:]
    return s[: sel.end()] + new_body + tail


_CLAUSE_END_GB2 = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|QUALIFY"
    r"|WINDOW|UNION|EXCEPT|INTERSECT)\b",
    re.I,
)


def _rewrite_groupby_alias_shadow(s: str) -> str:
    """``SELECT x % 3 AS x … GROUP BY x`` — the reference binds the
    select ALIAS in GROUP BY; Spark binds the source column. Substitute
    the alias expression for group keys whose alias shadows a column it
    references (top-level select only)."""
    sel = re.search(r"^\s*SELECT\b", s, re.I)
    if not sel:
        return s
    f = find_top(s, "FROM")
    g = find_top(s, "GROUP")
    if f == -1 or g == -1 or g < f:
        return s
    shadows = {}
    for it in split_top(s[sel.end() : f]):
        m = re.match(r"^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", it, re.I | re.S)
        if not m:
            continue
        expr, name = m.group(1).strip(), m.group(2)
        # the reference binds GROUP BY identifiers to select aliases
        # before source columns; substituting the expression matches
        # both resolutions (Spark prefers the column on a name clash)
        # an aggregate can never be a group key — the reference binds
        # GROUP BY x to the source column there, like Spark does
        if (
            expr != name
            and "OVER" not in expr.upper()
            and not _AGG_CALL.search(expr)
        ):
            shadows[name] = expr
    if not shadows:
        return s
    by = re.match(r"GROUP\s+BY\b", s[g:], re.I)
    if not by:
        return s
    gstart = g + by.end()
    gend = len(s)
    m = _CLAUSE_END_GB.search(s, gstart)
    if m:
        gend = m.start()
    keys = s[gstart:gend]
    # alias binding applies only to a group item that IS the bare
    # identifier — identifiers nested inside a larger expression
    # (GROUP BY CASE WHEN i = 1 …) bind to the source column in the
    # reference too (r3 regression: substituting inside the CASE made
    # the group key diverge from the select expression)
    out_items = []
    for it in split_top(keys):
        bare = it.strip().strip("`")
        if bare in shadows:
            lead = it[: len(it) - len(it.lstrip())]
            trail = it[len(it.rstrip()) :]
            out_items.append(f"{lead}({shadows[bare]}){trail}")
        else:
            out_items.append(it)
    keys = ",".join(out_items)
    return s[:gstart] + keys + s[gend:]


_CLAUSE_END_GB = re.compile(
    r"\b(HAVING|ORDER\s+BY|LIMIT|OFFSET|QUALIFY|WINDOW|UNION|EXCEPT"
    r"|INTERSECT)\b",
    re.I,
)


def _rewrite_qualify(s: str) -> str:
    """Depth-0 ``QUALIFY <cond>`` → project the condition as a hidden
    column inside the (possibly grouped/windowed) select, filter on it
    outside, and drop it with ``* EXCEPT``:

        SELECT <list> FROM … [GROUP BY …] QUALIFY <cond> [ORDER …]
        → SELECT * EXCEPT (__qualify) FROM
            (SELECT <list>, (<cond>) AS __qualify FROM … [GROUP BY …]) q
          WHERE __qualify [ORDER …]

    Projecting (not re-evaluating outside) keeps GROUPING()/window calls
    in the scope that defines them."""
    q = find_top(s, "QUALIFY")
    if q == -1:
        return s
    head = s[:q].rstrip()
    rest = s[q + len("QUALIFY") :]
    tail_at = len(rest)
    for kw in ("ORDER BY", "LIMIT", "OFFSET"):
        k = find_top(rest, kw)
        if k != -1:
            tail_at = min(tail_at, k)
    cond = rest[:tail_at].strip()
    tail = rest[tail_at:]
    # insert the hidden column just before the main select's FROM
    f = find_top(head, "FROM")
    if f == -1:
        return s
    inner = head[:f].rstrip() + f", ({cond}) AS __qualify " + head[f:]
    return (
        f"SELECT * EXCEPT (__qualify) FROM ({inner}) __qual "
        f"WHERE __qualify {tail}"
    )


def _rewrite_grouping_multi(s: str) -> str:
    """Databend/DuckDB ``GROUPING(a, b, …)`` returns the packed bit
    vector (first arg = most significant). Spark's ``grouping()`` is
    strictly unary, and ``grouping_id(a, b)`` insists its argument order
    match the GROUP BY columns — so expand to arithmetic over unary
    calls, which is order-free: ``grouping(a)*2 + grouping(b)``."""
    out, pos = [], 0
    pat = re.compile(r"\bgrouping\s*\(", re.I)
    while True:
        m = pat.search(s, pos)
        i = close_bracket(s, m.end() - 1) if m else -1
        if i == -1:
            out.append(s[pos:])
            return "".join(out)
        args = split_top(s[m.end() : i])
        out.append(s[pos : m.start()])
        if len(args) <= 1:
            out.append(s[m.start() : i + 1])
        else:
            terms = [
                f"grouping({a.strip()}) * {1 << (len(args) - 1 - j)}"
                if j < len(args) - 1
                else f"grouping({a.strip()})"
                for j, a in enumerate(args)
            ]
            out.append("(" + " + ".join(terms) + ")")
        pos = i + 1


_QUOTED_ALIAS = re.compile(r'\bAS\s+"([^"]+)"', re.I)

_WINDOW_CLAUSE = re.compile(r"\bWINDOW\s+[A-Za-z_]\w*\s+AS\s*\(", re.I)


def _rewrite_named_windows(s: str) -> str:
    """``WINDOW w AS (spec), w1 AS (w ORDER BY …)`` + ``OVER w`` →
    inline the spec at each use (Spark has no WINDOW clause). A named
    window may extend another by leading with its name."""
    m = _WINDOW_CLAUSE.search(s)
    if not m:
        return s
    # parse the full clause: name AS (spec) [, name AS (spec)]...
    defs: dict[str, str] = {}
    i = m.start() + len("WINDOW")
    end = i
    while True:
        nm = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", s[i:], re.I)
        if not nm:
            break
        j = close_bracket(s, i + nm.end() - 1)
        if j == -1:
            j = len(s) - 1
        spec = s[i + nm.end() : j].strip()
        if nm.group(1).lower() in {k.lower() for k in defs}:
            raise UnsupportedSQL(
                f"[1005] duplicate window name {nm.group(1)}"
            )
        if re.search(r"\bOVER\b", spec, re.I):
            raise UnsupportedSQL(
                "[1005] window function inside a window specification"
            )
        defs[nm.group(1)] = spec
        i = j + 1
        cm = re.match(r"\s*,", s[i:])
        if not cm:
            break
        i += cm.end()
    # resolve inheritance (a spec may lead with another window's name,
    # defined before OR after it) to fixpoint
    for _ in range(len(defs) + 1):
        changed = False
        for name, spec in list(defs.items()):
            base = re.match(r"([A-Za-z_]\w*)\b\s*(.*)$", spec, re.S)
            if base and base.group(1) in defs and base.group(1) != name:
                defs[name] = (
                    defs[base.group(1)] + " " + base.group(2)
                ).strip()
                changed = True
        if not changed:
            break
    out = s[: m.start()] + s[i:]
    for name, spec in defs.items():
        out = re.sub(
            rf"\bOVER\s+{re.escape(name)}\b",
            f"OVER ({spec})",
            out,
            flags=re.I,
        )
    # ranking over an UNORDERED window: every row is a peer — the
    # reference folds rank/dense_rank to 1 (named_window_basic.test);
    # Spark refuses the unordered frame outright
    out = re.sub(
        r"\b(rank|dense_rank|percent_rank|cume_dist)\s*\(\s*\)\s+OVER\s*"
        r"\(((?:[^()]|\([^()]*\))*)\)",
        lambda mm: (
            mm.group(0)
            if re.search(r"\bORDER\s+BY\b", mm.group(2), re.I)
            else {
                "rank": "1", "dense_rank": "1",
                "percent_rank": "0.0", "cume_dist": "1.0",
            }[mm.group(1).lower()]
        ),
        out,
        flags=re.I,
    )
    return out

_ASOF_JOIN = re.compile(r"\bASOF\s+(LEFT\s+|RIGHT\s+|FULL\s+)?JOIN\b", re.I)
_CLAUSE_END = re.compile(
    r"\b(WHERE|GROUP|ORDER|HAVING|LIMIT|OFFSET|UNION|EXCEPT|INTERSECT|"
    r"WINDOW|QUALIFY|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|ASOF|SEMI|"
    r"ANTI)\b",
    re.I,
)
_INEQ = re.compile(r"(.+?)\s*(>=|<=|>|<)\s*(.+)", re.S)


def _and_terms(cond: str) -> list[str]:
    """The top-level AND terms of a join condition."""
    return [t.strip() for t in split_top(cond, "AND")]


def _rewrite_asof_join(s: str) -> str:
    """``probe p ASOF [LEFT] JOIN build b ON eqs AND p.t >= b.t`` →
    ``probe p [LEFT JOIN] LATERAL (SELECT * FROM build b WHERE <cond>
    ORDER BY b.t DESC LIMIT 1) b [ON true]``.

    The correlated-LIMIT lateral decorrelates in Catalyst to a windowed
    join — the right semantics (per probe row, the nearest build row on
    the inequality side) with no manual window bookkeeping. The
    DataFrame-level operator (operators/asof_join.py) stays the
    preferred scale path; this is the SQL dialect surface.

    Reference: ASOF JOIN in the reference parser
    (src/query/ast/src/parser/query.rs JoinOperator::Asof) and the
    duckdb/join/asof SLT suite."""
    while True:
        m = _ASOF_JOIN.search(s)
        if not m:
            return s
        kind = (m.group(1) or "").strip().upper()
        # --- build relation: ident[(args)] | (subquery), then optional
        # alias [(cols)]
        ref = table_ref(s, m.end())
        if ref is None:
            raise UnsupportedSQL("ASOF JOIN without ON condition")
        rel, alias, i = ref
        on = re.match(r"\s*ON\b", s[i:], re.I)
        um = re.match(r"\s*USING\s*\(([^)]*)\)", s[i:], re.I)
        if kind in ("RIGHT", "FULL"):
            s = _rewrite_asof_outer(s, m, kind, rel, alias, i, on)
            continue
        if um:
            # USING (k…, t): leading columns are equalities, the last is
            # the `probe.t >= build.t` range key; build's copies of the
            # USING columns are dropped so SELECT * matches USING-join
            # output (probe columns first, once).
            pref = relation_before(s, m.start())
            if pref is None:
                raise UnsupportedSQL("ASOF USING: probe relation not found")
            probe = pref[1] or pref[0].split(".")[-1].strip("`")
            balias_name = (alias or rel).split("(")[0].strip().strip("`")
            cols = [c.strip().strip("`") for c in um.group(1).split(",")]
            eqs = [f"{probe}.`{c}` = {balias_name}.`{c}`" for c in cols[:-1]]
            rng = f"{probe}.`{cols[-1]}` >= {balias_name}.`{cols[-1]}`"
            cond = " AND ".join(eqs + [rng])
            excl = ", ".join(f"`{c}`" for c in cols)
            inner = (
                f"(SELECT * EXCEPT ({excl}) FROM (SELECT __s.* FROM "
                f"(SELECT max_by(struct({balias_name}.*), "
                f"{balias_name}.`{cols[-1]}`) AS __s FROM {rel}"
                f"{' ' + alias if alias else ''} WHERE {cond}) "
                f"WHERE __s IS NOT NULL))"
            )
            out_alias = alias or balias_name
            if kind == "LEFT":
                repl = f" LEFT JOIN LATERAL {inner} {out_alias} ON true "
            else:
                repl = f" , LATERAL {inner} {out_alias} "
            s = s[: m.start()] + repl + s[i + um.end() :]
            continue
        if not on:
            raise UnsupportedSQL("ASOF JOIN without ON condition")
        cond_start = i + on.end()
        # --- condition runs to the next depth-0 clause keyword / comma
        end = clause_end(s, cond_start, _CLAUSE_END, chars=",;")
        cond = s[cond_start:end].strip()
        # --- find the single inequality among top-level AND terms
        fixed = _and_terms(cond)
        ineqs = [
            t
            for t in fixed
            if re.search(r"(?<![<>!=])(>=|<=|(?<!<)>(?!=)|<(?![=>]))", t)
            and "<>" not in t
            and "!=" not in t
        ]
        if len(ineqs) != 1:
            raise UnsupportedSQL(
                "ASOF JOIN: Missing inequality condition!"
                if not ineqs
                else "ASOF JOIN: multiple inequality conditions"
            )
        im = _INEQ.match(ineqs[0])
        lhs, op, rhs = im.group(1).strip(), im.group(2), im.group(3).strip()
        bname = (alias or rel).split("(")[0].strip().strip("`").split(".")[-1]
        build_on_left = bool(re.search(rf"\b{re.escape(bname)}\s*\.", lhs))
        # nearest build row = max_by (build time ≤ probe) or min_by
        # (build ≥ probe). The aggregate form decorrelates through
        # Catalyst's mature scalar-agg path — the ORDER BY + LIMIT 1
        # lateral shape miscompiles on DOUBLE correlation keys (verified:
        # duckdb/join/asof/test_asof_join_miss.test k/2 case).
        if op in (">=", ">"):
            pick, key = ("min_by", lhs) if build_on_left else ("max_by", rhs)
        else:
            pick, key = ("max_by", lhs) if build_on_left else ("min_by", rhs)
        inner = (
            f"(SELECT __s.* FROM (SELECT {pick}(struct({bname}.*), {key}) "
            f"AS __s FROM {rel}{' ' + alias if alias else ''} "
            f"WHERE {cond}) WHERE __s IS NOT NULL)"
        )
        out_alias = alias or bname
        if kind == "LEFT":
            repl = f" LEFT JOIN LATERAL {inner} {out_alias} ON true "
        else:
            repl = f" , LATERAL {inner} {out_alias} "
        s = s[: m.start()] + repl + s[end:]


_ANY_JOIN = re.compile(r"\b(?:(INNER|LEFT|RIGHT)\s+)?ANY\s+JOIN\b", re.I)


def _rewrite_any_join(s: str) -> str:
    """``ANY JOIN`` (reference planner plans/join.rs:51-55 — InnerAny /
    LeftAny / RightAny; SLT suites/query/join/any_join.test): the
    "any" side(s) contribute at most ONE row per join key.

    Desugar: dedup the any-side relation to one row per key in a
    derived table — ``min(struct(t.*)) GROUP BY keys`` (the reference
    keeps an engine-arbitrary row; we pick the lexicographically least
    row, deterministic). LEFT ANY dedups the build side, RIGHT ANY the
    probe side, INNER ANY both. Single-side residual ON predicates
    filter the side BEFORE the pick (matches the reference: ``ON a.id =
    b.id AND b.v = 'x2'`` picks among rows where v = 'x2')."""
    while True:
        m = _ANY_JOIN.search(s)
        if not m:
            return s
        kind = (m.group(1) or "INNER").upper()
        build = table_ref(s, m.end())
        # the probe is the FROM item before the join: a table or a
        # derived table, with or without an alias
        probe = relation_before(s, m.start())
        if build is None or probe is None:
            raise UnsupportedSQL("ANY JOIN: relation not found")
        rel, alias, i = build
        bname = (alias or rel).strip().strip("`").split(".")[-1]
        probe_txt, palias, probe_cut = probe
        pname = (palias or probe_txt).strip("`").split(".")[-1]
        probe_plain = probe_txt + (f" {palias}" if palias else "")
        um = re.match(r"\s*USING\s*\(([^)]*)\)", s[i:], re.I)
        on = re.match(r"\s*ON\b", s[i:], re.I)

        def dedup(rel_txt: str, name: str, keys: list[str], where: list[str]) -> str:
            w = f" WHERE {' AND '.join(where)}" if where else ""
            inner_rel = rel_txt if rel_txt.strip().strip("`").split(".")[-1] == name else f"{rel_txt} {name}"
            return (
                f"(SELECT __s.* FROM (SELECT min(struct({name}.*)) AS __s "
                f"FROM {inner_rel}{w} GROUP BY {', '.join(keys)}))"
            )

        if um:
            cols = [c.strip().strip("`") for c in um.group(1).split(",")]
            tail = s[i + um.end():]
            bkeys = [f"{bname}.`{c}`" for c in cols]
            pkeys = [f"{pname}.`{c}`" for c in cols]
            build_txt = (
                dedup(rel, bname, bkeys, []) + f" {bname}"
                if kind in ("INNER", "LEFT")
                else rel + (f" {alias}" if alias else "")
            )
            head = s[: probe_cut]
            probe_out = (
                dedup(probe_txt, pname, pkeys, []) + f" {pname}"
                if kind in ("INNER", "RIGHT")
                else probe_plain
            )
            jw = {"INNER": "JOIN", "LEFT": "LEFT JOIN", "RIGHT": "RIGHT JOIN"}[kind]
            s = (
                head + probe_out + f" {jw} " + build_txt
                + f" USING ({um.group(1)})" + tail
            )
            continue
        if not on:
            raise ValueError("[1065] ANY JOIN requires an ON or USING clause")
        cond_start = i + on.end()
        end = clause_end(s, cond_start, _CLAUSE_END, chars=",;")
        cond = s[cond_start:end].strip()
        fixed = _and_terms(cond)

        def _aliases(txt: str) -> set[str]:
            return {
                a.lower()
                for a in re.findall(r"\b([A-Za-z_]\w*)\s*\.", txt)
            }

        pkeys: list[str] = []
        bkeys: list[str] = []
        equis: list[str] = []
        pwhere: list[str] = []
        bwhere: list[str] = []
        for t in fixed:
            em = re.match(r"^([^<>!=]+)=([^<>!=]+)$", t, re.S)
            la = _aliases(t)
            if em:
                lhs, rhs = em.group(1).strip(), em.group(2).strip()
                al, ar = _aliases(lhs), _aliases(rhs)
                if al == {pname.lower()} and ar == {bname.lower()}:
                    pkeys.append(lhs)
                    bkeys.append(rhs)
                    equis.append(t)
                    continue
                if al == {bname.lower()} and ar == {pname.lower()}:
                    pkeys.append(rhs)
                    bkeys.append(lhs)
                    equis.append(t)
                    continue
            if la <= {bname.lower()}:
                bwhere.append(t)
            elif la <= {pname.lower()}:
                pwhere.append(t)
            else:
                raise UnsupportedSQL(f"ANY JOIN: unsupported ON term {t!r}")
        if not equis:
            raise ValueError("[1065] ANY JOIN requires an equi condition")
        build_txt = (
            dedup(rel, bname, bkeys, bwhere) + f" {bname}"
            if kind in ("INNER", "LEFT")
            else rel + (f" {alias}" if alias else "")
        )
        probe_out = (
            dedup(probe_txt, pname, pkeys, pwhere) + f" {pname}"
            if kind in ("INNER", "RIGHT")
            else probe_plain
        )
        residual = []
        if kind in ("RIGHT",) and bwhere:
            residual += bwhere
        if kind in ("LEFT",) and pwhere:
            residual += pwhere
        jw = {"INNER": "JOIN", "LEFT": "LEFT JOIN", "RIGHT": "RIGHT JOIN"}[kind]
        s = (
            s[: probe_cut] + probe_out + f" {jw} " + build_txt
            + " ON " + " AND ".join(equis + residual) + " " + s[end:]
        )


_ARROW_OP = re.compile(r"(->>|->|#>>|#>)")
_ARROW_RHS = re.compile(r"(\x00\d+\x00|-?\d+|NULL\b)", re.I)
_OPERAND_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.`$\x00"
)


def _scan_operand_back(s: str, k: int) -> int | None:
    """Start index of the operand whose last char is at ``k`` — an
    identifier/placeholder, a balanced (…)/[…] (with callee name), or a
    ``::type`` cast chain of those."""
    while True:
        if s[k] in ")]":
            k = open_bracket(s, k, "()" if s[k] == ")" else "[]")
            if k < 0:
                return None
            start = k
            k -= 1
            while k >= 0 and s[k] in _OPERAND_CHARS:
                k -= 1
            start = k + 1 if k + 1 < start else start
        elif s[k] in _OPERAND_CHARS:
            while k >= 0 and s[k] in _OPERAND_CHARS:
                k -= 1
            start = k + 1
        else:
            return None
        if start >= 2 and s[start - 2 : start] == "::":
            k = start - 3
            if k < 0:
                return None
            continue
        return start


def _rewrite_json_arrows(s: str) -> str:
    """Variant accessor operators (reference scalars/variant.rs):
    ``v -> k`` / ``v ->> k`` (key-or-index, variant/text) and
    ``v #> p`` / ``v #>> p`` (Postgres ``'{a,b}'`` paths) →
    ``__variant_access(...)`` (functions/variant_runtime.py, canonical
    JSONB output). Runs on masked text; a lambda arrow is skipped because
    its body is never a bare literal — only constant lambdas like
    ``x -> 5`` are ambiguous (accepted limitation)."""
    pos = 0
    while True:
        m = _ARROW_OP.search(s, pos)
        if not m:
            return s
        op = m.group(1)
        j = m.end()
        while j < len(s) and s[j] in " \t\n":
            j += 1
        rm = _ARROW_RHS.match(s, j)
        if not rm:
            pos = m.end()
            continue
        rhs, rhs_end = rm.group(1), rm.end()
        k = m.start() - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        if k < 0:
            pos = m.end()
            continue
        start = _scan_operand_back(s, k)
        if start is None:
            pos = m.end()
            continue
        recv = s[start : m.start()].strip()
        if not recv:
            pos = m.end()
            continue
        if re.fullmatch(r"\(\s*\w+(\s*,\s*\w+)*\s*\)", recv):
            # a bare parameter tuple: `(x, y) -> …` is a lambda, not a
            # jsonb arrow access
            pos = m.end()
            continue
        recv = _strip_variant_cast(recv)
        mode = "pg" if op.startswith("#") else "a"
        text = "true" if op in ("->>", "#>>") else "false"
        repl = (
            f"__variant_access(CAST(({recv}) AS STRING), '{mode}', "
            f"CAST(({rhs}) AS STRING), {text})"
        )
        s = s[:start] + repl + s[rhs_end:]
        pos = start
    return s


_JSONB_OP = re.compile(r"@\?|@@|@>|<@|\?\||\?&|#-|\?")
_JSONB_RHS = re.compile(r"(\x00\d+\x00|NULL\b|-?\d+|[\w.`]+)", re.I)


def _scan_rhs(s: str, j: int) -> tuple[str, int] | None:
    """RHS operand starting at ``j``: NULL, a masked literal, a number,
    or an identifier optionally followed by a balanced call."""
    m = re.match(r"(\x00\d+\x00|NULL\b|-?\d+(?!\w))", s[j:], re.I)
    if m:
        return m.group(1), j + m.end()
    m = re.match(r"[\w.`]+", s[j:])
    if not m:
        return None
    e = j + m.end()
    k = e
    while k < len(s) and s[k] in " \t\n":
        k += 1
    if s[k : k + 1] == "(":
        k = close_bracket(s, k)
        return (s[j : k + 1], k + 1) if k != -1 else None
    return s[j:e], e
_PJ_MINUS = re.compile(r"(?<![\w$])((?:try_)?parse_json)\s*\(", re.I)


def _rewrite_jsonb_ops(s: str) -> str:
    """jsonb operators (reference scalars/variant.rs): ``@?`` path
    exists, ``@@`` path predicate, ``?`` key/element exists, ``?|`` any
    key, ``?&`` all keys, ``#-`` delete path, and variant ``- key`` /
    ``- index`` deletion on a parse_json receiver — all →
    __variant_* UDF calls (functions/variant_runtime.py)."""
    pos = 0
    while True:
        m = _JSONB_OP.search(s, pos)
        if not m:
            break
        op = m.group(0)
        k = m.start() - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        start = _scan_operand_back(s, k) if k >= 0 else None
        if start is None:
            pos = m.end()
            continue
        recv = _strip_variant_cast(s[start : m.start()].strip())
        j = m.end()
        while j < len(s) and s[j] in " \t\n":
            j += 1
        if op in ("?|", "?&"):
            if s[j : j + 1] == "[":
                e = close_bracket(s, j, "[]")
                if e == -1:
                    pos = m.end()
                    continue
                rhs_sql, rhs_end = f"to_json(array({s[j + 1 : e]}))", e + 1
            elif re.match(r"NULL\b", s[j:], re.I):
                rhs_sql, rhs_end = "CAST(NULL AS STRING)", j + 4
            else:
                pos = m.end()
                continue
            mode = "any" if op == "?|" else "all"
            repl = (
                f"__variant_has(CAST(({recv}) AS STRING),"
                f" {rhs_sql}, '{mode}')"
            )
        else:
            scanned = _scan_rhs(s, j)
            if scanned is None:
                pos = m.end()
                continue
            rhs, rhs_end = scanned
            if op in ("@>", "<@"):
                lhs_c = f"CAST(({recv}) AS STRING)"
                rhs_c = f"CAST(({rhs}) AS STRING)"
                if op == "<@":
                    lhs_c, rhs_c = rhs_c, lhs_c
                repl = f"__variant_contains({lhs_c}, {rhs_c})"
            elif op == "?":
                repl = (
                    f"__variant_has(CAST(({recv}) AS STRING),"
                    f" to_json(array(CAST(({rhs}) AS STRING))), 'any')"
                )
            elif op in ("@?", "@@"):
                mode = "exists" if op == "@?" else "match"
                repl = (
                    f"CAST(__variant_path_query(CAST(({recv}) AS"
                    f" STRING), ({rhs}), '{mode}') AS BOOLEAN)"
                )
            else:  # '#-'
                repl = (
                    f"__variant_delete_path(CAST(({recv}) AS STRING),"
                    f" ({rhs}))"
                )
        s = s[:start] + repl + s[rhs_end:]
        pos = start + len(repl)
    # variant `-` deletion: parse_json(...) receiver only (a bare `-`
    # on arbitrary operands is arithmetic)
    pos = 0
    while True:
        m = _PJ_MINUS.search(s, pos)
        if not m:
            break
        e = close_bracket(s, m.end() - 1)
        if e == -1:
            break
        recv = s[m.start() : e + 1]
        j = e + 1
        while j < len(s) and s[j] in " \t\n":
            j += 1
        if s[j : j + 2] == "||":
            # jsonb `||` concat (objects merge, arrays append)
            j2 = j + 2
            while j2 < len(s) and s[j2] in " \t\n":
                j2 += 1
            scanned = _scan_rhs(s, j2)
            if scanned is None:
                pos = e + 1
                continue
            rhs, rhs_end = scanned
            repl = (
                f"__variant_concat(CAST(({recv}) AS STRING),"
                f" CAST(({rhs}) AS STRING))"
            )
            s = s[: m.start()] + repl + s[rhs_end:]
            pos = m.start()
            continue
        if s[j : j + 1] in ("+", "*", "/") and s[j : j + 2] != "**":
            # variant arithmetic: unquote + numeric coercion, NULL when
            # not a number (reference auto-parse semantics)
            repl = (
                "TRY_CAST(__variant_access(CAST((" + recv + ") AS"
                " STRING), '', '', true) AS BIGINT)"
            )
            s = s[: m.start()] + repl + s[e + 1 :]
            pos = m.start() + len(repl)
            continue
        if s[j : j + 1] != "-" or s[j : j + 2] in ("->", "--"):
            pos = e + 1
            continue
        j2 = j + 1
        while j2 < len(s) and s[j2] in " \t\n":
            j2 += 1
        rm = re.match(r"(-?\d+|\x00\d+\x00|NULL\b)", s[j2:], re.I)
        if not rm:
            pos = e + 1
            continue
        rhs = rm.group(1)
        is_int = "true" if re.fullmatch(r"-?\d+", rhs) else "false"
        repl = (
            f"__variant_minus(CAST(({recv}) AS STRING),"
            f" CAST(({rhs}) AS STRING), {is_int})"
        )
        s = s[: m.start()] + repl + s[j2 + rm.end() :]
        pos = m.start() + len(repl)
    return s


_CAST_PAREN_T = re.compile(
    r"(::\s*|\bAS\s+)(Nullable|Array|Map|Tuple)\s*\(", re.I
)


def _strip_nullable_wrappers(t: str) -> str:
    pat = re.compile(r"\bNullable\s*\(", re.I)
    while True:
        m = pat.search(t)
        if not m:
            return t
        j = close_bracket(t, m.end() - 1)
        if j == -1:
            return t
        t = t[: m.start()] + t[m.end() : j] + t[j + 1 :]


_WIDE_DEC_POSTFIX = re.compile(
    r"::\s*DECIMAL\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", re.I
)

_INTERVAL_POSTFIX = re.compile(r"::\s*INTERVAL\b", re.I)


def _scan_postfix_expr_start(s: str, end: int) -> int:
    """Scan backward from `end` over the primary expression a postfix
    cast applies to (identifier chain, call, masked literal, parens)."""
    i = end
    while i > 0:
        ch = s[i - 1]
        if ch in ")]":
            i = max(open_bracket(s, i - 1, "()[]"), 0)
        elif ch.isalnum() or ch in "_.$`\x00":
            i -= 1
        else:
            break
    return i


def _rewrite_interval_cast_postfix(s: str) -> str:
    """`expr::INTERVAL` → `__interval_text(CAST(expr AS STRING))`."""
    while True:
        m = _INTERVAL_POSTFIX.search(s)
        if m is None:
            return s
        i = _scan_postfix_expr_start(s, m.start())
        expr = s[i : m.start()]
        if not expr.strip():
            return s
        s = (
            s[:i]
            + f"__interval_text(CAST(({expr}) AS STRING))"
            + s[m.end():]
        )


def _rewrite_wide_decimal_postfix(s: str) -> str:
    """`expr::DECIMAL(p, s)` with p>38 or s>37 →
    `__wide_decimal_cast(CAST(expr AS STRING), p, s)` — decimal256
    emulation for widths Spark's native decimal cannot hold
    (reference types/decimal.rs:82, p<=76)."""
    while True:
        m = None
        for cand in _WIDE_DEC_POSTFIX.finditer(s):
            p_ = int(cand.group(1))
            sc = int(cand.group(2) or 0)
            if 38 < p_ <= 76 or sc > 37:
                m = cand
                break
        if m is None:
            return s
        i = _scan_postfix_expr_start(s, m.start())
        expr = s[i : m.start()]
        if not expr.strip():
            return s
        sc = int(m.group(2) or 0)
        # a plain numeric literal that fits native decimal keeps the
        # native type (stays foldable for inline tables; list()/array
        # display shows a number, not a quoted string)
        if re.fullmatch(r"\s*-?\d+(?:\.\d+)?\s*", expr) and sc <= 37:
            digits = len(expr.strip().lstrip("-").replace(".", ""))
            if digits + sc <= 38:
                s = (
                    s[:i]
                    + f"CAST({expr} AS DECIMAL(38, {sc}))"
                    + s[m.end():]
                )
                continue
        s = (
            s[:i]
            + f"__wide_decimal_cast(CAST(({expr}) AS STRING), "
            + f"{int(m.group(1))}, {int(m.group(2) or 0)})"
            + s[m.end():]
        )


def _rewrite_cast_paren_types(s: str) -> str:
    pos = 0
    while True:
        m = _CAST_PAREN_T.search(s, pos)
        if not m:
            return s
        j = close_bracket(s, m.end() - 1)
        if j == -1:
            return s
        typ = s[m.start(2) : j + 1]
        conv = _rewrite_ddl_nested_types(_strip_nullable_wrappers(typ))
        s = s[: m.start(2)] + conv + s[j + 1 :]
        pos = m.start(2) + len(conv)
    return s


_LIKE_QUANT = re.compile(
    r"\b(NOT\s+)?(I?LIKE)\s+(ANY|ALL)\s*\(([^()]*)\)"
    r"(?:\s+ESCAPE\s+(\x00\d+\x00))?",
    re.I,
)
_LIKE_ESC = re.compile(
    r"\b(NOT\s+)?(I?LIKE)\s+(\x00\d+\x00)\s+ESCAPE\s+(\x00\d+\x00)", re.I
)


def _resolve_lit(tok: str, literals: list[str] | None) -> str | None:
    m = re.fullmatch("\x00(\\d+)\x00", tok.strip())
    if m and literals and int(m.group(1)) < len(literals):
        return literals[int(m.group(1))]
    return None


def _fold_ilike_pattern(p_tok, e_tok, literals):
    """Lowercase a LIKE pattern literal, rewriting its escape sequences
    onto a collision-free escape char. None when either isn't a
    literal."""
    p_lit = _resolve_lit(p_tok, literals)
    e_lit = _resolve_lit(e_tok, literals)
    if p_lit is None or e_lit is None or len(e_lit) < 3:
        return None
    p, e = p_lit[1:-1], e_lit[1:-1]
    safe = next(
        (c for c in "!~^@#|" if c not in p.lower() and c != "'"), "\x1f"
    )
    out, i = [], 0
    while i < len(p):
        c = p[i]
        if c == e and i + 1 < len(p):
            out.append(safe + p[i + 1].lower())
            i += 2
            continue
        lc = c.lower()
        out.append(safe + lc if lc == safe else lc)
        i += 1
    return "'" + "".join(out) + "'", f"'{safe}'"


def _sql_lit_value(raw: str) -> str:
    """Interpret the text between a literal's quotes the way Spark's
    parser will (backslash escapes on, '' doubling)."""
    out, i = [], 0
    while i < len(raw):
        c = raw[i]
        if c == "\\" and i + 1 < len(raw):
            n = raw[i + 1]
            out.append({"n": "\n", "t": "\t", "r": "\r", "b": "\b", "0": "\0"}.get(n, n))
            i += 2
            continue
        if c == "'" and i + 1 < len(raw) and raw[i + 1] == "'":
            out.append("'")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _sql_lit_text(value: str) -> str:
    """Re-emit a string value as a Spark single-quoted literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _fold_like_escape_pattern(p_tok, e_tok, literals):
    """Rewrite a LIKE pattern with a custom escape char onto the default
    backslash escape (Spark's like() rejects the escape char preceding
    anything but %, _ or itself — e.g. '!\\' for a literal backslash).
    Returns the new pattern literal text, or None when not foldable."""
    p_lit = _resolve_lit(p_tok, literals)
    e_lit = _resolve_lit(e_tok, literals)
    if p_lit is None or e_lit is None:
        return None
    p = _sql_lit_value(p_lit[1:-1])
    e = _sql_lit_value(e_lit[1:-1])
    if len(e) != 1 or e == "\\":
        return None

    def lit_ch(c: str) -> str:
        return "\\" + c if c in "%_\\" else c

    out, i = [], 0
    while i < len(p):
        c = p[i]
        if c == e and i + 1 < len(p):
            out.append(lit_ch(p[i + 1]))
            i += 2
            continue
        out.append(lit_ch(c) if c == "\\" else c)
        i += 1
    return _sql_lit_text("".join(out))


def _rewrite_unpivot_labels(s: str, literals: list[str] | None) -> str:
    """UNPIVOT IN-list labels: Databend allows ``col AS 'Label'``,
    ``col 'Label'`` and numeric labels; Spark wants identifier aliases —
    backtick them (inside the UNPIVOT IN(…) span only; a bare
    ``DATE '…'`` elsewhere must not be touched)."""
    for um in list(re.finditer(r"\bUNPIVOT\s*\(", s, re.I))[::-1]:
        j = close_bracket(s, um.end() - 1)
        if j == -1:
            j = len(s)
        body = s[um.end() : j]
        im = re.search(r"\bIN\s*\(", body, re.I)
        if not im:
            continue
        k = close_bracket(body, im.end() - 1)
        if k == -1:
            k = len(body)
        inner = body[im.end() : k]

        def fix_item(item: str) -> str:
            m = re.match(
                r"^\s*([\w`]+)(?:\s+(?:AS\s+)?(\x00\d+\x00|\d+|[\w`]+))?"
                r"\s*$",
                item,
                re.I,
            )
            if not m or not m.group(2):
                return item
            lab = m.group(2)
            lit = _resolve_lit(lab, literals)
            if lit is not None:
                lab = lit[1:-1]
            else:
                lab = lab.strip("`")
            return f"{m.group(1)} AS `{lab}`"

        new_inner = ", ".join(fix_item(x) for x in inner.split(","))
        new_body = body[: im.end()] + new_inner + body[k:]
        s = s[: um.end()] + new_body + s[j:]
    return s


def _rewrite_like_escape(s: str, literals: list[str] | None = None) -> str:
    """``x [NOT] [I]LIKE ANY/ALL (p, …) [ESCAPE e]`` and
    ``x [I]LIKE p ESCAPE e`` → Spark's ``like()/ilike()`` function form
    (the only Spark spelling that takes an escape char; ILIKE ANY has no
    native form at all). Runs on masked text."""

    def expand(m: re.Match, pats: list[str], esc: str | None, quant: str):
        start = _scan_operand_back(s, _skip_ws_back(s, m.start() - 1))
        if start is None:
            return None
        recv = s[start : m.start()].strip()
        if not recv:
            return None
        fn = m.group(2).lower()
        neg = bool(m.group(1))
        if fn == "ilike" and esc:
            # Spark's ilike() lowercases the pattern but not the escape
            # char — pre-fold literal patterns to lowercase with a
            # collision-free escape and go through like()
            terms = []
            for p in pats:
                folded = _fold_ilike_pattern(p.strip(), esc, literals)
                if folded is None:
                    terms.append(f"like(lower({recv}), lower({p.strip()}), {esc})")
                else:
                    fp, fe = folded
                    terms.append(f"like(lower({recv}), {fp}, {fe})")
        else:
            ea = f", {esc}" if esc else ""
            terms = []
            for p in pats:
                folded = (
                    _fold_like_escape_pattern(p.strip(), esc, literals)
                    if fn == "like"
                    and esc
                    and not re.match(r"\s*(try_)?parse_json\s*\(", recv, re.I)
                    else None
                )
                if folded is not None:
                    terms.append(f"{fn}({recv}, {folded})")
                else:
                    terms.append(f"{fn}({recv}, {p.strip()}{ea})")
        joiner = " OR " if quant.upper() == "ANY" else " AND "
        body = "(" + joiner.join(terms) + ")"
        if neg:
            body = f"(NOT {body})"
        return start, body

    def _skip_ws_back(t: str, k: int) -> int:
        while k >= 0 and t[k] in " \t\n":
            k -= 1
        return k

    while True:
        m = _LIKE_QUANT.search(s)
        if not m:
            break
        r = expand(m, m.group(4).split(","), m.group(5), m.group(3))
        if r is None:
            break
        start, body = r
        s = s[:start] + body + s[m.end() :]
    while True:
        m = _LIKE_ESC.search(s)
        if not m:
            break
        r = expand(m, [m.group(3)], m.group(4), "ANY")
        if r is None:
            break
        start, body = r
        s = s[:start] + body + s[m.end() :]
    return s


_VARIANT_RECV = re.compile(
    r"(^\s*(try_)?parse_json\s*\(|^\s*__variant_access\s*\(|"
    r"::\s*(json|variant)\s*$)",
    re.I,
)
# --- jsonb extended types (binary/date/timestamp/timestamp_tz/interval)
# The reference's variant encoding carries these natively (jsonb ext
# headers; src/query/functions/src/scalars/variant.rs as_binary/as_date/
# …, is_binary/…). Our variant model is JSON text, so the typed payload
# cannot ride inside the value — instead the constructor is resolved
# STATICALLY: `to_date(x)::variant` renders as the JSON string the
# reference displays, and as_/is_/to_ wrappers over such a cast unwrap
# to the inner typed expression.
_EXT_CONSTRUCTORS = {
    "to_binary": "binary",
    "try_to_binary": "binary",
    "to_date": "date",
    "try_to_date": "date",
    "to_timestamp": "timestamp",
    "try_to_timestamp": "timestamp",
    "to_timestamp_tz": "timestamp_tz",
    "to_interval": "interval",
}
_EXT_WRAP = re.compile(
    r"\b(as|is|to|try_to)_(binary|date|timestamp|timestamp_tz|interval)"
    r"\s*\(\s*((?:to_binary|to_date|to_timestamp|to_timestamp_tz"
    r"|to_interval|try_to_binary|try_to_date|try_to_timestamp)\s*\()",
    re.I,
)
_EXT_VCAST = re.compile(
    r"\b(to_binary|to_date|to_timestamp|to_timestamp_tz|to_interval"
    r"|try_to_binary|try_to_date|try_to_timestamp)\s*\(",
    re.I,
)
_EXT_UNQUOTE = re.compile(
    r"\b(to_binary|to_date|to_timestamp|to_timestamp_tz|to_interval"
    r"|as_binary|as_date|as_timestamp|as_timestamp_tz|as_interval)"
    r"\s*\(\s*(parse_json\s*\()",
    re.I,
)


_TSTZ_RECV = (
    r"(?:\x00\d+\x00)|'[^']*'"
    r"|[A-Za-z_]\w*\s*\((?:[^()]|\([^()]*\))*\)"  # fn call receiver
    r"|[\w.`]+|\([^()]*\)"
)
_TSTZ_CAST = re.compile(
    rf"({_TSTZ_RECV})\s*::\s*timestamp_tz\b",
    re.I,
)
_TSTZ_CMP = re.compile(
    rf"({_TSTZ_RECV})\s*::\s*timestamp_tz"
    r"\s*(=|<>|!=|<=|>=|<|>)\s*"
    rf"({_TSTZ_RECV})\s*::\s*timestamp_tz\b",
    re.I,
)


_TSTZ_ARITH = re.compile(
    r"TIMESTAMP_TZ\s*'([^']*)'\s*([+-])\s*"
    r"(?:to_interval\s*\(\s*'([^']*)'\s*\)|interval\s*'([^']*)')",
    re.I,
)
_TSTZ_ARITH_REV = re.compile(
    r"(?:to_interval\s*\(\s*'([^']*)'\s*\)|interval\s*'([^']*)')\s*\+\s*"
    r"TIMESTAMP_TZ\s*'([^']*)'",
    re.I,
)


def _rewrite_variant_ext(s: str) -> str:
    """Resolve extended-type variant composites (see _EXT_CONSTRUCTORS)."""
    # 0a. TIMESTAMP_TZ 'lit' ± INTERVAL — the instant moves, the written
    #     offset stays (reference timestamp_tz arithmetic)
    s = _TSTZ_ARITH.sub(
        lambda m: (
            f"__ts_tz_add('{m.group(1)}', "
            f"'{m.group(3) or m.group(4)}', "
            f"{'1' if m.group(2) == '+' else '-1'}, current_timezone())"
        ),
        s,
    )
    s = _TSTZ_ARITH_REV.sub(
        lambda m: (
            f"__ts_tz_add('{m.group(3)}', "
            f"'{m.group(1) or m.group(2)}', 1, current_timezone())"
        ),
        s,
    )
    # 0. TIMESTAMP_TZ casts: comparisons go through the instant
    #    (epoch micros — equal instants at different offsets are equal,
    #    reference timestamp_tz comparison); remaining casts render the
    #    canonical display text with the ORIGINAL offset preserved
    def _tstz_recv(r: str) -> str:
        # variant receivers unquote their JSON text first; a JSON null
        # becomes SQL NULL
        if re.match(r"^\s*(?:try_)?(?:parse_json|to_variant)\s*\(", r, re.I):
            return (
                f"NULLIF(__variant_access(CAST({r} AS STRING), '', '',"
                " true), 'null')"
            )
        return f"CAST({r} AS STRING)"

    out = _TSTZ_CMP.sub(
        lambda m: (
            f"__ts_tz_us({_tstz_recv(m.group(1))}, current_timezone())"
            f" {m.group(2)} "
            f"__ts_tz_us({_tstz_recv(m.group(3))}, current_timezone())"
        ),
        s,
    )
    _tstz_fn = (
        "__ts_tz_text_auto" if current_options().dt_auto else "__ts_tz_text"
    )
    out = _TSTZ_CAST.sub(
        lambda m: (
            f"{_tstz_fn}({_tstz_recv(m.group(1))},"
            " current_timezone())"
        ),
        out,
    )
    # 1. as_X(to_Y(..)::variant) / is_X(..) / to_X(..): unwrap or fold
    search_from = 0
    while True:
        m = _EXT_WRAP.search(out, search_from)
        if not m:
            break
        verb = m.group(1).lower()
        want = m.group(2).lower()
        outer_open = out.index("(", m.start() + len(m.group(1)) + 1 + len(m.group(2)))
        outer_end = close_bracket(out, outer_open) + 1
        inner_open = m.start(3) + len(m.group(3)) - 1
        inner_end = close_bracket(out, inner_open) + 1
        if outer_end == 0 or inner_end == 0:
            break
        inner_fn = m.group(3)[:-1].strip().lower()
        inner = out[m.start(3) : inner_end]
        between = out[inner_end : outer_end - 1].strip()
        if not re.fullmatch(r"::\s*(variant|json)", between, re.I):
            # not a variant-cast composite (e.g. to_date(to_date(x))) —
            # leave for the normal alias layer, keep scanning after it
            search_from = m.start() + 1
            continue
        got = _EXT_CONSTRUCTORS[inner_fn]
        if verb == "is":
            repl = f"(({inner}) IS NOT NULL)" if got == want else "false"
        elif got == want:
            repl = inner
        else:
            repl = "NULL"
        out = out[: m.start()] + repl + out[outer_end:]
        search_from = 0
    # 2. remaining to_X(..)::variant displays as the reference's JSON
    #    string form
    res = []
    pos = 0
    while True:
        m = _EXT_VCAST.search(out, pos)
        if not m:
            res.append(out[pos:])
            break
        end = close_bracket(out, m.end() - 1) + 1
        if end == 0:
            res.append(out[pos : m.end()])
            pos = m.end()
            continue
        tail = re.match(r"\s*::\s*(variant|json)\b", out[end:], re.I)
        if not tail:
            res.append(out[pos:end])
            pos = end
            continue
        expr = out[m.start() : end]
        kind = _EXT_CONSTRUCTORS[m.group(1).lower()]
        if kind == "binary":
            disp = f"lower(hex({expr}))"
        elif kind == "date":
            disp = f"CAST({expr} AS STRING)"
        elif kind == "timestamp":
            disp = f"date_format({expr}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        else:  # timestamp_tz / interval constructors already yield text
            disp = f"CAST({expr} AS STRING)"
        res.append(out[pos : m.start()])
        res.append(f"concat('\"', {disp}, '\"')")
        pos = end + tail.end()
    out = "".join(res)
    # 3. to_X(parse_json(..)) — take the variant's string content; the
    #    tz/interval constructors go straight to their text UDFs (the
    #    macro layer's literal-offset routing can't see through the
    #    unquote wrapper)
    for _pass in range(8):
        m = _EXT_UNQUOTE.search(out)
        if not m:
            break
        pj_open = m.start(2) + len(m.group(2)) - 1
        pj_end = close_bracket(out, pj_open) + 1
        if pj_end == 0:
            break
        pj = out[m.start(2) : pj_end]
        unq = f"__variant_access(CAST({pj} AS STRING), '', '', true)"
        fn = m.group(1).lower()
        if fn.endswith("timestamp_tz"):
            repl = f"__ts_tz_text({unq}, current_timezone())"
        elif fn.endswith("interval"):
            repl = f"__interval_text({unq})"
        else:
            repl = f"{fn}({unq})"
        out = out[: m.start()] + repl + out[pj_end:]
        # consume the original call's closing paren
        close = re.match(r"\s*\)", out[m.start() + len(repl) :])
        if close:
            out = (
                out[: m.start() + len(repl)]
                + out[m.start() + len(repl) + close.end() :]
            )
    return out


def _rewrite_int64_temporal(s: str) -> str:
    """to_int64/to_uint64 over TIMESTAMP → epoch micros, over DATE →
    day number (reference datetime.rs: number casts of temporals use
    the storage integer). Statement-local: aliases declared by a
    ``::TIMESTAMP x`` / ``::DATE x`` cast in the same query are the
    reliable static signal; table columns hit the error-retry instead."""
    kinds: dict[str, str] = {}
    for m in re.finditer(
        r"::\s*(TIMESTAMP|DATE)\s+(?:AS\s+)?([A-Za-z_]\w*)", s, re.I
    ):
        if m.group(2).upper() not in ("FROM", "WHERE", "AS", "AND", "OR"):
            kinds[m.group(2).lower()] = m.group(1).upper()

    def repl(m: re.Match) -> str:
        name = m.group(2)
        kind = kinds.get(name.lower())
        if kind == "TIMESTAMP":
            return f"unix_micros({name})"
        if kind == "DATE":
            return f"unix_date({name})"
        return m.group(0)

    return re.sub(
        r"\bto_u?int64\s*\(\s*([`]?)(\w+)\1\s*\)", lambda m: repl(m), s, flags=re.I
    )


_VARIANT_CAST_TAIL = re.compile(r"::\s*(json|variant)\s*$", re.I)


def _strip_variant_cast(recv: str) -> str:
    """Our variant model is JSON-as-string — a trailing ``::json`` /
    ``::variant`` cast is the identity; drop it before CAST-to-STRING."""
    return _VARIANT_CAST_TAIL.sub("", recv)


def _rewrite_variant_subscripts(s: str) -> str:
    """``parse_json(..)[0]``, ``v::json['k']`` and chains → JSONB access
    (reference scalars/variant.rs get; 0-based array index, exact-case
    key — unlike Spark's 1-based element_at)."""
    pos = 0
    while True:
        i = s.find("[", pos)
        if i < 0:
            return s
        j = s.find("]", i)
        if j < 0:
            return s
        inner = s[i + 1 : j].strip()
        if not re.fullmatch(r"\x00\d+\x00|-?\d+", inner):
            pos = i + 1
            continue
        k = i - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        if k < 0 or s[k] not in ")]" and s[k] not in _OPERAND_CHARS:
            pos = i + 1
            continue
        start = _scan_operand_back(s, k)
        if start is None:
            pos = i + 1
            continue
        # a `::` cast chain is part of the receiver (lit::json['k'])
        while start >= 2 and s[start - 2 : start] == "::":
            prev = _scan_operand_back(s, start - 3)
            if prev is None:
                break
            start = prev
        recv = s[start : i].strip()
        if not recv or not _VARIANT_RECV.search(recv):
            pos = i + 1
            continue
        recv = _strip_variant_cast(recv)
        # an explicit ::STRING cast right after the subscript means
        # string semantics — unquote (reference variant.rs as_string)
        # and fold the cast into the accessor's text mode
        cm = re.match(
            r"\s*::\s*(?:STRING|VARCHAR|TEXT)\b", s[j + 1 :], re.I
        )
        repl = (
            f"__variant_access(CAST(({recv}) AS STRING), 'a', "
            f"CAST(({inner}) AS STRING), {'true' if cm else 'false'})"
        )
        end = j + 1 + (cm.end() if cm else 0)
        s = s[:start] + repl + s[end:]
        pos = start
    return s


def _rewrite_asof_outer(s, m, kind, rel, alias, i, on):
    """ASOF RIGHT/FULL JOIN (reference plans/join.rs:74-75; RightAsof is
    bound as LeftAsof with sides swapped, join.rs:93).

    Spark-first shape: augment the probe with its picked build key via a
    correlated scalar aggregate (Catalyst decorrelates it to a windowed
    join, same as the inner/left path), then a plain RIGHT/FULL
    equi-join on ``build_key = __pick AND eqs``:

      * matched pairs reproduce the inner asof result;
      * RIGHT adds build rows picked by no probe, NULL-padded;
      * FULL additionally keeps probe rows with no pick.

    Limitation: duplicate build rows on the same (eqs, key) would each
    join the probes that picked that key (one arbitrary winner in the
    reference); asof inputs are keyed in practice."""
    balias_name = (alias or rel).split("(")[0].strip().strip("`").split(".")[-1]
    # --- probe relation = the FROM item immediately before ASOF
    probe = relation_before(s, m.start())
    if probe is None:
        raise UnsupportedSQL(f"ASOF {kind} JOIN: probe relation not found")
    prel, palias, probe_start = probe
    palias = palias or prel.split(".")[-1].strip("`")
    # --- condition: ON <cond>, or USING (k…, t) read as the ON form
    # `p.k = b.k … AND p.t >= b.t`
    um = re.match(r"\s*USING\s*\(([^)]*)\)", s[i:], re.I)
    using = [c.strip().strip("`") for c in um.group(1).split(",")] if um else []
    if using:
        end = i + um.end()
        cond = " AND ".join(
            [f"{palias}.`{c}` = {balias_name}.`{c}`" for c in using[:-1]]
            + [f"{palias}.`{using[-1]}` >= {balias_name}.`{using[-1]}`"]
        )
    elif on:
        end = clause_end(s, i + on.end(), _CLAUSE_END, chars=",;")
        cond = s[i + on.end() : end].strip()
    else:
        raise UnsupportedSQL("ASOF JOIN without ON condition")
    fixed = _and_terms(cond)
    ineqs = [
        t
        for t in fixed
        if re.search(r"(?<![<>!=])(>=|<=|(?<!<)>(?!=)|<(?![=>]))", t)
        and "<>" not in t
        and "!=" not in t
    ]
    if len(ineqs) != 1:
        raise UnsupportedSQL(
            "ASOF JOIN: Missing inequality condition!"
            if not ineqs
            else "ASOF JOIN: multiple inequality conditions"
        )
    ineq = ineqs[0]
    eq_terms = [t for t in fixed if t != ineq]
    im = _INEQ.match(ineq)
    lhs, op, rhs = im.group(1).strip(), im.group(2), im.group(3).strip()
    build_on_left = bool(re.search(rf"\b{re.escape(balias_name)}\s*\.", lhs))
    bkey = lhs if build_on_left else rhs
    pick_min = (build_on_left and op in (">=", ">")) or (
        not build_on_left and op in ("<=", "<")
    )
    aggfn = "min" if pick_min else "max"
    aug = (
        f"(SELECT {palias}.*, (SELECT {aggfn}({bkey}) FROM {rel}"
        f"{' ' + alias if alias else ''} WHERE {cond}) AS __pick "
        f"FROM {prel} {palias}) {palias}"
    )
    join_terms = [f"{bkey} = {palias}.__pick"] + eq_terms
    repl = (
        f" {aug} {kind} JOIN {rel}{' ' + alias if alias else ''} "
        f"ON ({' AND '.join(join_terms)}) "
    )
    return _except_pick(
        s[:probe_start] + repl + s[end:], probe_start, palias, balias_name, using
    )


_FROM_KW = re.compile(r"\bFROM\b")


def _except_pick(
    s: str, at: int, palias: str, balias: str = "", using: list[str] | tuple = ()
) -> str:
    """``*`` and ``palias.*`` items of the SELECT whose FROM clause holds
    ``at`` → ``… EXCEPT (palias.__pick)``: the helper column the outer
    ASOF join adds to its probe stays out of the result. With ``using``
    columns, ``*`` returns each of them once, first, with the build
    row's value where there is one (the probe's otherwise)."""
    toks = tokens(s, 0, at)
    level = toks[-1].depth if toks else 0
    sel = next(
        (
            t
            for t in reversed(toks)
            if t.depth < level or (t.depth == level and t.text.upper() == "SELECT")
        ),
        None,
    )
    if sel is None or sel.depth < level:
        return s
    end = clause_end(s, sel.end, _FROM_KW)
    items = []
    for it in split_top(s[sel.end : end]):
        sm = re.fullmatch(
            rf"(\s*(?:DISTINCT\s+)?)(\*|{re.escape(palias)}\.\*)(\s*)", it, re.I
        )
        if sm and using and sm.group(2) == "*":
            merged = "".join(
                f"coalesce({balias}.`{c}`, {palias}.`{c}`) AS `{c}`, " for c in using
            )
            dropped = "".join(f", {a}.`{c}`" for a in (palias, balias) for c in using)
            it = f"{sm.group(1)}{merged}* EXCEPT ({palias}.__pick{dropped}){sm.group(3)}"
        elif sm:
            it = f"{sm.group(1)}{sm.group(2)} EXCEPT ({palias}.__pick){sm.group(3)}"
        items.append(it)
    return s[: sel.end] + ",".join(items) + s[end:]


def _fmt_matches(value: str, fmt: str) -> bool:
    """Oracle-style numeric format check (9=optional digit, 0=required,
    G=group separator, D=decimal point, S=sign)."""
    v = value.strip()
    f = fmt.strip().upper()
    if f.startswith("S"):
        f = f[1:]
        if v[:1] in "+-":
            v = v[1:]
    elif v[:1] in "+-":
        v = v[1:]
    fi, _, ff = f.partition("D")
    vi, dot, vf = v.partition(".")
    if dot and "D" not in f:
        return False
    # fractional: left-aligned
    fr = ff
    for ch in vf:
        if not fr or fr[0] not in "90" or not ch.isdigit():
            return False
        fr = fr[1:]
    if any(c == "0" for c in fr):
        return False
    # integer: right-aligned
    fi_r, vi_r = fi[::-1], vi[::-1]
    k = 0
    for fc in fi_r:
        if fc == "G":
            if k < len(vi_r) and vi_r[k] == ",":
                k += 1
            continue
        if fc in "90":
            if k < len(vi_r):
                if not vi_r[k].isdigit():
                    return False
                k += 1
            elif fc == "0":
                return False
        else:
            return False
    return k == len(vi_r)


def _rewrite_to_decimal(sql: str) -> str:
    """Snowflake-style TO_DECIMAL/TO_NUMBER/TO_NUMERIC and TRY_ variants
    (str[, fmt][, precision[, scale]]) — format-validate literals, strip
    group separators, cast with rounding; default (38, 0). The curried
    Databend form to_decimal(p, s)(expr) is left alone."""
    rx = re.compile(r"\b(TRY_)?TO_(?:DECIMAL|NUMBER|NUMERIC)\s*\(", re.I)
    out, i, n = [], 0, len(sql)
    while i < n:
        m = rx.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        is_try = bool(m.group(1))
        j = close_bracket(sql, m.end() - 1)
        if j == -1:
            j = n
        inner = sql[m.end() : j]
        after = sql[j + 1 :].lstrip()
        if after.startswith("(") and not inner.lstrip().startswith("'"):
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        args = split_top(inner)
        if args[-1] == "":
            args.pop()
        args = [a.strip() for a in args]
        expr = args[0] if args else "NULL"
        fmt = ""
        p_, s_ = "38", "0"
        rest = args[1:]
        if rest and rest[0].startswith("'"):
            fmt = rest[0][1:-1]
            rest = rest[1:]
        if len(rest) >= 1:
            p_ = rest[0]
        if len(rest) >= 2:
            s_ = rest[1]
        bad = None
        if fmt and "PR" in fmt.upper():
            bad = "format element PR is not supported"
        lit = re.fullmatch(r"'([^']*)'", expr)
        if bad is None and fmt and lit and not _fmt_matches(lit.group(1), fmt):
            bad = (
                f"value {lit.group(1)!r} does not match format {fmt!r}"
            )
        out.append(sql[i : m.start()])
        if bad is not None:
            if is_try:
                out.append(f"CAST(NULL AS DECIMAL({p_},{s_}))")
            else:
                raise ValueError(f"[1006] to_decimal: {bad}")
        else:
            clean = f"replace(CAST({expr} AS STRING), ',', '')"
            cast_kw = "TRY_CAST" if is_try else "CAST"
            out.append(f"{cast_kw}({clean} AS DECIMAL({p_},{s_}))")
        i = j + 1
    return "".join(out)


def _rewrite_from_parts(sql: str) -> str:
    """timestamp_from_parts / timestamp_tz_from_parts (reference
    scalars/datetime.rs) -> make_timestamp_ntz / make_timestamp."""

    def repl(m):
        fn = m.group(1).lower()
        args = [a.strip() for a in split_top(m.group(2))]
        tz = None
        if fn == "timestamp_tz_from_parts" and args and args[-1].lstrip(
        ).startswith("'"):
            tz = args.pop()
        y, mo, d, h, mi, sec = args[:6]
        if len(args) >= 7:
            sec = f"({sec}) + ({args[6]}) / 1000000000.0"
        if tz is not None:
            return (
                f"make_timestamp({y}, {mo}, {d}, {h}, {mi}, {sec}, {tz})"
            )
        return f"make_timestamp_ntz({y}, {mo}, {d}, {h}, {mi}, {sec})"

    return re.sub(
        r"\b(timestamp_from_parts|timestamp_tz_from_parts)\s*"
        r"\(((?:[^()']|'[^']*'|\([^()]*\))*)\)",
        repl,
        sql,
        flags=re.I,
    )


def rewrite_databend_sql(sql: str, opts: RewriteOptions = DEFAULT) -> str:
    """Rewrite the Databend-only constructs we support; raise a clear
    error on the ones we don't (never silently mis-parse). ``opts`` is
    visible to the function macros for this call only."""
    token = _CURRENT.set(opts)
    try:
        return _rewrite(sql)
    finally:
        _CURRENT.reset(token)


def _rewrite(sql: str) -> str:
    if re.search(r"\b(timestamp|timestamp_tz)_from_parts\s*\(", sql, re.I):
        sql = _rewrite_from_parts(sql)
    if re.search(
        r"\b(TRY_)?TO_(DECIMAL|NUMBER|NUMERIC)\s*\(\s*'", sql, re.I
    ):
        sql = _rewrite_to_decimal(sql)
    # CREATE TEMP TABLE — session-scoped in the reference; the harness's
    # per-file database already gives that scope, so it is a plain table
    sql = re.sub(
        r"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?)TEMP(?:ORARY)?\s+TABLE\b",
        r"\1TABLE",
        sql,
        flags=re.I,
    )
    # dollar-quoted strings $$…$$ → standard literals (pre-masking)
    if "$$" in sql:
        sql = re.sub(
            r"\$\$(.*?)\$\$",
            lambda m: "'" + m.group(1).replace("'", "''") + "'",
            sql,
            flags=re.S,
        )
    # zero dates parse to the epoch in the reference (pre-masking)
    if "0000-00-00" in sql:
        sql = re.sub(
            r"'0000-00-00[^']*'\s*::\s*DATE\b|DATE\s*'0000-00-00[^']*'",
            "DATE'1970-01-01'",
            sql,
            flags=re.I,
        )
        sql = re.sub(
            r"'0000-00-00([^']*)'\s*::\s*TIMESTAMP\b"
            r"|TIMESTAMP\s*'0000-00-00([^']*)'",
            lambda m: "TIMESTAMP'1970-01-01"
            + ((m.group(1) or m.group(2) or "").strip() and
               " " + (m.group(1) or m.group(2) or "").strip()
               or " 00:00:00")
            + "'",
            sql,
            flags=re.I,
        )
    # jsonb extended-type composites + TIMESTAMP_TZ arithmetic must
    # resolve BEFORE the bare TIMESTAMP_TZ literal rendering below and
    # before the interval literal fold rewrites to_interval(..) away
    if re.search(
        r"\b(?:as|is|to|try_to)_(?:binary|date|timestamp|timestamp_tz"
        r"|interval)\s*\(\s*(?:to_|try_to_|parse_json)"
        r"|to_(?:binary|date|timestamp|timestamp_tz|interval)"
        r"\s*\([^()]*\)\s*::\s*(?:variant|json)\b"
        r"|::\s*timestamp_tz\b"
        r"|TIMESTAMP_TZ\s*'[^']*'\s*[+-]"
        r"|\bto_interval\s*\(|\binterval\s*'[^']*'\s*\+\s*TIMESTAMP_TZ",
        sql,
        re.I,
    ):
        sql = _rewrite_variant_ext(sql)
    # bare TIMESTAMP_TZ literals render as canonical text with the
    # WRITTEN offset preserved (offset-less input binds the session tz)
    sql = re.sub(
        r"\btimestamp_tz\s*'([^']*)'",
        r"__ts_tz_text('\1', current_timezone())",
        sql,
        flags=re.I,
    )
    # partial timestamp literals inside parse calls zero-pad in the
    # reference ('2024-01-02T', '… 22:', '… 21:59:') — runs pre-masking
    def _pad_partial_ts(m):
        fn, d, t = m.group(1), m.group(2), (m.group(3) or "")
        parts = [p for p in t.strip().split(":") if p != ""]
        while len(parts) < 3:
            parts.append("00")
        hh, mi, ss = (p.zfill(2) for p in parts[:3])
        return f"{fn}('{d} {hh}:{mi}:{ss}'"

    sql = re.sub(
        r"\b(to_datetime|to_timestamp|try_to_datetime|try_to_timestamp)"
        r"\s*\(\s*'(\d{4}-\d{2}-\d{2})"
        r"(?:[T ]((?:\d{1,2}:){0,2})|T)'",
        _pad_partial_ts,
        sql,
        flags=re.I,
    )
    # window-frame interval bounds must stay native Spark intervals —
    # normalize `INTERVAL '7 day' PRECEDING` to `INTERVAL '7' DAY` form
    # BEFORE the generic interval folding turns them into strings
    sql = re.sub(
        r"\bINTERVAL\s+'(\d+)\s*(year|quarter|month|week|day|hour|minute"
        r"|second)s?'\s+(PRECEDING|FOLLOWING)",
        r"INTERVAL '\1' \2 \3",
        sql,
        flags=re.I,
    )
    # `INTERVAL (expr) unit` (non-literal count — Spark only parses
    # INTERVAL literals) → the number→interval constructor
    sql = re.sub(
        r"\bINTERVAL\s+(\((?:[^()]|\([^()]*\))*\))\s+"
        r"(millennium|century|decade|year|quarter|month|week|day|hour"
        r"|minute|second|millisecond|microsecond)s?\b",
        r"__interval_make(CAST(\1 AS BIGINT), '\2')",
        sql,
        flags=re.I,
    )
    # literal interval expressions fold at rewrite time (pre-masking)
    if re.search(
        r"\bto_interval\s*\(|\binterval\s+'|\bto_(millennia|centuries"
        r"|decades|years|quarters|months|weeks|days|hours|minutes"
        r"|seconds|milliseconds|microseconds)\s*\(\s*-?\d",
        sql,
        re.I,
    ):
        from databend_spark.sqlgen.intervals import rewrite_intervals

        sql = rewrite_intervals(sql)
    # Databend format literals (%-codes / Oracle tokens) in temporal
    # format args → Java patterns with quoted literal text (pre-masking)
    sql = _DT_FMT_CALL.sub(_dt_fmt_repl, sql)
    # auto-detected date literal layouts (reference to_date parser
    # accepts yyyy/mm/dd and yyyymmdd besides ISO)
    sql = re.sub(
        r"\bto_date\s*\(\s*'(\d{4})/(\d{1,2})/(\d{1,2})'\s*\)",
        lambda m: "DATE'%s-%02d-%02d'"
        % (m.group(1), int(m.group(2)), int(m.group(3))),
        sql,
        flags=re.I,
    )
    sql = re.sub(
        r"\bto_date\s*\(\s*'(\d{4})(\d{2})(\d{2})'\s*\)",
        r"DATE'\1-\2-\3'",
        sql,
        flags=re.I,
    )
    # to_date over the numbers() column = epoch days (int-typed input)
    sql = re.sub(
        r"\bto_date\s*\(\s*(number)\s*\)",
        r"date_add(DATE'1970-01-01', CAST(\1 AS INT))",
        sql,
        flags=re.I,
    )
    # to_varchar/to_string over a timestamp renders 6-digit micros
    # (reference timestamp Display always pads the fraction)
    sql = re.sub(
        r"\b(?:to_varchar|to_string|to_char)\s*\(\s*"
        r"((?:try_)?to_timestamp\s*\((?:[^()]|\([^()]*\))*\))\s*\)",
        r"date_format(\1, 'yyyy-MM-dd HH:mm:ss.SSSSSS')",
        sql,
        flags=re.I,
    )
    # timestamp ± integer = microsecond arithmetic (reference
    # datetime.rs: Timestamp + Int64 adds micros; Spark would try an
    # ANSI day addition / cast error)
    sql = re.sub(
        r"\b((?:try_)?to_(?:timestamp|datetime)\s*\("
        r"(?:[^()]|\([^()]*\))*\))\s*([+-])\s*(\d+)(?![\w.])",
        r"timestampadd(MICROSECOND, \g<2>\g<3>, \g<1>)",
        sql,
        flags=re.I,
    )
    # strftime %-patterns in temporal format args → Java patterns
    # (runs pre-masking to edit the literal)
    sql = _STRFTIME_FN.sub(_strftime_repl, sql)
    # unit-name string args that must become bare keywords for Spark's
    # timestampdiff (runs pre-masking to see the literal)
    sql = re.sub(
        r"\b(date_between|date_diff|datediff|date_add|date_sub|dateadd"
        r"|datesub)\s*\(\s*'(\w+)'\s*,",
        r"\1(\2,",
        sql,
        flags=re.I,
    )
    # EXTRACT over an INTERVAL value: the time bucket does not roll
    # into days (reference interval.rs extractors) — must run before
    # the generic EXTRACT→function fold below captures EPOCH
    def _iv_extract(m: re.Match) -> str:
        f = m.group(1).lower()
        call = f"__interval_extract('{f}', CAST(({m.group(2)}) AS STRING))"
        if f in ("year", "month", "day", "hour", "minute", "microsecond"):
            return f"CAST({call} AS BIGINT)"
        return call

    sql = re.sub(
        r"\bEXTRACT\s*\(\s*(\w+)\s+FROM\s+"
        r"((?:[^()]|\([^()]*\))*?::\s*INTERVAL"
        r"|to_interval\s*\([^()]*\)"
        r"|age\s*\((?:[^()]|\([^()]*\))*\))\s*\)",
        _iv_extract,
        sql,
        flags=re.I,
    )
    # EXTRACT fields Spark lacks → function-call macros
    sql = re.sub(
        r"\bEXTRACT\s*\(\s*(EPOCH|DOW|ISODOW|YEARWEEK|MILLENNIUM|WEEK)"
        r"\s+FROM\s+((?:[^()]|\([^()]*\))*)\)",
        lambda m: f"{m.group(1).lower()}({m.group(2)})",
        sql,
        flags=re.I,
    )
    sql = re.sub(
        r"\bEXTRACT\s*\(\s*ISOYEAR\s+FROM\s+((?:[^()]|\([^()]*\))*)\)",
        r"to_iso_year(\1)",
        sql,
        flags=re.I,
    )
    # bare unit keyword in date_trunc(month, x) → quoted literal
    sql = re.sub(
        r"\b(date_trunc)\s*\(\s*(year|quarter|month|week|day|hour"
        r"|minute|second)\s*,",
        r"\1('\2',",
        sql,
        flags=re.I,
    )
    # date_part(unit, x) (bare unit ident) → EXTRACT(unit FROM x): the
    # extract path owns the reference's unit dialect (week, dow, epoch…)
    sql = re.sub(
        r"\bdate_part\s*\(\s*(year|quarter|month|week|day|hour|minute"
        r"|second|dow|doy|isodow|epoch|yearweek|millennium)\s*,"
        r"\s*([^()]*(?:\([^()]*\))?[^()]*)\)",
        r"EXTRACT(\1 FROM \2)",
        sql,
        flags=re.I,
    )
    # 3-arg date_add(UNIT, n, ts) (Databend/DuckDB) → Spark timestampadd
    sql = re.sub(
        r"\bdate_add\s*\(\s*(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND)\b",
        r"timestampadd(\1",
        sql,
        flags=re.I,
    )
    # numeric-literal string → int casts accept exponent form in the
    # reference (to_int32('1e1') = 10); Spark rejects — hop through DOUBLE
    # for literals in exponent form (pre-masking; literal-only, so normal
    # string→int cast semantics are untouched)
    _exp = r"'(\s*[+-]?(?:\d+\.?\d*|\.\d+)[eE][+-]?\d+\s*)'"
    _itype = r"(TINYINT|SMALLINT|INTEGER|INT|BIGINT)\b"
    sql = re.sub(
        rf"CAST\s*\(\s*{_exp}\s+AS\s+{_itype}",
        r"CAST(CAST('\1' AS DOUBLE) AS \2",
        sql,
        flags=re.I,
    )
    sql = re.sub(
        rf"{_exp}\s*::\s*{_itype}",
        r"CAST(CAST('\1' AS DOUBLE) AS \2)",
        sql,
        flags=re.I,
    )
    # variant -> scalar postfix casts (reference scalars/variant.rs):
    # quoted strings unquote first, floats ROUND to ints, booleans accept
    # only true/false/null (an int variant -> boolean is an error)
    def _variant_scalar_cast(m: re.Match) -> str:
        src = f"{m.group(1)}({m.group(2)})"
        vu = (
            f"NULLIF(__variant_access(CAST({src} AS STRING), '', '',"
            " true), 'null')"
        )
        tgt = m.group(3).lower()
        if tgt == "boolean":
            return (
                f"(CASE WHEN {vu} IN ('true', 'false') THEN"
                f" CAST({vu} AS BOOLEAN) WHEN {vu} IS"
                f" NULL THEN NULL ELSE CAST(raise_error(concat('unable"
                f" to cast variant ', {vu}, ' to BOOLEAN')) AS BOOLEAN)"
                " END)"
            )
        if tgt in ("float32", "float", "float4"):
            return f"CAST({vu} AS FLOAT)"
        if tgt in ("float64", "double", "float8"):
            return f"CAST({vu} AS DOUBLE)"
        if tgt in ("date",):
            from databend_spark.functions.registry import (
                _try_to_date as _ttd,
            )

            if current_options().dt_auto:
                return _ttd([f"({vu})"])
            return f"CAST({vu} AS DATE)"
        if tgt in ("datetime", "timestamp"):
            from databend_spark.functions.registry import (
                _try_to_timestamp_auto as _tta,
            )

            if current_options().dt_auto:
                return _tta(f"({vu})")
            return f"CAST({vu} AS TIMESTAMP)"
        spark_t = {
            "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT",
            "int64": "BIGINT", "int": "INT", "integer": "INT",
            "tinyint": "TINYINT", "smallint": "SMALLINT",
            "bigint": "BIGINT", "uint8": "SMALLINT", "uint16": "INT",
            "uint32": "BIGINT", "uint64": "DECIMAL(20,0)",
        }.get(tgt, "BIGINT")
        return (
            f"(CASE WHEN {vu} rlike '^\\\\s*-?\\\\d+\\\\s*$' THEN"
            f" CAST({vu} AS {spark_t}) ELSE"
            f" CAST(round(CAST({vu} AS DOUBLE)) AS {spark_t}) END)"
        )

    sql = re.sub(
        r"\b((?:try_)?parse_json|to_variant)\s*\("
        r"((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*)\)\s*::\s*"
        r"(u?int\d*|tinyint|smallint|integer|bigint|boolean"
        r"|float\d*|double|date|datetime|timestamp(?!_tz))\b",
        _variant_scalar_cast,
        sql,
        flags=re.I,
    )
    # variant -> Array(Variant)/Map(...) casts keep the JSON text: the
    # display is the same json and casting back to variant is identity
    # (02_0002_function_cast.test:592-606)
    sql = re.sub(
        r"([\w.`]+)\s*::\s*Array\s*\(\s*Variant\s*\)",
        r"\1",
        sql,
        flags=re.I,
    )
    sql = re.sub(
        r"([\w.`]+)\s*::\s*Map\s*\(\s*String\s*,\s*\w+\s*\)",
        r"\1",
        sql,
        flags=re.I,
    )
    # a malformed json literal cast to VARIANT is a bind-time error in
    # the reference
    for _mv in re.finditer(
        r"'((?:[^']|'')*)'\s*::\s*(?:variant|json)\b", sql, re.I
    ):
        _txt = _mv.group(1).replace("''", "'")
        try:
            json.loads(_txt)
        except Exception:  # noqa: BLE001
            sql = (
                sql[: _mv.start()]
                + "CAST(raise_error('unable to parse json: "
                + _txt.replace("'", "''")
                + "') AS STRING)"
                + sql[_mv.end():]
            )
            break
    # DATE - DATE is an INT day count in the reference
    if _DATE_MINUS.search(sql):
        sql = rewrite_date_minus(sql, dates_only=True)
    masked, literals = mask(sql)
    # line comments (safe post-masking; `--` can't appear in a literal)
    masked = re.sub(r"--[^\n]*", "", masked)
    masked = masked.rstrip()
    while masked.endswith(";"):
        masked = masked[:-1].rstrip()
    # ClickHouse-style Nullable(T) wrapper — Spark types are nullable
    for _ in range(3):
        new = re.sub(r"\bNullable\s*\(([^()]*)\)", r"\1", masked, flags=re.I)
        if new == masked:
            break
        masked = new
    # Snowflake/Databend `* EXCLUDE(a, b)` / `* EXCLUDE a` → Spark's
    # `* EXCEPT(a, b)` star modifier
    if re.search(r"\*\s*EXCLUDE\b", masked, re.I):
        masked = re.sub(
            r"\*\s*EXCLUDE\s*\(([^()]*)\)", r"* EXCEPT(\1)", masked, flags=re.I
        )
        masked = re.sub(
            r"\*\s*EXCLUDE\s+([A-Za-z_]\w*)", r"* EXCEPT(\1)", masked, flags=re.I
        )
    # a scalar cast straight off parse_json unquotes (variant→scalar
    # cast semantics, reference scalars/variant.rs as_* casts)
    masked = re.sub(
        r"((?:try_)?parse_json\s*\((?:[^()]|\([^()]*\))*\))\s*::\s*"
        r"(BOOLEAN|TINYINT|SMALLINT|INTEGER|INT|BIGINT|FLOAT|DOUBLE"
        r"|DATE|TIMESTAMP)\b",
        r"__variant_access((\1), '', '', true)::\2",
        masked,
        flags=re.I,
    )
    # `CASE WHEN NULL THEN …` — Spark rejects a VOID condition
    masked = re.sub(
        r"\bWHEN\s+NULL\s+THEN\b",
        "WHEN CAST(NULL AS BOOLEAN) THEN",
        masked,
        flags=re.I,
    )
    # `x = NOT <bool>` parses in Databend/DuckDB, not Spark; the operand
    # may be a literal, masked string, or either with a `::type` cast
    masked = re.sub(
        r"(=|!=|<>)\s*NOT\s+"
        r"((?:TRUE|FALSE|NULL|\x00\d+\x00|[\w.]+)(?:\s*::\s*\w+)?)",
        r"\1 (NOT \2)",
        masked,
        flags=re.I,
    )
    # bare `SELECT *` with no FROM is an error in the reference (1065)
    if re.match(r"^\s*SELECT\s+\*\s*;?\s*$", masked, re.I):
        raise UnsupportedSQL("SELECT * with no FROM clause")
    for pat, msg in _UNSUPPORTED:
        if pat.search(masked):
            raise UnsupportedSQL(f"unsupported Databend syntax: {msg}")
    # COUNT takes one argument in the reference (COUNT(1, 2) errors);
    # Spark's multi-arg count would silently give different semantics
    if re.search(r"\bcount\s*\(\s*(?!distinct\b)[^()]*,", masked, re.I):
        raise UnsupportedSQL("count() accepts a single argument")
    # NTILE requires a bucket count (Spark silently defaults)
    if re.search(r"\bntile\s*\(\s*\)", masked, re.I):
        raise UnsupportedSQL("ntile() requires a bucket-count argument")
    # DML cast positions with paren type constructors: ``::Array(X)``,
    # ``CAST(x AS Nullable(Array(Int64)))`` — convert the type token via
    # the DDL nested-type rules (Nullable is stripped: Spark types are
    # nullable by default)
    # typeof over a column defined by a UNION of integer literals in the
    # same statement: the reference merges the literals' minimal types
    # and the union makes it nullable ('TINYINT UNSIGNED NULL')
    if re.search(r"\btypeof\s*\(\s*[A-Za-z_]\w*\s*\)", masked, re.I):
        munion = re.findall(
            r"select\s+(-?\d+)\s+(?:as\s+)?([A-Za-z_]\w*)\b", masked, re.I
        )
        if munion:
            by_alias: dict[str, list[str]] = {}
            for lit, alias in munion:
                by_alias.setdefault(alias.lower(), []).append(lit)

            from databend_spark.functions.registry import (
                databend_int_literal_type,
            )

            _rank = [
                "TINYINT UNSIGNED", "TINYINT", "SMALLINT UNSIGNED",
                "SMALLINT", "INT UNSIGNED", "INT", "BIGINT UNSIGNED",
                "BIGINT",
            ]

            def _fold_union_typeof(m: re.Match) -> str:
                alias = m.group(1).lower()
                lits = by_alias.get(alias)
                if not lits or len(lits) < 2:
                    return m.group(0)
                names = [databend_int_literal_type(v) for v in lits]
                if not all(n in _rank for n in names):
                    return m.group(0)
                widest = max(names, key=_rank.index)
                # stash as a masked literal so the type-alias pass
                # can't rewrite the type name inside the string
                literals.append(f"'{widest} NULL'")
                return f"\x00{len(literals) - 1}\x00"

            masked = re.sub(
                r"\btypeof\s*\(\s*([A-Za-z_]\w*)\s*\)",
                _fold_union_typeof,
                masked,
                flags=re.I,
            )
    # typeof over an explicit unsigned-width cast folds to the name
    # BEFORE type aliasing widens UInt64 → DECIMAL(20, 0)
    if re.search(r"\btypeof\s*\(", masked, re.I):
        _unames = {
            "uint8": "TINYINT UNSIGNED", "uint16": "SMALLINT UNSIGNED",
            "uint32": "INT UNSIGNED", "uint64": "BIGINT UNSIGNED",
            "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT",
            "int64": "BIGINT", "unsigned": "INT UNSIGNED",
        }
        masked = re.sub(
            r"\btypeof\s*\(\s*(?:"
            # single-char word alternative — a `[\w.`]+` alternative under
            # the outer *? backtracks exponentially on long typeof() args
            # that contain no `::` (e.g. the decimal suite's literals)
            r"(?:[\w.`]|\((?:[^()]|\([^()]*\))*\))*?::\s*"
            r"(u?int(?:8|16|32|64))"
            r"|CAST\s*\((?:[^()]|\([^()]*\))*\s+AS\s+"
            r"(u?int(?:8|16|32|64)|unsigned)\s*\)"
            r"|to_(u?int(?:8|16|32|64))\s*\((?:[^()]|\([^()]*\))*\)"
            r")\s*\)",
            lambda m: "'"
            + _unames[(m.group(1) or m.group(2) or m.group(3)).lower()]
            + "'",
            masked,
            flags=re.I,
        )
    # variant subscripts on `::json`/`::variant` receivers must resolve
    # BEFORE type aliasing rewrites the cast target to STRING
    if "[" in masked and re.search(
        r"::\s*(json|variant)\s*\[", masked, re.I
    ):
        masked = _rewrite_variant_subscripts(masked)
    # nullability suffixes inside CAST targets (`AS Array(String) Null`)
    masked = re.sub(
        r"(\bAS\s+\w+(?:<[^<>]*>|\([^()]*\))?)\s+(?:NOT\s+)?NULL(\s*\))",
        r"\1\2",
        masked,
        flags=re.I,
    )
    masked = re.sub(
        r"\b(CREATE\s+(?:OR\s+REPLACE\s+)?)TRANSIENT\s+(TABLE\b)",
        r"\1\2",
        masked,
        flags=re.I,
    )
    # stream hidden columns (change$action …) need quoting in Spark
    if "change$" in masked:
        masked = re.sub(
            r"(?<![`\w])change\$(action|is_update|row_id)\b",
            r"`change$\1`",
            masked,
        )
    masked = _rewrite_cast_paren_types(masked)
    # TRY_CAST to an unsigned width must reject negatives (the alias
    # widens to a signed Spark type, losing the range check)
    if re.search(r"\bTRY_CAST\b", masked, re.I):
        _UW = {
            "unsigned": "BIGINT", "uint8": "SMALLINT",
            "uint16": "INT", "uint32": "BIGINT",
            "uint64": "DECIMAL(20,0)",
        }
        masked = re.sub(
            r"\bTRY_CAST\s*\(((?:[^()]|\([^()]*\))*)\s+AS\s+"
            r"(UNSIGNED|UINT8|UINT16|UINT32|UINT64)\s*\)",
            lambda m: (
                f"(CASE WHEN TRY_CAST({m.group(1)} AS DECIMAL(38,0))"
                f" < 0 THEN NULL ELSE TRY_CAST({m.group(1)} AS"
                f" {_UW[m.group(2).lower()]}) END)"
            ),
            masked,
            flags=re.I,
        )
    for pat, repl in _TYPE_ALIASES:
        masked = pat.sub(repl, masked)
    # `expr::INTERVAL` → canonical interval text (reference interval
    # display, types/interval.rs); Spark has no textual interval type
    masked = _rewrite_interval_cast_postfix(masked)
    # postfix casts to decimal256 widths (p>38 or s>37) — Spark's
    # native decimal caps at 38 (reference types/decimal.rs:82 allows
    # p<=76) — evaluate through a Python Decimal UDF that renders the
    # exact fixed-point text and raises on overflow
    masked = _rewrite_wide_decimal_postfix(masked)
    # reference decimals reach precision 76 (decimal256); Spark caps at
    # 38 — clamp the type token, keeping as much scale as the integer
    # digits allow (text output is identical whenever the value fits)
    def _clamp_dec(m):
        p_ = int(m.group(1))
        if p_ > 76:
            # the reference's decimal256 ceiling (types/decimal.rs:82)
            raise ValueError(
                f"[1049] Decimal precision {p_} exceeds the maximum (76)"
            )
        if p_ <= 38:
            return m.group(0)
        return "DECIMAL(38, %d)" % min(int(m.group(2)), 37)

    masked = re.sub(
        r"\bDECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)",
        _clamp_dec,
        masked,
        flags=re.I,
    )
    # Databend positional tuple access `t.1` → Spark struct field `t.`1``
    masked = _TUPLE_FIELD.sub(r"\1.`\2`", masked)
    # numbers(N) table function → range(N) with the reference column name
    # the reference's Float64 → integer CAST rounds (Spark truncates);
    # cover the float-certain cases: ratio window functions and
    # division results inside an integer CAST
    if re.search(r"\bCAST\s*\(", masked, re.I):
        masked = re.sub(
            r"\bCAST\s*\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*?"
            r"(?:cume_dist|percent_rank)(?:[^()]|\((?:[^()]|\([^()]*\))*\))*)"
            r"\s+AS\s+((?:TINY|SMALL|BIG)?INT)\s*\)",
            r"CAST(round(\1) AS \2)",
            masked,
            flags=re.I,
        )
    # markov_train aggregate (reference aggregate_markov_tarin.rs):
    # hash-exact display via a collect + Python UDF
    if re.search(r"\bmarkov_train\s*\(", masked, re.I):
        masked = re.sub(
            r"\bmarkov_train\s*\(([^()]*)\)\s*\(\s*([\w.`]+)\s*\)"
            r"(\s+OVER\s*\((?:[^()]|\([^()]*\))*\))?",
            lambda mm: (
                "__markov_train_display(collect_list("
                + mm.group(2)
                + ")"
                + (mm.group(3) or "")
                + ", "
                + ", ".join(
                    (mm.group(1).split(",") + ["5", "0", "0", "0", "0.0"])[
                        k
                    ].strip()
                    for k in range(5)
                )
                + ")"
            ),
            masked,
            flags=re.I,
        )
        masked = re.sub(
            r"\bmarkov_train\s*\(\s*([\w.`]+)\s*\)(?!\s*\()",
            r"__markov_train_display(collect_list(\1), 5, 0, 0, 0, 0.0)",
            masked,
            flags=re.I,
        )
    # comma-join + explicit JOIN precedence: the reference (MySQL rule)
    # binds explicit JOINs tighter than the comma — Spark folds all
    # left-associatively. Parenthesize comma segments with join chains.
    if re.search(r",[^,()]*\bJOIN\b", masked, re.I):
        def _wrap_comma_joins(mm: re.Match) -> str:
            head, segs = mm.group(1), split_top(mm.group(2))
            if len(segs) < 2:
                return mm.group(0)
            out = []
            for sg in segs:
                bare = re.sub(r"\([^()]*\)", "", sg)
                if re.search(r"\bJOIN\b", bare, re.I) and not re.match(
                    r"\s*\(", sg
                ):
                    out.append(f" ({sg.strip()})")
                else:
                    out.append(sg)
            return head + ",".join(out)

        masked = re.sub(
            r"(\bFROM\s)((?:[^();]|\((?:[^()]|\([^()]*\))*\))+?)"
            r"(?=\s+(?:WHERE|GROUP|ORDER|LIMIT|OFFSET|HAVING|QUALIFY"
            r"|WINDOW|UNION|EXCEPT|INTERSECT)\b|;|$)",
            _wrap_comma_joins,
            masked,
            flags=re.I | re.S,
        )
    # FROM-position generate_series: the reference names the output
    # column `generate_series` (srfs); numeric steps over temporal
    # bounds are MICROSECONDS (timestamp) / DAYS (date) counts
    def _gen_series_tvf(mm: re.Match) -> str:
        parts = split_top(mm.group(2))
        if len(parts) == 3 and re.match(r"\s*-?\d+\s*$", parts[2]):
            low0 = parts[0].lower()
            if "timestamp" in low0 or "now(" in low0:
                # reference step heuristic (srfs/range.rs:71-78):
                # |step|<1e3 → seconds, <1e6 → millis, else micros
                n = int(parts[2])
                unit = (
                    "SECOND" if abs(n) < 1000
                    else "MILLISECOND" if abs(n) < 1_000_000
                    else "MICROSECOND"
                )
                parts[2] = f" INTERVAL {n} {unit}"
            elif "date" in low0:
                parts[2] = f" INTERVAL {parts[2].strip()} DAY"
        return (
            f"{mm.group(1)}(SELECT explode(sequence({','.join(parts)}))"
            " AS generate_series)"
        )

    masked = re.sub(
        r"\b(FROM\s+|LATERAL\s+)generate_series\s*"
        r"\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)",
        _gen_series_tvf,
        masked,
        flags=re.I,
    )
    # range() with non-foldable bounds (Spark requires literals):
    # exclusive-end sequence explode
    def _range_tvf(mm: re.Match) -> str:
        # idempotence: a second rewrite pass (mutation CTAS re-runs the
        # dialect rewriter over already-rewritten text) must not re-wrap
        # its own `(SELECT id AS … FROM range(N))` output
        before = mm.string[max(0, mm.start() - 16) : mm.start()].lower()
        if before.endswith("as number ") or before.endswith("as `range` "):
            return mm.group(0)
        args = mm.group(2)
        parts = split_top(args)
        if all(re.match(r"\s*-?\d+\s*$", p) for p in parts):
            # literal args: native Spark range, reference column name
            return (
                f"{mm.group(1)}(SELECT id AS `range` FROM"
                f" range({args}))"
            )
        if len(parts) == 1:
            seq = f"sequence(0, ({parts[0]}) - 1)"
        else:
            step = parts[2] if len(parts) > 2 else "1"
            seq = (
                f"sequence({parts[0]}, ({parts[1]}) -"
                f" CAST(sign({step}) AS INT), {step})"
            )
        return f"{mm.group(1)}(SELECT explode({seq}) AS `range`)"

    masked = re.sub(
        r"\b(FROM\s+)range\s*"
        r"\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)(?=\s*[;,)]|\s*$"
        r"|\s+(?:WHERE|GROUP|ORDER|LIMIT|UNION|JOIN|INNER|LEFT|RIGHT"
        r"|FULL|CROSS)\b)",
        _range_tvf,
        masked,
        flags=re.I,
    )
    masked = _NUMBERS_TVF.sub(r"(SELECT id AS number FROM range(\1))", masked)
    # protect table-valued range(...) from the scalar range() macro
    # (Databend scalar range(a,b) = exclusive-end array); \x03 is
    # stripped by expand_sql_macros
    masked = re.sub(
        r"(\bFROM\s+|\bJOIN\s+|\bLATERAL\s+)ra()nge(\s*\()",
        "\\1ra\x03nge\\3",
        masked,
        flags=re.I,
    )
    # comma-joined table function (`FROM range(..) a(x), range(..) b(y)`)
    # — only the aliased-with-column-list form is unambiguously a
    # relation (bare `, range(..)` in a select list is the scalar array
    # constructor)
    masked = re.sub(
        r"(,\s*)ra()nge(\s*\([^()]*\)\s+[A-Za-z_]\w*\s*\()",
        "\\1ra\x03nge\\3",
        masked,
        flags=re.I,
    )
    # zero-arg count() → count(*)
    masked = _COUNT_EMPTY.sub("count(*)", masked)
    # Databend `DROP TABLE t ALL` (also purges data) → plain DROP TABLE
    masked = _DROP_TABLE_ALL.sub(r"\1", masked)
    # Databend DROP DATABASE cascades implicitly
    masked = _DROP_DB.sub(r"\g<0> CASCADE", masked)
    # MySQL LIMIT offset, count
    masked = _LIMIT_OFFSET.sub(r"LIMIT \2 OFFSET \1", masked)
    # CTE materialization hint — advisory in Databend, no Spark analog
    masked = re.sub(
        r"\bAS\s+MATERIALIZED\s*\(", "AS (", masked, flags=re.I
    )
    # Databend IGNORE_RESULT: execute but return nothing
    masked = re.sub(r"\bIGNORE_RESULT\b", "LIMIT 0", masked, flags=re.I)
    # LIMIT values beyond int32 (Databend accepts any uint64)
    masked = re.sub(
        r"\bLIMIT\s+(\d{10,})",
        lambda m: "LIMIT 2147483647"
        if int(m.group(1)) > 2147483647
        else m.group(0),
        masked,
        flags=re.I,
    )
    # ranking windows require ORDER BY in Spark; Databend defaults to the
    # partition order — order by the partition keys (deterministic per
    # partition, matches Databend for the row_number-in-distinct pattern)
    masked = re.sub(
        r"\b(row_number|rank|dense_rank|percent_rank|cume_dist)\s*\(\s*\)\s*"
        r"OVER\s*\(\s*PARTITION\s+BY\s+(?![^()]*\bORDER\b)([^()]+?)\s*\)",
        r"\1() OVER (PARTITION BY \2 ORDER BY \2)",
        masked,
        flags=re.I,
    )
    # lag/lead need an ordered window in Spark; Databend defaults to the
    # partition order — same injection for argument-taking functions
    masked = re.sub(
        r"\b(lag|lead|ntile|first_value|last_value|nth_value)\s*"
        r"(\((?:[^()]|\([^()]*\))*\))\s*"
        r"OVER\s*\(\s*PARTITION\s+BY\s+(?![^()]*\bORDER\b)([^()]+?)\s*\)",
        r"\1\2 OVER (PARTITION BY \3 ORDER BY \3)",
        masked,
        flags=re.I,
    )
    # ranking functions ignore frame clauses in the reference; Spark
    # rejects them — strip the frame
    masked = re.sub(
        r"\b(row_number|rank|dense_rank|percent_rank|cume_dist|ntile)\s*"
        r"(\([^()]*\))\s*OVER\s*\(([^()]*?)\s*"
        r"(ROWS|RANGE)\s+BETWEEN\s+[^()]*\)",
        r"\1\2 OVER (\3)",
        masked,
        flags=re.I,
    )
    # CTAS from bare VALUES: DuckDB/Databend name columns col0, col1…
    # (Spark: col1, col2…) — route through an aliased derived table
    ctas_vals = re.search(r"\bAS\s+VALUES\s*\(", masked, re.I)
    if ctas_vals and _CREATE_TABLE.match(masked):
        body = masked[ctas_vals.end() - 1 :]
        row = re.search(r"\(((?:[^()]|\([^()]*\))*)\)", body)
        ncols = len(split_top(row.group(1), pairs="()[]")) if row else 1
        cols = ", ".join(f"col{j}" for j in range(ncols))
        masked = (
            masked[: ctas_vals.start()]
            + f"AS SELECT * FROM (VALUES {body.rstrip()}) AS __vals({cols})"
        )
    masked = _rewrite_insert_values_with_exprs(masked)
    masked = _rewrite_quantified_comparisons(masked)
    masked = _rewrite_projected_in_subquery(masked)
    if _ASOF_JOIN.search(masked):
        masked = _rewrite_asof_join(masked)
    if _ANY_JOIN.search(masked):
        masked = _rewrite_any_join(masked)
    if re.search(r"\bRIGHT\s+(SEMI|ANTI)\s+JOIN\b", masked, re.I):
        masked = _rewrite_right_semi_anti(masked)
    if re.search(r"\bFLATTEN\s*\(", masked, re.I):
        masked = _rewrite_lateral_flatten(masked, literals)
    if _LATERAL_VALUES.search(masked):
        masked = _rewrite_lateral_values(masked)
    if _JQ_TVF.search(masked):
        masked = _rewrite_jq_tvf(masked)
    if re.search(
        r"@\?|@@|@>|<@|\?[|&]|#-|\?"
        r"|parse_json\s*\([^()]*\)\s*(-|\|\||[+*/])",
        masked,
        re.I,
    ):
        masked = _rewrite_jsonb_ops(masked)
    if "->" in masked or "#>" in masked:
        masked = _rewrite_json_arrows(masked)
    if re.search(r"\bLIKE\s+ANY\s*\(\s*SELECT\b", masked, re.I):
        # LIKE ANY (<subquery>) — Spark only takes pattern lists;
        # desugar to EXISTS over the subquery's single column
        masked = re.sub(
            r"([\w.`]+|\x00\d+\x00)\s+LIKE\s+ANY\s*"
            r"\(\s*(SELECT\b(?:[^()]|\([^()]*\))*)\)"
            r"(\s*ESCAPE\s*\x00\d+\x00)?",
            lambda m: (
                f"EXISTS (SELECT 1 FROM ({m.group(2)}) AS __la(__p) "
                f"WHERE {m.group(1)} LIKE __p{m.group(3) or ''})"
            ),
            masked,
            flags=re.I,
        )
    if re.search(r"\bESCAPE\b", masked, re.I):
        # ESCAPE '' disables escaping in the reference; Spark demands a
        # 1-char escape — substitute one that can't occur in patterns
        def _esc_fix(m: re.Match) -> str:
            mm = re.fullmatch("\x00(\\d+)\x00", m.group(1))
            if mm and literals[int(mm.group(1))] == "''":
                literals.append("'\x01'")
                return f"ESCAPE \x00{len(literals) - 1}\x00"
            return m.group(0)

        masked = re.sub(
            r"ESCAPE\s*(\x00\d+\x00)", _esc_fix, masked, flags=re.I
        )
    if re.search(r"\bESCAPE\b|\bILIKE\s+(ANY|ALL)\b", masked, re.I):
        masked = _rewrite_like_escape(masked, literals)
    if re.search(r"\bUNPIVOT\s*\(", masked, re.I):
        masked = _rewrite_unpivot_labels(masked, literals)
    masked = _rewrite_values_relation_alias(masked)
    # Databend allows HAVING as a row filter / global-agg filter without
    # GROUP BY; QUALIFY filters window/grouping output
    if re.search(r"\bunnest\s*\(", masked, re.I):
        masked = _rewrite_unnest_hoist(masked, literals)
    if re.search(r"\bto_u?int64\s*\(", masked, re.I) and re.search(
        r"::\s*(TIMESTAMP|DATE)\s+\w", masked, re.I
    ):
        masked = _rewrite_int64_temporal(masked)
    if re.search(r"\bGROUP\s+BY\b", masked, re.I):
        masked = _rewrite_groupby_alias_shadow(masked)
    if re.search(r"\bHAVING\b", masked, re.I):
        masked = _rewrite_scalar_having(masked)
    if _QUALIFY.search(masked):
        masked = _rewrite_qualify(masked)
    if _WINDOW_CLAUSE.search(masked):
        masked = _rewrite_named_windows(masked)
    if re.search(r"\b(PRECEDING|FOLLOWING)\b", masked, re.I):
        masked = _rewrite_empty_window_frames(masked)
    if re.search(r"\bgrouping\s*\(", masked, re.I):
        masked = _rewrite_grouping_multi(masked)
    # DuckDB double-quoted aliases → backticks
    masked = _QUOTED_ALIAS.sub(lambda m: "AS `" + m.group(1) + "`", masked)
    # double-quoted identifiers (SQL standard / the reference's dialect)
    # → backticks; string literals are single-quoted and already masked
    if '"' in masked:
        masked = re.sub(r'"([^"\n]+)"', r"`\1`", masked)
    if "[" in masked:
        masked = _rewrite_variant_subscripts(masked)
        masked = _rewrite_brackets(masked)
    if "{" in masked:
        masked = _rewrite_map_literals(masked)
    masked = _TO_DATE_INT.sub(r"date_add(DATE'1970-01-01', \1)", masked)
    masked = _TO_TS_INT.sub(_ts_int_repl, masked)
    masked = re.sub(
        r"\b(-?\d+)\s*::\s*DATE\b",
        r"date_add(DATE'1970-01-01', \1)",
        masked,
        flags=re.I,
    )
    masked = re.sub(
        r"\b(-?\d+)\s*::\s*TIMESTAMP\b",
        lambda m: _ts_int_repl(m),
        masked,
        flags=re.I,
    )
    # ClickHouse-style parameterized aggregates fn(p)(x) → fn(x, p)
    masked = _PARAM_AGG.sub(r"\1(\3, \2)", masked)
    masked = _BMP_TO_STRING.sub(_bmp_to_string_repl, masked)
    # PostgreSQL-style math operators (reference parser token rules):
    # postfix ! factorial, prefix @ absolute value, infix # xor
    masked = re.sub(
        r"(\d+(?:\.\d+)?)\s*!(?![=~])",
        r"factorial(\1)",
        masked,
    )
    masked = re.sub(
        r"(?<![\w<>!=@#^|])@\s*(?![?>@~=])(-?[\w.]+(?:\([^()]*\))?)",
        r"abs(\1)",
        masked,
    )
    # a # b → bitwise xor; \x04 dodges the ^-is-pow rewrite below
    masked = re.sub(
        r"([\w.)]+)\s*#\s*(?![>-])(-?[\w.(]+)",
        "\\1 \x04 \\2",
        masked,
    )
    # NOT ignore(...) in boolean position: ignore is constant 0, so the
    # negation is 0 = 0 (Spark refuses NOT over an integer)
    masked = re.sub(
        r"\bnot\s+ignore\s*\(", "0 = ignore(", masked, flags=re.I
    )
    # variant ↔ string-literal comparison: the literal coerces to a
    # variant string (JSONB '"..."'), so quote it before comparing
    masked = re.sub(
        r"(parse_json\s*\((?:[^()]|\([^()]*\))*\))\s*"
        r"(=|!=|<>|>=|<=|>|<)\s*(\x00\d+\x00)",
        '\\1 \\2 concat(\'"\', replace(\\3, \'"\', \'\\\\\\\\"\'), \'"\')',
        masked,
        flags=re.I,
    )
    # variant LIKE: simple patterns match scalar strings only, complex
    # patterns match any string leaf (variant_like_eval)
    masked = re.sub(
        r"(parse_json\s*\((?:[^()]|\([^()]*\))*\))\s+(NOT\s+)?LIKE\s+"
        r"(\x00\d+\x00)(\s+ESCAPE\s+(\x00\d+\x00))?",
        lambda m: (
            ("NOT " if m.group(2) else "")
            + f"__variant_like({m.group(1)}, {m.group(3)}"
            + (f", {m.group(5)}" if m.group(5) else "")
            + ")"
        ),
        masked,
        flags=re.I,
    )
    # same, after _rewrite_like_escape folded it to like(expr, pat, esc)
    masked = re.sub(
        r"\blike\s*\(\s*(parse_json\s*\((?:[^()]|\([^()]*\))*\))\s*,\s*"
        r"(\x00\d+\x00)\s*(?:,\s*(\x00\d+\x00)\s*)?\)",
        lambda m: (
            f"__variant_like({m.group(1)}, {m.group(2)}"
            + (f", {m.group(3)}" if m.group(3) else "")
            + ")"
        ),
        masked,
        flags=re.I,
    )
    # REGEXP/RLIKE operator with a literal pattern: MySQL matching is
    # case-insensitive by default
    masked = re.sub(
        r"\b(REGEXP|RLIKE)\s+(\x00\d+\x00)",
        r"RLIKE concat('(?i)', \2)",
        masked,
        flags=re.I,
    )
    # A SOUNDS LIKE B operator (MySQL) → soundex equality
    masked = re.sub(
        r"([\w.`\x00]*\s*\((?:[^()]|\([^()]*\))*\)|[\w.`\x00]+)"
        r"\s+SOUNDS\s+LIKE\s+"
        r"([\w.`\x00]*\s*\((?:[^()]|\([^()]*\))*\)|[\w.`\x00]+)",
        r"sounds_like(\1, \2)",
        masked,
        flags=re.I,
    )
    # XOR operator (no Spark keyword): boolean inequality with MySQL
    # numeric coercion
    while re.search(r"\bXOR\b", masked, re.I):
        new = re.sub(
            r"([\w.`\x00]+|\((?:[^()]|\([^()]*\))*\))\s+XOR\s+"
            r"([\w.`\x00]+|\((?:[^()]|\([^()]*\))*\))",
            r"(CAST(\1 AS BOOLEAN) <> CAST(\2 AS BOOLEAN))",
            masked,
            count=1,
            flags=re.I,
        )
        if new == masked:
            break
        masked = new
    # Databend integer division a // b (strings are masked out)
    masked = masked.replace("//", " div ")
    # ^ is exponentiation (Spark: bitxor); |/ is square root
    masked = _CARET_POW.sub(r"pow(\1, \2)", masked)
    masked = masked.replace("\x04", "^")
    masked = _CBRT_OP.sub(r"cbrt(\1)", masked)
    masked = _SQRT_OP.sub(r"sqrt(\1)", masked)
    # per-query settings prefix → engine defaults apply
    masked = _SETTINGS_PREFIX.sub("", masked)
    # explicit `NULL` nullability marker in DDL (Spark only knows NOT NULL)
    if _CREATE_TABLE.match(masked):
        _is_ctas = re.search(r"\bAS\s*\(?\s*(?:SELECT|WITH)\b", masked, re.I)
        if not _is_ctas:
            # column-list DDL only — a CTAS body's `x IS NULL` must not
            # lose its NULL, its `text` may be a column name, and its
            # array()/map() are constructors
            masked = _DDL_NULL.sub("", masked)
            masked = _DDL_DEFAULT_PAREN.sub("DEFAULT (", masked)
            masked = _DDL_TEXT.sub("STRING", masked)
            # CHAR(n)/CHARACTER(n) column types must not reach the
            # scalar char() macro
            masked = re.sub(
                r"\bCHAR(?:ACTER)?\s*\(\s*\d+\s*\)",
                "STRING",
                masked,
                flags=re.I,
            )
        if _CREATE_TABLE.match(masked):
            # inline external-location string after the column list
            # (reference `CREATE TABLE t (…) 'fs:///path/'`): no Spark
            # analog — strip it; the runner records the location from
            # the original text for sidecar-file emulation
            def _strip_loc(m: re.Match) -> str:
                lit = literals[int(m.group(1))]
                return (
                    ")"
                    if re.match(
                        r"^'(?:fs|s3|azblob|gcs|oss|cos|obs)://", lit, re.I
                    )
                    else m.group(0)
                )

            masked = re.sub(r"\)\s*\x00(\d+)\x00", _strip_loc, masked)
        for pat in _DDL_OPTIONS:
            masked = pat.sub("", masked)
        if not _is_ctas:
            masked = _rewrite_ddl_nested_types(masked)
            # volatile DEFAULT expressions (uuid()) — Spark only allows
            # constant defaults; the runner keeps the expression in its
            # ddl_defaults registry and evaluates it per COPY row
            masked = re.sub(
                r"\bDEFAULT\s+(uuid|gen_random_uuid)\s*\(\s*\)",
                "",
                masked,
                flags=re.I,
            )
            # INTERVAL columns store the canonical interval text
            # (functions/interval_type.py model); Spark's INTERVAL types
            # are not writable to parquet tables. Type position only —
            # an INTERVAL literal in a DEFAULT keeps its keyword.
            masked = re.sub(
                r"\bINTERVAL\b(?=\s*(,|\)|NULL\b|NOT\b|DEFAULT\b|COMMENT\b))",
                "STRING",
                masked,
                flags=re.I,
            )
        elif masked[_is_ctas.end() - 6 : _is_ctas.end()].upper() == "SELECT":
            # a bare NULL select item makes a VOID column Spark's v1
            # writers refuse; the reference types it as nullable string
            masked = _rewrite_ctas_null_items(masked, _is_ctas.end())
    # Databend function aliases → Spark names + expression macros
    from databend_spark.functions.registry import (
        expand_sql_macros,
        rewrite_function_names,
    )

    if re.search(r"\bWITH\b", masked, re.I) and re.search(
        r"\b(?:FROM|JOIN)\s+\w+\.\w+", masked, re.I
    ):
        # the reference resolves a db-qualified name to a same-named CTE
        # (CTEs shadow tables even under a qualifier —
        # cte/auto_materialized_cte_unique_name.test)
        _cte_names = {
            mm.group(1).lower()
            for mm in re.finditer(
                r"\b(\w+)\s+AS\s*(?:MATERIALIZED\s*)?\(\s*SELECT\b",
                masked,
                re.I,
            )
        }
        if _cte_names:
            masked = re.sub(
                r"(\b(?:FROM|JOIN)\s+)\w+\.(\w+)\b(?!\s*\()",
                lambda mm: (
                    mm.group(1) + mm.group(2)
                    if mm.group(2).lower() in _cte_names
                    else mm.group(0)
                ),
                masked,
            )
    if re.search(r"\bover\s*\(\s*\)", masked, re.I):
        # ranking functions over an empty window: the reference orders
        # by arrival; Spark demands an ORDER BY (a constant keeps the
        # arbitrary-order semantics without adding a frame)
        masked = re.sub(
            r"\b(row_number|rank|dense_rank|percent_rank|cume_dist|ntile)"
            r"(\s*\((?:[^()]|\([^()]*\))*\))\s*over\s*\(\s*\)",
            r"\1\2 OVER (ORDER BY 1)",
            masked,
            flags=re.I,
        )
    masked = _rewrite_order_by_nulls(masked)
    # json aggregates in WINDOW position: OVER must bind to the inner
    # collect, not the to_json wrapper the macro would produce
    if re.search(r"\bjson_\w*agg\s*\(", masked, re.I):
        masked = re.sub(
            r"\bjson_(?:array_)?agg\s*\(((?:[^()]|\([^()]*\))*)\)"
            r"\s+(OVER\s*\((?:[^()]|\([^()]*\))*\))",
            r"to_json(collect_list(\1) \2)",
            masked,
            flags=re.I,
        )
        masked = re.sub(
            r"\bjson_object_?agg\s*\(((?:[^()]|\([^()]*\))*),"
            r"((?:[^()]|\([^()]*\))*)\)\s+(OVER\s*\((?:[^()]|\([^()]*\))*\))",
            r"to_json(map_from_entries(collect_list(struct(\1,\2)) \3))",
            masked,
            flags=re.I,
        )
    # reference binder rejections the Spark analyzer would accept
    if re.search(r"\(\s*DISTINCT\b[^()]*\)\s*FILTER\b", masked, re.I):
        raise ValueError(
            "[1006] DISTINCT aggregates do not support FILTER"
        )
    if re.search(
        r"\bpercentile_cont\s*\([^()]*\)\s*WITHIN\s+GROUP", masked, re.I
    ):
        raise ValueError(
            "[1006] percentile_cont does not support WITHIN GROUP"
        )
    if re.search(
        r"\bORDER\s+BY\b", masked, re.I
    ) and re.search(
        r"\b(array_agg|list|listagg|string_agg|group_concat)\s*\(",
        masked,
        re.I,
    ):
        masked = _rewrite_ordered_aggs(masked)
    # PostgreSQL regex-match operators: `a ~ 'p'` / `a !~ 'p'`
    if re.search(r"[!\s\w`)]~\s*\x00", masked):
        masked = re.sub(
            r"([\w.`)\x00]+)\s*!~\s*(\x00\d+\x00)",
            r"(\1 NOT RLIKE \2)",
            masked,
        )
        masked = re.sub(
            r"([\w.`)\x00]+)\s*~\s*(\x00\d+\x00)",
            r"(\1 RLIKE \2)",
            masked,
        )
    masked = rewrite_function_names(masked)
    # literal-inspecting macros (array_aggregate's op name, array_sort's
    # direction, …) need to see through the masking placeholders
    from databend_spark.functions import registry as _reg

    token = _reg.LITERALS.set(literals)
    try:
        masked = expand_sql_macros(masked)
    finally:
        _reg.LITERALS.reset(token)
    if re.search(r"\bexplode\s*\(", masked, re.I):
        masked = _rewrite_srf_post(masked)
    if "__interval_" in masked:
        masked = _rewrite_interval_algebra(masked)
    if re.search(r"<=>|<\+>|<->", masked):
        masked = _rewrite_vector_operators(masked)
    if re.search(r"get_json_object|__variant_access", masked):
        masked = _rewrite_variant_equality(masked, literals)
    return unmask(masked, literals)


def _rewrite_variant_equality(masked: str, lits: list[str]) -> str:
    """Equality between a variant accessor and a literal compares the
    JSON TEXT (mixed-type variant values would otherwise hit ANSI cast
    errors: `m:a = 2` over a row holding true)."""

    def _lit_token(sql_lit: str) -> str:
        lits.append(sql_lit)
        return f"\x00{len(lits) - 1}\x00"

    def jtext(tok: str, quoted_strings: bool) -> str:
        mm = re.fullmatch("\x00(\\d+)\x00", tok)
        if mm:
            if not quoted_strings:
                return tok  # get_json_object returns unquoted strings
            raw = lits[int(mm.group(1))]
            inner = raw[1:-1].replace("''", "'")
            jnew = json.dumps(inner, ensure_ascii=False)
            return _lit_token("'" + jnew.replace("'", "''") + "'")
        if tok.lower() in ("true", "false"):
            return _lit_token(f"'{tok.lower()}'")
        return _lit_token(f"'{tok}'")

    for fn, quoted in (
        ("get_json_object", False),
        ("__variant_access", True),
    ):
        acc = rf"({fn}\s*\((?:[^()]|\([^()]*\))*\))"
        lit = r"(\x00\d+\x00|-?\d+(?:\.\d+)?|true|false)"
        masked = re.sub(
            acc + r"\s*(=|!=|<>)\s*" + lit + r"(?![\w.])",
            lambda m, q=quoted: (
                f"{m.group(1)} {m.group(2)} {jtext(m.group(3), q)}"
            ),
            masked,
            flags=re.I,
        )
        masked = re.sub(
            r"(?<![\w.`])" + lit + r"\s*(=|!=|<>)\s*" + acc,
            lambda m, q=quoted: (
                f"{jtext(m.group(1), q)} {m.group(2)} {m.group(3)}"
            ),
            masked,
            flags=re.I,
        )
    return masked


def _ordered_agg(x_text: str, keys_text: str, over: str = "") -> str:
    """array_agg(x ORDER BY keys) → sorted-struct transform (Spark's
    collect_list has no WITHIN GROUP). Null ordering defaults follow
    the reference: NULLS FIRST for ASC, NULLS LAST for DESC.

    With `over`, the OVER clause binds to the inner collect_list so the
    WITHIN GROUP sort applies per window frame; Spark's array_sort is a
    stable TimSort, so ties keep the frame (OVER ORDER BY) order the
    reference produces (within_group_window.test)."""
    keys = []
    for part in split_top(keys_text):
        mm = re.match(
            r"^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$",
            part.strip(),
            re.I | re.S,
        )
        expr = mm.group(1).strip()
        desc = (mm.group(2) or "").upper() == "DESC"
        if mm.group(3):
            nf = mm.group(3).upper() == "FIRST"
        else:
            nf = not desc
        keys.append((expr, desc, nf))
    fields = ", ".join(
        f"({e}) AS __k{i}" for i, (e, _, _) in enumerate(keys)
    )
    cmp = "0"
    for i in range(len(keys) - 1, -1, -1):
        _, desc, nf = keys[i]
        lv, rv = f"l.__k{i}", f"r.__k{i}"
        lt, gt = ("1", "-1") if desc else ("-1", "1")
        nc = "-1" if nf else "1"
        pnc = "1" if nf else "-1"
        cmp = (
            f"CASE WHEN {lv} <=> {rv} THEN {cmp}"
            f" WHEN {lv} IS NULL THEN {nc}"
            f" WHEN {rv} IS NULL THEN {pnc}"
            f" WHEN {lv} < {rv} THEN {lt} ELSE {gt} END"
        )
    ov = f" {over}" if over else ""
    return (
        f"transform(array_sort(collect_list(struct({fields},"
        f" ({x_text}) AS __v)){ov}, (l, r) -> {cmp}), s -> s.__v)"
    )


def _rewrite_ordered_aggs(masked: str) -> str:
    """ORDER BY inside aggregate calls: listagg-family inline orders
    become WITHIN GROUP (Spark-native); array_agg orders become
    sorted-struct transforms. In WINDOW position Spark rejects
    WITHIN GROUP outright, so both families desugar to a frame-bound
    collect_list + stable struct sort (+ array_join for listagg)."""
    paren = r"(?:[^()]|\([^()]*\))*"

    def win_listagg(m: re.Match) -> str:
        args = split_top(m.group(2))
        x = args[0].strip()
        sep = args[1].strip() if len(args) > 1 else "''"
        arr = _ordered_agg(x, m.group(3), over=f"OVER ({m.group(4)})")
        return f"array_join({arr}, {sep})"

    masked = re.sub(
        r"\b(listagg|string_agg|group_concat)\s*"
        r"\(((?:[^()]|\([^()]*\))*?)\s+ORDER\s+BY\s+"
        r"((?:[^()]|\([^()]*\))*)\)",
        r"\1(\2) WITHIN GROUP (ORDER BY \3)",
        masked,
        flags=re.I,
    )
    masked = re.sub(
        rf"\b(listagg|string_agg|group_concat)\s*\(({paren})\)\s*"
        rf"WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+({paren})\)\s*"
        rf"OVER\s*\(({paren})\)",
        win_listagg,
        masked,
        flags=re.I,
    )
    masked = re.sub(
        rf"\b(?:array_agg|list)\s*\(({paren})\)\s*"
        rf"WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+({paren})\)\s*"
        rf"OVER\s*\(({paren})\)",
        lambda m: _ordered_agg(
            m.group(1), m.group(2), over=f"OVER ({m.group(3)})"
        ),
        masked,
        flags=re.I,
    )
    masked = re.sub(
        r"\b(?:array_agg|list)\s*\(((?:[^()]|\([^()]*\))*)\)\s*"
        r"WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+((?:[^()]|\([^()]*\))*)\)",
        lambda m: _ordered_agg(m.group(1), m.group(2)),
        masked,
        flags=re.I,
    )
    masked = re.sub(
        r"\b(?:array_agg|list)\s*\(((?:[^()]|\([^()]*\))*?)\s+"
        r"ORDER\s+BY\s+((?:[^()]|\([^()]*\))*)\)",
        lambda m: _ordered_agg(m.group(1), m.group(2)),
        masked,
        flags=re.I,
    )
    return masked


_VEC_OPERAND = (
    r"(array\s*\((?:[^()]|\([^()]*\))*\)(?:\s*::\s*[\w<>()]+)?"
    r"|[\w.`]+(?:\s*::\s*[\w<>()]+)?)"
)
_VEC_OP_RE = re.compile(
    rf"{_VEC_OPERAND}\s*(<=>|<\+>|<->)\s*{_VEC_OPERAND}"
)


def _rewrite_vector_operators(masked: str) -> str:
    """Vector distance operators (reference scalars/vector.rs):
    `<=>` cosine, `<+>` l1, `<->` l2. Integer-literal arrays coerce to
    VECTOR (float32 math); arrays with decimal elements stay float64.
    A `<=>` whose operands don't look like arrays keeps its MySQL
    null-safe-equality meaning."""
    metric = {"<=>": "cosine", "<+>": "l1", "<->": "l2"}

    def rep(m: re.Match) -> str:
        left, op, right = m.group(1), m.group(2), m.group(3)
        arrayish = (
            left.lstrip().lower().startswith("array(")
            or right.lstrip().lower().startswith("array(")
            or "vector" in (left + right).lower()
        )
        if op == "<=>" and not arrayish:
            return m.group(0)
        f32 = "vector" in (left + right).lower() or not re.search(
            r"\d+\.\d", left + right
        )
        return (
            f"__vec_distance(CAST(({left}) AS ARRAY<DOUBLE>),"
            f" CAST(({right}) AS ARRAY<DOUBLE>), '{metric[op]}',"
            f" {str(f32).lower()})"
        )

    return _VEC_OP_RE.sub(rep, masked)


# an interval-valued call expression (post-macro text)
_IV_CALL = (
    r"__interval_(?:text|make|add|mul|from_micros)\s*"
    r"\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
)


def _rewrite_interval_algebra(masked: str) -> str:
    """Post-macro interval arithmetic: IV ± IV → __interval_add,
    IV * n / n * IV → __interval_mul, EXTRACT(f FROM IV) →
    __interval_extract (reference interval.rs arithmetic/extractors),
    and ORDER BY keys that alias an interval expression sort by the
    normalized micros key (interval total order, not text order)."""
    for _ in range(8):
        out = re.sub(
            rf"({_IV_CALL})\s*\+\s*({_IV_CALL})",
            r"__interval_add(\1, \2)",
            masked,
        )
        out = re.sub(
            rf"({_IV_CALL})\s*-\s*({_IV_CALL})",
            r"__interval_add(\1, __interval_mul(\2, -1))",
            out,
        )
        out = re.sub(
            rf"({_IV_CALL})\s*\*\s*(-?\d+|[\w.`]+)",
            r"__interval_mul(\1, \2)",
            out,
        )
        out = re.sub(
            rf"(-?\d+|[\w.`]+)\s*\*\s*({_IV_CALL})",
            r"__interval_mul(\2, \1)",
            out,
        )
        if out == masked:
            break
        masked = out
    _INT_FIELDS = (
        "year", "month", "day", "hour", "minute", "microsecond"
    )

    def _ext(m: re.Match) -> str:
        f = m.group(1).lower()
        call = f"__interval_extract('{f}', {m.group(2)})"
        if f in _INT_FIELDS:
            return f"CAST({call} AS BIGINT)"
        return call

    masked = re.sub(
        rf"\bEXTRACT\s*\(\s*(\w+)\s+FROM\s+({_IV_CALL})\s*\)",
        _ext,
        masked,
        flags=re.I,
    )
    # interval-aliased names: ORDER BY keys sort by the micros key
    # (incl. inside OVER clauses); alias * n multiplies the interval
    _KW = {
        "from", "where", "group", "order", "having", "limit", "as",
        "union", "on", "join", "and", "or", "when", "then", "else",
    }
    aliases = {
        a
        for a in re.findall(
            rf"(?:{_IV_CALL})\s+(?:AS\s+)?([A-Za-z_]\w*)", masked, re.I
        )
        if a.lower() not in _KW
    }
    if aliases:
        names = "|".join(re.escape(a) for a in aliases)
        masked = re.sub(
            rf"(\bORDER\s+BY\s+)({names})\b(?!\s*\()",
            r"\1__interval_key(\2)",
            masked,
            flags=re.I,
        )
        masked = re.sub(
            rf"\b({names})\s*\*\s*(-?\d+)\b",
            r"__interval_mul(\1, \2)",
            masked,
        )
        masked = re.sub(
            rf"(?<![\w.`])(-?\d+)\s*\*\s*({names})\b(?!\s*\()",
            r"__interval_mul(\2, \1)",
            masked,
        )
    return masked


_DATE_CALL = re.compile(
    r"(?:today|yesterday|tomorrow|current_date)\s*\(\s*\)"
    r"|to_date\s*\([^()]*\)|DATE\s*'[^']*'",
    re.I,
)
_DATE_SYNTAX = re.compile(
    r"(?:to_date\s*\(.*\)|CAST\s*\(.*\s+AS\s+DATE\s*\)|.*::\s*DATE"
    r"|DATE\s*'[^']*'|today\s*\(\s*\)|current_date(?:\s*\(\s*\))?)",
    re.I | re.S,
)
_DATE_MINUS = re.compile(  # a '-' that may have a date on its right
    r"-(?=\s*(?:to_date|DATE|CAST|today|yesterday|tomorrow|current_date"
    r"|(?:'[^']*'|[\w.`]+)\s*::\s*DATE)\b)",
    re.I,
)


def rewrite_date_minus(sql: str, dates_only: bool = False) -> str:
    """``A - <date>`` → ``datediff(A, <date>)``: the reference types
    date minus date as an INT day count, Spark as an interval. The left
    operand runs back to the nearest expression boundary (depth-0
    comma, open paren or clause keyword). The right operand is a date
    call or literal; with ``dates_only`` both operands must be dates by
    syntax (``to_date(…)``, ``DATE '…'``, ``CAST(… AS DATE)``,
    ``…::DATE``, ``today()``, ``current_date``)."""
    out, minus_at = sql, None
    # right-to-left so earlier indexes stay valid
    for m in reversed(list(_DATE_MINUS.finditer(sql))):
        at = m.start()
        end = operand_end(sql, at + 1)
        right = sql[at + 1 : end].strip()
        if not (_DATE_SYNTAX if dates_only else _DATE_CALL).fullmatch(right):
            continue
        if minus_at is None:  # the '-' signs outside strings and comments
            minus_at = {t.start for t in tokens(sql) if t.text == "-"}
        if at not in minus_at:
            continue
        j = expr_start(sql, at)
        left = sql[j:at].strip()
        if left and not (dates_only and (
            operand_end(left, 0) != len(left) or not _DATE_SYNTAX.fullmatch(left)
        )):
            out = out[:j] + f" datediff({left}, {right}) " + out[end:]
    return out


def inline_select_aliases(sql: str) -> str:
    """Inline ``expr AS name`` select-list aliases wherever ``name`` is
    referenced elsewhere in the same select list. DuckDB/Databend bind a
    later ``SUM(k)`` to the alias ``k``'s expression; Spark refuses a
    lateral alias inside an aggregate — used as an error-driven retry for
    LATERAL_COLUMN_ALIAS_IN_AGGREGATE_FUNC."""
    masked, literals = mask(sql)
    # skip a WITH prefix — the aliases to inline live in the MAIN select,
    # not the first CTE body
    scan_from = 0
    mw = re.match(r"\s*WITH\b", masked, re.I)
    if mw:
        i = mw.end()
        cte_head = re.compile(
            r"\s*,?\s*(?:RECURSIVE\s+)?[A-Za-z_]\w*\s*(?:\([^)]*\))?"
            r"\s*AS\s*(?:NOT\s+)?(?:MATERIALIZED\s+)?\(",
            re.I,
        )
        while True:
            mc = cte_head.match(masked, i)
            if not mc:
                break
            i = close_bracket(masked, mc.end() - 1) + 1 or len(masked)
        scan_from = i
    sel = re.compile(r"\bSELECT\b", re.I).search(masked, scan_from)
    if not sel:
        return sql
    f = find_top(masked, "FROM", sel.end())
    if f == -1:
        f = len(masked)  # SELECT with no FROM still resolves aliases
    head, tail = masked[: sel.end()], masked[f:]
    items = split_top(masked[sel.end() : f])
    aliases = {}
    for it in items:
        m = re.match(r"^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", it, re.I | re.S)
        if not m:
            # bare alias: a call expression followed by an identifier
            m = re.match(r"^(.*\))\s+([A-Za-z_]\w*)\s*$", it, re.S)
        if m:
            aliases[m.group(2)] = m.group(1).strip()
    if not aliases:
        return sql
    # resolve alias-in-alias (e.g. window alias d referencing alias
    # score): expand until stable so substituted text carries no alias
    for _ in range(4):
        changed = False
        for name in aliases:
            for other, repl in aliases.items():
                if other == name:
                    continue
                new = re.sub(
                    rf"\b{re.escape(other)}\b", f"({repl})", aliases[name]
                )
                if new != aliases[name]:
                    aliases[name] = new
                    changed = True
        if not changed:
            break
    new_items = []
    for it in items:
        m = re.match(r"^(.*?)(\s+AS\s+[A-Za-z_]\w*\s*)$", it, re.I | re.S)
        if not m:
            m = re.match(r"^(.*\))(\s+[A-Za-z_]\w*\s*)$", it, re.S)
        expr, suffix = (m.group(1), m.group(2)) if m else (it, "")
        for name, repl in aliases.items():
            if repl == expr.strip():
                continue  # don't rewrite the defining item itself
            expr = re.sub(rf"\b{re.escape(name)}\b", f"({repl})", expr)
        new_items.append(expr + suffix)
    # Databend also resolves select aliases in WHERE (Spark doesn't);
    # substitute there too — GROUP/ORDER BY keep the alias (Spark allows)
    w = find_top(tail, "WHERE")
    if w != -1:
        w_end = len(tail)
        for kw in ("GROUP BY", "HAVING", "ORDER BY", "LIMIT", "OFFSET"):
            k = find_top(tail, kw, w)
            if k != -1:
                w_end = min(w_end, k)
        wc = tail[w:w_end]
        for name, repl in aliases.items():
            wc = re.sub(rf"\b{re.escape(name)}\b", f"({repl})", wc)
        tail = tail[:w] + wc + tail[w_end:]
    return unmask(head + ",".join(new_items) + tail, literals)


def auto_alias_view_body(sql: str) -> str:
    """Alias unaliased computed select items with their own text — Spark
    refuses permanent views with auto-generated column names
    (CREATE_PERMANENT_VIEW_WITHOUT_ALIAS) while Databend/DuckDB name the
    column after the expression (``avg(number)``)."""
    masked, literals = mask(sql)
    sel = re.search(r"\bAS\s+SELECT\b", masked, re.I)
    if not sel:
        return sql
    f = find_top(masked, "FROM", sel.end())
    stop = f if f != -1 else len(masked)
    out_items = []
    for it in split_top(masked[sel.end() : stop]):
        t = it.strip()
        if (
            re.match(r"^[A-Za-z_][\w.]*$", t)  # bare column
            or t == "*"
            or re.search(r"\s+AS\s+\S+$", t, re.I)
            or re.search(r"\s`?\w+`?$", t) is not None
            and re.match(r"^[A-Za-z_][\w.]*\s+`?\w+`?$", t)  # implicit alias
        ):
            out_items.append(it)
        else:
            label = unmask(t, literals).replace("`", "")
            out_items.append(f"{t} AS `{label}`")
    return unmask(
        masked[: sel.end()] + " " + ", ".join(out_items) + " " + masked[stop:],
        literals,
    )


def rewrite_values_as_select(sql: str) -> str:
    """Force-convert INSERT … VALUES to INSERT … SELECT … UNION ALL
    (retry path for INVALID_INLINE_TABLE errors)."""
    masked, literals = mask(sql)
    masked = masked.rstrip()
    while masked.endswith(";"):
        masked = masked[:-1].rstrip()
    masked = _rewrite_insert_values_with_exprs(masked, force=True)
    return unmask(masked, literals)


def has_qualify(sql: str) -> bool:
    return bool(_QUALIFY.search(sql))


_WHERE_KW = re.compile(r"\bWHERE\b", re.I)
_WHERE_END = re.compile(
    r"\b(GROUP|ORDER|LIMIT|HAVING|WINDOW|UNION|INTERSECT|EXCEPT|QUALIFY)\b",
    re.I,
)


def wrap_where_boolean(sql: str) -> str:
    """Wrap every WHERE clause in CAST(... AS BOOLEAN) — the reference
    coerces numeric filters (non-zero = true) where Spark demands a
    boolean. Applied on FILTER_NOT_BOOLEAN retry; a no-op for filters
    that are already boolean."""
    masked, lits = mask(sql)
    out = masked
    # process right-to-left so earlier offsets stay valid
    for m in reversed(list(_WHERE_KW.finditer(masked))):
        start = m.end()
        end = clause_end(out, start, _WHERE_END)
        clause = out[start:end].strip().rstrip(";").strip()
        if not clause:
            continue
        # NOT over a non-boolean operand fails before the outer cast —
        # coerce simple NOT operands too (keyword forms and IS NOT
        # excluded via a protect/restore token)
        clause = re.sub(r"\bIS\s+NOT\b", "IS\x04NOT", clause, flags=re.I)
        clause = re.sub(
            r"\bNOT\s+(?!IN\b|LIKE\b|ILIKE\b|RLIKE\b|EXISTS\b|"
            r"BETWEEN\b|NULL\b|SIMILAR\b|DISTINCT\b)((?:[\w.`]+|\([\w.` ]+\)))",
            r"NOT CAST(\1 AS BOOLEAN)",
            clause,
            flags=re.I,
        )
        clause = clause.replace("IS\x04NOT", "IS NOT")
        out = (
            out[: m.start()]
            + f"WHERE CAST(({clause}) AS BOOLEAN) "
            + out[end:]
        )
    return unmask(out, lits)
