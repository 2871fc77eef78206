"""Databend function-name registry → Spark equivalents.

The reference registers ~320 base scalar names plus ~100 aliases
(``/root/reference/src/query/functions/src/scalars/mod.rs:56``; golden
inventory ``functions/tests/it/scalars/testdata/function_list.txt``).
Spark's ``pyspark.sql.functions`` covers most semantics under different
names; this module provides

  * ``RENAME``: pure name substitutions (signature-compatible) — usable
    both from Python and as SQL-text rewrites;
  * ``COMPOSED``: Databend functions Spark lacks as a single built-in,
    expressed as Column compositions (JVM-side, codegen'd — never Python
    row UDFs);
  * ``databend_fn(name)``: resolve either kind to a callable.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from contextvars import ContextVar

from pyspark.sql import Column
from pyspark.sql import functions as F

from databend_spark.sqlgen.options import current_options

# --- pure renames: databend name -> spark SQL function name ----------------
# (sources: function_list.txt aliases block; scalars/{string,timestamp,…})
RENAME: dict[str, str] = {
    # type conversion
    "to_string": "cast_to_string",  # handled in COMPOSED (needs type arg)
    "to_varchar": "cast_to_string",
    "to_text": "cast_to_string",
    # string
    "char_length": "length",
    "character_length": "length",
    "lcase": "lower",
    "ucase": "upper",
    "mid": "substring",
    "substr": "substring",
    "position": "instr",
    "locate": "instr",
    "strpos": "instr",
    "str_to_map": "str_to_map",
    "rlike": "rlike",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "from_hex": "unhex",
    "insert": "overlay",
    # math
    "ceiling": "ceil",
    "power": "pow",
    "rand": "rand",
    "mod": "mod",
    "crc32": "crc32",
    # date/time
    "to_datetime": "to_timestamp",
    # TIMESTAMP_TZ routing lives in the to_timestamp_tz SQL macro:
    # literal offsets keep their zone text, everything else collapses
    # to TIMESTAMP under the pinned UTC session
    "to_day_of_month": "dayofmonth",
    "to_day_of_year": "dayofyear",
    "to_hour": "hour",
    "to_minute": "minute",
    "to_second": "second",
    "to_year": "year",
    "to_month": "month",
    "to_quarter": "quarter",
    "to_week_of_year": "weekofyear",
    "date_format": "date_format",
    "str_to_date": "to_date",
    "subtract_days": "date_sub",
    "add_days": "date_add",
    # aggregates (Databend name -> Spark agg)
    "uniq": "approx_count_distinct",
    "count_distinct": "count_distinct",
    "group_concat": "listagg",
    "listagg": "listagg",
    "string_agg": "listagg",
    "array_agg": "collect_list",
    "any": "any_value",
    "arg_max": "max_by",
    "arg_min": "min_by",
    "stddev": "stddev_pop",  # Databend stddev defaults to population
    "std": "stddev_pop",
    # json / variant
    "parse_json": "parse_json_variant",  # COMPOSED
    "object_keys": "json_object_keys",
    "json_to_string": "to_json",
    # array
    "array_length": "size",
    "len": "size",
    "contains": "array_contains",
    "array_indexof": "array_position",
    "unnest": "explode",
    "flatten": "flatten",
    "range": "sequence",
    # hash
    "sha": "sha1",
    "sha1": "sha1",
    "sha2": "sha2",
    "blake3": "sha2",  # stand-in, not bit-compatible
}


def _if_combinator(agg: Callable[..., Column]) -> Callable[..., Column]:
    """Databend's `_if` aggregate combinator (aggregates/adaptors/):
    agg_if(x, cond) → agg(CASE WHEN cond THEN x END)."""

    def combined(col: Column, cond: Column) -> Column:
        return agg(F.when(cond, col))

    return combined


# --- composed: databend fn without a 1:1 spark builtin ---------------------
COMPOSED: dict[str, Callable[..., Column]] = {
    # conversions with Databend semantics
    "to_string": lambda c: c.cast("string"),
    "to_int8": lambda c: c.cast("tinyint"),
    "to_int16": lambda c: c.cast("smallint"),
    "to_int32": lambda c: c.cast("int"),
    "to_int64": lambda c: c.cast("bigint"),
    # unsigned widening (SURVEY §1.2: u64 → decimal(20,0))
    "to_uint8": lambda c: c.cast("smallint"),
    "to_uint16": lambda c: c.cast("int"),
    "to_uint32": lambda c: c.cast("bigint"),
    "to_uint64": lambda c: c.cast("decimal(20,0)"),
    "to_float32": lambda c: c.cast("float"),
    "to_float64": lambda c: c.cast("double"),
    "to_boolean": lambda c: c.cast("boolean"),
    "to_date": lambda c: F.to_date(c),
    "to_yyyymmdd": lambda c: F.date_format(c, "yyyyMMdd").cast("int"),
    "to_yyyymm": lambda c: F.date_format(c, "yyyyMM").cast("int"),
    "to_yyyymmddhhmmss": lambda c: F.date_format(c, "yyyyMMddHHmmss").cast("bigint"),
    "to_unix_timestamp": lambda c: F.unix_timestamp(c),
    "to_start_of_month": lambda c: F.trunc(c, "month"),
    "to_start_of_quarter": lambda c: F.trunc(c, "quarter"),
    "to_start_of_year": lambda c: F.trunc(c, "year"),
    "to_start_of_week": lambda c: F.trunc(c, "week"),
    "to_start_of_day": lambda c: F.date_trunc("day", c),
    "to_start_of_hour": lambda c: F.date_trunc("hour", c),
    "to_start_of_minute": lambda c: F.date_trunc("minute", c),
    "between_days": lambda a, b: F.datediff(b, a),
    "today": lambda: F.current_date(),
    "yesterday": lambda: F.date_sub(F.current_date(), 1),
    "tomorrow": lambda: F.date_add(F.current_date(), 1),
    "now": lambda: F.current_timestamp(),
    # null handling / control
    "ifnull": lambda a, b: F.coalesce(a, b),
    "nvl": lambda a, b: F.coalesce(a, b),
    "nvl2": lambda a, b, c: F.when(a.isNotNull(), b).otherwise(c),
    "is_null": lambda c: c.isNull(),
    "is_not_null": lambda c: c.isNotNull(),
    "div0": lambda a, b: F.when(b == 0, F.lit(0.0)).otherwise(a / b),
    "divnull": lambda a, b: a / F.nullif(b, F.lit(0)),
    "is_true": lambda c: c.isNotNull() & c.cast("boolean"),
    # string
    "to_lowercase": lambda c: F.lower(c),
    "to_uppercase": lambda c: F.upper(c),
    "string_to_array": lambda c, sep: F.split(c, re.escape(" ") if sep is None else sep),
    "quote": lambda c: F.concat(F.lit("'"), F.regexp_replace(c, "'", "\\\\'"), F.lit("'")),
    "left_pad": lambda c, n, p: F.lpad(c, n, p),
    "right_pad": lambda c, n, p: F.rpad(c, n, p),
    "bit_length": lambda c: F.octet_length(c) * 8,
    # variant stand-ins (Databend Variant ≈ JSON string + accessors)
    "parse_json_variant": lambda c: c,  # JSON kept as string; accessors below
    "json_get_string": lambda c, path: F.get_json_object(c, path),
    "get_string": lambda c, k: F.get_json_object(c, F.concat(F.lit("$."), k)),
    # aggregates: _if combinators for the common cases
    "count_if_agg": _if_combinator(F.count),
    "sum_if": _if_combinator(F.sum),
    "avg_if": _if_combinator(F.avg),
    "min_if": _if_combinator(F.min),
    "max_if": _if_combinator(F.max),
}


def databend_fn(name: str) -> Callable[..., Column]:
    """Resolve a Databend function name to a Spark-callable."""
    lname = name.lower()
    if lname in COMPOSED:
        return COMPOSED[lname]
    target = RENAME.get(lname, lname)
    if target in COMPOSED:
        return COMPOSED[target]
    if hasattr(F, target):
        return getattr(F, target)
    raise KeyError(f"unknown/unsupported Databend function: {name}")


# --- SQL macros: Databend fn → Spark SQL expression template ----------------
# Used by sqlgen for functions that need expression rewrites (not just a
# rename). {0},{1}… are the call's top-level arguments.
SQL_MACROS: dict[str, str] = {
    "to_string": {
        1: "CAST({0} AS STRING)",
        2: "date_format(CAST({0} AS TIMESTAMP), {1})",
    },
    "to_char": {
        1: "CAST({0} AS STRING)",
        2: lambda args: _to_char_dispatch(args),
    },
    "to_varchar": "CAST({0} AS STRING)",
    "to_text": "CAST({0} AS STRING)",
    "to_int8": "CAST({0} AS TINYINT)",
    "to_int16": "CAST({0} AS SMALLINT)",
    "to_int32": "CAST({0} AS INT)",
    "to_int64": "CAST({0} AS BIGINT)",
    "to_uint64": "CAST({0} AS DECIMAL(20,0))",
    "to_uint8": "CAST({0} AS SMALLINT)",
    "to_uint16": "CAST({0} AS INT)",
    "to_uint32": "CAST({0} AS BIGINT)",
    "to_float32": "CAST({0} AS FLOAT)",
    "to_float64": "CAST({0} AS DOUBLE)",
    "to_boolean": "CAST({0} AS BOOLEAN)",
    "to_yyyymmdd": "CAST(date_format({0}, 'yyyyMMdd') AS INT)",
    "to_yyyymm": "CAST(date_format({0}, 'yyyyMM') AS INT)",
    "to_yyyymmddhhmmss": "CAST(date_format({0}, 'yyyyMMddHHmmss') AS BIGINT)",
    "to_yyyymmddhh": "CAST(date_format({0}, 'yyyyMMddHH') AS BIGINT)",
    "to_start_of_month": "trunc({0}, 'month')",
    "to_start_of_quarter": "trunc({0}, 'quarter')",
    "to_start_of_year": "trunc({0}, 'year')",
    "to_start_of_day": "date_trunc('day', {0})",
    "to_start_of_hour": "date_trunc('hour', {0})",
    "to_start_of_minute": "date_trunc('minute', {0})",
    "between_days": "datediff({1}, {0})",
    # ISO day-of-week Monday=1..Sunday=7 (reference date_helper.rs
    # ToDayOfWeek); Spark's dayofweek is Sunday=1
    "to_day_of_week": "(CAST(weekday({0}) AS INT) + 1)",
    "dayofweek": "(CAST(weekday({0}) AS INT) + 1)",
    # Databend's default week starts Sunday (mode 0); mode 1 = Monday
    "to_start_of_week": {
        1: "date_sub(CAST({0} AS DATE),"
           " CAST(dayo\x03fweek({0}) AS INT) - 1)",
        2: "CASE WHEN ({1}) >= 1 THEN date_sub(CAST({0} AS DATE),"
           " CAST(weekday({0}) AS INT)) ELSE date_sub(CAST({0} AS DATE),"
           " CAST(dayo\x03fweek({0}) AS INT) - 1) END",
    },
    # exact ratio, no 8-digit rounding (reference months_between)
    "months_between": "months_be\x03tween({0}, {1}, false)",
    # robust ISO parse (offsets, T separator) via CAST
    "to_unix_timestamp": "unix_seconds(CAST(({0}) AS TIMESTAMP))",
    # bit-exact reference hashes via functions.hashes UDFs
    "siphash64": "__siphash64({0})",
    "siphash": "__siphash64({0})",
    "xxhash64": "__xxhash64({0})",
    "xxhash32": "__xxhash32({0})",
    "blake3": "__blake3({0})",
    "city64withseed": "__city64_seed({0}, {1})",
    # fractional seconds since the epoch (reference EPOCH extract)
    "epoch": "(CAST(unix_micros(CAST(({0}) AS TIMESTAMP)) AS DOUBLE)"
             " / 1000000.0)",
    # timestamp_diff → interval display text h:mm:ss[.ffffff]
    # (reference datetime.rs timestamp_diff returns IntervalType)
    "timestamp_diff": (
        "concat(IF((unix_micros(CAST({0} AS TIMESTAMP))"
        " - unix_micros(CAST({1} AS TIMESTAMP))) < 0, '-', ''),"
        " CAST(CAST(abs(unix_micros(CAST({0} AS TIMESTAMP))"
        " - unix_micros(CAST({1} AS TIMESTAMP))) / 3600000000 AS BIGINT)"
        " AS STRING), ':',"
        " lpad(CAST(CAST(abs(unix_micros(CAST({0} AS TIMESTAMP))"
        " - unix_micros(CAST({1} AS TIMESTAMP))) % 3600000000 / 60000000"
        " AS BIGINT) AS STRING), 2, '0'), ':',"
        " lpad(CAST(CAST(abs(unix_micros(CAST({0} AS TIMESTAMP))"
        " - unix_micros(CAST({1} AS TIMESTAMP))) % 60000000 / 1000000"
        " AS BIGINT) AS STRING), 2, '0'),"
        " IF(abs(unix_micros(CAST({0} AS TIMESTAMP))"
        " - unix_micros(CAST({1} AS TIMESTAMP))) % 1000000 > 0,"
        " concat('.', lpad(CAST(abs(unix_micros(CAST({0} AS TIMESTAMP))"
        " - unix_micros(CAST({1} AS TIMESTAMP))) % 1000000 AS STRING),"
        " 6, '0')), ''))"
    ),
    # extract-field helpers (reference date_helper.rs To*Impl)
    "week": "weekofyear({0})",
    "dow": "(CAST(dayo\x03fweek(CAST({0} AS DATE)) AS INT) - 1)",
    "isodow": "(CAST(weekday(CAST({0} AS DATE)) AS INT) + 1)",
    "yearweek": "(extract(YEAROFWEEK FROM CAST({0} AS DATE)) * 100"
                " + weekofyear({0}))",
    "millennium": "CAST(ceil(year({0}) / 1000.0) AS INT)",
    "ifnull": {1: "({0})", 2: "coalesce({0}, {1})"},
    "nvl": {1: "({0})", 2: "coalesce({0}, {1})"},
    "unnest": "explode({0})",
    "generate_series": {
        2: "explode(sequence({0}, {1}))",
        3: "explode(sequence({0}, {1}, {2}))",
    },
    "unicode": "ascii({0})",
    "soundex": "__soundex(CAST({0} AS STRING))",
    "humanize_size": "__humanize_size(CAST({0} AS DOUBLE))",
    "humanize_number": "__humanize_number(CAST({0} AS DOUBLE))",
    "inet_aton": "__inet_aton(CAST({0} AS STRING), true)",
    "try_inet_aton": "__inet_aton(CAST({0} AS STRING), false)",
    "inet_ntoa": "__inet_ntoa({0}, true)",
    # MySQL regexp matching defaults to case-insensitive; match_type
    # flags: i/c/m(multiline)/n(dot-matches-newline)
    "regexp_like": lambda args: _regexp_like_sql(args),
    "regexp": lambda args: _regexp_like_sql(args),
    "glob": lambda args: _glob_sql(args),
    "chr": {1: "__chr({0})"},
    # MySQL CHAR(n, n, ...): one character per code point, NULLs skip,
    # out-of-range raises (reference scalars/string.rs char)
    "char": lambda args: (
        "CASE WHEN "
        + " OR ".join(f"({a}) IS NULL" for a in args)
        + " THEN NULL ELSE concat("
        + ", ".join(f"__chr({a})" for a in args)
        + ") END"
        if args
        else None
    ),
    "regexp_instr": {
        2: "__regexp_instr({0}, {1}, 1, 1, 0, '')",
        3: "__regexp_instr({0}, {1}, {2}, 1, 0, '')",
        4: "__regexp_instr({0}, {1}, {2}, {3}, 0, '')",
        5: "__regexp_instr({0}, {1}, {2}, {3}, {4}, '')",
        6: "__regexp_instr({0}, {1}, {2}, {3}, {4}, {5})",
    },
    # Databend regexp_extract: 2-arg = whole match (group 0); 3rd arg
    # may be a group index or a name list (→ map rendered as JSON);
    # group>9 / out-of-range semantics differ from Spark's builtin
    # (string_multi_args.rs:333-412) — route through the UDF
    "regexp_extract": lambda args: (
        f"__regexp_extract_named({args[0]}, {args[1]}, {args[2]})"
        if len(args) == 3
        and re.match(r"^\s*(\[|array\s*\()", args[2], re.I)
        else f"__regexp_extract({args[0]}, {args[1]}, "
        + (args[2] if len(args) == 3 else "0")
        + ")"
        if len(args) in (2, 3)
        else None
    ),
    "regexp_extract_all": {
        2: "__regexp_extract_all({0}, {1}, 0)",
        3: "__regexp_extract_all({0}, {1}, {2})",
    },
    # Databend split/split_part use a LITERAL separator (string.rs:987)
    # — Spark's split is regex-based
    # JVM fallback inside lambdas (Spark bans Python UDFs there): a
    # literal separator becomes a \Q…\E-quoted regex for native split
    "split": lambda args: (
        None
        if len(args) != 2
        else (
            (
                "spl\x03it(CAST({0} AS STRING), '\\\\Q{sep}\\\\E')".format(
                    args[0],
                    sep=_literal_text(args[1])[1:-1].replace("'", "''"),
                )
            )
            if current_options().lambda_safe
            and _literal_text(args[1]).startswith("'")
            else "__split(CAST({0} AS STRING), CAST({1} AS STRING))".format(
                *args
            )
        )
    ),
    "split_part": {
        3: "__split_part(CAST({0} AS STRING), CAST({1} AS STRING), {2})"
    },
    "regexp_substr": {
        2: "__regexp_substr({0}, {1}, 1, 1, '')",
        3: "__regexp_substr({0}, {1}, {2}, 1, '')",
        4: "__regexp_substr({0}, {1}, {2}, {3}, '')",
        5: "__regexp_substr({0}, {1}, {2}, {3}, {4})",
    },
    "regexp_replace": {
        3: "__regexp_replace({0}, {1}, {2}, 1, 0, '')",
        4: "__regexp_replace({0}, {1}, {2}, {3}, 0, '')",
        5: "__regexp_replace({0}, {1}, {2}, {3}, {4}, '')",
        6: "__regexp_replace({0}, {1}, {2}, {3}, {4}, {5})",
    },
    "try_inet_ntoa": "__inet_ntoa({0}, false)",
    "sounds_like": "(__soundex(CAST({0} AS STRING)) ="
                   " __soundex(CAST({1} AS STRING)))",
    # MySQL ord: big-endian integer of the first character's UTF-8
    # bytes (reference scalars/string.rs:830)
    "ord": "CASE WHEN ({0}) IS NULL THEN NULL ELSE coalesce(CAST(conv(hex(encode(left(CAST({0} AS STRING), 1), 'utf-8')), 16, 10) AS BIGINT), 0) END",
    "object_keys": "json_object_keys({0})",
    # our Variant model keeps JSON as strings (COMPOSED parse_json_variant)
    # canonical JSONB text (sorted keys, compact; errors / NULLs on
    # malformed input) — reference scalars/variant.rs parse_json
    "parse_json": {1: "__parse_json_strict({0})"},
    "try_parse_json": {1: "__variant_access(({0}), '', '', false)"},
    # to_decimal(p, s)(x) arrives as to_decimal(x, p, s) after the
    # parameterized-call normalization; precision beyond Spark's 38
    # ceiling goes through the exact-expansion __decimal_text UDF
    # (reference supports precision ≤ 76)
    "try_to_decimal": lambda args: _to_decimal_sql(args, "try_cast"),
    "to_decimal": lambda args: _to_decimal_sql(args, "CAST"),
    "nvl2": "CASE WHEN {0} IS NOT NULL THEN {1} ELSE {2} END",
    "div0": "CASE WHEN {1} = 0 THEN 0.0 ELSE {0} / {1} END",
    "divnull": "{0} / nullif({1}, 0)",
    "is_null": "({0} IS NULL)",
    "is_not_null": "({0} IS NOT NULL)",
    "to_lowercase": "lower({0})",
    "to_uppercase": "upper({0})",
    "bit_length": "octet_length({0}) * 8",
    "json_get_string": "get_json_object({0}, {1})",
    "add_years": "timestampadd(YEAR, {1}, {0})",
    # ADD_MONTHS is last-day-sticky (reference datetime.rs:1458-1460:
    # "if the original day is the last day of the month, the result day
    # of month will be the last day of the result month")
    "add_months": (
        "CASE WHEN day({0}) = day(last_day(CAST({0} AS DATE))) THEN"
        " timestampadd(DAY, datediff(last_day(CAST(timestampadd(MONTH,"
        " {1}, {0}) AS DATE)), CAST(timestampadd(MONTH, {1}, {0}) AS"
        " DATE)), timestampadd(MONTH, {1}, {0}))"
        " ELSE timestampadd(MONTH, {1}, {0}) END"
    ),
    "add_days": "timestampadd(DAY, {1}, {0})",
    "add_hours": "timestampadd(HOUR, {1}, {0})",
    "add_minutes": "timestampadd(MINUTE, {1}, {0})",
    "add_seconds": "timestampadd(SECOND, {1}, {0})",
    "subtract_years": "timestampadd(YEAR, -({1}), {0})",
    "subtract_months": "timestampadd(MONTH, -({1}), {0})",
    "subtract_days": "timestampadd(DAY, -({1}), {0})",
    "subtract_hours": "timestampadd(HOUR, -({1}), {0})",
    "subtract_minutes": "timestampadd(MINUTE, -({1}), {0})",
    "subtract_seconds": "timestampadd(SECOND, -({1}), {0})",
    # _state/_merge combinators (reference aggregate_combinator_state.rs):
    # states are structs with the reference's positional tuple layout —
    # sum_state = (sum, flag), min/max_state = (flag, value, flag) — so
    # `.1`/`.2` reads work like the reference's. uniq uses a real
    # mergeable HLL sketch. Backquoted fields: macro expansion runs after
    # the positional-tuple rewrite. See operators/agg_state.py for the
    # DataFrame-API pipeline form.
    # scalar range(): Databend/DuckDB end is EXCLUSIVE, Spark sequence()
    # is inclusive (table-valued `FROM range(...)` is \x03-protected)
    "range": {
        2: "sequence({0}, ({1}) - 1)",
        3: "sequence({0}, ({1}) - CAST(sign({2}) AS INT), {2})",
    },
    "map_size": "size({0})",
    # entries-concat preserves insertion order (map_concat hash-scrambles
    # it); LAST_WIN dedup keeps first position + last value like Databend
    "map_cat": "map_from_entries(concat(map_entries({0}), map_entries({1})))",
    # Databend array_indexof: NULL needle matches null elements; 0 when
    # absent (Spark array_position nulls out on a NULL needle)
    "array_indexof": (
        "CASE WHEN ({0}) IS NULL THEN NULL"
        " WHEN ({1}) IS NULL THEN"
        " coalesce(array_position(transform({0}, x -> x IS NULL), true), 0)"
        " ELSE array_position({0}, {1}) END"
    ),
    "array_concat": "concat({0}, {1})",
    "array_unique": "size(array_d\x03istinct({0}))",
    # Databend array_distinct drops NULL elements entirely
    "array_distinct": "array_d\x03istinct(filter({0}, x -> x IS NOT NULL))",
    "array_sum": (
        "aggregate(filter({0}, x -> x IS NOT NULL), CAST(0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
    ),
    "array_avg": (
        "(aggregate(filter({0}, x -> x IS NOT NULL), CAST(0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
        " / size(filter({0}, x -> x IS NOT NULL)))"
    ),
    # map_insert (reference scalars/map.rs): inserting an EXISTING key
    # errors unless allow_update=true, which replaces in place; a new
    # key appends at the end; NULL/empty maps behave as empty
    "map_insert": {
        3: (
            "map_from_entries(concat(IF(assert_true(coalesce(NOT "
            "array_contains(map_keys({0}), {1}), true), 'map key "
            "already exists') IS NULL, coalesce(map_entries({0}), "
            "array()), array()), map_entries(map({1}, {2}))))"
        ),
        4: (
            "CASE WHEN ({3}) THEN (CASE WHEN coalesce(array_contains("
            "map_keys({0}), {1}), false) THEN transform_values({0}, "
            "(k, v) -> IF(k <=> {1}, {2}, v)) ELSE map_from_entries("
            "concat(coalesce(map_entries({0}), array()), "
            "map_entries(map({1}, {2})))) END) ELSE "
            "map_from_entries(concat(IF(assert_true(coalesce(NOT "
            "array_contains(map_keys({0}), {1}), true), 'map key "
            "already exists') IS NULL, coalesce(map_entries({0}), "
            "array()), array()), map_entries(map({1}, {2})))) END"
        ),
    },
    "array_remove_first": "sl\x03ice({0}, 2, greatest(size({0}) - 1, 0))",
    "array_remove_last": "sl\x03ice({0}, 1, greatest(size({0}) - 1, 0))",
    # Databend arg order is (elem, arr); Spark's is (arr, elem)
    "array_prepend": "array_p\x03repend(coalesce({1}, array()), {0})",
    # array access/slicing — Databend is 1-based with an inclusive end
    # index; Spark is 0-based with a length arg
    "get": "element_at({0}, {1})",
    "array_get": "element_at({0}, {1})",
    "slice": {
        2: (
            "sl\x03ice({0}, {1}, CASE WHEN ({1}) < 0 THEN -({1})"
            " ELSE size({0}) - ({1}) + 1 END)"
        ),
        3: "sl\x03ice({0}, {1}, ({2}) - ({1}) + 1)",
    },
    "array_slice": {
        2: (
            "sl\x03ice({0}, {1}, CASE WHEN ({1}) < 0 THEN -({1})"
            " ELSE size({0}) - ({1}) + 1 END)"
        ),
        3: "sl\x03ice({0}, {1}, ({2}) - ({1}) + 1)",
    },
    "strcmp": (
        "CASE WHEN ({0}) IS NULL OR ({1}) IS NULL THEN NULL"
        " WHEN ({0}) < ({1}) THEN -1 WHEN ({0}) > ({1}) THEN 1 ELSE 0 END"
    ),
    # MySQL-style INSERT(str, pos, len, repl); the bare word INSERT in
    # DML never has '(' directly after it, so the macro can't misfire
    "insert": {
        4: (
            "CASE WHEN ({1}) < 1 OR ({1}) > length({0}) THEN ({0})"
            " ELSE concat(substr({0}, 1, ({1}) - 1), ({3}),"
            " substr({0}, ({1}) + ({2}))) END"
        ),
    },
    "hex_decode_string": "CAST(unhex({0}) AS STRING)",
    "base64_decode_string": "CAST(unbase64({0}) AS STRING)",
    # nullability adapters are no-ops in Spark (all columns nullable)
    "to_nullable": "({0})",
    "remove_nullable": "({0})",
    "assume_not_null": (
        "if(({0}) IS NULL,"
        " raise_error('assume_not_null called on NULL value'), ({0}))"
    ),
    "database": "current_database()",
    "currentdatabase": "current_database()",
    # session context (reference scalars/other.rs): fixed root identity
    # and the pinned UTC session timezone
    "current_user": "'''root''@''%'''",
    "currentuser": "'''root''@''%'''",
    "user": "'''root''@''%'''",
    "timezone": "'UTC'",
    # Databend TIME renders as text (typeof VARCHAR)
    "current_time": lambda args: (
        "date_format(now(), 'HH:mm:ss.SSSSSS')"
        if not args or not args[0].strip()
        else "date_format(now(), concat('HH:mm:ss.',"
        f" repeat('S', CAST({args[0]} AS INT))))"
    ),
    "gen_random_uuid": "uuid()",
    # IGNORE(...) evaluates and discards, always 0 (reference
    # scalars/other.rs ignore)
    "ignore": lambda args: "0",
    # factorial domain is 0..20 (reference errors outside); Spark
    # returns NULL
    "factorial": "IF(({0}) BETWEEN 0 AND 20, factoria\x03l({0}),"
                 " raise_error('factorial only defined for 0..20'))",
    "isnan": "CASE WHEN ({0}) IS NULL THEN NULL"
             " ELSE isna\x03n({0}) END",
    "mid": {3: "substring({0}, {1}, {2})", 2: "substring({0}, {1})"},
    # reference math.rs floor/ceil are F64 → F64 (Spark returns LONG,
    # overflowing above 2^63 — doubles ≥ 2^53 are already integral)
    "floor": {
        1: "IF(abs({0}) >= 9007199254740992D, CAST({0} AS DOUBLE),"
           " CAST(flo\x03or({0}) AS DOUBLE))"
    },
    "ceil": {
        1: "IF(abs({0}) >= 9007199254740992D, CAST({0} AS DOUBLE),"
           " CAST(ce\x03il({0}) AS DOUBLE))"
    },
    "ceiling": {
        1: "IF(abs({0}) >= 9007199254740992D, CAST({0} AS DOUBLE),"
           " CAST(ce\x03il({0}) AS DOUBLE))"
    },
    # position 0 yields '' in the reference (Spark treats 0 as 1)
    # position 0 yields '' at runtime (reference string.rs:1137 substr),
    # but the reference's constant folder treats a LITERAL 0 as 1
    # (02_0005_function_substring: SUBSTRING('12345', 0, 1) → '1')
    "substring": lambda args: (
        f"substri\x03ng({args[0]}, 1, {args[2]})"
        if len(args) == 3 and args[1].strip() == "0"
        else f"IF(({args[1]}) = 0, '', substri\x03ng({', '.join(args)}))"
    ),
    # filter combinators: NULL collapses to false (reference
    # scalars/boolean.rs and_filters)
    "and_filters": lambda args: (
        "(" + " AND ".join(
            f"coalesce(CAST(({a}) AS BOOLEAN), false)" for a in args
        ) + ")"
        if args
        else None
    ),
    "or_filters": lambda args: (
        "(" + " OR ".join(
            f"coalesce(CAST(({a}) AS BOOLEAN), false)" for a in args
        ) + ")"
        if args
        else None
    ),
    # no-op pacing stub: the reference sleeps server-side; tests only
    # check the statement succeeds
    "sleep": "(0 * CAST(({0}) AS INT))",
    # Databend to_binary(s) = utf8 bytes; Spark's 1-arg default is HEX
    "to_binary": lambda a: _to_binary_macro(a, "CAST"),
    "try_to_binary": lambda a: _to_binary_macro(a, "TRY_CAST"),
    # jsonb binary encoding of a variant (jsonb crate layout)
    "to_jsonb_binary": "__jsonb_binary(CAST({0} AS STRING))",
    # WKT/EWKT constructors → (E)WKB binary geometry values
    # (reference types/geometry.rs; geography drops the SRID flag)
    "st_geometryfromwkt": {
        1: "__geo_parse(hex({0}), NULL, false)",
        2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
    },
    "st_geomfromwkt": {
        1: "__geo_parse(hex({0}), NULL, false)",
        2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
    },
    "st_geomfromtext": {
        1: "__geo_parse(hex({0}), NULL, false)",
        2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
    },
    "st_geometryfromtext": {
        1: "__geo_parse(hex({0}), NULL, false)",
        2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
    },
    # geography constructors bind SRID 4326 and range-check coordinates
    "st_geographyfromewkt": "__geo_parse_geog(hex({0}), false)",
    "st_geogfromwkt": "__geo_parse_geog(hex({0}), false)",
    "st_geographyfromwkt": "__geo_parse_geog(hex({0}), false)",
    "st_geographyfromwkb": "__geo_parse_geog(hex({0}), false)",
    "st_geogfromwkb": "__geo_parse_geog(hex({0}), false)",
    "to_geography": "__geo_parse_geog(hex({0}), false)",
    "try_to_geography": "__geo_parse_geog(hex({0}), true)",
    "st_point": "__geo_point_geog(CAST({0} AS DOUBLE), CAST({1} AS DOUBLE))",
    "st_geogpointfromgeohash": "__geo_fromgeohash({0}, 'point')",
    "st_geogfromgeohash": "__geo_fromgeohash({0}, 'cell')",
    # numeric truncate-toward-zero (Spark's trunc is date-only); BIGINT
    # cast truncates toward zero for both signs
    # truncate-toward-zero; the modulo form avoids BIGINT overflow on
    # values beyond int64 (doubles that large have no fraction anyway)
    "truncate": {
        1: (
            "CASE WHEN abs({0}) < 9e18 THEN CAST(CAST({0} AS BIGINT)"
            " AS DOUBLE) ELSE CAST({0} AS DOUBLE) END"
        ),
        2: (
            "CASE WHEN abs(({0}) * POW(10, {1})) < 9e18 THEN"
            " (CAST(({0}) * POW(10, {1}) AS BIGINT) / POW(10, {1}))"
            " ELSE ({0}) - (({0}) % POW(10, -({1}))) END"
        ),
    },
    # 3-arg unit-first date_sub (date_add's unit form is rewritten in
    # sqlgen pre-masking; this one needs arg reorder so lives here)
    "date_sub": {3: "timestampadd({0}, -({1}), {2})"},
    # error-handling trio: our lenient conversions yield NULL where the
    # reference raises a catchable error (is_error semantics map to NULL)
    # shape-validated unbase64 (NULL on malformed input) — only reachable
    # through the error-handling trio below, which rewrite raising
    # conversions inside their argument into this guarded form
    "try_unbase64__": (
        "(CASE WHEN ({0}) RLIKE "
        "'^(?:[A-Za-z0-9+/]{{4}})*(?:[A-Za-z0-9+/]{{2}}==|"
        "[A-Za-z0-9+/]{{3}}=)?$' THEN unbase64({0}) END)"
    ),
    "today": "current_date()",
    "yesterday": "date_sub(current_date(), 1)",
    "tomorrow": "date_add(current_date(), 1)",
    # two-arg trims: Databend is trim(str, charset) but Spark's two-arg
    # form is trim(charset, str) — swap via TRIM syntax. One-arg calls
    # hit the template's {1} IndexError and pass through untouched.
    "ltrim": "trim(LEADING {1} FROM {0})",
    "rtrim": "trim(TRAILING {1} FROM {0})",
    "sum_state": "named_struct('1', sum({0}), '2', true)",
    "count_state": "named_struct('1', count({0}), '2', true)",
    "min_state": "named_struct('1', true, '2', min({0}), '3', true)",
    "max_state": "named_struct('1', true, '2', max({0}), '3', true)",
    "avg_state": "named_struct('1', sum({0}), '2', count({0}))",
    "uniq_state": "hll_sketch_agg({0})",
    "sum_merge": "sum({0}.`1`)",
    "count_merge": "sum({0}.`1`)",
    "min_merge": "min({0}.`2`)",
    "max_merge": "max({0}.`2`)",
    "avg_merge": "(CAST(sum({0}.`1`) AS DOUBLE) / sum({0}.`2`))",
    "uniq_merge": "hll_sketch_estimate(hll_union_agg({0}))",
    "sum_if": "sum(CASE WHEN {1} THEN {0} END)",
    "avg_if": "avg(CASE WHEN {1} THEN {0} END)",
    "min_if": "min(CASE WHEN {1} THEN {0} END)",
    "max_if": "max(CASE WHEN {1} THEN {0} END)",
    "count_if": {
        1: "count(CASE WHEN {0} THEN 1 END)",
        2: "count(CASE WHEN {1} THEN {0} END)",
    },
    "sum_distinct": "sum(DISTINCT {0})",
    "count_distinct": "count(DISTINCT {0})",
    "avg_distinct": "avg(DISTINCT {0})",
    "intdiv": "({0} div {1})",
    # MySQL LOCATE('', s, p) = p (Spark returns 1 for an empty needle)
    "locate": {
        3: (
            "CASE WHEN length({0}) = 0 THEN"
            " IF(({2}) <= length({1}) + 1, CAST({2} AS INT), 0)"
            " ELSE l\x03ocate({0}, {1}, {2}) END"
        ),
    },
    "instr": {
        3: "__instr(CAST({0} AS STRING), CAST({1} AS STRING), {2}, 1)",
        4: "__instr(CAST({0} AS STRING), CAST({1} AS STRING), {2}, {3})",
    },
    # ClickHouse running_difference: x - previous x in input order;
    # first row yields 0
    "running_difference": (
        "({0} - lag({0}, 1, {0}) OVER"
        " (ORDER BY monotonically_increasing_id()))"
    ),
}

# scalar aggregates over a single array argument (Databend's array_*
# family, aggregates applied element-wise: reference
# src/query/functions/src/scalars/array.rs). All skip NULL elements.
_ARR = "filter(({0}), x -> x IS NOT NULL)"
_N = f"size({_ARR})"
_S1 = f"aggregate({_ARR}, CAST(0 AS DOUBLE), (a, x) -> a + x)"
_S2 = f"aggregate({_ARR}, CAST(0 AS DOUBLE), (a, x) -> a + x * x)"
_SORTED = f"array_sort({_ARR})"
SQL_MACROS.update(
    {
        "array_count": _N,
        "array_any": f"element_at({_ARR}, 1)",
        "array_min": f"array_m\x03in({_ARR})",
        "array_max": f"array_m\x03ax({_ARR})",
        "array_stddev_samp": (
            f"sqrt(({_S2} - {_S1} * {_S1} / {_N}) / ({_N} - 1))"
        ),
        "array_stddev_pop": f"sqrt(({_S2} - {_S1} * {_S1} / {_N}) / {_N})",
        "array_stddev": (
            f"sqrt(({_S2} - {_S1} * {_S1} / {_N}) / ({_N} - 1))"
        ),
        "array_std": f"sqrt(({_S2} - {_S1} * {_S1} / {_N}) / {_N})",
        "array_median": (
            f"CASE WHEN {_N} % 2 = 1"
            f" THEN CAST(element_at({_SORTED},"
            f" CAST(({_N} + 1) div 2 AS INT)) AS DOUBLE)"
            f" ELSE (element_at({_SORTED}, CAST({_N} div 2 AS INT))"
            f" + element_at({_SORTED}, CAST({_N} div 2 + 1 AS INT)))"
            f" / 2.0 END"
        ),
    }
)


def _keyset_expr(args: list[str]) -> str | None:
    """Key args of map_delete/map_pick: either one array expression or
    N scalar keys."""
    if len(args) < 2:
        return None
    if len(args) == 2 and args[1].lstrip().lower().startswith("array("):
        return args[1]
    return "array(" + ", ".join(args[1:]) + ")"


def _to_binary_macro(args: list[str], cast: str) -> str | None:
    """to_binary/try_to_binary: bitmap values (sorted-bigint-array
    model) serialize through __bitmap_binary; geometry values are
    already binary; strings CAST."""
    if len(args) != 1:
        return None
    a = args[0]
    if re.search(r"to_bitmap\s*\(|build_bitmap\s*\(|sort_array\s*\(", a, re.I):
        return f"__bitmap_binary({a})"
    if re.search(r"st_geography\w*\s*\(|__geo_parse_geog\s*\(", a, re.I):
        # geography → plain WKB (reference casts drop the SRID header)
        return f"__geo_wkb('wkb', {a})"
    if re.search(r"st_ge\w*from\w*\s*\(", a, re.I):
        return f"({a})"
    return f"{cast}({a} AS BINARY)"


def _json_map_lambda(spark_fn: str, args: list[str]) -> str | None:
    """json_map_{transform_keys,transform_values,filter}(variant, λ):
    a cast-to-variant of a NATIVE map serializes via to_json; json-text
    variants read directly (reference scalars/map.rs json_map_*)."""
    if len(args) != 2:
        return None
    a = args[0].strip()
    # by macro time ::VARIANT was aliased to STRING — strip it back
    mm = re.match(
        r"^(?:try_)?cast\s*\((.*)\s+as\s+string\s*\)$", a, re.I | re.S
    ) or re.match(r"^(.*)::\s*string$", a, re.I | re.S)
    src = f"to_json({mm.group(1)})" if mm else f"CAST({a} AS STRING)"
    return (
        f"__parse_json_strict(to_json({spark_fn}(from_json({src},"
        f" 'map<string,string>'), {args[1]})))"
    )


def _map_delete(args: list[str]) -> str | None:
    if args and args[0].strip().lower() in ("map()", "{}"):
        return "map()"  # empty map: nothing to delete (void-typed keys)
    keys = _keyset_expr(args)
    if keys is None:
        return None
    return f"map_filter({args[0]}, (k, v) -> NOT array_contains({keys}, k))"


def _map_pick(args: list[str]) -> str | None:
    if args and args[0].strip().lower() in ("map()", "{}"):
        return "map()"
    keys = _keyset_expr(args)
    if keys is None:
        return None
    return f"map_filter({args[0]}, (k, v) -> array_contains({keys}, k))"


SQL_MACROS["map_delete"] = _map_delete
SQL_MACROS["map_pick"] = _map_pick

_TS_VALUED = re.compile(
    r"\b(timestamp_micros|timestamp_millis|timestamp_seconds|to_timestamp|"
    r"now|current_timestamp)\s*\(|::\s*timestamp\b",
    re.I,
)


_DATE_VALUED = re.compile(
    r"date_add\(DATE'1970-01-01'|\bto_date\s*\(|::\s*date\b", re.I
)


def _to_int64(args: list[str]) -> str | None:
    """Databend to_int64(timestamp) = epoch micros, to_int64(date) =
    epoch days; other args are a plain bigint cast. Dispatch on the
    (already-rewritten) arg text."""
    if len(args) != 1:
        return None
    if _TS_VALUED.search(args[0]):
        return f"unix_micros({args[0]})"
    if _DATE_VALUED.search(args[0]):
        return f"CAST(datediff({args[0]}, DATE'1970-01-01') AS BIGINT)"
    return f"CAST({args[0]} AS BIGINT)"


SQL_MACROS["to_int64"] = _to_int64

# weekday-name args arrive as bare identifiers (previous_day(d, monday))
_WEEKDAY_NUM = {  # Spark dayofweek(): 1 = Sunday
    "sunday": 1, "monday": 2, "tuesday": 3, "wednesday": 4,
    "thursday": 5, "friday": 6, "saturday": 7,
}


def _previous_day(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    n = _WEEKDAY_NUM.get(args[1].strip().lower())
    if n is None:
        return None
    # largest date strictly before {d} whose dayofweek = n
    return "date_sub({d}, pmod(dayo\x03fweek({d}) - {n} + 6, 7) + 1)".format(
        d=args[0], n=n
    )


def _next_day(args: list[str]) -> str | None:
    if len(args) != 2 or "\x00" in args[1]:
        return None  # already a (masked) string literal — leave as-is
    day = args[1].strip().lower()
    if day not in _WEEKDAY_NUM:
        return None
    return f"next_d\x03ay({args[0]}, '{day}')"


def _uniq(args: list[str]) -> str | None:
    """Databend's uniq: the reference's tests treat it as exact (HLL
    stays in exact mode at test cardinalities) — use COUNT(DISTINCT)."""
    if not args:
        return None
    return "count(DISTINCT " + ", ".join(args) + ")"


SQL_MACROS["uniq"] = _uniq


def _guard_errors(expr: str) -> str:
    """Turn raising conversions into NULL-returning guarded forms so the
    error-handling trio can observe them (reference: is_error catches
    runtime conversion errors)."""
    return re.sub(r"(?i)\bunbase64\s*\(", "try_unbase64__(", expr)


SQL_MACROS["is_error"] = lambda args: f"(({_guard_errors(args[0])}) IS NULL)"
SQL_MACROS["is_not_error"] = (
    lambda args: f"(({_guard_errors(args[0])}) IS NOT NULL)"
)
# first non-error (→ first non-NULL of the guarded forms)
SQL_MACROS["error_or"] = (
    lambda args: f"coalesce({', '.join(_guard_errors(a) for a in args)})"
)


def _any_agg(args: list[str]) -> str | None:
    """Databend any(col) = any_value; but `> ANY (subquery)` must pass
    through untouched — dispatch on the argument text."""
    if len(args) != 1 or args[0].lstrip().lower().startswith(
        ("select", "with", "values")
    ):
        return None
    # first(col, ignoreNulls): Databend any() returns the FIRST stored
    # value (query/functions/02_0000_function_aggregate_min_max_any.test
    # expects insertion order); any_value may pick any row
    return f"first({args[0]}, true)"


def _if_variadic(args: list[str]) -> str | None:
    """Databend if() accepts cond/value pairs plus else (variadic CASE);
    the 3-arg form is Spark-native and passes through."""
    if len(args) < 5 or len(args) % 2 == 0:
        return None
    whens = " ".join(
        f"WHEN {args[i]} THEN {args[i + 1]}"
        for i in range(0, len(args) - 1, 2)
    )
    return f"CASE {whens} ELSE {args[-1]} END"


SQL_MACROS["any"] = _any_agg
SQL_MACROS["if"] = _if_variadic


def _retention(args: list[str]) -> str | None:
    """Databend retention(c1, …, cn) aggregate → array of 0/1 flags:
    r[1] = max(c1); r[i] = max(c1 AND ci) (reference
    aggregates/aggregate_retention.rs)."""
    if len(args) < 2:
        return None
    first = f"max(IF({args[0]}, 1, 0))"
    cells = [f"CAST({first} AS TINYINT)"]
    cells += [
        f"CAST({first} * max(IF({c}, 1, 0)) AS TINYINT)" for c in args[1:]
    ]
    return "array(" + ", ".join(cells) + ")"


SQL_MACROS["retention"] = _retention

# bitmap SQL surface over the sorted-distinct-array model
# (functions/bitmap.py; reference src/query/functions/src/scalars/bitmap.rs)
SQL_MACROS.update(
    {
        "build_bitmap": "array_sort(array_d\x03istinct({0}))",
        "bitmap_count": "CAST(size({0}) AS BIGINT)",
        "bitmap_cardinality": "CAST(size({0}) AS BIGINT)",
        "bitmap_contains": "array_contains({0}, {1})",
        "bitmap_has_all": "(size(array_except({1}, {0})) = 0)",
        "bitmap_has_any": "arrays_overlap({0}, {1})",
        "bitmap_max": "array_max({0})",
        "bitmap_min": "array_min({0})",
        "bitmap_or": "array_sort(array_union({0}, {1}))",
        "bitmap_and": "array_sort(array_intersect({0}, {1}))",
        "bitmap_xor": (
            "array_sort(array_except(array_union({0}, {1}),"
            " array_intersect({0}, {1})))"
        ),
        "bitmap_not": "array_sort(array_except({0}, {1}))",
        "bitmap_and_not": "array_sort(array_except({0}, {1}))",
        # 1-arg forms are aggregates folding bitmaps across rows
        # (reference aggregate_bitmap.rs); 2-arg forms are scalar
        "bitmap_and_count": {
            1: (
                "CAST(size(aggregate(collect_list({0}),"
                " CAST(NULL AS ARRAY<BIGINT>),"
                " (acc, x) -> IF(acc IS NULL, x, array_intersect(acc, x))))"
                " AS BIGINT)"
            ),
            2: "CAST(size(array_intersect({0}, {1})) AS BIGINT)",
        },
        "bitmap_or_count": {
            1: (
                "CAST(size(array_d\x03istinct(flatten(collect_list({0}))))"
                " AS BIGINT)"
            ),
            2: "CAST(size(array_union({0}, {1})) AS BIGINT)",
        },
        "bitmap_xor_count": {
            1: (
                "CAST(size(aggregate(collect_list({0}),"
                " CAST(NULL AS ARRAY<BIGINT>),"
                " (acc, x) -> IF(acc IS NULL, x,"
                " array_except(array_union(acc, x),"
                " array_intersect(acc, x))))) AS BIGINT)"
            ),
            2: (
                "CAST(size(array_except(array_union({0}, {1}),"
                " array_intersect({0}, {1}))) AS BIGINT)"
            ),
        },
        "bitmap_not_count": {
            1: (
                "CAST(size(aggregate(collect_list({0}),"
                " CAST(NULL AS ARRAY<BIGINT>),"
                " (acc, x) -> IF(acc IS NULL, x, array_except(acc, x))))"
                " AS BIGINT)"
            ),
            2: "CAST(size(array_except({0}, {1})) AS BIGINT)",
        },
        "bitmap_union": (
            "array_sort(array_d\x03istinct(flatten(collect_list({0}))))"
        ),
        "bitmap_intersect": (
            "aggregate(collect_list({0}), CAST(NULL AS ARRAY<BIGINT>),"
            " (acc, x) -> IF(acc IS NULL, x, array_intersect(acc, x)))"
        ),
        "group_bitmap_agg": "array_sort(collect_set(CAST({0} AS BIGINT)))",
        "bitmap_construct_agg": (
            "array_sort(collect_set(CAST({0} AS BIGINT)))"
        ),
        "bitmap_or_agg": (
            "array_sort(array_distinct(flatten(collect_list({0}))))"
        ),
        "bitmap_and_agg": (
            "array_sort(aggregate(collect_list({0}),"
            " CAST(NULL AS ARRAY<BIGINT>),"
            " (acc, x) -> IF(acc IS NULL, x, array_intersect(acc, x))))"
        ),
        "bitmap_xor_agg": (
            "array_sort(filter(array_distinct(flatten(collect_list({0}))),"
            " e -> size(filter(flatten(collect_list({0})), y -> y = e))"
            " % 2 = 1))"
        ),
        # intersect_count(t1, t2)(v, tag) arrives as
        # intersect_count(v, tag, t1, t2)
        "intersect_count": {
            # a side with no rows for its tag imposes no constraint
            4: "size(coalesce(IF(nullif(array_distinct(flatten(collect_list(IF(({1}) = ({2}), {0}, CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>)) IS NULL, nullif(array_distinct(flatten(collect_list(IF(({1}) = ({3}), {0}, CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>)), IF(nullif(array_distinct(flatten(collect_list(IF(({1}) = ({3}), {0}, CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>)) IS NULL, nullif(array_distinct(flatten(collect_list(IF(({1}) = ({2}), {0}, CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>)), array_intersect(nullif(array_distinct(flatten(collect_list(IF(({1}) = ({2}), {0}, CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>)), nullif(array_distinct(flatten(collect_list(IF(({1}) = ({3}), {0}, CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>))))), CAST(array() AS ARRAY<BIGINT>)))",
        },
        "bitmap_to_array": "({0})",
        "list": "collect_list({0})",
        "sub_bitmap": "sl\x03ice({0}, ({1}) + 1, {2})",
        "bitmap_subset_limit": (
            "sl\x03ice(filter({0}, x -> x >= {1}), 1, {2})"
        ),
        "bitmap_subset_in_range": (
            "filter({0}, x -> x >= {1} AND x < {2})"
        ),
    }
)


def _to_bitmap(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    if "\x00" in args[0]:  # string literal '0, 1, 2'
        return (
            "array_sort(array_d\x03istinct(transform("
            f"sp\x03lit({args[0]}, ','), x -> CAST(trim(x) AS BIGINT))))"
        )
    return f"array(CAST({args[0]} AS BIGINT))"


SQL_MACROS["to_bitmap"] = _to_bitmap
# build_bitmap(array) (reference scalars/bitmap.rs) — sorted-array model
SQL_MACROS["build_bitmap"] = (
    "array_sort(array_d\x03istinct(transform({0},"
    " x -> CAST(x AS BIGINT))))"
)
# Databend stddev/std default to POPULATION (aggregate_stddev.rs);
# Spark's default is sample
SQL_MACROS["stddev"] = "stddev_pop({0})"
SQL_MACROS["std"] = "stddev_pop({0})"
SQL_MACROS["median_tdigest"] = "percentile({0}, 0.5)"


def _quantile_cont(args: list[str]) -> str | None:
    """quantile_cont(x[, p...]) after the fn(p)(x) → fn(x, p...)
    normalization; multiple quantiles return an array. A DECIMAL input
    keeps the decimal type — the reference indexes the sorted values
    (no float interpolation) and renders at the declared scale."""
    if not args:
        return None
    mdec = re.search(
        r"::\s*decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)"
        r"|AS\s+DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)",
        args[0],
        re.I,
    )
    if mdec:
        return _quantile_disc([args[0]] + (args[1:] or ["0.5"]))
    if len(args) == 1:
        return f"percentile({args[0]}, 0.5)"
    if len(args) == 2:
        return f"percentile({args[0]}, {args[1]})"
    return f"percentile({args[0]}, array({', '.join(args[1:])}))"


def _quantile_tdigest(args: list[str]) -> str | None:
    """quantile_tdigest(x, p...): the reference's tdigest sketch over
    singleton centroids interpolates at rank q*n - 0.5
    (aggregate_quantile_tdigest.rs) — slightly different from the
    (n-1)*q percentile rule."""
    if not args:
        return None
    qs = args[1:] or ["0.5"]
    base = (
        f"__quantile_tdigest(collect_list(CAST({args[0]} AS DOUBLE)),"
        f" array({', '.join(qs)}))"
    )
    if len(qs) == 1:
        return f"element_at({base}, 1)"
    return base


def _quantile_tdigest_weighted(args: list[str]) -> str | None:
    """quantile_tdigest_weighted(x, w, p...) — weight replicates the
    value into the sketch."""
    if len(args) < 3:
        return None
    qs = args[2:]
    base = (
        f"__quantile_tdigest(flatten(collect_list(array_repeat("
        f"CAST({args[0]} AS DOUBLE), CAST({args[1]} AS INT)))),"
        f" array({', '.join(qs)}))"
    )
    if len(qs) == 1:
        return f"element_at({base}, 1)"
    return base


def _moving_agg(kind: str, args: list[str]) -> str | None:
    """group_array_moving_{sum,avg}(x[, w]) (reference
    aggregate_array_moving.rs): prefix sums without a window; avg
    divides by the window size (or total n), even for the ramp-up."""
    if not args:
        return None
    if len(args) == 2 and not re.fullmatch(r"\s*\d+\s*", args[1]):
        raise ValueError(
            "[2004] the window size of moving aggregates must be a "
            "positive integer"
        )
    agg = f"collect_list({args[0]})"
    if len(args) == 2:
        w = int(args[1])
        start = f"greatest(1, __mi + 2 - {w})"
        denom = str(w)
    else:
        start = "1"
        denom = f"size({agg})"
    ssum = (
        f"aggregate(sl\x03ice({agg}, {start}, __mi + 2 - ({start})),"
        f" __mv - __mv, (a, e) -> a + e)"
    )
    if kind == "sum":
        return f"transform({agg}, (__mv, __mi) -> {ssum})"
    return (
        f"transform({agg}, (__mv, __mi) -> CAST(({ssum}) AS DOUBLE)"
        f" / {denom})"
    )


def _quantile_disc(args: list[str]) -> str | None:
    """quantile_disc(x, p...): the ACTUAL element at index
    floor(p * (n-1)) of the sorted values (reference
    aggregates/aggregate_quantile_disc.rs) — element type preserved."""
    if len(args) < 2:
        return None
    x = args[0]
    items = [
        f"element_at(sort_array(collect_list({x})),"
        f" CAST(floor(({p}) * (count({x}) - 1)) AS INT) + 1)"
        for p in args[1:]
    ]
    if len(items) == 1:
        return items[0]
    return "array(" + ", ".join(items) + ")"


def _window_funnel_sql(args: list[str]) -> str | None:
    """window_funnel(window)(ts, cond...) arrives as
    window_funnel(ts, cond..., window) — ClickHouse chain funnel over
    collected rows (__window_funnel UDF)."""
    if len(args) < 3:
        return None
    ts, conds, window = args[0], args[1:-1], args[-1]
    struct = ", ".join([ts] + [f"CAST(({c}) AS BOOLEAN)" for c in conds])
    return (
        f"__window_funnel(CAST({window} AS DOUBLE),"
        f" collect_list(struct({struct})))"
    )


SQL_MACROS["window_funnel"] = _window_funnel_sql
SQL_MACROS["quantile_disc"] = _quantile_disc
SQL_MACROS["medians"] = _quantile_disc
SQL_MACROS["quantile_cont"] = _quantile_cont
SQL_MACROS["quantile_tdigest"] = _quantile_tdigest
SQL_MACROS["quantile_tdigest_weighted"] = _quantile_tdigest_weighted
SQL_MACROS["group_array_moving_sum"] = lambda a: _moving_agg("sum", a)
SQL_MACROS["group_array_moving_avg"] = lambda a: _moving_agg("avg", a)
SQL_MACROS["quantile"] = {2: "percentile({0}, {1})"}

def _cast_two_arg(args: list[str]) -> str | None:
    """Databend's function-style cast(expr, TYPE); the standard
    cast(x AS t) parses as one argument and passes through. A type
    alias that expanded to DECIMAL(p, s) arrives split on its comma."""
    if (
        len(args) == 3
        and re.fullmatch(r"\s*DECIMAL\s*\(\s*\d+\s*", args[1], re.I)
        and re.fullmatch(r"\s*\d+\s*\)\s*", args[2])
    ):
        return f"CAST({args[0]} AS {args[1]}, {args[2]})"
    if len(args) == 2 and re.fullmatch(
        r"(ARRAY|MAP|TUPLE|VECTOR)\s*\(.*\)\s*",
        args[1].strip(),
        re.I | re.S,
    ):
        # function-style cast with a paren-nested type target
        from databend_spark.sqlgen import _rewrite_ddl_nested_types

        return (
            f"CAST({args[0]} AS "
            + _rewrite_ddl_nested_types(args[1].strip())
            + ")"
        )
    if len(args) != 2 or "\x00" in args[1] or "(" in args[1]:
        return None
    if re.search(r"\sAS\s", args[0], re.I):
        # standard CAST(x AS MAP<K, V>) whose generic comma split the
        # args — passthrough, it is already valid
        return None
    if not re.fullmatch(r"[\w<>, ]+", args[1].strip()):
        return None
    return f"CAST({args[0]} AS {args[1]})"


_ORACLE_TRUNC_UNITS = {
    # Oracle-style format units (reference trunc: IW = ISO week, …)
    "iw": "week", "mm": "month", "mon": "month", "month": "month",
    "yyyy": "year", "yy": "year", "y": "year", "year": "year",
    "q": "quarter",
    "dd": "day", "ddd": "day", "day": "day",
    "hh": "hour", "hh12": "hour", "hh24": "hour",
    "mi": "minute", "ss": "second",
}


def _trim_sub(
    args: list[str], lead: bool = False, trail: bool = False
) -> str | None:
    """Repeated exact-substring trim (reference scalars/string.rs
    trim_both: removes the trim STRING, not a character set). Needs a
    literal trim argument to build the regex; otherwise falls back to
    Spark TRIM (identical when the trim string is one character)."""
    if len(args) != 2:
        return None
    lit = _literal_text(args[1]).strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        side = "BOTH" if lead and trail else ("LEADING" if lead else "TRAILING")
        return f"TRIM({side} {args[1]} FROM {args[0]})"
    raw = lit[1:-1].replace("''", "'")
    esc = re.escape(raw).replace("\\", "\\\\").replace("'", "''")
    pats = []
    if lead:
        pats.append(f"^(?:{esc})+")
    if trail:
        pats.append(f"(?:{esc})+$")
    out = args[0]
    for p in pats:
        out = f"regexp_replace({out}, '{p}', '')"
    return out


def _trunc_bare_unit(args: list[str]) -> str | None:
    if len(args) == 1:
        return SQL_MACROS["truncate"][1].format(args[0])
    if len(args) != 2:
        return None
    # numeric second argument → numeric truncate (Databend TRUNC alias)
    if re.fullmatch(r"\s*-?\d+\s*", args[1]):
        return SQL_MACROS["truncate"][2].format(args[0], args[1])
    unit_txt = _literal_text(args[1]).strip().strip("'\"").lower()
    if unit_txt not in _ORACLE_TRUNC_UNITS and not (
        "\x00" not in args[1] and args[1].strip().isalpha()
    ):
        return None
    mapped = _ORACLE_TRUNC_UNITS.get(unit_txt, unit_txt)
    if mapped in ("hour", "minute", "second"):
        return f"date_trunc('{mapped}', {args[0]})"
    return f"tru\x03nc({args[0]}, '{mapped}')"


def databend_int_literal_type(txt: str) -> str:
    """Databend's integer-literal type inference (reference
    src/query/ast literal typing: narrowest unsigned width for
    non-negative values, narrowest signed width for negatives, DECIMAL
    beyond u64/i64)."""
    v = int(txt)
    if v >= 0:
        for hi, name in (
            (255, "TINYINT UNSIGNED"),
            (65535, "SMALLINT UNSIGNED"),
            (4294967295, "INT UNSIGNED"),
            (18446744073709551615, "BIGINT UNSIGNED"),
        ):
            if v <= hi:
                return name
    else:
        for lo, name in (
            (-128, "TINYINT"),
            (-32768, "SMALLINT"),
            (-2147483648, "INT"),
            (-9223372036854775808, "BIGINT"),
        ):
            if v >= lo:
                return name
    return f"DECIMAL({len(txt.lstrip('-'))}, 0)"


def _typeof_macro(args: list[str]) -> str | None:
    """typeof: uppercase Databend names (VARCHAR for strings, comma
    spacing); an integer-literal argument reports the reference's
    literal inference, which Spark's uniform-INT typing loses."""
    if len(args) != 1:
        return None
    t = args[0].strip()
    if re.fullmatch(r"-?\d+", t):
        return "'" + databend_int_literal_type(t) + "'"
    if t.upper() == "NULL":
        return "'NULL'"
    # integer-literal arithmetic: the reference FOLDS the constant and
    # re-infers the literal's minimal unsigned/signed width
    # (02_0001_function_type_of goldens: 256-256 → TINYINT UNSIGNED)
    if re.fullmatch(r"[\d\s+\-*/()]*\d[\d\s+\-*/()]*", t):
        if "/" in t:
            return "'DOUBLE'"
        try:
            v = eval(t, {"__builtins__": {}}, {})  # noqa: S307 digits+ops only
        except Exception:  # noqa: BLE001
            v = None
        if isinstance(v, int):
            return "'" + databend_int_literal_type(str(v)) + "'"
    # numbers() column arithmetic: number is UInt64 in the reference
    mnum = re.fullmatch(r"number(?:\s*([+\-*/])\s*\d+)?", t, re.I)
    if mnum:
        op = mnum.group(1)
        if op == "/":
            return "'DOUBLE'"
        if op == "-":
            return "'BIGINT'"
        return "'BIGINT UNSIGNED'"
    # a cast to an unsigned width names it UNSIGNED in the reference;
    # Spark's widened signed/decimal model loses that — read the cast
    # target straight off the expression text
    _unames = {
        "uint8": "TINYINT UNSIGNED", "uint16": "SMALLINT UNSIGNED",
        "uint32": "INT UNSIGNED", "uint64": "BIGINT UNSIGNED",
        "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT",
        "int64": "BIGINT",
    }
    mc = re.search(
        r"(?:::\s*(u?int(?:8|16|32|64))\s*$"
        r"|^CAST\s*\(.*\s+AS\s+(u?int(?:8|16|32|64))\s*\)\s*$"
        r"|^to_(u?int(?:8|16|32|64))\s*\()",
        t,
        re.I,
    )
    if mc:
        name = (mc.group(1) or mc.group(2) or mc.group(3)).lower()
        return "'" + _unames[name] + "'"
    if re.search(r"\bto_unix_timestamp\s*\(", t, re.I):
        return "'INT UNSIGNED'"
    # date - date is INT (day count), timestamp - timestamp is BIGINT
    # (microseconds) in the reference
    if re.search(
        r"-\s*(today|yesterday|tomorrow|current_date|to_date)\s*\(", t, re.I
    ):
        return "'INT'"
    if re.search(r"-\s*(now|current_timestamp|to_datetime|to_timestamp)\s*\(", t, re.I):
        return "'BIGINT'"
    # unary +/- over a folded to_<type>(literal): the reference folds the
    # constant and re-infers the literal's minimal type (unary + keeps
    # the operand's type; unary - over float keeps the float width)
    mu = re.fullmatch(
        r"([-+])\s*to_(uint|int|float)(8|16|32|64)\s*\(\s*(-?\d+)\s*\)", t
    )
    if mu:
        sign, base, width, lit = mu.groups()
        if base == "float":
            return "'FLOAT'" if width == "32" else "'DOUBLE'"
        if sign == "+":
            names = {"8": "TINYINT", "16": "SMALLINT", "32": "INT", "64": "BIGINT"}
            name = names[width]
            return "'" + (name + " UNSIGNED" if base == "uint" else name) + "'"
        return "'" + databend_int_literal_type(str(-int(lit))) + "'"
    if re.search(r"\b\w+_state\s*\(", t, re.I):
        # aggregate _state structs display as TUPLE(...) in the
        # reference (positional tuple, Databend type names); numbers()
        # columns are UINT64 there while Spark stores BIGINT. All
        # replacement strings ride as masked literals so later
        # type-alias / tuple-literal passes can't rewrite them.
        def lit(s: str) -> str:
            return _mask_literal("'" + s + "'")

        expr = f"upper(t\x03ypeof({t}))"
        expr = f"regexp_replace({expr}, {lit('STRUCT<')}, {lit('TUPLE(')})"
        expr = f"regexp_replace({expr}, {lit('[0-9]+:')}, {lit('')})"
        expr = f"regexp_replace({expr}, {lit('>')}, {lit(')')})"
        expr = f"regexp_replace({expr}, {lit(',')}, {lit(', ')})"
        if re.search(r"_state\s*\(\s*number\s*\)", t, re.I):
            expr = (
                f"regexp_replace({expr}, {lit('BIGINT')}, {lit('UINT64')})"
            )
        return expr
    # typeof over a VARIANT value is its jsonb runtime type
    # (variant.rs:2558: same RawJsonb::type_of as json_typeof)
    if re.search(r"__variant_access\s*\(", t) or re.match(
        r"^\$\d+\b", t
    ):
        return (
            f"CASE WHEN upper(__json_typeof(CAST(({t}) AS STRING)))"
            " = 'STRING' THEN 'VARCHAR'"
            f" ELSE upper(__json_typeof(CAST(({t}) AS STRING))) END"
        )
    return (
        f"CASE upper(t\x03ypeof({t})) WHEN 'STRING' THEN 'VARCHAR'"
        f" ELSE regexp_replace(upper(t\x03ypeof({t})), ',\\\\s*', ', ')"
        " END"
    )


SQL_MACROS["typeof"] = _typeof_macro

SQL_MACROS["cast"] = _cast_two_arg
SQL_MACROS["try_cast"] = _cast_two_arg
SQL_MACROS["trunc"] = _trunc_bare_unit


def _slot(seconds: int) -> str:
    # slot boundaries are LOCAL wall time (reference to_start_of_*):
    # flooring the UTC epoch misplaces boundaries in :30/:45-offset
    # session timezones (Kathmandu 11:54 must slot to 11:50, not 11:45)
    return (
        "timestampadd(SECOND, -CAST((hour({0}) * 3600 + minute({0}) * 60"
        " + second({0})) % " + str(seconds) + " AS BIGINT),"
        " date_trunc('second', CAST({0} AS TIMESTAMP)))"
    )


_ISO_Y4 = "make_date(extract(YEAROFWEEK FROM {0}), 1, 4)"
SQL_MACROS.update(
    {
        "to_start_of_five_minutes": _slot(300),
        "to_start_of_ten_minutes": _slot(600),
        "to_start_of_fifteen_minutes": _slot(900),
        "time_slot": _slot(1800),  # reference: 30-minute slots
        "to_start_of_iso_year": (
            f"date_sub({_ISO_Y4}, CAST(weekday({_ISO_Y4}) AS INT))"
        ),
        "to_monday": (
            "date_sub(CAST({0} AS DATE),"
            " CAST(weekday(CAST({0} AS DATE)) AS INT))"
        ),
        "str_to_timestamp": "to_timestamp({0}, {1})",
        "date_between": "timestampdiff({0}, {1}, {2})",
    }
)

def _last_day(args: list[str]) -> str | None:
    """last_day(d[, unit]) with bare unit idents (week ends Sunday)."""
    if len(args) == 1:
        return f"last_d\x03ay({args[0]})"
    if len(args) != 2:
        return None
    d = f"CAST({args[0]} AS DATE)"
    unit = args[1].strip().lower()
    return {
        "week": f"date_add({d}, 6 - CAST(weekday({d}) AS INT))",
        "month": f"last_d\x03ay({d})",
        "quarter": f"date_sub(add_months(tru\x03nc({d}, 'quarter'), 3), 1)",
        "year": f"make_date(year({d}), 12, 31)",
    }.get(unit)


SQL_MACROS["last_day"] = _last_day

# auto-detect datetime parsing (reference enable_auto_detect_datetime_
# format): try a curated format chain, then epoch-number fallback
_DATE_FMTS = ["yyyy-M-d", "M/d/yyyy", "dd-MMM-yyyy", "MMM d, yyyy",
              "yyyyMMdd"]
_TS_FMTS = [
    "yyyy-M-d H:m:s[.SSSSSS]",
    "M/d/yyyy H:m:s[.SSSSSS]",
    "dd-MMM-yyyy H:m:s[.SSSSSS]",
    "EEE MMM dd HH:mm:ss xx yyyy",
    "EEE, d MMM yyyy hh:mm:ss[.SSSSSS] a[ xx]",
    "EEE, d MMM yyyy HH:mm:ss[.SSSSSS][ xx]",
    "yyyyMMddHHmmss",
]


def _try_to_date(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    x, opts = args[0], current_options()
    if opts.dt_strict and not opts.dt_auto:
        # strict parser without auto-detect: zero-padded ISO only
        return f"try_to_d\x03ate({x}, 'yyyy-MM-dd')"
    if opts.dt_auto:
        # Snowflake-style detection: pure-numeric text is epoch DAYS
        # (saturating to 0001-01-01 outside the date domain), tried
        # BEFORE compact formats so '20240305' stays epoch-based
        num = (
            f"CASE WHEN try_cast({x} AS BIGINT) IS NOT NULL THEN"
            f" CASE WHEN try_cast({x} AS BIGINT) BETWEEN -719162 AND"
            f" 2932896 THEN date_add(DATE'1970-01-01',"
            f" CAST({x} AS INT)) ELSE DATE'0001-01-01' END END"
        )
        tries = [num]
        tries += [f"try_to_d\x03ate({x}, '{f}')" for f in _DATE_FMTS]
        tries.append(f"try_to_d\x03ate({x}, 'd/M/yyyy')")
        tries.append(f"try_to_d\x03ate({x})")
        return "coalesce(" + ", ".join(tries) + ")"
    tries = [f"try_to_d\x03ate({x}, '{f}')" for f in _DATE_FMTS]
    tries.append(
        f"CASE WHEN length({x}) != 8 AND try_cast({x} AS BIGINT) IS NOT"
        f" NULL THEN CAST(timestamp_seconds(try_cast({x} AS BIGINT))"
        " AS DATE) END"
    )
    tries.append(f"try_to_d\x03ate({x}, 'd/M/yyyy')")
    tries.append(f"try_to_d\x03ate({x})")
    return "coalesce(" + ", ".join(tries) + ")"


def _try_to_timestamp(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    x, opts = args[0], current_options()
    if opts.dt_strict and not opts.dt_auto:
        # strict parser without auto-detect: zero-padded ISO only
        return (
            f"try_to_t\x03imestamp({x},"
            " 'yyyy-MM-dd HH:mm:ss[.SSSSSS]')"
        )
    if opts.dt_auto:
        return _try_to_timestamp_auto(x)
    # Spark ≥3 rejects day-name patterns when parsing — strip the weekday
    # prefix textually and parse the remainder instead of using EEE
    tries = []
    for f in _TS_FMTS:
        if f.startswith("EEE, "):
            src = f"regexp_replace({x}, '^[A-Za-z]+,\\\\s*', '')"
            tries.append(f"try_to_t\x03imestamp({src}, '{f[5:]}')")
        elif f.startswith("EEE "):
            src = (
                f"regexp_replace({x},"
                " '^[A-Za-z]{3}\\\\s+(?=[A-Za-z]{3}\\\\s)', '')"
            )
            tries.append(f"try_to_t\x03imestamp({src}, '{f[4:]}')")
        else:
            tries.append(f"try_to_t\x03imestamp({x}, '{f}')")
    tries.append(
        f"try_to_t\x03imestamp({x}, 'd/M/yyyy[ H:m:s[.SSSSSS]]')"
    )
    tries.append(f"try_to_t\x03imestamp({x}, 'yyyyMMdd')")
    tries.append(
        f"CASE WHEN length({x}) NOT IN (8, 14) AND try_cast({x} AS"
        " BIGINT) IS NOT NULL THEN CASE"
        f" WHEN abs(try_cast({x} AS BIGINT)) >= 1000000000000000"
        f" THEN timestamp_micros(try_cast({x} AS BIGINT))"
        f" WHEN abs(try_cast({x} AS BIGINT)) >= 1000000000000"
        f" THEN timestamp_millis(try_cast({x} AS BIGINT))"
        f" ELSE timestamp_seconds(try_cast({x} AS BIGINT)) END END"
    )
    tries.append(f"try_to_t\x03imestamp({x})")
    tries.append(f"CAST(try_to_d\x03ate({x}, 'MMM d, yyyy') AS TIMESTAMP)")
    tries.append(f"CAST(try_to_d\x03ate({x}, 'dd-MMM-yyyy') AS TIMESTAMP)")
    return "coalesce(" + ", ".join(tries) + ")"


def _try_to_timestamp_auto(x: str) -> str:
    """Snowflake-style auto-detection (reference 02_0012): pure-numeric
    text is an epoch (magnitude decides the unit) BEFORE any compact
    format; fractional seconds beyond micros truncate; RFC 2822 / Unix
    date / DD-MON / M-D-Y families all parse."""
    # epoch-unit boundaries per reference int64_to_timestamp
    # (expression/src/utils/auto_detect_datetime.rs:68): |n| < 31536000000
    # → seconds, |n| < 31536000000000 → millis, else MICROS clamped to
    # the timestamp domain [TIMESTAMP_MIN, TIMESTAMP_MAX]
    num = (
        f"CASE WHEN try_cast({x} AS BIGINT) IS NOT NULL THEN CASE"
        f" WHEN abs(try_cast({x} AS BIGINT)) >= 31536000000000"
        f" THEN timestamp_micros(greatest(least(try_cast({x} AS BIGINT),"
        " 253402300799999999), -62135596800000000))"
        f" WHEN abs(try_cast({x} AS BIGINT)) >= 31536000000"
        f" THEN timestamp_millis(try_cast({x} AS BIGINT))"
        f" ELSE timestamp_seconds(try_cast({x} AS BIGINT)) END END"
    )
    # cut fractional digits beyond micros (Spark patterns stop at SSSSSS)
    src0 = (
        f"regexp_replace({x},"
        " '(\\\\.\\\\d{6})\\\\d+', '$1')"
    )
    tries = [num]
    for f in _TS_FMTS:
        if f.startswith("EEE, "):
            src = f"regexp_replace({src0}, '^[A-Za-z]+,\\\\s*', '')"
            tries.append(f"try_to_t\x03imestamp({src}, '{f[5:]}')")
        elif f.startswith("EEE "):
            src = (
                f"regexp_replace({src0},"
                " '^[A-Za-z]{3}\\\\s+(?=[A-Za-z]{3}\\\\s)', '')"
            )
            tries.append(f"try_to_t\x03imestamp({src}, '{f[4:]}')")
        else:
            tries.append(f"try_to_t\x03imestamp({src0}, '{f}')")
    tries.append(
        f"try_to_t\x03imestamp({src0}, 'd/M/yyyy[ H:m:s[.SSSSSS]]')"
    )
    tries.append(f"try_to_t\x03imestamp({src0})")
    tries.append(f"CAST(try_to_d\x03ate({x}, 'MMM d, yyyy') AS TIMESTAMP)")
    tries.append(f"CAST(try_to_d\x03ate({x}, 'dd-MMM-yyyy') AS TIMESTAMP)")
    return "coalesce(" + ", ".join(tries) + ")"


def _quote_sql(args: list[str]) -> str | None:
    """quote(s): MySQL-style escaping of special characters (reference
    scalars/string.rs quote; suites/query/functions/02_0023)."""
    if len(args) != 1:
        return None
    e = args[0]
    bs = "char(92)"
    # order matters: escape the backslash itself first
    pairs = [
        (bs, f"concat({bs}, {bs})"),
        ("char(0)", f"concat({bs}, '0')"),
        ("char(39)", f"concat({bs}, char(39))"),
        ("char(34)", f"concat({bs}, char(34))"),
        ("char(8)", f"concat({bs}, 'b')"),
        ("char(10)", f"concat({bs}, 'n')"),
        ("char(13)", f"concat({bs}, 'r')"),
        ("char(9)", f"concat({bs}, 't')"),
    ]
    for raw, esc in pairs:
        e = f"replace({e}, {raw}, {esc})"
    return e


def _cast2_type(t: str) -> str | None:
    """Second argument of a two-argument cast → Spark type text, or
    None when it is not a type (then cast() is not the comma form)."""
    t = t.strip()
    if re.fullmatch(
        r"[A-Za-z_]\w*(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?", t
    ):
        return _VA_CAST2.get(t.lower(), t)
    m = re.fullmatch(
        r"(?is)ARRAY\s*\(\s*([A-Za-z_]\w*"
        r"(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
        r"(?:\s+NULL)?\s*\)",
        t,
    )
    if m:
        inner = _VA_CAST2.get(m.group(1).lower(), m.group(1))
        return f"ARRAY<{inner}>"
    return None


SQL_MACROS["quote"] = _quote_sql
SQL_MACROS["try_to_date"] = _try_to_date
SQL_MACROS["try_to_timestamp"] = _try_to_timestamp
SQL_MACROS["try_to_datetime"] = _try_to_timestamp

SQL_MACROS["previous_day"] = _previous_day
SQL_MACROS["next_day"] = _next_day
SQL_MACROS["timestamp_from_parts"] = {
    6: "make_timestamp({0}, {1}, {2}, {3}, {4}, {5})",
}
SQL_MACROS["date_from_parts"] = {3: "make_date({0}, {1}, {2})"}

# tuple(a, b, …) → named_struct with positional field names '1','2',…
# (matches the t.N access rewrite and the reference's TUPLE display)
SQL_MACROS["tuple"] = {
    n: "named_struct("
    + ", ".join(f"'{i + 1}', {{{i}}}" for i in range(n))
    + ")"
    for n in range(1, 13)
}

# --- geo (reference scalars/geographic/src/{geo,geometry}.rs) ---------------
# distance family: exact-double haversine replaces the reference's f32 LUT
# approximation (geo.rs:602-737, documented divergence in functions/geo.py).
_HAV_A = (
    "(pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))"
)


def _hav_angle(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return f"(2 * asin(sqrt({_HAV_A.format(lat1=lat1, lon1=lon1, lat2=lat2, lon2=lon2)})))"


def _geo_pip(args: list[str]) -> str | None:
    """point_in_polygon (geo.rs:383): 3-arg (px, py, ring[x/y structs]) or
    2-arg (tuple point, array of tuples) — codegen'd ray-cast HOF.
    All-literal multi-ring forms (holes as nested arrays or extra ring
    args) constant-fold here with even-odd semantics; a 1-tuple point
    is a bind error 1065 like the reference."""
    _num = r"-?\d+(?:\.\d*)?"
    _tup = rf"\(\s*{_num}\s*(?:,\s*{_num}\s*)*,?\s*\)"
    # brackets are already lowered to array(...) by the time macros run
    _litform = re.compile(r"^[\sarray(),.\d+-]+$", re.I)
    if (
        len(args) >= 2
        and re.fullmatch(rf"\s*{_tup}\s*", args[0])
        and all(_litform.fullmatch(a) for a in args[1:])
    ):
        def tup(t: str) -> list[float]:
            return [float(x) for x in re.findall(_num, t)]

        pt = tup(args[0])
        if len(pt) != 2:
            raise ValueError("[1065] point_in_polygon point needs (x, y)")
        rings: list[list[list[float]]] = []
        for a in args[1:]:
            s = a.strip()
            if re.match(r"^array\s*\(\s*array\s*\(", s, re.I):
                body = re.sub(r"^array\s*\(", "", s, flags=re.I)[:-1]
                for rm in re.finditer(
                    r"array\s*\(((?:\([^()]*\)|[^()])*)\)", body, re.I
                ):
                    rings.append(
                        [tup(t) for t in re.findall(_tup, rm.group(1))]
                    )
            else:
                rings.append([tup(t) for t in re.findall(_tup, s)])
        inside = False
        x, y = pt
        for ring in rings:
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (
                    y2 - y1
                ) + x1:
                    inside = not inside
        return "1" if inside else "0"
    if len(args) == 3:
        px, py, poly, fx, fy = args[0], args[1], args[2], "x", "y"
    elif len(args) == 2:
        px, py, poly, fx, fy = f"({args[0]}).`1`", f"({args[0]}).`2`", args[1], "`1`", "`2`"
    else:
        return None
    nxt = f"element_at({poly}, IF(i = size({poly}), 1, i + 1))"
    cur = f"element_at({poly}, i)"
    return (
        f"aggregate(sequence(1, size({poly})), false, (acc, i) -> ("
        f"CASE WHEN (({cur}).{fy} > ({py})) != (({nxt}).{fy} > ({py}))"
        f" AND ({px}) < (({nxt}).{fx} - ({cur}).{fx})"
        f" * (({py}) - ({cur}).{fy}) / (({nxt}).{fy} - ({cur}).{fy})"
        f" + ({cur}).{fx}"
        f" THEN NOT acc ELSE acc END))"
    )


def _geohash_encode_macro(args: list[str]) -> str | None:
    """geohash_encode(lon, lat) → 12-char geohash (geo.rs:145). Lambda
    binding (single-element transform) evaluates quantize/interleave once."""
    if len(args) != 2:
        return None
    from databend_spark.functions.geo import chars_sql, interleave_sql, quantize_sql

    lon_q, lat_q = quantize_sql(args[0], args[1])
    iv = interleave_sql("q.`1`", "q.`2`", "spark")
    chars = chars_sql("v", "spark")
    return (
        f"element_at(transform(array(named_struct('1', {lon_q}, '2', {lat_q})),"
        f" q -> element_at(transform(array({iv}), v -> {chars}), 1)), 1)"
    )


def _geohash_decode_macro(args: list[str]) -> str | None:
    """geohash_decode(gh) → tuple(lon, lat) cell center (geo.rs:182)."""
    if len(args) != 1:
        return None
    from databend_spark.functions import geo as _geo

    # bind the (possibly long) argument once via a single-element transform,
    # then decode against the short bound name `g`
    lon_terms, lat_terms = [], []
    lon_pos = lat_pos = 0
    for j in range(60):
        p = j // 5 + 1
        shift = 4 - (j % 5)
        charval = f"(instr('{_geo.GEOHASH_BASE32}', substr(g, {p}, 1)) - 1)"
        bit = (
            f"IF(length(g) >= {p},"
            f" CAST((shiftright({charval}, {shift}) & 1) AS DOUBLE), 0.0D)"
        )
        if j % 2 == 0:
            lon_terms.append(f"{bit} * {0.5 ** (lon_pos + 1)!r}")
            lon_pos += 1
        else:
            lat_terms.append(f"{bit} * {0.5 ** (lat_pos + 1)!r}")
            lat_pos += 1
    lon_half = "pow(0.5, CAST((length(g) * 5 + 1) DIV 2 AS DOUBLE)) / 2.0"
    lat_half = "pow(0.5, CAST((length(g) * 5) DIV 2 AS DOUBLE)) / 2.0"
    lon = f"(({' + '.join(lon_terms)}) * 360.0 - 180.0 + ({lon_half}) * 360.0)"
    lat = f"(({' + '.join(lat_terms)}) * 180.0 - 90.0 + ({lat_half}) * 180.0)"
    return (
        f"element_at(transform(array({args[0]}),"
        f" g -> named_struct('1', {lon}, '2', {lat})), 1)"
    )


SQL_MACROS.update(
    {
        # haversine(lat1, lon1, lat2, lon2) → km, 9-dec round (geometry.rs:139)
        "haversine": (
            "round(6371.0088 * "
            + _hav_angle("{1}", "{0}", "{3}", "{2}")
            + ", 9)"
        ),
        # meters on the authalic radius, f32 result (geo.rs:119-143)
        "geo_distance": (
            "CAST(6371007.180918475 * "
            + _hav_angle("{0}", "{1}", "{2}", "{3}")
            + " AS FLOAT)"
        ),
        "great_circle_distance": (
            "CAST(6371007.180918475 * "
            + _hav_angle("{0}", "{1}", "{2}", "{3}")
            + " AS FLOAT)"
        ),
        "great_circle_angle": (
            "CAST(degrees(" + _hav_angle("{0}", "{1}", "{2}", "{3}") + ") AS FLOAT)"
        ),
        "point_in_polygon": _geo_pip,
        "geohash_encode": _geohash_encode_macro,
        "geohash_decode": _geohash_decode_macro,
        # geometry surface on the EWKB binary model (geom_kernel.py;
        # reference scalars/geographic/src/geometry.rs)
        "st_makegeompoint": "__geo_makepoint(CAST({0} AS DOUBLE), CAST({1} AS DOUBLE))",
        "st_geom_point": "__geo_makepoint(CAST({0} AS DOUBLE), CAST({1} AS DOUBLE))",
        "st_x": "__geo_num('x', {0}, NULL, NULL)",
        "st_y": "__geo_num('y', {0}, NULL, NULL)",
        "st_xmin": "__geo_num('xmin', {0}, NULL, NULL)",
        "st_xmax": "__geo_num('xmax', {0}, NULL, NULL)",
        "st_ymin": "__geo_num('ymin', {0}, NULL, NULL)",
        "st_ymax": "__geo_num('ymax', {0}, NULL, NULL)",
        "st_area": "__geo_num('area', {0}, NULL, NULL)",
        "st_perimeter": "__geo_num('perimeter', {0}, NULL, NULL)",
        "st_length": "__geo_num('length', {0}, NULL, NULL)",
        "st_distance": "__geo_num('distance', {0}, {1}, NULL)",
        "st_hausdorffdistance": "__geo_num('hausdorff', {0}, {1}, NULL)",
        "st_azimuth": "__geo_num('azimuth', {0}, {1}, NULL)",
        "st_contains": "__geo_bool('contains', {0}, {1}, NULL)",
        "st_covers": "__geo_bool('covers', {0}, {1}, NULL)",
        "st_coveredby": "__geo_bool('coveredby', {0}, {1}, NULL)",
        "st_within": "__geo_bool('within', {0}, {1}, NULL)",
        "st_intersects": "__geo_bool('intersects', {0}, {1}, NULL)",
        "st_disjoint": "__geo_bool('disjoint', {0}, {1}, NULL)",
        "st_equals": "__geo_bool('equals', {0}, {1}, NULL)",
        "st_dwithin": "__geo_bool('dwithin', {0}, {1}, CAST({2} AS DOUBLE))",
        "st_isvalid": "__geo_bool('isvalid', {0}, NULL, NULL)",
        "st_srid": "__geo_int('srid', {0})",
        "st_npoints": "__geo_int('npoints', {0})",
        "st_dimension": "__geo_int('dimension', {0})",
        "st_hilbert": {
            1: "__geo_int('hilbert', {0})",
            2: "__geo_hilbert_b({0}, array_join({1}, ','))",
        },
        "st_centroid": "__geo_g1('centroid', {0})",
        "st_envelope": "__geo_g1('envelope', {0})",
        "st_convexhull": "__geo_g1('convexhull', {0})",
        "st_startpoint": "__geo_g1('startpoint', {0})",
        "st_endpoint": "__geo_g1('endpoint', {0})",
        "st_makepolygon": "__geo_g1('makepolygon', {0})",
        "st_makepolygonoriented": "__geo_g1('makepolygonoriented', {0})",
        "st_union": "__geo_g2('union', {0}, {1})",
        "st_intersection": "__geo_g2('intersection', {0}, {1})",
        "st_difference": "__geo_g2('difference', {0}, {1})",
        "st_symdifference": "__geo_g2('symdifference', {0}, {1})",
        "st_makeline": "__geo_g2('makeline', {0}, {1})",
        "st_buffer": "__geo_gd('buffer', {0}, CAST({1} AS DOUBLE))",
        "st_simplify": "__geo_gd('simplify', {0}, CAST({1} AS DOUBLE))",
        "st_pointn": "__geo_gd('pointn', {0}, CAST({1} AS DOUBLE))",
        "st_setsrid": "__geo_gd('setsrid', {0}, CAST({1} AS DOUBLE))",
        "st_aswkt": "__geo_str('wkt', {0}, NULL)",
        "st_astext": "__geo_str('wkt', {0}, NULL)",
        "st_asewkt": "__geo_str('ewkt', {0}, NULL)",
        "st_asgeojson": "__geo_str('asgeojson', {0}, NULL)",
        "st_geohash": {
            1: "__geo_str('geohash', {0}, NULL)",
            2: "__geo_str('geohash', {0}, CAST({1} AS STRING))",
        },
        "st_aswkb": "__geo_wkb('wkb', {0})",
        "st_asbinary": "__geo_wkb('wkb', {0})",
        "st_asewkb": "__geo_wkb('ewkb', {0})",
        "st_transform": {
            2: "__geo_transform({0}, NULL, CAST({1} AS BIGINT))",
            3: "__geo_transform({0}, CAST({1} AS BIGINT), CAST({2} AS BIGINT))",
        },
        "st_geompointfromgeohash": "__geo_fromgeohash({0}, 'point')",
        "st_geomfromgeohash": "__geo_fromgeohash({0}, 'cell')",
        "st_union_agg": "__geo_agg('union_agg', collect_list({0}))",
        "st_intersection_agg": "__geo_agg('intersection_agg', collect_list({0}))",
        "st_envelope_agg": "__geo_agg('envelope_agg', collect_list({0}))",
        "st_collect": "__geo_agg('collect', collect_list({0}))",
        "to_geometry": {
            1: "__geo_parse(hex({0}), NULL, false)",
            2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
        },
        "try_to_geometry": {
            1: "__geo_parse(hex({0}), NULL, true)",
            2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), true)",
        },
        "st_geometryfromwkb": {
            1: "__geo_parse(hex({0}), NULL, false)",
            2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
        },
        "st_geomfromwkb": {
            1: "__geo_parse(hex({0}), NULL, false)",
            2: "__geo_parse(hex({0}), CAST({1} AS BIGINT), false)",
        },
        "st_geometryfromewkb": "__geo_parse(hex({0}), NULL, false)",
        "st_geomfromewkb": "__geo_parse(hex({0}), NULL, false)",
        # MySQL conv(): a negative from_base means |base| with signed
        # interpretation — Spark returns NULL there; take the magnitude
        "conv": {3: "c\x03onv({0}, CAST(abs({1}) AS INT), {2})"},
        # reference oct() sign-extends to i64 and prints the u64 octal
        # (two's complement); hex() exposes exactly that bit pattern
        "oct": "conv(hex(CAST({0} AS BIGINT)), 16, 8)",
        # the reference ERRORS on malformed hex / oversized space();
        # Spark returns NULL / materializes — guard to match
        "unhex": (
            "CASE WHEN {0} IS NOT NULL AND unh\x03ex({0}) IS NULL"
            " THEN raise_error('invalid hex string') ELSE unh\x03ex({0}) END"
        ),
        "from_hex": (
            "CASE WHEN {0} IS NOT NULL AND unh\x03ex({0}) IS NULL"
            " THEN raise_error('invalid hex string') ELSE unh\x03ex({0}) END"
        ),
        "space": (
            "CASE WHEN {0} > 1000000"
            " THEN raise_error('space(): length exceeds maximum')"
            " ELSE sp\x03ace(CAST({0} AS INT)) END"
        ),
    }
)


# --- round-3 batch: variant tail, array HOF aliases, misc gaps -------------
# (reference: scalars/variant.rs, scalars/array.rs lambda registrations,
# srfs/variant.rs; names from the r3 SLT sweep's UNRESOLVED_ROUTINE tally)

# to_variant(x): serialize any value to the JSON-as-string variant model.
# to_json needs a container — wrap in array, strip the outer brackets.
_TO_VARIANT = (
    "CASE WHEN {0} IS NULL THEN NULL ELSE"
    " regexp_replace(to_json(array({0})), '^\\\\[|\\\\]$', '') END"
)

_NUM_RE = "'^-?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?$'"


# masked-literal table of the rewrite running in this context (set by
# sqlgen around expand_sql_macros) — lets literal-inspecting macros read
# values
LITERALS: ContextVar[list[str]] = ContextVar("macro_literals", default=[])
_MASKED_LIT = re.compile("^\x00(\\d+)\x00$")


def _literal_text(arg: str) -> str:
    """Resolve a masked string-literal placeholder to its raw text."""
    m, lits = _MASKED_LIT.match(arg.strip()), LITERALS.get()
    if m and int(m.group(1)) < len(lits):
        return lits[int(m.group(1))]
    return arg


def _mask_literal(quoted: str) -> str:
    """Add a quoted SQL literal to the table; return its placeholder."""
    lits = LITERALS.get()
    lits.append(quoted)
    return f"\x00{len(lits) - 1}\x00"


def _to_char_dispatch(args: list[str]) -> str:
    """to_char(x, fmt): PG numeric templates contain digit positions
    (9/0) outside quoted literals; date templates (YYYY-MM-DD…) never do
    (reference dispatches on the argument type; the corpus' patterns are
    literal so the template text decides)."""
    raw = _literal_text(args[1]).strip()
    if raw.startswith("'") and raw.endswith("'"):
        raw = raw[1:-1]
    unquoted = re.sub(r'"(?:[^"\\]|\\.)*"', "", raw)
    if re.search(r"[90]", unquoted):
        return f"__pg_to_char(CAST({args[0]} AS STRING), {args[1]})"
    return f"date_format(CAST({args[0]} AS TIMESTAMP), {args[1]})"


def _array_reduce(args: list[str]) -> str | None:
    """Left fold seeded by the first element (reference array_reduce).
    aggregate() needs merge-result type == init type, so numeric folds
    run over ARRAY<DOUBLE> (decimal sums widen) while string lambdas
    (|| / concat in the body) keep the raw element type."""
    if len(args) != 2:
        return None
    a, lam = args[0], args[1]
    if a.strip().lower() == "array()":
        return "'[]'"  # reference: reduce of [] is the empty array
    if a.strip().lower() == "null":
        return "NULL"
    stringy = "||" in lam or re.search(r"\bconcat\s*\(", lam, re.I)
    if stringy:
        return (
            f"aggregate(sl\x03ice({a}, 2, greatest(size({a}) - 1, 0)),"
            f" try_element_at({a}, 1), {lam})"
        )
    ad = f"CAST({a} AS ARRAY<DOUBLE>)"
    return (
        f"aggregate(sl\x03ice({ad}, 2, greatest(size({ad}) - 1, 0)),"
        f" try_element_at({ad}, 1), {lam})"
    )


def _array_aggregate(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    op = _literal_text(args[1]).strip().strip("'\"").lower()
    allowed = {
        "max", "min", "sum", "avg", "count", "any", "stddev_samp",
        "stddev_pop", "stddev", "std", "median", "kurtosis", "skewness",
        "approx_count_distinct", "unique",
    }
    if op not in allowed:
        return None
    return f"array_{op}({args[0]})"


_VA_CAST_T = {
    "string": "STRING", "varchar": "STRING", "text": "STRING",
    "int": "INT", "int32": "INT", "integer": "INT",
    "int64": "BIGINT", "bigint": "BIGINT",
    "float": "FLOAT", "float32": "FLOAT",
    "double": "DOUBLE", "float64": "DOUBLE",
    "boolean": "BOOLEAN", "bool": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP",
}


def _va_path_access(base: str, chain: str) -> str:
    path = ".".join(chain.strip(":").split(":"))
    return f"get_json_object({base}, '$.{path}')"


def _va_lambda_body(body: str, params: list[str]) -> str:
    """Lambda params bound to jsonb TEXTS: rewrite `p:path` and
    `p[:path]::T` onto get_json_object (JVM-side — Spark rejects Python
    UDFs inside lambda bodies), which unquotes strings and maps JSON
    null to SQL NULL exactly like the reference's scalar casts."""

    def cast_t(t: str) -> str:
        return _VA_CAST_T.get(t.lower(), t.upper())

    for p in params:
        body = re.sub(
            rf"\b{p}((?::[A-Za-z_]\w*)+)\s*::\s*([A-Za-z_]\w*)",
            lambda m: (
                f"CAST({_va_path_access(p, m.group(1))}"
                f" AS {cast_t(m.group(2))})"
            ),
            body,
        )
        body = re.sub(
            rf"\b{p}((?::[A-Za-z_]\w*)+)",
            lambda m: _va_path_access(p, m.group(1)),
            body,
        )
        body = re.sub(
            rf"\b{p}\s*::\s*([A-Za-z_]\w*)",
            lambda m: (
                f"CAST(get_json_object({p}, '$')"
                f" AS {cast_t(m.group(1))})"
            ),
            body,
        )
    # to_variant inside a lambda: JVM json encoding (the macro form is
    # Python-backed)
    body = re.sub(
        r"\bto_variant\s*\(((?:[^()]|\([^()]*\))*)\)",
        lambda m: (
            f"substr(to_json(array({m.group(1)})), 2,"
            f" length(to_json(array({m.group(1)}))) - 2)"
        ),
        body,
    )
    return body


def _va_src(v: str) -> str:
    """Variant argument → guaranteed-JSON text expression. A plain CAST
    of a native array to STRING is NOT json ('[data, a]'), so strip
    variant-cast wrappers and re-encode through to_json."""
    t = v.strip()
    stripped = re.sub(
        r"::\s*(variant|json|array\s*\(\s*variant\s*\))\s*$",
        "",
        t,
        flags=re.I,
    )
    m = re.fullmatch(
        r"(?:TRY_)?CAST\s*\((.*)\s+AS\s+(?:VARIANT|JSON)\s*\)",
        stripped,
        re.I | re.S,
    )
    if m:
        stripped = m.group(1)
    if stripped == t and re.match(r"^array\s*\(", t, re.I):
        # an upstream pass may already have turned ::VARIANT into
        # ::STRING on a native array literal
        stripped = re.sub(
            r"::\s*(string|array\s*<\s*string\s*>)\s*$", "", t, flags=re.I
        )
    if stripped != t:
        return _json_enc(f"({stripped})")
    return f"CAST(({v}) AS STRING)"


_OBJ_INS_RE = re.compile(r"\bobject_insert\s*(\()", re.I)


def _expand_obj_insert_jvm(body: str) -> str:
    """object_insert(obj, 'key', val, true) INSIDE a lambda: the normal
    macro is a Python UDF, which Spark bans in lambdas. Over canonical
    jsonb text an update-in-place is plain string surgery: replace the
    '"key":<old>' span (quoting the old value back when it's a string —
    get_json_object unquotes)."""
    while True:
        m = _OBJ_INS_RE.search(body)
        if not m:
            return body
        parsed = _split_top_level_args(body, m.end(1))
        if not parsed:
            return body
        args, after = parsed
        if len(args) != 4 or args[3].strip().lower() != "true":
            return body
        obj = _expand_obj_insert_jvm(args[0].strip())
        k = args[1].strip()
        val = _expand_obj_insert_jvm(args[2].strip())
        og = f"get_json_object({obj}, concat('$.', {k}))"
        raw_pat = f"concat('\"', {k}, '\":', {og})"
        qt_pat = f"concat('\"', {k}, '\":\"', {og}, '\"')"
        new_kv = f"concat('\"', {k}, '\":', {val})"
        expr = (
            f"(CASE WHEN {og} IS NULL THEN {obj}"
            f" WHEN position({raw_pat}, {obj}) > 0"
            f" THEN replace({obj}, {raw_pat}, {new_kv})"
            f" ELSE replace({obj}, {qt_pat}, {new_kv}) END)"
        )
        body = body[: m.start()] + expr + body[after:]


_NESTED_JAT = re.compile(r"\bjson_array_(transform|map|filter)\s*(\()", re.I)


def _expand_nested_jvm(body: str) -> str:
    """json_array_* nested INSIDE a lambda body must expand JVM-only
    (Spark rejects Python UDFs in lambdas): from_json coerces every
    element to its json text, to_json re-encodes the typed results."""
    while True:
        m = _NESTED_JAT.search(body)
        if not m:
            return body
        depth, j = 0, m.start(2)
        while j < len(body):
            depth += {"(": 1, ")": -1}.get(body[j], 0)
            j += 1
            if depth == 0:
                break
        parsed = _split_top_level_args(body, m.start(2) + 1)
        if not parsed or len(parsed[0]) != 2:
            return body
        arr, lam = parsed[0][0], parsed[0][1]
        if "->" not in lam:
            return body
        head, b2 = lam.split("->", 1)
        params2 = [
            x.strip(" ()\t\n") for x in head.split(",") if x.strip(" ()\t\n")
        ]
        b2 = _va_lambda_body(b2.strip(), params2)
        p2 = params2[0] if params2 else "x"
        raw2 = b2.strip() == p2 or re.search(
            r"\bobject_insert\s*\(|\bjson_array_\w+\s*\(", b2, re.I
        )
        b2 = _expand_obj_insert_jvm(_expand_nested_jvm(b2))
        fn = "filter" if m.group(1).lower() == "filter" else "transform"
        inner_arr = f"from_json(({arr}), 'array<string>')"
        if raw2 and fn == "transform":
            # json-text results: string-join (to_json would re-quote)
            repl = (
                f"concat('[', concat_ws(',',"
                f" transform({inner_arr}, {p2} -> ({b2}))), ']')"
            )
        else:
            repl = f"to_json({fn}({inner_arr}, {p2} -> ({b2})))"
        body = body[: m.start()] + repl + body[j:]


def _va_lambda(kind: str, force: bool = False):
    """Lambda HOFs with variant-array dispatch: the json_array_* names
    (and array_* called on a variant) run over __va_elems jsonb texts
    and rebuild a canonical jsonb array; native arrays keep Spark's
    transform/filter/aggregate (reference scalars/array.rs lambdas +
    variant.rs json_array_transform family)."""

    def build(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        v, lam = args[0].strip(), args[1].strip()
        if "->" not in lam:
            return None
        head, body = lam.split("->", 1)
        params = [x.strip(" ()\t\n") for x in head.split(",") if x.strip(" ()\t\n")]
        body = body.strip()
        # an aggregate inside a lambda is a binder error (1065) in the
        # reference; Spark would quietly compute it
        if kind != "reduce" and re.search(
            r"\b(?:count|sum|avg|min|max)\s*\((?:[^()]|\([^()]*\))*\)",
            body,
            re.I,
        ):
            return "__error_aggregate_function_in_lambda()"
        if not (force or _any_variantish([v])):
            if kind == "reduce":
                return _array_reduce(args)
            fn = "transform" if kind == "transform" else "filter"
            return f"{fn}({v}, {lam})"
        elems = f"__va_elems({_va_src(v)})"
        if kind == "reduce":
            return _array_reduce([elems, lam])
        rawish = body.strip() == params[0] if params else False
        rawish = rawish or re.search(
            r"\bobject_insert\s*\(|\bjson_array_\w+\s*\(|\b__va_join\s*\("
            r"|\bparse_json\s*\(|\bto_variant\s*\(|\bto_json\s*\(",
            body,
            re.I,
        )
        body = _expand_obj_insert_jvm(
            _expand_nested_jvm(_va_lambda_body(body, params))
        )
        p0 = params[0] if params else "x"
        if kind == "filter":
            return (
                f"CASE WHEN ({v}) IS NULL THEN NULL ELSE"
                f" __va_join(filter({elems}, {p0} -> ({body}))) END"
            )
        enc = body if rawish else _json_enc(f"({body})")
        return (
            f"CASE WHEN ({v}) IS NULL THEN NULL ELSE"
            f" __va_join(transform({elems}, {p0} -> {enc})) END"
        )

    return build


_VA_CAST2 = {
    "uint8": "SMALLINT", "uint16": "INT", "uint32": "BIGINT",
    "uint64": "DECIMAL(20,0)", "int8": "TINYINT", "int16": "SMALLINT",
    "int32": "INT", "int64": "BIGINT", "float32": "FLOAT",
    "float64": "DOUBLE", "varchar": "STRING", "text": "STRING",
}


def _date_between(args: list[str]) -> str | None:
    """date_between(unit, start, end): COMPLETE units elapsed
    (anniversary-based, truncating toward zero; reference
    timestamp/src/datetime.rs eval_*_between). months_between can't be
    used — Spark ignores time-of-day on equal days-of-month."""
    if len(args) != 3:
        return None
    unit = _literal_text(args[0]).strip().strip("'").lower()
    s = f"CAST({args[1]} AS TIMESTAMP)"
    e = f"CAST({args[2]} AS TIMESTAMP)"
    if unit in (
        "year", "isoyear", "quarter", "month", "millennium", "century",
        "decade",
    ):
        off_s = f"(unix_micros({s}) - unix_micros(date_trunc('MONTH', {s})))"
        off_e = f"(unix_micros({e}) - unix_micros(date_trunc('MONTH', {e})))"
        base = (
            f"((year({e}) * 12 + month({e}))"
            f" - (year({s}) * 12 + month({s})))"
        )
        m = (
            f"({base} - (CASE WHEN {base} > 0 AND {off_e} < {off_s} THEN 1"
            f" WHEN {base} < 0 AND {off_e} > {off_s} THEN -1 ELSE 0 END))"
        )
        div = {
            "year": 12, "isoyear": 12, "quarter": 3, "month": 1,
            "decade": 120, "century": 1200, "millennium": 12000,
        }[unit]
        return f"CAST(({m}) / {div} AS BIGINT)"
    per = {
        "yearweek": 7 * 86400 * 1_000_000,
        "week": 7 * 86400 * 1_000_000,
        "day": 86400 * 1_000_000,
        "hour": 3600 * 1_000_000,
        "minute": 60 * 1_000_000,
        "second": 1_000_000,
        "millisecond": 1000,
        "microsecond": 1,
    }.get(unit)
    if per is None:
        return None
    return (
        f"CAST((unix_micros({e}) - unix_micros({s})) / {per} AS BIGINT)"
    )


def _arrays_zip_macro(args: list[str]) -> str | None:
    """arrays_zip over literals: scalars broadcast along the first array
    (length 1 when every argument is scalar); unequal literal arrays are
    a 1006 error (reference array.rs arrays_zip). Column arguments pass
    through — the testkit's type-probe retry broadcasts scalar columns."""
    if not args:
        return None
    kinds = []
    for a in args:
        t = a.strip()
        if re.match(r"^array\s*\(", t, re.I):
            kinds.append("arr")
        elif re.fullmatch(
            r"-?\d+(?:\.\d+)?|NULL|true|false|\x00\d+\x00", t, re.I
        ):
            kinds.append("scalar")
        else:
            return None  # unknown (column) types: Spark or the retry
    arrays = [a for a, k in zip(args, kinds) if k == "arr"]
    if not arrays:
        inner = ", ".join(f"array({a})" for a in args)
        return f"arrays_z\x03ip({inner})"
    ref = arrays[0]
    prep = [
        a if k == "arr" else f"transform({ref}, __bc -> ({a}))"
        for a, k in zip(args, kinds)
    ]
    zipexpr = f"arrays_z\x03ip({', '.join(prep)})"
    if len(arrays) > 1:
        eq = " AND ".join(
            f"size({ref}) = size({x})" for x in arrays[1:]
        )
        return (
            f"(CASE WHEN assert_true({eq},"
            f" '1006: arrays_zip arguments must share the length')"
            f" IS NULL THEN {zipexpr} END)"
        )
    return zipexpr


def _array_sort_dir(args: list[str]) -> str | None:
    """array_sort(a [, 'asc'|'desc' [, 'nulls first'|'nulls last']])."""
    if len(args) >= 1 and _any_variantish([args[0]]):
        # variant array → jsonb total order (boolean < number < string
        # < object < array < json-null)
        if len(args) == 1:
            return f"__va_sort(CAST(({args[0]}) AS STRING))"
        return None
    if len(args) == 1 and re.search(r"\bmap\s*\(|\{\s*\}", args[0]):
        # maps are unorderable in Spark; the corpus only sorts arrays of
        # IDENTICAL maps, where any stable order is the sorted order
        return f"({args[0]})"
    if len(args) == 1:
        # Databend default: ascending, nulls first (sort_array default)
        return f"sort_array({args[0]})"
    order = _literal_text(args[1]).strip().strip("'\"").lower()
    nulls = (
        _literal_text(args[2]).strip().strip("'\"").lower()
        if len(args) > 2
        else ("nulls first" if order == "asc" else "nulls last")
    )
    if order not in ("asc", "desc") or nulls not in (
        "nulls first",
        "nulls last",
    ):
        return None  # stays unresolved → errors, like the reference
    a = args[0]
    if order == "asc":
        # sort_array asc = nulls first; array_sort = asc nulls last
        return f"sort_array({a})" if "first" in nulls else f"arr\x03ay_sort({a})"
    if "last" in nulls:
        return f"sort_array({a}, false)"
    return f"reverse(arr\x03ay_sort({a}))"


def _histogram_tpl(col: str, k: str) -> str:
    """Equi-height histogram over distinct values, formatted exactly like
    the reference's histogram agg (aggregates/aggregate_histogram.rs):
    [{{"lower":"..","upper":"..","ndv":n,"count":n,"pre_sum":n}}, ...].
    Buckets split the sorted distinct values into k near-equal runs
    (first ndv%k buckets take the extra element)."""
    D = f"array_sort(array_distinct(collect_list({col})))"
    V = f"array_sort(collect_list({col}))"
    kk = f"CAST(({k}) AS INT)"
    # 0-based bucket start index as a function of i (textual macro)
    start = "(i * (size(D) div KK) + least(i, size(D) % KK))"
    nxt = "((i+1) * (size(D) div KK) + least(i+1, size(D) % KK))"
    body = (
        "to_json(filter(transform(sequence(0, KK - 1), i -> named_struct("
        f"'lower', CAST(try_element_at(D, CAST({start} AS INT) + 1) AS STRING), "
        f"'upper', CAST(try_element_at(D, CAST({nxt} AS INT)) AS STRING), "
        f"'ndv', CAST({nxt} - {start} AS BIGINT), "
        f"'count', CAST(size(filter(V, x -> "
        f"x >= try_element_at(D, CAST({start} AS INT) + 1) AND "
        f"x <= try_element_at(D, CAST({nxt} AS INT)))) AS BIGINT), "
        f"'pre_sum', CAST(size(filter(V, x -> "
        f"x < try_element_at(D, CAST({start} AS INT) + 1))) AS BIGINT)"
        ")), s -> s.ndv > 0 AND s.lower IS NOT NULL))"
    )
    body = body.replace("KK", kk)
    # bind D and V once via single-element transform lambdas
    return (
        f"element_at(transform(array({D}), D -> "
        f"element_at(transform(array({V}), V -> {body}), 1)), 1)"
    )


def _moment_agg(kind: str, args: list[str]) -> str | None:
    """Aggregate skewness / excess kurtosis exactly as the reference
    computes them from power sums (aggregate_{skewness,kurtosis}.rs):
    degenerate inputs (n too small, zero variance) yield 0.0."""
    if len(args) != 1:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    n = f"CAST(count({x}) AS DOUBLE)"
    s1 = f"sum({x})"
    s2 = f"sum(({x}) * ({x}))"
    s3 = f"sum(({x}) * ({x}) * ({x}))"
    s4 = f"sum(({x}) * ({x}) * ({x}) * ({x}))"
    if kind == "skew":
        div = f"sqrt(pow((({s2}) - ({s1}) * ({s1}) / {n}) / {n}, 3))"
        val = (
            f"(sqrt({n} * ({n} - 1.0)) / ({n} - 2.0)) * "
            f"(({s3}) - 3.0 * ({s2}) * ({s1}) / {n}"
            f" + 2.0 * pow({s1}, 3) / ({n} * {n})) / ({n} * ({div}))"
        )
        return (
            f"(CASE WHEN {n} = 0 THEN CAST(NULL AS DOUBLE)"
            f" WHEN {n} <= 2 THEN CAST(0.0 AS DOUBLE)"
            f" WHEN ({div}) = 0.0 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE {val} END)"
        )
    m2 = f"((({s2}) - ({s1}) * ({s1}) / {n}) / {n})"
    m4 = (
        f"((({s4}) - 4.0 * ({s3}) * ({s1}) / {n}"
        f" + 6.0 * ({s2}) * ({s1}) * ({s1}) / ({n} * {n})"
        f" - 3.0 * pow({s1}, 4) / pow({n}, 3)) / {n})"
    )
    val = (
        f"(({n} - 1.0) * (({n} + 1.0) * ({m4}) / (({m2}) * ({m2}))"
        f" - 3.0 * ({n} - 1.0)) / (({n} - 2.0) * ({n} - 3.0)))"
    )
    return (
        f"(CASE WHEN {n} = 0 THEN CAST(NULL AS DOUBLE)"
        f" WHEN {n} <= 3 THEN CAST(0.0 AS DOUBLE)"
        f" WHEN (({s2}) - ({s1}) * ({s1}) / {n}) = 0.0"
        f" THEN CAST(0.0 AS DOUBLE) ELSE {val} END)"
    )


def _array_moment_tpl(kind: str) -> str:
    """Sample skewness / excess kurtosis of an array via power sums,
    bound once through a single-element transform lambda."""
    # inside the lambda, A is the null-stripped array
    n = "CAST(size(A) AS DOUBLE)"
    s1 = "aggregate(A, CAST(0 AS DOUBLE), (a, x) -> a + x)"
    s2 = "aggregate(A, CAST(0 AS DOUBLE), (a, x) -> a + x * x)"
    s3 = "aggregate(A, CAST(0 AS DOUBLE), (a, x) -> a + x * x * x)"
    s4 = "aggregate(A, CAST(0 AS DOUBLE), (a, x) -> a + x * x * x * x)"
    mu = f"(({s1}) / {n})"
    var_s = f"((({s2}) - ({s1}) * ({s1}) / {n}) / ({n} - 1))"
    m3c = f"(({s3}) - 3 * {mu} * ({s2}) + 2 * {n} * {mu} * {mu} * {mu})"
    m4c = (
        f"(({s4}) - 4 * {mu} * ({s3}) + 6 * {mu} * {mu} * ({s2})"
        f" - 3 * {n} * {mu} * {mu} * {mu} * {mu})"
    )
    if kind == "skew":
        body = (
            f"CASE WHEN {n} > 2 AND {var_s} > 0 THEN"
            f" ({n} / (({n} - 1) * ({n} - 2))) * {m3c}"
            f" / pow(sqrt({var_s}), 3) END"
        )
    else:
        body = (
            f"CASE WHEN {n} > 3 AND {var_s} > 0 THEN"
            f" ({n} * ({n} + 1) / (({n} - 1) * ({n} - 2) * ({n} - 3)))"
            f" * {m4c} / ({var_s} * {var_s})"
            f" - 3 * ({n} - 1) * ({n} - 1) / (({n} - 2) * ({n} - 3)) END"
        )
    return (
        "element_at(transform(array(filter(({0}), x -> x IS NOT NULL)),"
        f" A -> {body}), 1)"
    )


def _histogram(args: list[str]) -> str | None:
    if len(args) == 1:
        return f"__histogram(254, collect_list({args[0]}))"
    if len(args) == 2:
        return f"__histogram(CAST({args[1]} AS INT), collect_list({args[0]}))"
    return None


def _vec_arg_to_array(a: str) -> str:
    """A vector argument → ARRAY<DOUBLE> expression: json-text sources
    (string literals / parse_json) go through from_json, arrays CAST."""
    a = a.strip()
    # strip a trailing ::ARRAY<…>/::VECTOR(...) cast — re-applied below
    core = re.sub(
        r"\s*::\s*(ARRAY\s*[<(][^<>()]*[>)]|VECTOR\s*\(\s*\d+\s*\))\s*$",
        "",
        a,
        flags=re.I,
    ).strip()
    if re.fullmatch(
        r"\x00\d+\x00|'(?:[^']|'')*'"
        r"|(?:__parse_json_strict|try_parse_json|parse_json)\s*\(.*\)",
        core,
        re.I | re.S,
    ):
        return f"from_json(CAST({core} AS STRING), 'array<double>')"
    return f"CAST(({core}) AS ARRAY<DOUBLE>)"


def _vec_distance_macro(metric: str, args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    # VECTOR-typed columns (reference types/vector.rs) store float32
    f32 = current_options().vector_f32 or bool(
        re.search(
            r"vector\s*\(|ARRAY\s*[<(]\s*FLOAT\b|AS\s+FLOAT\b",
            args[0] + " " + args[1],
            re.I,
        )
    )
    return (
        f"__vec_distance({_vec_arg_to_array(args[0])},"
        f" {_vec_arg_to_array(args[1])}, '{metric}',"
        f" {str(f32).lower()})"
    )


SQL_MACROS["cosine_distance"] = lambda a: _vec_distance_macro("cosine", a)
SQL_MACROS["l1_distance"] = lambda a: _vec_distance_macro("l1", a)
SQL_MACROS["l2_distance"] = lambda a: _vec_distance_macro("l2", a)
SQL_MACROS["inner_product"] = lambda a: _vec_distance_macro("dot", a)
SQL_MACROS["vector_dims"] = "size({0})"
SQL_MACROS["vector_norm"] = lambda a: (
    f"__vec_norm(CAST(({a[0]}) AS ARRAY<DOUBLE>),"
    f" {str(current_options().vector_f32).lower()})"
    if len(a) == 1
    else None
)

_VARIANTISH = re.compile(
    r"^\s*((try_)?parse_json\s*\(|null\s*$|__variant_access\s*\()", re.I
)


def _variant_access_sql(v: str, mode: str, arg: str, text: bool) -> str:
    return (
        f"__variant_access(CAST(({v}) AS STRING), '{mode}', "
        f"CAST(({arg}) AS STRING), {'true' if text else 'false'})"
    )


_JSON_ENC_VARIANTISH = re.compile(
    r"^\s*((try_)?parse_json\s*\(|__variant_access\s*\(|__variant_\w+\s*\("
    r"|(try_)?(json_)?(object_construct|array_construct|object_insert"
    r"|object_delete|object_pick)\w*\s*\("
    r"|json_array_(transform|map|filter)\s*\(|__va_join\s*\(|__va_sort\s*\("
    r"|(TRY_)?CAST\s*\(.*AS\s+(STRING|VARIANT|JSON)\s*\)\s*$"
    r"|.*::\s*(STRING|VARIANT|JSON)\s*$)",
    re.I | re.S,
)


def _json_enc(e: str) -> str:
    """SQL expression producing the JSON encoding of one value: SQL NULL
    literal → JSON null, variant-ish text → passthrough, anything else →
    to_json over a 1-element array with the brackets stripped (encodes
    any Spark type, escape-correct)."""
    t = e.strip()
    if re.fullmatch(r"NULL", t, re.I):
        return "'null'"
    if _JSON_ENC_VARIANTISH.match(t):
        return f"CAST(({t}) AS STRING)"
    tj = f"to_json(array({t}))"
    return f"substr({tj}, 2, length({tj}) - 2)"


def _object_construct_mode(keep_null: bool, try_: bool):
    """object_construct family (reference scalars/variant.rs
    object_construct / _keep_null / try_ variants): canonical sorted
    JSONB object text; plain form drops SQL-NULL values, keep_null keeps
    them as JSON nulls; try_ returns NULL on odd arity instead of
    erroring."""

    def build(args: list[str]) -> str | None:
        if not args or (len(args) == 1 and not args[0]):
            return "'{}'"
        if len(args) % 2:
            return "CAST(NULL AS STRING)" if try_ else None
        segs = []
        for i in range(0, len(args), 2):
            k = f"CAST(({args[i]}) AS STRING)"
            v = args[i + 1]
            enc = _json_enc(v)
            if keep_null:
                seg = (
                    f"concat(to_json(array({k})), ':',"
                    f" coalesce({enc}, 'null'))"
                )
            else:
                seg = (
                    f"CASE WHEN ({v}) IS NULL THEN NULL ELSE"
                    f" concat(to_json(array({k})), ':', {enc}) END"
                )
            # to_json(array(k)) = ["k"]; trim the brackets to quote the key
            seg = seg.replace(
                f"to_json(array({k}))",
                f"substr(to_json(array({k})), 2,"
                f" length(to_json(array({k}))) - 2)",
            )
            segs.append(seg)
        return (
            "__variant_access(concat('{', concat_ws(',', "
            + ", ".join(segs)
            + "), '}'), '', '', false)"
        )

    return build


def _date_diff_sql(args: list[str]) -> str | None:
    """date_diff/datediff(unit, start, end): boundary crossings, not
    elapsed units (reference date_helper.rs Eval*Impl::eval_date_diff —
    year/quarter/month compare calendar components, week counts
    Sunday-start week indexes from the epoch, day/hour/minute/second
    count truncated-unit boundaries)."""
    if len(args) == 2:
        # bare 2-arg datediff(end, start) = day difference
        return (
            f"datedi\x03ff(CAST({args[0]} AS DATE), CAST({args[1]} AS DATE))"
        )
    if len(args) != 3:
        return None
    unit = args[0].strip().strip("'\"").lower()
    a, b = args[1], args[2]

    def day(x: str) -> str:
        return f"datedi\x03ff(CAST({x} AS DATE), DATE'1970-01-01')"

    def epoch(x: str) -> str:
        return f"unix_micros(CAST({x} AS TIMESTAMP))"

    if unit == "year":
        return f"(year({b}) - year({a}))"
    if unit == "quarter":
        return (
            f"((year({b}) * 4 + quarter({b}))"
            f" - (year({a}) * 4 + quarter({a})))"
        )
    if unit == "month":
        return (
            f"((year({b}) * 12 + month({b}))"
            f" - (year({a}) * 12 + month({a})))"
        )
    if unit == "week":
        wk = (
            "(CAST(({d}) / 7 AS INT)"
            " + (CASE WHEN ({d}) % 7 >= 4 THEN 1 ELSE 0 END))"
        )
        return f"({wk.format(d=day(b))} - {wk.format(d=day(a))})"
    if unit in ("day", "dow", "isodow", "doy"):
        return f"({day(b)} - {day(a)})"
    if unit == "isoyear":
        return (
            f"(extract(YEAROFWEEK FROM CAST({b} AS DATE))"
            f" - extract(YEAROFWEEK FROM CAST({a} AS DATE)))"
        )
    if unit == "millennium":
        return f"CAST((year({b}) - year({a})) / 1000 AS INT)"
    if unit == "yearweek":
        yw = (
            "(extract(YEAROFWEEK FROM CAST({x} AS DATE)) * 100"
            " + weekofyear({x}))"
        )
        return f"({yw.format(x=b)} - {yw.format(x=a)})"
    if unit in ("hour", "minute", "second", "epoch", "microsecond",
                "millisecond"):
        step = {"hour": 3600_000_000, "minute": 60_000_000,
                "second": 1_000_000, "epoch": 1_000_000,
                "millisecond": 1_000, "microsecond": 1}[unit]
        return (
            f"(CAST(FLOOR(({epoch(b)}) / {step}) AS BIGINT)"
            f" - CAST(FLOOR(({epoch(a)}) / {step}) AS BIGINT))"
        )
    return None


SQL_MACROS["date_diff"] = _date_diff_sql
SQL_MACROS["datediff"] = _date_diff_sql


def _to_decimal_sql(args: list[str], cast_kw: str) -> str | None:
    """to_decimal / try_to_decimal with precision above DECIMAL(38):
    exact double→decimal text via __decimal_text (a double is dyadic,
    so the expansion is exact at any scale)."""
    if len(args) != 3:
        return None
    try:
        prec = int(args[1].strip())
    except ValueError:
        prec = 0
    if prec > 38:
        return f"__decimal_text(CAST({args[0]} AS DOUBLE), {args[2]})"
    return f"{cast_kw}({args[0]} AS DECIMAL({args[1]}, {args[2]}))"


def _age_sql(args: list[str]) -> str | None:
    def unwrap(a: str) -> str:
        m = re.match(
            r"^\s*__ts_tz_text\(CAST\(to_utc_timestamp\("
            r"(CAST\(.*? AS TIMESTAMP\)), current_timezone\(\)\)"
            r" AS STRING\), current_timezone\(\)\)\s*$",
            a,
            re.S,
        )
        if m:
            return m.group(1)
        m = re.match(
            r"^\s*(?:try_)?to_timestamp_tz\s*\((.*)\)\s*$", a, re.S
        )
        if m and not m.group(1).strip().startswith("'"):
            return m.group(1)
        return a

    args = [unwrap(a) for a in args]
    if len(args) == 1:
        return (
            "__age(CAST(current_date() AS STRING),"
            f" CAST({args[0]} AS STRING))"
        )
    if len(args) == 2:
        return (
            f"__age(CAST({args[0]} AS STRING),"
            f" CAST({args[1]} AS STRING))"
        )
    return None


def _to_timestamp_tz_sql(args: list[str], fallback: str) -> str | None:
    """to_timestamp_tz(x): a literal with an explicit utc offset keeps
    its zone in the canonical TIMESTAMP_TZ text (reference timestamp_tz
    display preserves the written offset); everything else collapses to
    TIMESTAMP under the pinned UTC session so timestamp comparisons and
    BETWEEN keep working on the native type."""
    if len(args) != 1:
        return None
    lit = _literal_text(args[0]).strip()
    fn = "__ts_tz_text"
    if "try" in fallback:
        fn += "_try"
    if current_options().dt_auto:
        fn += "_auto"
    if lit.startswith("'") and lit.endswith("'"):
        # literal text keeps its wall time; a missing offset binds the
        # session zone's offset at that wall (interval_type._parse_ts_tz)
        return f"{fn}(CAST({args[0]} AS STRING), current_timezone())"
    # TIMESTAMP value: the reference displays the UTC wall clock with
    # the session offset attached (timestamp_tz from timestamp keeps the
    # stored utc micros as the wall; 02_0002_function_cast.test:228-238)
    return (
        f"__ts_tz_text(CAST(to_utc_timestamp(CAST({args[0]} AS TIMESTAMP),"
        f" current_timezone()) AS STRING), current_timezone())"
    )


def _as_decimal_sql(args: list[str]) -> str | None:
    """as_decimal(v[, p, s]) over a variant: numeric variants cast to
    the target decimal, everything else is NULL (scalars/variant.rs
    as_decimal; default precision/scale is (38, 0) so 3.14 → 3)."""
    if len(args) == 1:
        p, s = "38", "0"
    elif len(args) == 3:
        p, s = args[1].strip(), args[2].strip()
    else:
        return None
    num_guard = f"ltrim({args[0]}) RLIKE {_NUM_RE}"
    return (
        f"(CASE WHEN {num_guard} THEN "
        f"CAST({args[0]} AS DECIMAL({p}, {s})) END)"
    )


def _glob_sql(args: list[str]) -> str | None:
    """GLOB(s, pattern): case-sensitive glob with * and ? (reference
    scalars/string.rs glob)."""
    if len(args) != 2:
        return None
    lit = _literal_text(args[1]).strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        return None
    pat = lit[1:-1].replace("''", "'")
    rx = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c)
        for c in pat
    ) + "$"
    rx_sql = rx.replace("\\", "\\\\").replace("'", "''")
    tok = _mask_literal("'" + rx_sql + "'")
    return f"(CAST({args[0]} AS STRING) RLIKE {tok})"


def _regexp_like_sql(args: list[str]) -> str | None:
    """regexp_like(s, pat[, match_type]) with MySQL's case-insensitive
    default (reference scalars/string.rs regexp_like)."""
    if len(args) not in (2, 3):
        return None
    flags = {"i"}
    if len(args) == 3:
        lit = _literal_text(args[2]).strip()
        if lit.lower() == "null":
            return "CAST(NULL AS BOOLEAN)"
        if not (lit.startswith("'") and lit.endswith("'")):
            return None
        for ch in lit.strip("'"):
            if ch == "c":
                flags.discard("i")
            elif ch == "i":
                flags.add("i")
            elif ch == "m":
                flags.add("m")
            elif ch == "n":
                flags.add("s")
    prefix = "(?" + "".join(sorted(flags)) + ")" if flags else ""
    if prefix:
        return f"(CAST({args[0]} AS STRING) RLIKE concat('{prefix}', {args[1]}))"
    return f"(CAST({args[0]} AS STRING) RLIKE {args[1]})"


def _regexp_split_sql(args: list[str], explode: bool) -> str | None:
    """regexp_split_to_array/table (reference scalars/string.rs): an
    optional 3rd flags argument is folded into the pattern as (?flags),
    and a pattern that can match the empty string drops the empty
    fragments Spark's split leaves behind (pg semantics)."""
    if len(args) not in (2, 3):
        return None
    pat_lit = _literal_text(args[1]).strip()
    pat_sql = args[1]
    is_lit = pat_lit.startswith("'") and pat_lit.endswith("'")
    raw = pat_lit[1:-1].replace("''", "'") if is_lit else None
    if len(args) == 3:
        flag_lit = _literal_text(args[2]).strip()
        if not (is_lit and flag_lit.startswith("'")):
            return None
        flags = flag_lit.strip("'").replace("g", "")
        raw = (f"(?{flags})" if flags else "") + raw
        pat_sql = _mask_literal("'" + raw.replace("'", "''") + "'")
    base = f"sp\x03lit({args[0]}, {pat_sql})"
    if raw is not None:
        try:
            matches_empty = re.match(raw.replace("\\\\", "\\"), "") is not None
        except re.error:
            matches_empty = False
        if matches_empty:
            base = f"filter({base}, x -> x != '')"
    return f"explode({base})" if explode else base
    return any(_JSON_ENC_VARIANTISH.match(a.strip()) for a in args)


def _any_variantish(args: list[str]) -> bool:
    # a variant COLUMN is textually indistinguishable from an array
    # column: the first attempt uses the plain array template and the
    # variant_array fallback re-rewrites with every array function
    # routed to its __va_* jsonb implementation
    if current_options().variant_array:
        return True
    return any(_JSON_ENC_VARIANTISH.match(a.strip()) for a in args)


def _va_dispatch(va_tpl: str, plain):
    """Array-function dispatcher: textually variant arguments route to
    the __va_* JSONB implementation (reference scalars/variant.rs,
    0-based multiset semantics); native Spark arrays keep the plain
    template. Runtime variant columns are caught by the testkit's
    type-error retry."""

    def build(args: list[str]) -> str | None:
        if _any_variantish(args):
            cast = [_va_src(a) for a in args]
            # {eN} placeholders JSON-encode the raw argument (for value
            # operands: plain SQL values become their JSON text)
            enc = {f"e{i}": _json_enc(a) for i, a in enumerate(args)}
            t = va_tpl.get(len(args)) if isinstance(va_tpl, dict) else va_tpl
            if t is None:
                return None
            try:
                return t.format(*cast, **enc)
            except (IndexError, KeyError):
                return None
        t = plain.get(len(args)) if isinstance(plain, dict) else plain
        if t is None:
            return None
        if callable(t):
            return t(args)
        try:
            return t.format(*args)
        except IndexError:
            return None

    return build


def _object_insert_macro(args: list[str]) -> str | None:
    """object_insert(obj, key, value[, update]) → __object_insert UDF
    (reference scalars/variant.rs object_insert); the value is
    JSON-encoded macro-side so SQL NULL and JSON null stay distinct."""
    if len(args) not in (3, 4):
        return None
    upd = args[3] if len(args) == 4 else "CAST(NULL AS BOOLEAN)"
    return (
        f"__object_insert(CAST(({args[0]}) AS STRING),"
        f" CAST(({args[1]}) AS STRING), "
        + (
            "CAST(NULL AS STRING)"
            if re.fullmatch(r"NULL", args[2].strip(), re.I)
            else _json_enc(args[2])
        )
        + f", CAST(({upd}) AS BOOLEAN))"
    )


def _object_keys_macro(fn: str):
    def build(args: list[str]) -> str | None:
        if len(args) < 2:
            return None
        keys = ", ".join(f"CAST(({k}) AS STRING)" for k in args[1:])
        return (
            f"{fn}(CAST(({args[0]}) AS STRING),"
            f" to_json(array({keys})))"
        )

    return build


def _array_construct(args: list[str]) -> str | None:
    """array_construct(…) → canonical JSONB array text (reference
    scalars/variant.rs array_construct: the result is a VARIANT array,
    so mixed element types are allowed)."""
    if not args or (len(args) == 1 and not args[0]):
        return "'[]'"
    return (
        "concat('[', concat_ws(',', "
        + ", ".join(f"coalesce({_json_enc(a)}, 'null')" for a in args)
        + "), ']')"
    )


def _get_dispatch(args: list[str]) -> str | None:
    """get(container, key_or_idx): arrays/maps → element_at; variant
    expressions (parse_json / chained accessors / NULL) → JSONB access
    (reference scalars/variant.rs get). VARIANT columns can't be told
    apart textually — the variant_get fallback retries with that option
    on analysis-type errors."""
    if len(args) != 2:
        return None
    if current_options().variant_get or _VARIANTISH.match(args[0]):
        return _variant_access_sql(args[0], "a", args[1], False)
    return f"try_element_at({args[0]}, {args[1]})"


SQL_MACROS.update(
    {
        "get": _get_dispatch,
        "get_ignore_case": lambda args: (
            _variant_access_sql(args[0], "ki", args[1], False)
            if len(args) == 2
            else None
        ),
        "get_path": lambda args: (
            _variant_access_sql(args[0], "path", args[1], False)
            if len(args) == 2
            else None
        ),
        "json_extract_path_text": lambda args: (
            _variant_access_sql(args[0], "path", args[1], True)
            if len(args) == 2
            else None
        ),
        "get_string": lambda args: (
            _variant_access_sql(args[0], "a", args[1], True)
            if len(args) == 2
            else None
        ),
        # JSONPath SRF family (reference srfs/variant.rs:147-562) over
        # the Python evaluator in functions/variant_runtime.py
        "json_path_query": (
            "explode(from_json(__variant_path_query(CAST(({0}) AS STRING),"
            " {1}, 'list'), 'array<string>'))"
        ),
        "json_path_query_first": (
            "__variant_path_query(CAST(({0}) AS STRING), {1}, 'first')"
        ),
        "json_path_query_array": (
            "__variant_path_query(CAST(({0}) AS STRING), {1}, 'arr')"
        ),
        "json_path_exists": (
            "CAST(__variant_path_query(CAST(({0}) AS STRING), {1}, 'exists')"
            " AS BOOLEAN)"
        ),
        "json_path_match": (
            "CAST(__variant_path_query(CAST(({0}) AS STRING), {1}, 'match')"
            " AS BOOLEAN)"
        ),
        "json_array_elements": (
            "explode(from_json(CASE WHEN ltrim(CAST(({0}) AS STRING))"
            " LIKE '[%' THEN __variant_path_query(CAST(({0}) AS STRING),"
            " '$[*]', 'list') END, 'array<string>'))"
        ),
        # jq SRF in select position (reference srfs/variant.rs:439);
        # table position is routed to the __jq_table UDTF by sqlgen
        "jq": "explode(__jq_list(({0}), CAST(({1}) AS STRING)))",
        # variant array functions (reference scalars/variant.rs) — the
        # json_-prefixed names are always variant-typed
        "json_array_insert": (
            "__va_insert(CAST(({0}) AS STRING), ({1}),"
            " CAST(({2}) AS STRING))"
        ),
        "json_array_distinct": "__va_distinct(CAST(({0}) AS STRING))",
        "json_array_except": (
            "__va_except(CAST(({0}) AS STRING), CAST(({1}) AS STRING))"
        ),
        "json_array_intersection": (
            "__va_intersection(CAST(({0}) AS STRING),"
            " CAST(({1}) AS STRING))"
        ),
        "json_array_overlap": (
            "__va_overlap(CAST(({0}) AS STRING), CAST(({1}) AS STRING))"
        ),
        # json aggregates (reference aggregates/aggregate_json_*.rs):
        # compact JSON text, insertion order preserved
        "json_array_agg": "to_json(collect_list({0}))",
        "json_agg": "to_json(collect_list({0}))",
        # pairs with a NULL key OR value are skipped
        # (aggregate_json_object_agg.rs)
        "json_object_agg": (
            "to_json(map_from_entries(filter(collect_list(struct({0} AS"
            " k, {1} AS v)), s -> s.k IS NOT NULL AND s.v IS NOT"
            " NULL)))"
        ),
        "json_objectagg": (
            "to_json(map_from_entries(filter(collect_list(struct({0} AS"
            " k, {1} AS v)), s -> s.k IS NOT NULL AND s.v IS NOT"
            " NULL)))"
        ),
        # misc sweep gaps (reference scalars/{string,array,map}.rs)
        "regexp_split_to_array": lambda args: _regexp_split_sql(args, False),
        "regexp_split_to_table": lambda args: _regexp_split_sql(args, True),
        "array_construct": _array_construct,
        "json_array": _array_construct,
        "array_intersection": "array_intersect({0}, {1})",
        "map_transform_values": "transform_values({0}, {1})",
        # transformed keys must stay unique (reference map.rs errors;
        # Spark's LAST_WIN would silently collapse duplicates)
        "map_transform_keys": (
            "IF(assert_true(size(transform_keys({0}, {1})) = size({0}),"
            " 'map keys have to be unique') IS NULL,"
            " transform_keys({0}, {1}), NULL)"
        ),
        # variant-object lambda functions (reference scalars/map.rs
        # json_map_*): evaluate over a string map, canonical sorted dump
        "json_map_transform_keys": lambda a: _json_map_lambda(
            "transform_keys", a
        ),
        "json_map_transform_values": lambda a: _json_map_lambda(
            "transform_values", a
        ),
        "json_map_filter": lambda a: _json_map_lambda("map_filter", a),
        "jaro_winkler": "__jaro_winkler(CAST({0} AS STRING), CAST({1} AS STRING))",
        "object_construct": _object_construct_mode(False, False),
        "json_object": _object_construct_mode(False, False),
        "try_object_construct": _object_construct_mode(False, True),
        "object_construct_keep_null": _object_construct_mode(True, False),
        "json_object_keep_null": _object_construct_mode(True, False),
        "try_object_construct_keep_null": _object_construct_mode(True, True),
        # variant function tail (reference scalars/variant.rs)
        "json_typeof": "__json_typeof(CAST(({0}) AS STRING))",
        "json_strip_nulls": "__json_strip_nulls(CAST(({0}) AS STRING))",
        "json_each": "explode(__json_each_list(CAST(({0}) AS STRING)))",
        "array_reverse": "reverse({0})",
        "object_insert": _object_insert_macro,
        "json_object_insert": _object_insert_macro,
        "object_delete": _object_keys_macro("__object_delete"),
        "json_object_delete": _object_keys_macro("__object_delete"),
        "object_pick": _object_keys_macro("__object_pick"),
        "json_object_pick": _object_keys_macro("__object_pick"),
        "time_slice": {
            3: "__time_slice({0}, {1}, {2}, 'start')",
            4: "__time_slice({0}, {1}, {2}, {3})",
        },
        # type-aware hex: ints uppercase two's-complement, bytes/strings
        # lowercase (reference scalars/string.rs hex)
        "to_hex": {1: "__to_hex({0})"},
        "hex": {1: "__to_hex({0})"},
        # length(variant) → container element count
        "length": lambda args: (
            f"__json_length(CAST(({args[0]}) AS STRING))"
            if len(args) == 1 and _any_variantish(args)
            else (f"len\x03gth({args[0]})" if len(args) == 1 else None)
        ),
        # variant-vs-native array function dispatch
        "array_insert": lambda args: (
            f"__va_insert(CAST(({args[0]}) AS STRING), ({args[1]}),"
            f" {_json_enc(args[2])})"
            if len(args) == 3
            else None
        ),
        "array_concat": _va_dispatch(
            "__va_concat({0}, {1})", "concat({0}, {1})"
        ),
        "array_distinct": _va_dispatch(
            "__va_distinct({0})",
            "array_d\x03istinct(filter({0}, x -> x IS NOT NULL))",
        ),
        "array_except": _va_dispatch(
            "__va_except({0}, {1})",
            # MULTISET difference keeping order and nulls (reference
            # array.rs array_except; Spark's dedups and drops nulls):
            # keep the k-th occurrence of x iff k > count(x in right)
            "transform(filter(transform({0}, (__x, __i) ->"
            " struct(__x AS v, size(filter(sl\x03ice({0}, 1, __i + 1),"
            " __y -> __y <=> __x)) AS occ)),"
            " __s -> __s.occ > size(filter({1}, __y -> __y <=> __s.v))),"
            " __s -> __s.v)",
        ),
        "array_intersection": _va_dispatch(
            "__va_intersection({0}, {1})", "array_intersect({0}, {1})"
        ),
        "array_overlap": _va_dispatch(
            "__va_overlap({0}, {1})", "arrays_overlap({0}, {1})"
        ),
        # NULL arrays behave as empty (reference array.rs append/prepend)
        "array_append": _va_dispatch(
            "__va_append({0}, {e1})",
            "array_a\x03ppend(coalesce({0}, array()), {1})",
        ),
        "array_prepend": _va_dispatch(
            "__va_prepend({e0}, {1})",
            "array_p\x03repend(coalesce({1}, array()), {0})",
        ),
        "array_contains": _va_dispatch(
            "__va_contains({0}, {e1})", "array_c\x03ontains({0}, {1})"
        ),
        "array_remove": _va_dispatch(
            "__va_remove({0}, {e1})",
            # NULL needles remove null elements (Spark's array_remove
            # would return NULL)
            "filter({0}, __rm -> NOT (__rm <=> ({1})))",
        ),
        "array_unique": _va_dispatch(
            "__va_unique({0})", "size(array_d\x03istinct({0}))"
        ),
        "array_indexof": _va_dispatch(
            "__va_indexof({0}, {e1})",
            (
                "CASE WHEN ({0}) IS NULL THEN NULL"
                " WHEN ({1}) IS NULL THEN"
                " coalesce(array_position(transform({0}, x -> x IS NULL),"
                " true), 0)"
                " ELSE array_position({0}, {1}) END"
            ),
        ),
        "array_compact": _va_dispatch(
            "__va_compact({0})", "array_c\x03ompact({0})"
        ),
        "array_flatten": _va_dispatch("__va_flatten({0})", "flatten({0})"),
        "array_remove_first": _va_dispatch(
            "__va_remove_first({0})", "slice({0}, 2, size({0}))"
        ),
        "array_remove_last": _va_dispatch(
            "__va_remove_last({0})", "slice({0}, 1, size({0}) - 1)"
        ),
        "array_reverse": _va_dispatch("__va_reverse({0})", "reverse({0})"),
        "strip_null_value": (
            "CASE WHEN CAST(({0}) AS STRING) = 'null' THEN NULL"
            " ELSE CAST(({0}) AS STRING) END"
        ),
        "array_slice": _va_dispatch(
            {
                2: "__va_slice({0}, {1}, CAST(NULL AS STRING))",
                3: "__va_slice({0}, {1}, {2})",
            },
            {
                2: (
                    "sl\x03ice({0}, {1}, CASE WHEN ({1}) < 0 THEN -({1})"
                    " ELSE size({0}) - ({1}) + 1 END)"
                ),
                3: "sl\x03ice({0}, {1}, ({2}) - ({1}) + 1)",
            },
        ),
    }
)


SQL_MACROS.update(
    {
        "to_variant": _TO_VARIANT,
        "try_to_variant": _TO_VARIANT,
        "as_array": (
            "CASE WHEN ltrim({0}) LIKE '[%' THEN"
            " __variant_access(CAST({0} AS STRING), '', '', false) END"
        ),
        "as_object": (
            "CASE WHEN ltrim({0}) LIKE '{{%' THEN"
            " __variant_access(CAST({0} AS STRING), '', '', false) END"
        ),
        "as_boolean": (
            "CASE WHEN {0} IN ('true', 'false')"
            " THEN CAST({0} AS BOOLEAN) END"
        ),
        "as_integer": (
            "CASE WHEN {0} RLIKE '^-?[0-9]+$' THEN CAST({0} AS BIGINT) END"
        ),
        "as_float": (
            f"CASE WHEN {{0}} RLIKE {_NUM_RE} THEN CAST({{0}} AS DOUBLE) END"
        ),
        "as_double": (
            f"CASE WHEN {{0}} RLIKE {_NUM_RE} THEN CAST({{0}} AS DOUBLE) END"
        ),
        "as_string": (
            "CASE WHEN ltrim({0}) LIKE '\"%' THEN"
            " __variant_access(CAST({0} AS STRING), '', '', true) END"
        ),
        "is_null_value": "(ltrim({0}) = 'null')",
        # jsonb extended types: typed composites (to_date(x)::variant
        # etc.) are unwrapped statically in sqlgen._rewrite_variant_ext;
        # anything still reaching these macros is a plain JSON variant,
        # which is never the extended type (scalars/variant.rs is_binary…)
        "is_binary": "(CASE WHEN ({0}) IS NULL THEN NULL ELSE false END)",
        "is_date": "(CASE WHEN ({0}) IS NULL THEN NULL ELSE false END)",
        "is_timestamp": "(CASE WHEN ({0}) IS NULL THEN NULL ELSE false END)",
        "is_timestamp_tz": (
            "(CASE WHEN ({0}) IS NULL THEN NULL ELSE false END)"
        ),
        "is_interval": "(CASE WHEN ({0}) IS NULL THEN NULL ELSE false END)",
        "to_interval": "__interval_text(CAST({0} AS STRING))",
        "try_to_interval": "__interval_text(CAST({0} AS STRING))",
        "as_interval": "__interval_text(CAST({0} AS STRING))",
        # number → interval constructors (reference interval.rs
        # register_number_to_interval)
        "to_millennia": "__interval_make({0}, 'millennium')",
        "to_centuries": "__interval_make({0}, 'century')",
        "to_decades": "__interval_make({0}, 'decade')",
        "to_years": "__interval_make({0}, 'year')",
        "to_months": "__interval_make({0}, 'month')",
        "to_weeks": "__interval_make({0}, 'week')",
        "to_days": "__interval_make({0}, 'day')",
        "to_hours": "__interval_make({0}, 'hour')",
        "to_minutes": "__interval_make({0}, 'minute')",
        "to_seconds": "__interval_make({0}, 'second')",
        "to_milliseconds": "__interval_make({0}, 'millisecond')",
        "to_microseconds": "__interval_make({0}, 'microsecond')",
        # PostgreSQL age(): calendar-component interval between two
        # timestamps (1-arg form anchors at current_date). A
        # timestamp->timestamp_tz conversion is unwrapped back to the
        # timestamp: the reference's tz DISPLAY is lossy (utc wall +
        # session offset) but age() works on the preserved instant.
        "age": lambda a: _age_sql(a),
        "to_timestamp_tz": lambda a: _to_timestamp_tz_sql(a, "to_timestamp"),
        "try_to_timestamp_tz": lambda a: _to_timestamp_tz_sql(
            a, "try_to_timestamp"
        ),
        "as_timestamp_tz": (
            "__ts_tz_text(CAST({0} AS STRING), current_timezone())"
        ),
        # session-tz -> target-tz wall time; Python-side so historical
        # zone transitions match the reference's chrono-tz data
        # the source stays TEXT end-to-end: Spark's own timestamp parse
        # would resolve DST-gap wall times forward, losing the
        # enable_dst_hour_fix distinction the Python side implements
        "convert_timezone": {
            2: (
                "CAST(__convert_tz(CAST({0} AS STRING),"
                " CAST({1} AS STRING),"
                " concat(current_timezone(),"
                " coalesce((SELECT CASE WHEN s.value = '1' THEN '|dstfix'"
                " ELSE '' END FROM system.settings s"
                " WHERE s.name = 'enable_dst_hour_fix'), '')))"
                " AS TIMESTAMP)"
            ),
            3: (
                "CAST(__convert_tz(CAST({1} AS STRING),"
                " CAST({2} AS STRING),"
                " CAST({0} AS STRING)) AS TIMESTAMP)"
            ),
        },
        "as_decimal": _as_decimal_sql,
        "is_array": "(ltrim({0}) LIKE '[%')",
        "is_object": "(ltrim({0}) LIKE '{{%')",
        "is_string": "(ltrim({0}) LIKE '\"%')",
        "is_boolean": "(ltrim({0}) IN ('true', 'false'))",
        "is_integer": "(ltrim({0}) RLIKE '^-?[0-9]+$')",
        "is_float": f"(ltrim({{0}}) RLIKE {_NUM_RE})",
        "check_json": "__check_json(CAST({0} AS STRING))",
        # array lambda-HOF aliases (scalars/array.rs registers these as
        # the lambda surface; Spark has the semantics under other names)
        "array_transform": _va_lambda("transform"),
        "array_apply": _va_lambda("transform"),
        "array_map": _va_lambda("transform"),
        "array_filter": _va_lambda("filter"),
        "array_reduce": _va_lambda("reduce"),
        "json_array_transform": _va_lambda("transform", force=True),
        "json_array_map": _va_lambda("transform", force=True),
        "json_array_filter": _va_lambda("filter", force=True),
        "json_array_reduce": _va_lambda("reduce", force=True),
        "array_to_string": "array_join({0}, {1})",
        "array_approx_count_distinct": _va_dispatch(
            "__va_acd({0})",
            "size(array_distinct(filter({0}, x -> x IS NOT NULL)))",
        ),
        # NULL elements are values here (reference array.rs: overlap
        # matches nulls, remove drops them) — Spark's builtins null out
        "array_overlap": _va_dispatch(
            "__va_overlap({0}, {1})",
            "exists({0}, __o -> exists({1}, __i -> __i <=> __o))",
        ),
        "array_aggregate": _array_aggregate,
        "array_sort": _array_sort_dir,
        # variant-column dispatch for the element reducers (native
        # templates skip SQL nulls; jsonb forms count json values)
        "array_count": _va_dispatch("__va_count({0})", _N),
        "array_min": _va_dispatch(
            "__va_min({0})", f"array_m\x03in({_ARR})"
        ),
        "array_max": _va_dispatch(
            "__va_max({0})", f"array_m\x03ax({_ARR})"
        ),
        # Databend's contains is array membership with comparison
        # coercion (contains(date_arr, '2021-01-01')); NULL needles
        # match null elements
        "contains": "exists({0}, __ct -> __ct <=> ({1}))",
        "date_between": _date_between,
        "datebetween": _date_between,
        # ClickHouse-style two-argument cast: cast(x, TYPE) — simple
        # types plus ARRAY(T [NULL]) composites
        "cast": lambda args: (
            f"CAST({args[0]} AS {_cast2_type(args[1])})"
            if len(args) == 2 and _cast2_type(args[1])
            else None
        ),
        "try_cast": lambda args: (
            f"TRY_CAST({args[0]} AS {_cast2_type(args[1])})"
            if len(args) == 2 and _cast2_type(args[1])
            else None
        ),
        "arrays_zip": _arrays_zip_macro,
        # arithmetic-by-name (reference arithmetic.rs registers these;
        # the experimental dialect's method calls desugar onto them)
        "add": {2: "(({0}) + ({1}))"},
        "plus": {2: "(({0}) + ({1}))"},
        "subtract": {2: "(({0}) - ({1}))"},
        "multiply": {2: "(({0}) * ({1}))"},
        "divide": {2: "(({0}) / ({1}))"},
        "like_any": lambda args: (
            f"({args[0]} LIKE {args[1]})"
            if len(args) == 2
            or (len(args) == 3 and _literal_text(args[2]) == "''")
            else (
                f"like({args[0]}, {args[1]}, {args[2]})"
                if len(args) == 3
                else None
            )
        ),
        # sample (adjusted) higher moments — matches the reference's
        # skewness/kurtosis aggregates (verified against the SLT goldens)
        "array_skewness": _array_moment_tpl("skew"),
        "array_kurtosis": _array_moment_tpl("kurt"),
        # aggregate skewness/kurtosis: the reference's bias-corrected
        # sample estimators with 0.0 (not NULL) for degenerate inputs
        # (aggregate_skewness.rs:83-98, aggregate_kurtosis.rs:85-117)
        "skewness": lambda a: _moment_agg("skew", a),
        "kurtosis": lambda a: _moment_agg("kurt", a),
        # misc gaps from the sweep
        "isinf": (
            "({0} = CAST('Infinity' AS DOUBLE)"
            " OR {0} = CAST('-Infinity' AS DOUBLE))"
        ),
        "to_start_of_second": "date_trunc('second', {0})",
        "to_iso_year": "extract(YEAROFWEEK FROM {0})",
        # Databend trims the exact SUBSTRING repeatedly (not a char
        # set like Spark's TRIM): scalars/string.rs trim_both
        "trim_leading": lambda args: _trim_sub(args, lead=True),
        "trim_trailing": lambda args: _trim_sub(args, trail=True),
        "trim_both": lambda args: _trim_sub(args, lead=True, trail=True),
        "trim": lambda args: (
            _trim_sub(args, lead=True, trail=True)
            if len(args) == 2
            else None
        ),
        "histogram": _histogram,
    }
)

# CREATE FUNCTION `Name` (quoted, mixed-case) registers a CASE-SENSITIVE
# macro: only the exact backticked spelling resolves, like the reference
# (05_0010_ddl_create_udf.test error-1008 cases)
CASE_SENSITIVE_MACROS: set[str] = set()


def _build_macro_re() -> re.Pattern:
    low = sorted(
        (n for n in SQL_MACROS if n not in CASE_SENSITIVE_MACROS),
        key=len,
        reverse=True,
    )
    parts = []
    if CASE_SENSITIVE_MACROS:
        exact = sorted(CASE_SENSITIVE_MACROS, key=len, reverse=True)
        parts.append(
            "`(?-i:(?P<xname>"
            + "|".join(re.escape(n) for n in exact)
            + "))`"
        )
    # tolerate backtick-quoted calls (`some_name`(..)) — quoting passes
    # upstream may wrap identifiers
    parts.append(r"`?\b(?P<lname>" + "|".join(low) + r")\b`?")
    return re.compile("(?:" + "|".join(parts) + r")\s*\(", re.IGNORECASE)


def _macro_key(m: re.Match) -> str:
    """Macro-table key for a _MACRO_CALL_RE match: the exact spelling
    only when the backticked exact-case branch matched, else lowercase."""
    try:
        x = m.group("xname")
    except IndexError:  # pattern built without an exact-case branch
        x = None
    return x if x is not None else m.group("lname").lower()


_MACRO_CALL_RE = _build_macro_re()

# names added at runtime via CREATE FUNCTION (lambda UDFs) — tracked so
# DROP FUNCTION can refuse unknown names like the reference does
USER_MACROS: set[str] = set()


def register_sql_macro(name: str, template, exact_case: bool = False) -> None:
    """Runtime registration for Databend ``CREATE FUNCTION f AS (p) ->
    expr`` lambda UDFs (reference: src/query/users/src/user_udf.rs) —
    they become expression macros expanded exactly like the built-in
    alias layer. ``exact_case`` keys the macro by its quoted spelling;
    only the exact backticked reference resolves."""
    global _MACRO_CALL_RE
    key = name if exact_case else name.lower()
    SQL_MACROS[key] = template
    USER_MACROS.add(key)
    if exact_case:
        CASE_SENSITIVE_MACROS.add(key)
    _MACRO_CALL_RE = _build_macro_re()


def unregister_sql_macro(name: str, exact_case: bool = False) -> bool:
    global _MACRO_CALL_RE
    key = name if exact_case else name.lower()
    if key not in USER_MACROS:
        return False
    USER_MACROS.discard(key)
    SQL_MACROS.pop(key, None)
    CASE_SENSITIVE_MACROS.discard(key)
    _MACRO_CALL_RE = _build_macro_re()
    return True


def _split_top_level_args(s: str, start: int) -> tuple[list[str], int] | None:
    """Parse a balanced argument list beginning just after '(' at `start`.
    Returns (args, index_after_close_paren) or None if unbalanced."""
    depth = 1
    args: list[str] = []
    cur: list[str] = []
    i = start
    in_str: str | None = None
    while i < len(s):
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tail = "".join(cur).strip()
                if tail or args:
                    args.append(tail)
                return args, i + 1
            cur.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    return None


def rewrite_call(
    sql: str, name: str, template: str, arity: int | None = None
) -> str:
    """Rewrite every ``name(args…)`` call in ``sql`` with ``template``
    (format-style {N} placeholders) — used by error-driven retries that
    need an arg-aware rewrite outside the macro registry. With ``arity``
    set, calls with a different argument count pass through."""
    pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        parsed = _split_top_level_args(sql, m.end())
        if parsed is None:
            pos = m.end()
            continue
        args, after = parsed
        if arity is not None and len(args) != arity:
            pos = m.end()
            continue
        try:
            exp = template.format(*args)
        except IndexError:
            pos = m.end()
            continue
        sql = sql[: m.start()] + exp + sql[after:]
        pos = m.start() + len(exp)
    return sql


def expand_sql_macros(sql: str) -> str:
    """Expand Databend-only functions into Spark SQL expressions.
    Handles nesting by iterating to fixpoint (bounded). A template whose
    expansion contains its own name (e.g. slice → slice with adjusted
    args) embeds \\x03 inside the name to stop re-expansion; the marker
    is stripped on return."""

    def done(s: str) -> str:
        return s.replace("\x03", "")

    for _ in range(10):
        m = _MACRO_CALL_RE.search(sql)
        if not m:
            return done(sql)
        out: list[str] = []
        pos = 0
        changed = False
        while True:
            m = _MACRO_CALL_RE.search(sql, pos)
            if not m:
                out.append(sql[pos:])
                break
            parsed = _split_top_level_args(sql, m.end())
            if parsed is None:
                out.append(sql[pos : m.end()])
                pos = m.end()
                continue
            args, after = parsed
            template = SQL_MACROS[_macro_key(m)]
            if isinstance(template, dict):  # arity-dispatched templates
                template = template.get(len(args))
            try:
                if template is None:
                    expansion = None
                elif callable(template):  # arg-inspecting templates
                    expansion = template(args)
                else:
                    expansion = template.format(*args)
            except IndexError:
                expansion = None
            if expansion is None:
                # passthrough: advance only past the name + '(' so
                # macros nested in the arguments still expand
                out.append(sql[pos : m.end()])
                pos = m.end()
                continue
            out.append(sql[pos : m.start()])
            out.append(expansion)
            pos = after
            changed = True
        sql = "".join(out)
        if not changed:
            return done(sql)
    return done(sql)


# --- SQL-text rename pass (used by sqlgen for the dialect surface) ----------
# Explicit whitelist: only renames that are (a) not valid identifiers in
# common SQL text with different meanings, and (b) signature-identical.
# (e.g. `range`, `position`, `locate`, `any`, `len`, `insert` must NOT
# be text-rewritten — they collide with standard SQL or differ in
# argument order; use databend_fn() from Python for those. `contains`
# IS safe: Databend only defines the array membership form.)
_SQL_SAFE_RENAMES = {
    "from_base64": "unbase64",
    "char_length": "length",
    "character_length": "length",
    "lcase": "lower",
    "ucase": "upper",
    "to_datetime": "to_timestamp",
    "to_day_of_month": "dayofmonth",
    "to_day_of_year": "dayofyear",
    "to_hour": "hour",
    "to_minute": "minute",
    "to_second": "second",
    "to_year": "year",
    "to_month": "month",
    "to_quarter": "quarter",
    "to_week_of_year": "weekofyear",
    "str_to_date": "to_date",
    "to_base64": "base64",
    "to_hex": "hex",
    "from_hex": "unhex",
    "arg_max": "max_by",
    "arg_min": "min_by",
    "group_concat": "listagg",
    "array_length": "size",
}
_SQL_RENAME_RE = re.compile(
    r"\b(" + "|".join(sorted(_SQL_SAFE_RENAMES, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE,
)


def rewrite_function_names(sql: str) -> str:
    """Rewrite Databend function names to Spark names inside SQL text."""

    def sub(m: re.Match) -> str:
        return _SQL_SAFE_RENAMES[m.group(1).lower()] + "("

    return _SQL_RENAME_RE.sub(sub, sql)
