"""markov_train — character-level n-gram transition model.

Reference: ``src/query/functions/src/aggregates/aggregate_markov_tarin.rs``
(the `markov_train` aggregate): for every position in every input string
it records (context → next code point) transitions, where the context is
the up-to-N preceding code points, plus an end-of-string count per
context; the trained model feeds the obfuscator
(``databend_common_base::obfuscator``). The reference keys contexts by
NGramHash and returns array<(hash, total, count_end, buckets)>.

Spark-first re-expression: the transition extraction is an
``explode(sequence(...))`` over character positions — a pure codegen'd
projection, no UDF — and training is an ordinary groupBy count, i.e. a
partial→final hash aggregate that scales like any word-count. The model
keys contexts by the literal context STRING rather than a 32-bit hash
(semantically equivalent, join-able, and oracle-checkable; hashing is a
storage optimization in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def transitions(df: DataFrame, col: str, order: int = 3) -> DataFrame:
    """(context, next_cp, cnt): one row per observed transition.

    ``next_cp = ''`` marks end-of-string (the reference's count_end).
    """
    s = F.col(col)
    pos = F.explode(F.expr(f"sequence(1, length({col}) + 1)")).alias("i")
    exploded = df.select(s.alias("_s"), pos).select(
        F.expr(f"substr(_s, greatest(1, i - {order}), i - greatest(1, i - {order}))").alias(
            "context"
        ),
        F.expr("IF(i <= length(_s), substr(_s, i, 1), '')").alias("next_cp"),
    )
    return exploded.groupBy("context", "next_cp").agg(F.count("*").alias("cnt"))


def markov_train(df: DataFrame, col: str, order: int = 3) -> DataFrame:
    """Model rows: (context, total, count_end, buckets map<next_cp,cnt>).

    Matches the reference output row shape (hash→context as noted above):
    total = all transitions from the context, count_end = end-of-string
    transitions, buckets = per-next-codepoint counts.
    """
    t = transitions(df, col, order)
    return t.groupBy("context").agg(
        F.sum("cnt").alias("total"),
        F.sum(F.when(F.col("next_cp") == "", F.col("cnt")).otherwise(0)).alias(
            "count_end"
        ),
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("next_cp") != "", F.struct("next_cp", "cnt"))
                )
            )
        ).alias("buckets"),
    )


def transitions_oracle_sql(table: str, col: str, order: int = 3, where: str = "") -> str:
    """DuckDB SQL computing identical (context, next_cp, cnt) rows."""
    w = f"WHERE {where}" if where else ""
    return f"""
    WITH pos AS (
      SELECT {col} AS s, unnest(generate_series(1, length({col}) + 1)) AS i
      FROM {table} {w}
    )
    SELECT substr(s, greatest(1, i - {order}),
                  i - greatest(1, i - {order})) AS context,
           CASE WHEN i <= length(s) THEN substr(s, i, 1) ELSE '' END AS next_cp,
           count(*) AS cnt
    FROM pos GROUP BY context, next_cp
    """


# --- hash-exact model (SQL/SLT surface) --------------------------------------
#
# The reference keys contexts with a crc32 NGramHash over up-to-`order`
# preceding code points padded with BEGIN = u32::MAX (obfuscator.rs:245-365,
# aggregate_markov_tarin.rs:335-356). `markov_train_display` reproduces the
# exact array<(hash, total, count_end, {codepoint: count})> text so the
# sqllogictest goldens compare bit-for-bit.


def _code_points(s: str) -> list[int]:
    """CodePoint = u32 from the LE bytes of each UTF-8 char."""
    out = []
    for ch in s:
        b = ch.encode("utf-8")
        out.append(int.from_bytes(b.ljust(4, b"\x00"), "little"))
    return out


def _hash_context(order: int, context_size: int, cps: list[int]) -> int:
    import zlib

    begin = 0xFFFFFFFF
    seq = [begin] * order + cps
    seq = seq[order + len(cps) - context_size:]
    crc = 0
    for code in seq:
        crc = zlib.crc32(code.to_bytes(4, "little"), crc)
    return crc & 0xFFFFFFFF


def markov_train_display(
    strings,
    order: int = 5,
    frequency_cutoff: int = 0,
    num_buckets_cutoff: int = 0,
    frequency_add: int = 0,
    frequency_desaturate: float = 0.0,
) -> str:
    table: dict[int, dict] = {}
    for s in strings or []:
        if s is None:
            continue
        cps = _code_points(s)
        for pos in range(len(cps) + 1):
            nxt = cps[pos] if pos < len(cps) else None
            for context_size in range(order):
                h = _hash_context(order, context_size, cps[:pos])
                hist = table.setdefault(h, {"buckets": {}, "end": 0})
                if nxt is None:
                    hist["end"] += 1
                else:
                    hist["buckets"][nxt] = hist["buckets"].get(nxt, 0) + 1
    rows = []
    for h in sorted(table):
        hist = table[h]
        buckets = dict(sorted(hist["buckets"].items()))
        end = hist["end"]
        if num_buckets_cutoff > 0 and len(buckets) < num_buckets_cutoff:
            buckets = {}
        if frequency_cutoff > 0:
            buckets = {k: v for k, v in buckets.items() if v >= frequency_cutoff}
        total = sum(buckets.values())
        if frequency_add > 0 and total != 0:
            end += frequency_add
            buckets = {k: v + frequency_add for k, v in buckets.items()}
        if frequency_desaturate > 0.0 and total != 0:
            avg = int(total / len(buckets) * frequency_desaturate)
            buckets = {
                k: avg + int(v * (1.0 - frequency_desaturate))
                for k, v in buckets.items()
            }
        b = ",".join(f"{k}:{v}" for k, v in buckets.items())
        rows.append(f"({h},{total},{end},{{{b}}})")
    return "[" + ",".join(rows) + "]"


def _utf8_char_width(b: int) -> int:
    if b < 0x80:
        return 1
    if 0xC2 <= b <= 0xDF:
        return 2
    if 0xE0 <= b <= 0xEF:
        return 3
    if 0xF0 <= b <= 0xF4:
        return 4
    return 0


def _parse_model(text: str):
    """Inverse of markov_train_display: hash → (total, end, [(code, w)])."""
    import re as _re

    table = {}
    for h, t, e, buckets in _re.findall(
        r"\((\d+),(\d+),(\d+),\{([^}]*)\}\)", text or ""
    ):
        bl = []
        for kv in buckets.split(","):
            if ":" in kv:
                k, v = kv.split(":")
                bl.append((int(k), int(v)))
        table[int(h)] = (int(t), int(e), bl)
    return table


def markov_generate(model_text, params_json, seed, determinator):
    """Byte-exact port of the reference's generator
    (obfuscator.rs:272-350, scalars/obfuscator.rs:40-59): Rust
    DefaultHasher (SipHash-1-3, zero keys) over seed ‖ sliding window ‖
    overflow drives a weighted sample per emitted code point."""
    import json as _json

    from databend_spark.functions.hashes import siphash13

    if model_text is None or determinator is None:
        return None
    table = _parse_model(model_text)
    p = _json.loads(params_json)
    order, sw = int(p["order"]), int(p["sliding_window_size"])
    det = determinator.encode("utf-8")
    desired = len(determinator)
    cap = len(det) * 2
    sliding = min(sw, len(det))
    out = bytearray()
    cps: list[int] = []
    written = 0
    while written < cap:
        reach = written >= desired
        chosen = prev = None
        for size in range(order, 0, -1):
            v = table.get(_hash_context(order, size, cps))
            if v is None:
                continue
            if not reach and v[0] == 0 and v[1] == 0:
                prev = v
                continue
            chosen = v
            break
        hist = chosen if chosen is not None else prev
        if hist is None:
            return None
        overflow = max(0, written + sliding - len(det))
        start = written - overflow
        data = (
            (seed & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
            + det[start : start + sliding]
            + overflow.to_bytes(8, "little")
        )
        rnd = siphash13(data)
        end_mult = 1.25 ** (written - desired) if reach else 0.0
        total, count_end, buckets = hist
        rng = (total + int(count_end * end_mult)) & 0xFFFFFFFF
        code = None
        if rng:
            r = (rnd & 0xFFFFFFFF) % rng
            for c, w in buckets:
                if r <= w:
                    code = c
                    break
                r -= w
        if code is None:
            break
        if reach and code < 128 and not (
            48 <= code <= 57 or 65 <= code <= 90 or 97 <= code <= 122
        ):
            break
        length = max(_utf8_char_width((code >> 24) & 0xFF), 1)
        if length > cap - written:
            break
        out += code.to_bytes(4, "little")[:length]
        written += length
        cps.append(code)
    return out.decode("utf-8", errors="replace")


# the two Python helpers, in functions/variant_runtime.HELPERS' form:
# name → (function, return type)
MARKOV_UDFS = {
    "__markov_train_display": (
        lambda arr, o, fc, nbc, fa, fd: markov_train_display(
            arr, int(o), int(fc), int(nbc), int(fa), float(fd)
        ),
        StringType(),
    ),
    "markov_generate": (
        lambda m, p, s, d: markov_generate(m, p, int(s or 0), d),
        StringType(),
    ),
}
