"""File-format decode/encode for the COPY INTO / stage surface.

Reference: option enum + per-format defaults at
``/root/reference/src/meta/app/src/principal/file_format.rs`` (CSV :601,
Text/TSV :666, NDJson :935, Avro :985, Parquet :1014) and the row
decoders under ``src/query/formats/src/field_decoder/``.

Decoding operates one file at a time (bytes -> typed rows + row-level
errors), which matches the reference's loader parallelism model: COPY
INTO distributes at FILE granularity (one task per file / file split).
``sources/copy_into.py`` runs :func:`decode_file` (text formats) and
:func:`_decode_binary_fmt` (parquet / ORC / Avro / Arrow) in one task
per staged file, and :func:`encode_rows` in one task per partition of
an unload.
"""

from __future__ import annotations

import base64
import binascii
import io
import json
import math
import os
import re
from dataclasses import dataclass, field, replace
from datetime import date, datetime, timezone
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

__all__ = [
    "FormatParams",
    "ColSpec",
    "FieldError",
    "parse_option_list",
    "resolve_format",
    "decode_file",
    "decompress",
    "compress",
    "encode_rows",
    "FORMAT_SUFFIX",
]


class FieldError(ValueError):
    """A single field failed to decode; message matches the reference's
    error text (e.g. "invalid text for number")."""


class BareFieldError(FieldError):
    """FieldError whose text is already complete — the per-row wrapper
    must not prepend the "Invalid value ..." context."""


# ---------------------------------------------------------------------------
# option parsing


def parse_option_list(text: str) -> dict[str, object]:
    """Parse ``a = 1 b=>'x' c = ('u','v')`` (both `=` and `=>` forms,
    comma or space separated) into a lowercase-keyed dict. String lists
    come back as Python lists."""
    out: dict[str, object] = {}
    i, n = 0, len(text)
    tok = re.compile(r"\s*([A-Za-z_][\w$]*)\s*(=>|=)\s*", re.S)
    while i < n:
        m = tok.match(text, i)
        if not m:
            # skip separators
            if text[i] in " \t\r\n,;":
                i += 1
                continue
            break
        key = m.group(1).lower()
        i = m.end()
        if i < n and text[i] == "(":
            # string list ('a', 'b')
            j = text.index(")", i)
            inner = text[i + 1 : j]
            out[key] = re.findall(r"'((?:[^']|'')*)'", inner)
            i = j + 1
        elif i < n and text[i] == "'":
            m2 = re.compile(r"'((?:[^']|'')*)'", re.S).match(text, i)
            out[key] = m2.group(1).replace("''", "'")
            i = m2.end()
        else:
            m2 = re.compile(r"[^\s,;)]+").match(text, i)
            if not m2:
                break
            out[key] = m2.group(0)
            i = m2.end()
    return out


FORMAT_SUFFIX = {
    "csv": ".csv",
    "tsv": ".tsv",
    "text": ".txt",
    "ndjson": ".ndjson",
    "json": ".json",
    "parquet": ".parquet",
    "orc": ".orc",
    "avro": ".avro",
    "arrow": ".arrow",
    "xml": ".xml",
}

_COMPRESSIONS = {
    "none", "auto", "gzip", "gz", "bz2", "xz", "zstd", "zst", "zip",
    "deflate", "rawdeflate", "raw_deflate", "snappy", "lzo", "brotli",
}


@dataclass
class FormatParams:
    """Parsed file-format parameters with reference defaults
    (file_format.rs; CSV :601, Text :666, NDJson :935, Parquet :1014)."""

    type: str = "parquet"
    compression: str = "none"
    # csv / tsv(text)
    field_delimiter: str = ","
    record_delimiter: str = "\n"
    quote: str = '"'
    escape: str = ""
    skip_header: int = 0
    output_header: bool = False
    nan_display: str = "NaN"
    null_display: str = "\\N"
    error_on_column_count_mismatch: bool = True
    allow_quoted_nulls: bool = False
    trim_space: bool = False
    empty_field_as: str = "null"  # null | string | field_default
    quoted_empty_field_as: str = "string"
    binary_format: str = "hex"  # hex | base64
    quote_style: str = "necessary"  # necessary | always | never
    encoding: str = "utf-8"
    # ndjson / parquet / orc / avro
    missing_field_as: str = "error"  # error | null | field_default
    null_field_as: str = "field_default"  # null | field_default
    null_if: list[str] = field(default_factory=list)
    use_logic_type: bool = True
    # json
    row_tag: str = "row"
    # COPY-level flag (DISABLE_VARIANT_CHECK): invalid variants load as
    # JSON null instead of erroring
    variant_check: bool = True
    # session setting enable_auto_detect_datetime_format: lenient
    # (non-padded) date/timestamp parsing
    auto_detect_datetime: bool = False

    @property
    def is_text_like(self) -> bool:
        return self.type in ("csv", "tsv", "text")


_TYPE_ALIASES = {
    "csv": "csv",
    "tsv": "tsv",
    "text": "text",
    "ndjson": "ndjson",
    "json": "json",
    "parquet": "parquet",
    "orc": "orc",
    "avro": "avro",
    "arrow": "arrow",
    "arrow_stream": "arrow",
    "xml": "xml",
}


def _boolish(v: object) -> bool:
    return str(v).strip().lower() in ("true", "1", "yes", "on")


def resolve_format(
    opts: dict[str, object],
    named_formats: dict[str, FormatParams] | None = None,
    default: FormatParams | None = None,
) -> FormatParams:
    """Build FormatParams from an option dict (may contain ``type`` or
    ``format_name``), layered on per-type defaults."""
    named_formats = named_formats or {}
    opts = {k.lower(): v for k, v in opts.items()}
    fmt_name = opts.pop("format_name", None)
    if fmt_name is not None:
        key = str(fmt_name).strip("'\"").lower()
        if key in named_formats:
            base = replace(named_formats[key])
        elif key in _TYPE_ALIASES:
            base = _defaults_for(key)
        else:
            raise ValueError(f"[2507] Unknown file format {key}")
    elif "type" in opts:
        t = str(opts.pop("type")).strip("'\"").lower()
        if t not in _TYPE_ALIASES:
            raise ValueError(f"[2507] Unknown file format type {t}")
        base = _defaults_for(t)
    elif default is not None:
        base = replace(default)
    else:
        base = _defaults_for("parquet")
    return _apply_options(base, opts)


def _defaults_for(t: str) -> FormatParams:
    t = _TYPE_ALIASES[t]
    if t == "csv":
        return FormatParams(type="csv")
    if t in ("tsv", "text"):
        # Text defaults (file_format.rs:666): tab delimiter, backslash
        # escape, empty unquoted field keeps the column default
        return FormatParams(
            type=t,
            field_delimiter="\t",
            escape="\\",
            empty_field_as="field_default",
        )
    if t == "ndjson":
        # option-layer default is NULL (file_format.rs try_create), not
        # the serde-struct default FIELD_DEFAULT
        return FormatParams(type="ndjson", null_field_as="null")
    return FormatParams(type=t)


def _apply_options(p: FormatParams, opts: dict[str, object]) -> FormatParams:
    for k, v in opts.items():
        k = k.lower()
        if k in ("compression",):
            c = str(v).strip("'\"").lower()
            if c not in _COMPRESSIONS:
                raise ValueError(f"[2507] Invalid compression {c}")
            p.compression = {"gz": "gzip", "zst": "zstd"}.get(c, c)
        elif k == "field_delimiter":
            p.field_delimiter = _unescape(str(v))
        elif k == "record_delimiter":
            p.record_delimiter = _unescape(str(v))
        elif k == "quote":
            p.quote = _unescape(str(v))
        elif k == "escape":
            p.escape = _unescape(str(v))
        elif k in ("skip_header", "headers"):
            p.skip_header = int(str(v))
        elif k == "output_header":
            p.output_header = _boolish(v)
        elif k == "nan_display":
            nv = str(v)
            if nv.lower() not in ("nan", "null"):
                raise ValueError(
                    "[2507] Invalid CSV option value: NAN_DISPLAY must be "
                    "'nan' (any case) or 'null'"
                )
            p.nan_display = nv
        elif k == "null_display":
            p.null_display = str(v)
        elif k == "error_on_column_count_mismatch":
            p.error_on_column_count_mismatch = _boolish(v)
        elif k == "allow_quoted_nulls":
            p.allow_quoted_nulls = _boolish(v)
        elif k == "trim_space":
            p.trim_space = _boolish(v)
        elif k == "empty_field_as":
            p.empty_field_as = str(v).lower()
        elif k == "quoted_empty_field_as":
            p.quoted_empty_field_as = str(v).lower()
        elif k == "binary_format":
            b = str(v).lower()
            if b not in ("hex", "base64"):
                raise ValueError(f"[2507] Invalid binary_format {b}")
            p.binary_format = b
        elif k == "quote_style":
            qs = str(v).lower()
            p.quote_style = {
                "quote_minimal": "minimal", "quote_all": "always",
                "quote_necessary": "necessary", "quote_none": "never",
                "none": "never",
            }.get(qs, qs)
        elif k == "missing_field_as":
            m = str(v).lower()
            if m not in ("error", "null", "field_default"):
                raise ValueError(
                    "[2004] Invalid option value: MISSING_FIELD_AS is set "
                    f"to {m.upper()}. The valid values are "
                    "ERROR | NULL | FIELD_DEFAULT."
                )
            p.missing_field_as = m
        elif k == "null_field_as":
            m = str(v).lower()
            if m == "error":
                raise ValueError(
                    "[2004] Invalid option value: NULL_FIELD_AS is set to "
                    "ERROR. The valid values are NULL | FIELD_DEFAULT."
                )
            p.null_field_as = m
        elif k == "null_if":
            p.null_if = list(v) if isinstance(v, list) else [str(v)]
        elif k == "use_logic_type":
            p.use_logic_type = _boolish(v)
        elif k == "row_tag":
            p.row_tag = str(v)
        elif k == "encoding":
            p.encoding = str(v).lower()
        elif k == "type":
            pass  # already consumed
        else:
            raise ValueError(f"[2507] Unknown file format option {k}")
    return p


def _unescape(s: str) -> str:
    s = re.sub(
        r"(?:\\)?\\x([0-9a-fA-F]{2})",
        lambda m: chr(int(m.group(1), 16)),
        s,
    )
    return (
        s.replace("\\t", "\t")
        .replace("\\n", "\n")
        .replace("\\r", "\r")
        .replace("\\0", "\0")
        .replace("\\\\", "\\")
    )


# ---------------------------------------------------------------------------
# column specs + field parsing


_NO_DEFAULT = object()


@dataclass
class ColSpec:
    """Target column: Spark-side name/kind plus the Databend display
    type for reference-parity error messages."""

    name: str
    kind: str  # int|float|decimal|bool|date|timestamp|string|binary|variant|uuid|array|map|tuple|bitmap|interval|geometry
    db_type: str = ""  # e.g. "Int32 NULL"
    nullable: bool = True
    default: object = _NO_DEFAULT
    precision: int = 38
    scale: int = 0
    bits: int = 32
    signed: bool = True
    subs: list["ColSpec"] | None = None  # tuple members
    elem: "ColSpec | None" = None  # array element / map value
    default_expr: str = ""  # non-literal DEFAULT (e.g. uuid())
    idx: int = 0  # 0-based position in the target column list

    def type_default(self):
        if self.default_expr.lower().replace(" ", "").rstrip("()") in (
            "uuid", "gen_random_uuid",
        ):
            import uuid as _uuid

            return str(_uuid.uuid4())
        if self.default is not _NO_DEFAULT:
            return self.default
        if self.nullable:
            return None
        return {
            "int": 0, "float": 0.0, "decimal": Decimal(0), "bool": False,
            "string": "", "binary": b"", "variant": None,
        }.get(self.kind)


_TS_FORMATS = (
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d",
)


def _jsonb_error_msg(t: str, e: Exception) -> str:
    """Reference jsonb parser error text (expected ident/value, pos N)."""
    if re.match(r"^[A-Za-z]", t) and t not in ("true", "false", "null"):
        return "expected ident, pos 3"
    pos = getattr(e, "pos", 0) or 0
    if pos >= len(t.rstrip()):
        return f"EOF while parsing a value, pos {len(t.rstrip())}"
    return f"expected value, pos {pos + 1}"


_EPOCH_DT0 = datetime(1970, 1, 1)


def parse_timestamp_text(s: str, lenient: bool = False) -> datetime:
    txt = s.strip()
    # trailing zone: +08:00 / Z / +0800
    zm = re.search(r"(Z|[+-]\d{2}:?\d{2})$", txt)
    tzoff = None
    if zm:
        z = zm.group(1)
        txt = txt[: zm.start()].strip()
        if z == "Z":
            tzoff = timezone.utc
        else:
            hh, mm = int(z[1:3]), int(z[-2:])
            sign = -1 if z[0] == "-" else 1
            from datetime import timedelta

            tzoff = timezone(sign * timedelta(hours=hh, minutes=mm))
    for f in _TS_FORMATS:
        try:
            dt = datetime.strptime(txt, f)
            if tzoff is not None:
                dt = dt.replace(tzinfo=tzoff).astimezone(timezone.utc).replace(tzinfo=None)
            return dt
        except ValueError:
            continue
    # epoch numbers: unit by magnitude (reference auto-detects s/ms/us)
    if re.fullmatch(r"-?\d+", txt):
        v = int(txt)
        if abs(v) < 10**10:
            return datetime.utcfromtimestamp(v)
        if abs(v) < 10**13:
            return _EPOCH_DT0 + __import__("datetime").timedelta(milliseconds=v)
        if abs(v) < 10**16:
            return _EPOCH_DT0 + __import__("datetime").timedelta(microseconds=v)
        return _EPOCH_DT0 + __import__("datetime").timedelta(microseconds=v // 1000)
    if lenient:
        m = re.fullmatch(r"(\d{1,4})-(\d{1,2})-(\d{1,2})", txt)
        if m:
            return datetime(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    raise FieldError("invalid text for timestamp")


def parse_date_text(s: str, lenient: bool = False) -> date:
    txt = s.strip()
    pat = r"(\d{1,4})-(\d{1,2})-(\d{1,2})" if lenient else r"(\d{4})-(\d{2})-(\d{2})"
    m = re.fullmatch(pat, txt)
    if m:
        try:
            return date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        except ValueError as e:
            raise FieldError("invalid text for date") from e
    try:
        return parse_timestamp_text(txt, lenient).date()
    except FieldError:
        raise FieldError("invalid text for date") from None


_INT_RANGE = {
    (8, True): (-(2**7), 2**7 - 1),
    (16, True): (-(2**15), 2**15 - 1),
    (32, True): (-(2**31), 2**31 - 1),
    (64, True): (-(2**63), 2**63 - 1),
    (8, False): (0, 2**8 - 1),
    (16, False): (0, 2**16 - 1),
    (32, False): (0, 2**32 - 1),
    (64, False): (0, 2**64 - 1),
}


def parse_field_text(
    s: str, col: ColSpec, params: FormatParams, numeric_cast: str = "rounding"
):
    """Typed parse of one text field (reference field_decoder semantics).
    Raises FieldError with the reference's message text."""
    k = col.kind
    if k == "int":
        t = s
        if t != t.strip():
            raise FieldError("invalid text for number")
        try:
            v = int(t)
        except ValueError:
            try:
                f = float(t)
            except ValueError:
                raise FieldError("invalid text for number") from None
            if math.isnan(f) or math.isinf(f):
                raise FieldError("invalid text for number") from None
            if numeric_cast == "truncating":
                v = math.trunc(f)
            else:
                v = int(math.copysign(math.floor(abs(f) + 0.5), f))
        lo, hi = _INT_RANGE[(col.bits, col.signed)]
        if not lo <= v <= hi:
            raise FieldError("number overflow")
        return v
    if k == "float":
        t = s
        if t != t.strip():
            raise FieldError("invalid text for number")
        if t == params.nan_display or t.lower() == "nan":
            return float("nan")
        if t.lower() in ("inf", "infinity", "+inf", "+infinity"):
            return float("inf")
        if t.lower() in ("-inf", "-infinity"):
            return float("-inf")
        try:
            return float(t)
        except ValueError:
            raise FieldError("invalid text for number") from None
    if k == "decimal":
        t = s
        try:
            d = Decimal(t)
        except InvalidOperation:
            try:
                d = Decimal(repr(float(t)))
            except (ValueError, InvalidOperation):
                raise FieldError("invalid text for decimal") from None
        q = d.quantize(Decimal(1).scaleb(-col.scale), rounding=ROUND_HALF_UP)
        if q.adjusted() + 1 > col.precision - col.scale + (q.adjusted() + 1):
            pass
        digits = len(q.as_tuple().digits)
        if q != 0 and digits - (-q.as_tuple().exponent) > col.precision - col.scale:
            raise FieldError(f"Decimal overflow at line")
        return q
    if k == "bool":
        t = s.strip().lower()
        if t in ("true", "1"):
            return True
        if t in ("false", "0"):
            return False
        raise FieldError("invalid text for boolean")
    if k == "date":
        return parse_date_text(s, params.auto_detect_datetime)
    if k == "timestamp":
        return parse_timestamp_text(s, params.auto_detect_datetime)
    if k == "binary":
        t = s.strip()
        if params.binary_format == "base64":
            try:
                return base64.b64decode(t, validate=True)
            except (binascii.Error, ValueError):
                raise FieldError("invalid base64 for binary") from None
        try:
            return binascii.unhexlify(t)
        except (binascii.Error, ValueError):
            raise FieldError("invalid hex for binary") from None
    if k == "variant":
        t = s.strip()
        try:
            v = json.loads(t)
        except ValueError as e:
            if not params.variant_check:
                return "null"
            raise FieldError(_jsonb_error_msg(t, e)) from None
        return json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    if k == "uuid":
        t = s.strip()
        if not re.fullmatch(
            r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
            t,
        ):
            raise FieldError("invalid text for uuid")
        return t.lower()
    if k in ("array", "tuple"):
        t = s.strip()
        if t.startswith(("[", "(")) and t.endswith(("]", ")")):
            parts = _split_bracket_list(t[1:-1])
            if k == "tuple" and col.subs:
                if len(parts) != len(col.subs):
                    raise FieldError("invalid text for tuple")
                return tuple(
                    parse_field_text(p, sub, params, numeric_cast)
                    if p not in ("NULL", "null") else None
                    for p, sub in zip(parts, col.subs)
                )
            if k == "array" and col.elem is not None:
                return [
                    parse_field_text(p, col.elem, params, numeric_cast)
                    if p not in ("NULL", "null") else None
                    for p in parts
                ]
        try:
            return json.dumps(
                json.loads(t), separators=(",", ":"), ensure_ascii=False
            )
        except ValueError:
            raise FieldError(f"invalid text for {k}") from None
    if k == "map":
        t = s.strip()
        if t.startswith("{") and t.endswith("}"):
            out = {}
            for part in _split_bracket_list(t[1:-1]):
                if not part:
                    continue
                kv = _split_top_colon(part)
                if kv is None:
                    raise FieldError("invalid text for map")
                kk, vv = kv
                key = parse_field_text(
                    kk, col.subs[0] if col.subs else ColSpec("k", "string"),
                    params, numeric_cast,
                ) if col.subs else kk
                val = (
                    None
                    if vv in ("NULL", "null") and col.elem is not None
                    else parse_field_text(
                        vv,
                        col.elem or ColSpec("v", "string"),
                        params,
                        numeric_cast,
                    )
                )
                out[key] = val
            return out
        try:
            return json.loads(t)
        except ValueError:
            raise FieldError("invalid text for map") from None
    # string & everything else: identity
    return s


def _split_top_colon(part: str) -> tuple[str, str] | None:
    """Split `key:value` at the top level, respecting quotes/brackets."""
    depth, i, n = 0, 0, len(part)
    while i < n:
        ch = part[i]
        if ch == "'":
            i += 1
            while i < n and part[i] != "'":
                i += 1
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == ":" and depth == 0:
            k = part[:i].strip().strip("'")
            v = part[i + 1 :].strip()
            if v.startswith("'") and v.endswith("'"):
                v = v[1:-1]
            return k, v
        i += 1
    return None


def _split_bracket_list(inner: str) -> list[str]:
    """Split a Databend composite literal body ['a', ('b', 1)] on
    top-level commas; an element that is entirely quoted loses its
    quotes, nested quotes stay verbatim for the recursive parse."""
    parts, buf, depth, i, n = [], [], 0, 0, len(inner)
    while i < n:
        ch = inner[i]
        if ch == "'":
            j = i + 1
            while j < n and inner[j] != "'":
                j += 1
            buf.append(inner[i : j + 1])
            i = j + 1
            continue
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    last = "".join(buf).strip()
    if last or parts:
        parts.append(last)
    return [
        p[1:-1] if len(p) >= 2 and p[0] == "'" and p[-1] == "'" else p
        for p in parts
    ]


# ---------------------------------------------------------------------------
# compression


def decompress(raw: bytes, filename: str, compression: str = "auto") -> bytes:
    c = (compression or "auto").lower()
    if c == "auto":
        low = filename.lower()
        if low.endswith(".gz"):
            c = "gzip"
        elif low.endswith(".bz2"):
            c = "bz2"
        elif low.endswith(".xz"):
            c = "xz"
        elif low.endswith((".zst", ".zstd")):
            c = "zstd"
        elif low.endswith(".zip"):
            c = "zip"
        elif low.endswith(".deflate"):
            c = "deflate"
        else:
            return raw
    if c in ("none", ""):
        return raw
    if c == "gzip":
        import gzip

        return gzip.decompress(raw)
    if c == "bz2":
        import bz2

        return bz2.decompress(raw)
    if c == "xz":
        import lzma

        return lzma.decompress(raw)
    if c == "zstd":
        import pyarrow as pa

        with pa.input_stream(pa.BufferReader(raw), compression="zstd") as st:
            return st.read()
    if c == "snappy":
        import pyarrow as pa

        return pa.Codec("snappy").decompress(raw, asbytes=True)
    if c == "zip":
        import zipfile

        zf = zipfile.ZipFile(io.BytesIO(raw))
        parts = [
            zf.read(n)
            for n in zf.namelist()
            if not n.endswith("/") and not n.startswith("__MACOSX")
        ]
        return b"".join(parts)
    if c in ("deflate", "rawdeflate", "raw_deflate"):
        import zlib

        return zlib.decompress(raw, -15 if "raw" in c else 15)
    raise ValueError(f"[2507] unsupported compression {c}")


def compress(data: bytes, compression: str, inner_name: str = "data") -> bytes:
    c = (compression or "none").lower()
    if c in ("none", "", "auto"):
        return data
    if c == "gzip":
        import gzip

        return gzip.compress(data, mtime=0)
    if c == "bz2":
        import bz2

        return bz2.compress(data)
    if c == "xz":
        import lzma

        return lzma.compress(data)
    if c == "zstd":
        import pyarrow as pa

        return pa.Codec("zstd").compress(data, asbytes=True)
    if c == "zip":
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zi = zipfile.ZipInfo(inner_name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
        return buf.getvalue()
    raise ValueError(f"[2507] Unsupported compression: {c} for this format")


_COMP_SUFFIX = {
    "gzip": ".gz", "bz2": ".bz2", "xz": ".xz", "zstd": ".zst", "zip": ".zip",
}


def compression_suffix(compression: str) -> str:
    return _COMP_SUFFIX.get((compression or "none").lower(), "")


# ---------------------------------------------------------------------------
# CSV / TSV record tokenizer (reference: field_decoder/csv.rs, tsv.rs)


def split_text_records(
    text: str, params: FormatParams
) -> list[list[tuple[str, bool]]]:
    """Tokenize CSV text into records of (field_text, was_quoted).
    Handles quote, escape, multi-char record delimiters, quoted
    newlines. TSV/Text uses backslash escapes and no quoting."""
    if params.type in ("tsv", "text"):
        return _split_tsv(text, params)
    fd, rd, q = params.field_delimiter, params.record_delimiter, params.quote
    if rd == "\r\n":
        rd = "\n"  # CRLF mode also accepts bare LF (reference reader)
    esc = params.escape
    records: list[list[tuple[str, bool]]] = []
    fields: list[tuple[str, bool]] = []
    buf: list[str] = []
    quoted = in_q = False
    i, n = 0, len(text)
    # treat both \n and \r\n uniformly when rd is "\n"
    while i < n:
        ch = text[i]
        if in_q:
            if esc and ch == esc and i + 1 < n:
                nxt = text[i + 1]
                buf.append({"n": "\n", "t": "\t", "r": "\r"}.get(nxt, nxt))
                i += 2
                continue
            if ch == q:
                if i + 1 < n and text[i + 1] == q:
                    buf.append(q)
                    i += 2
                    continue
                in_q = False
                i += 1
                continue
            buf.append(ch)
            i += 1
            continue
        if esc and ch == esc and i + 1 < n:
            nxt = text[i + 1]
            buf.append({"n": "\n", "t": "\t", "r": "\r", "0": "\0"}.get(nxt, nxt))
            i += 2
            continue
        if ch == q and not buf:
            in_q = quoted = True
            i += 1
            continue
        if fd and text.startswith(fd, i):
            fields.append(("".join(buf), quoted))
            buf, quoted = [], False
            i += len(fd)
            continue
        if text.startswith(rd, i) or (rd == "\n" and ch == "\r" and text.startswith("\r\n", i)):
            fields.append(("".join(buf), quoted))
            records.append(fields)
            fields, buf, quoted = [], [], False
            i += 2 if (rd == "\n" and ch == "\r") else len(rd)
            continue
        buf.append(ch)
        i += 1
    if buf or quoted or fields:
        fields.append(("".join(buf), quoted))
        records.append(fields)
    return records


def _split_tsv(text: str, params: FormatParams) -> list[list[tuple[str, bool]]]:
    fd, rd, esc = params.field_delimiter, params.record_delimiter, params.escape
    if rd == "\r\n":
        rd = "\n"
    records, fields, buf = [], [], []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if esc and ch == esc and i + 1 < n:
            nxt = text[i + 1]
            if nxt == "N" and not buf:
                # \N null marker: keep literal for the null check
                buf.append("\\N")
            else:
                mapped = {"n": "\n", "t": "\t", "r": "\r", "0": "\0"}.get(nxt)
                if mapped is None:
                    # unknown ALNUM escapes keep their backslash (\i);
                    # punctuation/control escapes strip it (\', \<tab>)
                    mapped = "\\" + nxt if nxt.isalnum() else nxt
                buf.append(mapped)
            i += 2
            continue
        if fd and text.startswith(fd, i):
            fields.append(("".join(buf), False))
            buf = []
            i += len(fd)
            continue
        if text.startswith(rd, i) or (rd == "\n" and text.startswith("\r\n", i)):
            fields.append(("".join(buf), False))
            records.append(fields)
            fields, buf = [], []
            i += 2 if (rd == "\n" and text[i] == "\r") else len(rd)
            continue
        buf.append(ch)
        i += 1
    if buf or fields:
        fields.append(("".join(buf), False))
        records.append(fields)
    return records


# ---------------------------------------------------------------------------
# decode driver


@dataclass
class DecodeResult:
    rows: list[tuple]
    errors: list[tuple[int, str]]  # (1-based line, message)
    seen: int = 0  # records present after header skip (incl. blanks)


def db_type_label(col: ColSpec) -> str:
    base = col.db_type or col.kind
    return f"{base} NULL" if col.nullable else base


def decode_file(
    raw: bytes,
    filename: str,
    params: FormatParams,
    cols: list[ColSpec],
    numeric_cast: str = "rounding",
) -> DecodeResult:
    """Decode one staged file into typed rows. Row-level problems land
    in ``errors`` with reference-parity messages; the caller applies
    ON_ERROR policy."""
    _comp = params.compression if params.compression not in ("none", "") else "auto"
    if params.type in ("csv", "tsv", "text"):
        data = decompress(raw, filename, _comp)
        try:
            text = data.decode(params.encoding or "utf-8")
        except (UnicodeDecodeError, LookupError):
            raise ValueError(
                f"[1046] invalid {params.encoding or 'utf-8'} for text "
                f"in file {filename}"
            ) from None
        return _decode_text(text, params, cols, numeric_cast)
    if params.type == "ndjson":
        data = decompress(raw, filename, _comp)
        text = data.decode("utf-8")
        return _decode_ndjson(text, params, cols)
    if params.type == "json":
        data = decompress(raw, filename, _comp)
        docs = json.loads(data.decode("utf-8"))
        if isinstance(docs, dict):
            docs = [docs]
        rows, errors = [], []
        for ln, obj in enumerate(docs, 1):
            try:
                rows.append(_object_to_row(obj, params, cols, ln))
            except FieldError as e:
                errors.append((ln, str(e)))
        return DecodeResult(rows, errors)
    raise ValueError(f"[2507] decode_file does not handle {params.type}")


def _decode_text(
    text: str, params: FormatParams, cols: list[ColSpec], numeric_cast: str
) -> DecodeResult:
    records = split_text_records(text, params)
    rows: list[tuple] = []
    errors: list[tuple[int, str]] = []
    seen = 0
    ncols = len(cols)
    for ln, rec in enumerate(records, 1):
        if ln <= params.skip_header:
            continue
        seen += 1
        if len(rec) == 1 and rec[0][0] == "" and not rec[0][1]:
            continue  # blank line
        if len(rec) != ncols:
            if params.error_on_column_count_mismatch:
                errors.append(
                    (
                        ln,
                        f"Number of columns in file ({len(rec)}) does not "
                        f"match that of the corresponding table ({ncols})",
                    )
                )
                continue
            # pad / truncate
            rec = rec[:ncols] + [("", False)] * (ncols - len(rec))
        out = []
        err = None
        for ci, (col, (ftxt, quoted)) in enumerate(zip(cols, rec)):
            col.idx = ci
            try:
                out.append(
                    _field_value(ftxt, quoted, col, params, numeric_cast)
                )
            except BareFieldError as e:
                err = (ln, str(e))
                break
            except FieldError as e:
                err = (
                    ln,
                    f"Invalid value {ftxt!r} for column {ci} ({col.name} "
                    f"{db_type_label(col)}): {e}",
                )
                break
        if err:
            errors.append(err)
        else:
            rows.append(tuple(out))
    return DecodeResult(rows, errors, seen)


def _field_value(
    ftxt: str, quoted: bool, col: ColSpec, params: FormatParams, numeric_cast: str
):
    if params.trim_space and not quoted:
        ftxt = ftxt.strip()
    if not quoted:
        if ftxt == params.null_display:
            return _null_for(col)
        if ftxt in params.null_if:
            return _null_for(col)
        if ftxt == "":
            base = (col.db_type or col.kind).replace(" NULL", "")
            if params.empty_field_as == "string":
                if col.kind == "string":
                    return ""
                # non-string columns fall back to NULL / their default;
                # only a NOT NULL column without default errors
                if col.nullable:
                    return None
                if col.default is not _NO_DEFAULT or col.default_expr:
                    return col.type_default()
                raise BareFieldError(
                    f"Encountered an empty value for column {col.idx} "
                    f"(`{col.name}` of type {base}), with the FILE_FORMAT "
                    "option `EMPTY_FIELD_AS=STRING`. To resolve this, "
                    "please consider Set EMPTY_FIELD_AS to FIELD_DEFAULT "
                    "or NULL."
                )
            if params.empty_field_as == "field_default":
                return col.type_default()
            if not col.nullable:
                raise BareFieldError(
                    f"Encountered an empty value for column {col.idx} "
                    f"(`{col.name}` of type {base}), with the FILE_FORMAT "
                    "option `EMPTY_FIELD_AS=NULL`. To resolve this, "
                    "please consider one of the following options: 1. "
                    f"Modify the `{col.name}` column to allow NULL "
                    "values. 2. Set EMPTY_FIELD_AS to FIELD_DEFAULT."
                )
            return None
    else:
        if ftxt == "":
            # quoted-empty handling wins over allow_quoted_nulls even
            # when null_display is '' (csv_option_null.test)
            if params.quoted_empty_field_as == "null":
                return _null_for(col)
            if params.quoted_empty_field_as == "field_default":
                return col.type_default()
            if col.kind != "string":
                # STRING mode only applies to string columns; a quoted
                # empty for any other type loads as NULL (ontime CSV)
                return _null_for(col)
            return ""
        if params.allow_quoted_nulls and ftxt == params.null_display:
            return _null_for(col)
    return parse_field_text(ftxt, col, params, numeric_cast)


def _null_for(col: ColSpec):
    if not col.nullable:
        raise FieldError("null value for NOT NULL column")
    return None


def _decode_ndjson(
    text: str, params: FormatParams, cols: list[ColSpec]
) -> DecodeResult:
    rows, errors = [], []
    ln = 0
    for line in text.split("\n"):
        if not line.strip():
            continue
        ln += 1
        try:
            obj = json.loads(line)
        except ValueError as e:
            errors.append((ln, f"invalid JSON: {str(e)[:80]}"))
            continue
        if not isinstance(obj, dict):
            errors.append((ln, "each NDJSON line must be an object"))
            continue
        try:
            rows.append(_object_to_row(obj, params, cols, ln))
        except FieldError as e:
            errors.append((ln, str(e)))
    return DecodeResult(rows, errors)


def _object_to_row(
    obj: dict, params: FormatParams, cols: list[ColSpec], ln: int
) -> tuple:
    lower = {k.lower(): v for k, v in obj.items()}
    out = []
    for ci, col in enumerate(cols):
        key = col.name.lower()
        label = db_type_label(col)
        if key not in lower:
            if params.missing_field_as == "error":
                raise FieldError(
                    f"Missing value for column {ci} ({col.name} {label}). "
                    "current FILE_FORMAT option: MISSING_FIELD_AS=ERROR"
                )
            if params.missing_field_as == "null":
                if not col.nullable:
                    raise FieldError(
                        f"Missing value for column {ci} ({col.name} "
                        f"{label}). current FILE_FORMAT option: "
                        "MISSING_FIELD_AS=NULL. the column is not nullable"
                    )
                out.append(None)
            else:
                out.append(col.type_default())
            continue
        v = lower[key]
        if v is None:
            if params.null_field_as == "field_default":
                out.append(col.type_default())
            else:
                if not col.nullable:
                    raise FieldError(
                        f"Invalid value 'null' for column {ci} ({col.name} "
                        f"{label}): null value is not allowed for "
                        "non-nullable field, when NULL_FIELDS_AS=NULL"
                    )
                out.append(None)
            continue
        try:
            out.append(_json_value(v, col, params))
        except FieldError as e:
            raise FieldError(
                f"Invalid value {_jtxt(v)!r} for column {ci} "
                f"({col.name} {label}): {e}"
            ) from None
    return tuple(out)


def _jtxt(v) -> str:
    return (
        json.dumps(v, separators=(",", ":"), ensure_ascii=False)
        if isinstance(v, (dict, list))
        else str(v)
    )


def _sanitize_json(v):
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, dict):
        return {k: _sanitize_json(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_sanitize_json(x) for x in v]
    return v


def _json_value(v, col: ColSpec, params: FormatParams):
    k = col.kind
    if isinstance(v, str) and v in params.null_if:
        return _null_for(col)
    if k == "variant":
        return json.dumps(
            _sanitize_json(v), separators=(",", ":"), ensure_ascii=False
        )
    if k == "map":
        if isinstance(v, str):
            v = json.loads(v)
        if not isinstance(v, dict):
            raise FieldError("invalid value for map")
        return {
            kk: _json_value(x, col.elem, params) if col.elem else x
            for kk, x in sorted(v.items())
        }
    if k == "array":
        if isinstance(v, str):
            v = json.loads(v)
        if not isinstance(v, list):
            raise FieldError("invalid value for array")
        return [
            _json_value(x, col.elem, params) if col.elem else x for x in v
        ]
    if k == "tuple":
        if isinstance(v, str):
            v = json.loads(v)
        if isinstance(v, list):
            # JSON arrays fill tuples positionally
            subs = col.subs or []
            if len(v) != len(subs):
                raise FieldError("invalid value for tuple")
            return tuple(
                None if x is None else _json_value(x, sub, params)
                for x, sub in zip(v, subs)
            )
        if not isinstance(v, dict):
            raise FieldError("invalid value for tuple")
        lower = {kk.lower(): x for kk, x in v.items()}
        return tuple(
            None
            if lower.get(sub.name.lower()) is None
            else _json_value(lower[sub.name.lower()], sub, params)
            for sub in (col.subs or [])
        )
    if k == "int":
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, (int, float)):
            f = float(v)
            return int(math.copysign(math.floor(abs(f) + 0.5), f))
        return parse_field_text(str(v), col, params)
    if k == "float":
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        return parse_field_text(str(v), col, params)
    if k == "decimal":
        return parse_field_text(str(v), col, params)
    if k == "bool":
        if isinstance(v, bool):
            return v
        return parse_field_text(str(v), col, params)
    if k in ("date", "timestamp", "binary", "uuid"):
        return parse_field_text(str(v), col, params)
    if k == "string":
        if isinstance(v, (dict, list)):
            raise FieldError(
                f"fail to load string column {col.name}: JSON "
                "object/array needs an explicit cast"
            )
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)
    return v


# ---------------------------------------------------------------------------
# encode (unload)


def _composite_text(v) -> str:
    """Databend serialization of nested values in text unloads: tuples
    render as JSON arrays, map keys raw, variant strings embed as raw
    canonical JSON (csv_types.test roundtrip goldens)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "__fields__") or isinstance(v, tuple):
        return "[" + ",".join(_composite_text(x) for x in v) + "]"
    if isinstance(v, list):
        return "[" + ",".join(_composite_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k if not isinstance(k, str) else json.dumps(k, ensure_ascii=False)}:"
            f"{_composite_text(x)}"
            for k, x in v.items()
        ) + "}"
    if isinstance(v, str):
        t = v.strip()
        if t[:1] in "[{":
            try:
                return json.dumps(
                    json.loads(t), separators=(",", ":"), ensure_ascii=False
                )
            except ValueError:
                pass
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, datetime):
        return '"' + v.strftime("%Y-%m-%d %H:%M:%S.%f") + '"'
    if isinstance(v, date):
        return '"' + v.isoformat() + '"'
    return str(v)


def render_value(v, col: ColSpec | None, params: FormatParams) -> str | None:
    """Databend text display of one value (None => caller writes
    null_display)."""
    if v is None:
        return None
    if isinstance(v, (list, dict)) or hasattr(v, "__fields__"):
        return _composite_text(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return params.nan_display
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e16:
            return str(int(v)) + ".0"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        if params.binary_format == "base64":
            return base64.b64encode(bytes(v)).decode()
        return bytes(v).hex().upper()
    return str(v)


def _csv_field(v, col, params: FormatParams) -> str:
    s = render_value(v, col, params)
    if s is None:
        return params.null_display
    q, fd, rd = params.quote, params.field_delimiter, params.record_delimiter
    style = params.quote_style
    is_stringish = isinstance(v, str) or isinstance(v, (list, dict)) or hasattr(
        v, "__fields__"
    )
    contains_special = (
        q in s or fd in s or rd in s or "\n" in s or "\r" in s
        or (params.escape and params.escape in s)
        # a literal \N would read back as the escape-style null marker
        # (custom NULL_DISPLAY collisions are left ambiguous — pinned by
        # csv_option_quote_minimal_roundtrip.test)
        or (is_stringish and s == "\\N")
    )
    # default style quotes every string-typed value; QUOTE_MINIMAL only
    # quotes when the text is ambiguous (csv_option_quote_minimal.test)
    need = style == "always" or (
        style == "necessary" and (is_stringish or contains_special)
    ) or (style == "minimal" and contains_special)
    if need:
        s = q + s.replace(q, q + q) + q
    return s


def encode_rows(rows: list[tuple], cols: list[ColSpec], params: FormatParams) -> bytes:
    """Serialize typed rows per format (CSV/TSV/NDJSON); compression is
    applied by the caller via :func:`compress`."""
    t = params.type
    if t == "csv":
        lines = []
        if params.output_header:
            lines.append(
                params.field_delimiter.join(c.name for c in cols)
            )
        for r in rows:
            lines.append(
                params.field_delimiter.join(
                    _csv_field(v, c, params) for v, c in zip(r, cols)
                )
            )
        body = params.record_delimiter.join(lines)
        return (body + params.record_delimiter if lines else "").encode(
            params.encoding or "utf-8"
        )
    if t in ("tsv", "text"):
        out = []
        for r in rows:
            fields = []
            for v, c in zip(r, cols):
                s = render_value(v, c, params)
                if s is None:
                    s = "\\N"
                else:
                    s = (
                        s.replace("\\", "\\\\")
                        .replace("\t", "\\t")
                        .replace("\n", "\\n")
                        .replace("\r", "\\r")
                    )
                fields.append(s)
            out.append(params.field_delimiter.join(fields))
        body = params.record_delimiter.join(out)
        return (body + params.record_delimiter if out else "").encode(
            params.encoding or "utf-8"
        )
    if t == "ndjson":
        lines = []
        for r in rows:
            obj = {}
            for v, c in zip(r, cols):
                obj[c.name] = _jsonable(v, c)
            lines.append(json.dumps(obj, ensure_ascii=False, separators=(",", ":")))
        return ("\n".join(lines) + "\n" if lines else "").encode("utf-8")
    if t == "json":
        docs = [
            {c.name: _jsonable(v, c) for v, c in zip(r, cols)} for r in rows
        ]
        return (
            json.dumps(docs, ensure_ascii=False, separators=(",", ":")) + "\n"
        ).encode("utf-8")
    raise ValueError(f"[2507] encode_rows does not handle {t}")


def _jsonable(v, col: ColSpec):
    if v is None:
        return None
    if isinstance(v, str) and (
        col.kind in ("variant", "array", "map", "tuple")
        or v[:1] in "[{"
    ):
        # variant columns reach the writer as JSON text (and unload
        # specs built from a bare SELECT lose the declared kind)
        try:
            return json.loads(v)
        except ValueError:
            return v
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex().upper()
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        return v
    return v


# ---------------------------------------------------------------------------
# parquet / ORC / Avro / Arrow decode (pyarrow)


def _decode_binary_fmt(path, fmt, specs):
    """parquet/orc/arrow load: pyarrow read + name-matched, option-
    driven column mapping (missing_field_as, null_if, case rules)
    with row-level errors for the ON_ERROR policy."""
    if os.path.getsize(path) == 0:
        return [], []
    if fmt.type == "avro":
        return _decode_avro(path, fmt, specs)
    tbl = _read_arrow(path, fmt)
    cols_lower = {c.lower(): c for c in tbl.column_names}
    for spec in specs:
        if spec.name.lower() not in cols_lower:
            if fmt.missing_field_as == "error":
                raise RuntimeError(
                    f"[1046] file {os.path.basename(path)} missing "
                    f"column {spec.name} (consider MISSING_FIELD_AS)"
                )
            if fmt.missing_field_as == "null" and not spec.nullable:
                raise RuntimeError(
                    f"[1046] missing field {spec.name} is NOT NULL"
                )
    recs = tbl.to_pylist()
    rows, errors = [], []
    for ln, rec in enumerate(recs, 1):
        lower = {k.lower(): v for k, v in rec.items()}
        out, err = [], None
        for ci, spec in enumerate(specs):
            key = spec.name.lower()
            if key not in cols_lower:
                out.append(
                    None
                    if fmt.missing_field_as == "null"
                    else spec.type_default()
                )
                continue
            try:
                out.append(_arrow_cast(lower.get(key), spec, fmt))
            except FieldError as e:
                err = (
                    ln,
                    f"Invalid value {str(lower.get(key))[:60]!r} for "
                    f"column {ci} ({spec.name} {spec.db_type}): {e}",
                )
                break
        if err:
            errors.append(err)
        else:
            rows.append(tuple(out))
    return rows, errors


def _decode_avro(path, fmt, specs):
    """Avro loads bypass Arrow inference: records stay Python maps
    so empty avro maps do not grow phantom struct keys."""
    from databend_spark.sources.avro_reader import read_avro_records

    records, _schema = read_avro_records(
        open(path, "rb").read(), fmt.use_logic_type
    )
    rows, errors = [], []
    for ln, rec in enumerate(records, 1):
        lower = {k.lower(): v for k, v in rec.items()}
        out = []
        err = None
        for ci, spec in enumerate(specs):
            key = spec.name.lower()
            if key not in lower:
                if fmt.missing_field_as == "error":
                    err = (
                        ln,
                        f"Missing value for column {ci} ({spec.name} "
                        f"{spec.db_type}"
                        + ("" if not spec.nullable else " NULL")
                        + "). current FILE_FORMAT option: "
                        "MISSING_FIELD_AS=ERROR",
                    )
                    break
                out.append(
                    None
                    if fmt.missing_field_as == "null"
                    else spec.type_default()
                )
                continue
            out.append(_avro_cast(lower[key], spec))
        if err:
            errors.append(err)
        else:
            rows.append(tuple(out))
    return rows, errors


def _avro_json(rec) -> str:
    """Canonical (sorted-key) JSON text of one Avro record — the stage
    select surface exposes each record as a single variant column.
    Hand-rolled so decimals emit full-precision raw number tokens
    (json.dumps would quote or round them)."""
    return _jdump(rec)


def _jdump(v) -> str:
    import datetime as _dt
    import json as _json
    from decimal import Decimal as _D

    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _D):
        return format(v, "f")
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_json.dumps(str(k), ensure_ascii=False)}:{_jdump(x)}"
            for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))
        ) + "}"
    if isinstance(v, (list, tuple)):
        # pyarrow MAP columns arrive as lists of (key, value) 2-TUPLES
        # (list/struct children arrive as dicts) — render as a JSON
        # object with sorted keys like the reference's jsonb
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return "{" + ",".join(
                f"{_json.dumps(str(k), ensure_ascii=False)}:{_jdump(x)}"
                for k, x in sorted(v, key=lambda kv: str(kv[0]))
            ) + "}"
        return "[" + ",".join(_jdump(x) for x in v) + "]"
    if isinstance(v, _dt.datetime):
        return _json.dumps(v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    if isinstance(v, _dt.date):
        return _json.dumps(v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return _json.dumps(bytes(v).hex().upper())
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return "null"
        return _json.dumps(v)
    if isinstance(v, int):
        return str(v)
    return _json.dumps(v, ensure_ascii=False)


def _avro_jsonable(v):
    import datetime as _dt
    from decimal import Decimal as _D

    if isinstance(v, dict):
        return {k: _avro_jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_avro_jsonable(x) for x in v]
    if isinstance(v, _D):
        return float(v) if v == v.to_integral_value() and abs(v) < 10**15 else str(v)
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex().upper()
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None
        return v
    return v


def _avro_cast(v, spec: ColSpec):
    """Avro value -> target column python value."""
    import json as _json

    if v is None:
        return None
    k = spec.kind
    if k == "variant":
        return _json.dumps(
            _avro_jsonable(v), sort_keys=True, separators=(",", ":"),
            ensure_ascii=False,
        )
    if k == "map" and isinstance(v, dict):
        return {kk: _avro_cast(x, spec.elem) if spec.elem else x
                for kk, x in v.items()}
    if k == "map" and isinstance(v, list):
        return {kk: _avro_cast(x, spec.elem) if spec.elem else x
                for kk, x in v}
    if k == "array" and isinstance(v, list):
        return [_avro_cast(x, spec.elem) if spec.elem else x for x in v]
    if k == "tuple" and isinstance(v, dict):
        lower = {kk.lower().lstrip("_"): x for kk, x in v.items()}
        subs = spec.subs or []
        if any(sub.name.lower().lstrip("_") in lower for sub in subs):
            return tuple(
                _avro_cast(lower.get(sub.name.lower().lstrip("_")), sub)
                for sub in subs
            )
        return tuple(
            _avro_cast(x, sub) for x, sub in zip(v.values(), subs)
        )
    if k == "int" and not isinstance(v, int):
        return int(v)
    if k == "float" and not isinstance(v, float):
        return float(v)
    if k == "string" and not isinstance(v, str):
        return _json.dumps(_avro_jsonable(v), separators=(",", ":"))
    return v


def _read_arrow(path: str, fmt: FormatParams):
    import pyarrow as pa

    if fmt.type == "parquet":
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        if not fmt.use_logic_type:
            # raw physical values: timestamps as epoch ints in their
            # stored unit, date32 as day numbers (use_logic_type.test)
            cols = []
            for i, f in enumerate(tbl.schema):
                c = tbl.column(i)
                if pa.types.is_timestamp(f.type):
                    c = c.cast(pa.int64())
                elif pa.types.is_date32(f.type):
                    c = c.cast(pa.int32())
                elif pa.types.is_date64(f.type):
                    c = c.cast(pa.int64())
                cols.append(c)
            tbl = pa.Table.from_arrays(cols, names=tbl.column_names)
        return tbl
    if fmt.type == "orc":
        import pyarrow.orc as po

        return po.read_table(path)
    if fmt.type == "arrow":
        import pyarrow.feather as pf

        try:
            return pf.read_table(path)
        except Exception:
            with pa.ipc.open_stream(path) as rd:
                return rd.read_all()
    if fmt.type == "avro":
        from databend_spark.sources.avro_reader import read_avro_table

        return read_avro_table(path)
    raise ValueError(f"[2507] unsupported binary format {fmt.type}")


def _arrow_cast(v, spec: ColSpec, fmt: FormatParams):
    import datetime as _dt
    import json as _json
    from decimal import Decimal as _D

    if v is None:
        return None
    if isinstance(v, str) and v in fmt.null_if:
        return None
    k = spec.kind
    if k == "variant":
        if isinstance(v, str):
            # a parquet string loading into VARIANT must itself be JSON
            try:
                return _json.dumps(
                    _json.loads(v), separators=(",", ":"),
                    ensure_ascii=False,
                )
            except ValueError:
                if fmt.variant_check:
                    # variant-check failures abort the COPY even under
                    # ON_ERROR=CONTINUE (parquet_field_types.test)
                    raise RuntimeError(
                        "[1006] invalid JSON text for VARIANT column "
                        "(set DISABLE_VARIANT_CHECK to load as null)"
                    ) from None
                return "null"
        return _json.dumps(_canon(v), separators=(",", ":"), ensure_ascii=False)
    if k == "map" and isinstance(v, list):
        # pyarrow maps surface as [key, value] pair lists
        return {kk: _canon(x) for kk, x in v}
    if k in ("array", "map", "tuple"):
        return _canon(v)
    if k == "int":
        return int(v)
    if k == "float":
        return float(v)
    if k == "decimal":
        return v if isinstance(v, _D) else _D(str(v))
    if k == "string":
        if isinstance(v, (dict, list)):
            return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (_dt.date, _dt.datetime)):
            return v.isoformat(sep=" ")
        return str(v)
    if k == "timestamp":
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return _dt.datetime(v.year, v.month, v.day)
        if hasattr(v, "to_pydatetime"):
            # pandas ns-resolution Timestamp -> plain datetime (µs)
            return v.to_pydatetime()
        return v
    if k == "date" and isinstance(v, _dt.datetime):
        return v.date()
    return v


def _canon(v):
    import datetime as _dt
    from decimal import Decimal as _D

    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, _D):
        return float(v)
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat(sep=" ")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex().upper()
    return v
