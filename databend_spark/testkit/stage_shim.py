"""Stage / COPY INTO emulation for the SLT harness.

Reference surface: named stages (``src/meta/app/src/principal/
user_stage.rs``), COPY INTO table/location (``src/query/sql/src/planner/
plans/copy_into_table.rs``, ``copy_into_location.rs``), stage table
scans with ``$N`` positional columns and ``metadata$`` virtual columns
(``src/query/sql/src/planner/binder/stage_location.rs``), and the
format-option matrix in ``file_format.rs`` (decoded by
``databend_spark.sources.stage_format``).

Stages are local directories under ``/tmp/slt_stages``; the reference's
test fixtures bucket (s3://testbucket, seeded from ``tests/data``) maps
read-only onto ``/root/reference/tests/data`` so the ``@data`` /
connection-based suites run against the same bytes.

Loads and unloads run through ``databend_spark.sources.copy_into``:
this module parses the statement, resolves the stage and lists its
files; the decode and encode run in Spark tasks.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, replace

from pyspark.sql import types as T

from databend_spark.sources.copy_into import (
    COPY_RESULT_SCHEMA,
    copy_into_location,
    copy_into_table,
    copy_options,
    history_of,
    insert_into,
    list_files,
    pick_files,
)
from databend_spark.sources.stage_format import (
    FormatParams,
    _avro_json,
    _jdump,
    _read_arrow,
    parse_option_list,
    resolve_format,
)

REF_DATA = "/root/reference/tests/data"

# column names that the SQL rewriter would treat as cast-type aliases
_TYPEY_NAMES = {
    "int1", "int2", "int4", "int8", "int16", "int32", "int64",
    "uint8", "uint16", "uint32", "uint64", "float4", "float8",
    "float32", "float64", "bool", "bytea", "variant", "hugeint",
    "utinyint", "usmallint", "uinteger", "ubigint", "datetime",
}
STAGE_ROOT = "/tmp/slt_stages"

_DATA_FARM = os.path.join(STAGE_ROOT, "__data_farm")


def _data_farm() -> str:
    """Writable mirror of the reference fixtures: every file is a
    symlink into /root/reference/tests/data, so REMOVE/overwrite only
    ever touch /tmp. Built once per process, refreshed if stale."""
    marker = os.path.join(_DATA_FARM, ".complete")
    if os.path.exists(marker):
        # rebuild if a test removed fixture links (shared-bucket state)
        have = sum(
            1
            for dirp, _d, fs in os.walk(_DATA_FARM)
            for f in fs
            if os.path.islink(os.path.join(dirp, f))
        )
        want = int(open(marker).read() or 0)
        if have >= want:
            return _DATA_FARM
    import shutil as _sh

    _sh.rmtree(_DATA_FARM, ignore_errors=True)
    # the walk below creates nothing when the fixtures are absent, and
    # the marker still needs its directory
    os.makedirs(_DATA_FARM, exist_ok=True)
    count = 0
    for dirp, _dirs, files in os.walk(REF_DATA):
        rel = os.path.relpath(dirp, REF_DATA)
        dst = os.path.join(_DATA_FARM, rel) if rel != "." else _DATA_FARM
        os.makedirs(dst, exist_ok=True)
        for f in files:
            try:
                os.symlink(os.path.join(dirp, f), os.path.join(dst, f))
                count += 1
            except OSError:
                pass
    with open(marker, "w") as fh:
        fh.write(str(count))
    return _DATA_FARM


# s3 test buckets the reference's CI seeds from tests/data
_BUCKET_MAP = {"testbucket": "/root/reference/tests"}

@dataclass
class Stage:
    name: str
    dir: str
    read_only: bool = False
    fmt: FormatParams | None = None
    url: str = ""
    conn: dict | None = None
    comment: str = ""
    # paths are reported relative to this root (differs from `dir` for
    # URL-form copies where names are bucket-relative)
    rel_root: str = ""
    # False when the fs root from SQL text resolves outside the tmp
    # sandbox: the stage object EXISTS (metadata DDL — CREATE/ALTER/
    # DESC/DROP — must succeed, base/05_ddl/05_0016 declares
    # url='fs:///'), but any filesystem access through it raises 2501
    # (testkit.sandbox policy)
    sandboxed: bool = True

    def __post_init__(self):
        if not self.rel_root:
            self.rel_root = self.dir


_STAGES_SCHEMA = (
    "name string, stage_type string, storage_type string, url string, "
    "endpoint string, has_credentials int, has_encryption_key int, "
    "storage_params string, file_format_options string, creator string, "
    "created_on timestamp, comment string, owner string"
)


def _require_sandboxed(st: Stage) -> None:
    """Filesystem access through an out-of-sandbox fs:// stage is
    refused (metadata DDL on it is fine — see Stage.sandboxed)."""
    if not st.sandboxed:
        raise RuntimeError(
            f"[2501] stage location {st.dir!r} is outside the allowed "
            "local filesystem sandbox (must be under the temp dir)"
        )


def _mask_secret(v: str) -> str:
    return (v[:2] + "***" + v[-2:]) if len(v) > 4 else "***"


def _stage_storage_params(st: Stage) -> str | None:
    """DESC STAGE / system.stages storage_params JSON (user_stage.rs
    display: masked credentials, fixed key order)."""
    if not st.url or not st.url.startswith("s3://"):
        return None
    import json as _json

    m = re.match(r"^s3://([^/]+)(/.*)?$", st.url)
    bucket = m.group(1) if m else ""
    root = (m.group(2) or "/") if m else "/"
    if not root.endswith("/"):
        root += "/"
    conn = st.conn or {}
    endpoint = str(conn.get("endpoint_url", ""))
    region = conn.get("region", "")
    mreg = re.match(r"https?://s3\.([\w-]+)\.amazonaws\.com", endpoint)
    if mreg:
        region = mreg.group(1)
    secret = str(
        conn.get("aws_secret_key", conn.get("secret_access_key", ""))
    )
    obj = {
        "access_key_id": "***" if conn.get("aws_key_id") or conn.get("access_key_id") else "",
        "bucket": bucket,
        "enable_virtual_host_style": False,
        "endpoint_url": endpoint,
        "external_id": "",
        "master_key": "",
        "network_config": None,
        "region": str(region),
        "role_arn": "",
        "root": root,
        "secret_access_key": _mask_secret(secret) if secret else "",
        "security_token": "",
        "storage_class": "Standard",
        "type": "S3",
    }
    return _json.dumps(obj, separators=(",", ":"), sort_keys=True)


_PASCAL = {
    "none": "None", "gzip": "Gzip", "bz2": "Bz2", "xz": "Xz",
    "zstd": "Zstd", "zip": "Zip", "auto": "Auto", "deflate": "Deflate",
    "null": "Null", "string": "String", "field_default": "FieldDefault",
    "error": "Error", "hex": "Hex", "base64": "Base64",
}


def _stage_ff_json(st: Stage) -> str:
    """file_format_options JSON display (PascalCase enums, sorted keys;
    defaults to the account-wide Parquet format)."""
    import json as _json

    f = st.fmt
    if f is None:
        return _json.dumps(
            {
                "compression": "Zstd", "missing_field_as": "Error",
                "null_if": [], "type": "Parquet", "use_logic_type": True,
            },
            separators=(",", ":"), sort_keys=True,
        )
    if f.type in ("csv", "tsv", "text"):
        obj = {
            "allow_quoted_nulls": f.allow_quoted_nulls,
            "binary_format": _PASCAL.get(f.binary_format, "Hex"),
            "compression": _PASCAL.get(f.compression, "None"),
            "empty_field_as": _PASCAL.get(f.empty_field_as, "Null"),
            "encoding": (f.encoding or "utf-8").upper(),
            "encoding_error_mode": "strict",
            "error_on_column_count_mismatch": f.error_on_column_count_mismatch,
            "escape": f.escape,
            "field_delimiter": f.field_delimiter,
            "geometry_format": "EWKT",
            "headers": f.skip_header,
            "nan_display": f.nan_display,
            "null_display": f.null_display,
            "output_header": f.output_header,
            "quote": f.quote,
            "quote_style": {
                "necessary": "quote_not_null", "minimal": "quote_minimal",
                "always": "quote_all", "never": "quote_none",
            }.get(f.quote_style, f.quote_style),
            "quoted_empty_field_as": _PASCAL.get(
                f.quoted_empty_field_as, "String"
            ),
            "record_delimiter": f.record_delimiter,
            "trim_space": f.trim_space,
            "type": "Csv" if f.type == "csv" else "Tsv",
        }
    elif f.type == "parquet":
        obj = {
            "compression": _PASCAL.get(f.compression, "Zstd"),
            "missing_field_as": _PASCAL.get(f.missing_field_as, "Error"),
            "null_if": list(f.null_if),
            "type": "Parquet",
            "use_logic_type": f.use_logic_type,
        }
    elif f.type == "ndjson":
        obj = {
            "compression": _PASCAL.get(f.compression, "None"),
            "missing_field_as": _PASCAL.get(f.missing_field_as, "Error"),
            "null_field_as": _PASCAL.get(f.null_field_as, "Null"),
            "null_if": list(f.null_if),
            "type": "NdJson",
        }
    else:
        obj = {
            "compression": _PASCAL.get(f.compression, "None"),
            "type": f.type.capitalize(),
        }
    return _json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _stage_meta_row(st: Stage) -> tuple:
    import datetime as _dt

    external = bool(st.url)
    return (
        st.name,
        "External" if external else "Internal",
        "s3" if st.url.startswith("s3://") else None,
        st.url or None,
        (st.conn or {}).get("endpoint_url") if external else None,
        1 if external and (st.conn or {}).get(
            "aws_key_id", (st.conn or {}).get("access_key_id")
        ) else 0,
        0,
        _stage_storage_params(st),
        _stage_ff_json(st),
        "'root'@'%'",
        _dt.datetime.utcnow(),
        st.comment or "",
        "account_admin",
    )


class StageManager:
    """Per-SLT-file stage state + statement dispatch."""

    def __init__(self, spark, get_setting=None, table_info=None,
                 note_decl=None, table_options=None, txn=None):
        self.spark = spark
        self.get_setting = get_setting or (lambda k, d=None: d)
        self.note_decl = note_decl
        self.table_options = table_options or (lambda t: {})
        self.txn = txn or (lambda: {})
        # table_info(table_name) -> (StructType fields, decl, nulls, defaults)
        self.table_info = table_info
        self.stages: dict[str, Stage] = {}
        self.named_formats: dict[str, FormatParams] = {}
        self.connections: dict[str, dict] = {}
        self.copy_history: dict[str, dict[str, tuple]] = {}
        self._qid = 0
        os.makedirs(STAGE_ROOT, exist_ok=True)
        self._builtin()
        self._register_read_file()

    def _refresh_system_stages(self):
        """system.stages reflects the live stage registry (reference
        system.stages table, stage metadata columns)."""
        rows = [
            _stage_meta_row(st)
            for k, st in sorted(self.stages.items())
            if k not in ("~", "data", "data_s3", "data_fs")
        ]
        def q(v):
            if v is None:
                return "CAST(NULL AS STRING)"
            if isinstance(v, int):
                return str(v)
            if hasattr(v, "isoformat"):
                return "current_timestamp()"
            return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"

        cols = (
            "name, stage_type, storage_type, url, endpoint, "
            "has_credentials, has_encryption_key, storage_params, "
            "file_format_options, creator, created_on, comment, owner"
        )
        try:
            self.spark.sql("CREATE DATABASE IF NOT EXISTS system")
            if rows:
                vals = ", ".join(
                    "(" + ", ".join(q(c) for c in r) + ")" for r in rows
                )
                self.spark.sql(
                    "CREATE OR REPLACE VIEW system.stages AS SELECT * "
                    f"FROM VALUES {vals} AS t({cols})"
                )
            else:
                self.spark.sql(
                    "CREATE OR REPLACE VIEW system.stages AS SELECT "
                    "'' name, '' stage_type, '' storage_type, '' url, "
                    "'' endpoint, 0 has_credentials, "
                    "0 has_encryption_key, '' storage_params, "
                    "'' file_format_options, '' creator, "
                    "current_timestamp() created_on, '' comment, "
                    "'' owner WHERE false"
                )
        except Exception:  # noqa: BLE001
            pass

    def _register_read_file(self):
        """read_file('@stage/path') / read_file('@stage', rel_path) ->
        BINARY (reference table function read_file). The UDF closes
        over a plain name->dir snapshot (no SparkSession reference), so
        it pickles to workers; re-registered on stage DDL.

        Only SANDBOXED stages enter the snapshot: an out-of-sandbox
        stage exists as metadata (CREATE STAGE with an fs:/// URL is
        allowed DDL) but any filesystem access through it must refuse —
        read_file previously bypassed that chokepoint (r9 ADVICE). Path
        resolution is also pinned lexically inside the stage dir so '..'
        segments cannot escape it (lexical, not realpath: stage dirs are
        symlink FARMS whose entries legitimately point at the read-only
        fixtures — resolving them would reject every farm read)."""
        dirs = {
            k: os.path.normpath(st.dir)
            for k, st in self.stages.items()
            if st.sandboxed
        }

        def _rf(loc, rel):
            import os as _os

            try:
                m = __import__("re").match(
                    r"^@([\w$~]+)(?:/(.*))?$", str(loc).strip()
                )
                if not m or m.group(1) not in dirs:
                    return None
                sub = m.group(2) or ""
                if rel:
                    sub = _os.path.join(sub, str(rel)) if sub else str(rel)
                root = dirs[m.group(1)]
                p = _os.path.normpath(_os.path.join(root, sub))
                if p != root and not p.startswith(root + _os.sep):
                    return None
                return open(p, "rb").read()
            except Exception:  # noqa: BLE001
                return None

        from pyspark.sql import types as _T2

        try:
            self.spark.udf.register("read_file", _rf, _T2.BinaryType())
        except Exception:  # noqa: BLE001
            pass

    def _builtin(self):
        self.stages["~"] = Stage("~", self._dir("user_tilde"))
        # the reference's CI bucket is writable (unload tests write under
        # @data); expose it as a symlink farm so writes/removes land in
        # /tmp while the read-only fixtures stay untouched
        farm = _data_farm()
        for nm in ("data", "data_s3", "data_fs"):
            self.stages[nm] = Stage(nm, farm)

    def _dir(self, name: str) -> str:
        d = os.path.join(STAGE_ROOT, re.sub(r"[^\w.]", "_", name))
        os.makedirs(d, exist_ok=True)
        return d

    # ------------------------------------------------------------------
    # helpers

    def _fmt_for(self, opts_text: str | None, stage: Stage | None,
                 first_file: str | None = None) -> FormatParams:
        if opts_text:
            opts = parse_option_list(opts_text)
            base = stage.fmt if stage else None
            return resolve_format(opts, self.named_formats, default=base)
        if stage and stage.fmt is not None:
            return replace(stage.fmt)
        if first_file:
            low = first_file.lower()
            for ext in (".gz", ".bz2", ".xz", ".zst", ".zip"):
                if low.endswith(ext):
                    low = low[: -len(ext)]
                    break
            for t, sfx in (
                ("parquet", ".parquet"), ("csv", ".csv"), ("tsv", ".tsv"),
                ("ndjson", ".ndjson"), ("json", ".json"), ("orc", ".orc"),
                ("avro", ".avro"), ("arrow", ".arrow"), ("text", ".txt"),
            ):
                if low.endswith(sfx):
                    return resolve_format({"type": t}, self.named_formats)
        return resolve_format({"type": "parquet"}, self.named_formats)

    def resolve_location(self, ref: str) -> tuple[Stage, str]:
        """``@name[/sub/path]`` or an s3:// fs:// URL -> (stage, subpath)."""
        ref = ref.strip().strip(";")
        m = re.match(r"^@([\w$~]+)(?:/(.*))?$", ref, re.S)
        if m and re.search(r"(^|/)\.\.(/|$)", m.group(2) or ""):
            if self.get_setting("stage_path_traversal_policy", "disable") in (
                "disable", None,
            ):
                raise RuntimeError(
                    "[1006] stage path traversal is not allowed by "
                    "stage_path_traversal_policy"
                )
        if m:
            name = m.group(1)
            key = name if name in self.stages else name.lower()
            if key not in self.stages:
                raise ValueError(f"[2501] Unknown stage {name}")
            return self.stages[key], (m.group(2) or "").strip()
        mfs = re.match(r"^'?(?:fs|file)://(/?[^']*?)/?'?$", ref, re.I)
        if mfs:
            from databend_spark.testkit.sandbox import is_sandboxed

            # untrusted-corpus guard: a raw fs:/// path from SQL text is
            # only TOUCHABLE inside the tmp sandbox (the harness later
            # rmtree's stage dirs; an unguarded '/home'-style root would
            # be fatal). Registration itself must still succeed —
            # metadata-only DDL on e.g. fs:/// is in the pinned corpus —
            # so out-of-sandbox roots yield a stage with sandboxed=False
            # and every filesystem access through it raises 2501.
            root = "/" + mfs.group(1).lstrip("/")
            ok = is_sandboxed(root)
            if ok:
                os.makedirs(root, exist_ok=True)
            return Stage("_url", root, read_only=False, sandboxed=ok), ""
        mu = re.match(r"^'?([a-z0-9]+)://([^/']+)/?([^']*)'?$", ref, re.I)
        if mu:
            scheme, bucket, path = mu.groups()
            if scheme.lower() in ("fs", "file"):
                from databend_spark.testkit.sandbox import is_sandboxed

                root = "/" + bucket
                # validate the full target (root may legitimately be the
                # sandbox root itself when the subpath descends into it)
                ok = is_sandboxed(os.path.join(root, path) if path else root)
                return Stage(
                    "_url", root, read_only=False, sandboxed=ok
                ), path
            if scheme.lower() not in ("s3",):
                # non-s3 object stores (hf/cos/gcs/azblob/...) map to an
                # empty local dir — DDL works, data access is local-only
                broot = os.path.join(
                    STAGE_ROOT, f"__bucket_{scheme.lower()}_{bucket}"
                )
                os.makedirs(broot, exist_ok=True)
                return Stage("_url", broot), path
            if bucket in _BUCKET_MAP:
                # bucket root = a dir whose data/ entry is the writable
                # fixtures farm; realpath-keyed dedup sees one identity
                broot = os.path.join(STAGE_ROOT, f"__bucket_{bucket}")
                os.makedirs(broot, exist_ok=True)
                link = os.path.join(broot, "data")
                if not os.path.lexists(link):
                    os.symlink(_data_farm(), link)
                return Stage("_url", broot), path
            broot = os.path.join(STAGE_ROOT, f"__bucket_{bucket}")
            os.makedirs(broot, exist_ok=True)
            return Stage("_url", broot), path
        raise ValueError(f"[2501] cannot resolve stage location {ref!r}")

    def list_files(
        self,
        stage: Stage,
        subpath: str = "",
        pattern: str | None = None,
        files: list[str] | None = None,
    ) -> list[tuple[str, str]]:
        """-> [(rel_name, abs_path)], rel to the stage's rel_root
        (``sources.copy_into.list_files``)."""
        _require_sandboxed(stage)
        return list_files(stage.dir, subpath, pattern, files, stage.rel_root)

    # ------------------------------------------------------------------
    # statement dispatch

    _re_create_conn = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?CONNECTION\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([\w`]+)\s+(.*)$",
        re.I | re.S,
    )
    _re_drop_conn = re.compile(
        r"^\s*DROP\s+CONNECTION\s+(IF\s+EXISTS\s+)?([\w`]+)\s*;?\s*$", re.I
    )
    _re_create_stage = re.compile(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?STAGE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([\w$]+)\s*(.*)$",
        re.I | re.S,
    )
    _re_drop_stage = re.compile(
        r"^\s*DROP\s+STAGE\s+(IF\s+EXISTS\s+)?([\w$~]+)\s*;?\s*$", re.I
    )
    _re_desc_stage = re.compile(
        r"^\s*DESC(?:RIBE)?\s+STAGE\s+([\w$~]+)\s*;?\s*$", re.I
    )
    _re_show_stages = re.compile(r"^\s*SHOW\s+STAGES\s*;?\s*$", re.I)
    _re_remove = re.compile(
        r"^\s*REMOVE\s+(@[\w$~/.\-]+)"
        r"(?:\s+PATTERN\s*=\s*'((?:[^']|'')*)')?\s*;?\s*$",
        re.I,
    )
    _re_list = re.compile(
        r"^\s*LIST\s+(@[\w$~/.\-]+)"
        r"(?:\s+PATTERN\s*=\s*'((?:[^']|'')*)')?\s*;?\s*$",
        re.I,
    )
    _re_alter_stage = re.compile(
        r"^\s*ALTER\s+STAGE\s+(IF\s+EXISTS\s+)?([\w$]+)\s+"
        r"(SET|UNSET)\s+(.*?);?\s*$",
        re.I | re.S,
    )
    _re_create_ff = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FILE\s+FORMAT\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?([\w$]+)\s+(.*?);?\s*$",
        re.I | re.S,
    )
    _re_drop_ff = re.compile(
        r"^\s*DROP\s+FILE\s+FORMAT\s+(IF\s+EXISTS\s+)?([\w$]+)\s*;?\s*$", re.I
    )
    _re_show_ff = re.compile(r"^\s*SHOW\s+FILE\s+FORMATS\s*;?\s*$", re.I)
    _re_copy = re.compile(
        r"^\s*COPY\s+(?:/\*.*?\*/\s*)?INTO\s+", re.I | re.S
    )

    def try_handle(self, sql: str, run_sql):
        """Dispatch one statement; returns a DataFrame or None if the
        statement is not stage-related."""
        spark = self.spark
        empty = lambda: spark.sql("SELECT 1 AS ok WHERE false")  # noqa: E731

        m = self._re_create_conn.match(sql)
        if m:
            name = m.group(2).strip("`").lower()
            self.connections[name] = parse_option_list(m.group(3))
            return empty()
        m = self._re_drop_conn.match(sql)
        if m:
            self.connections.pop(m.group(2).strip("`").lower(), None)
            return empty()

        m = self._re_create_stage.match(sql)
        if m:
            replace_flag, if_not_exists, name, tail = m.groups()
            if replace_flag and if_not_exists:
                raise RuntimeError(
                    "[1005] OR REPLACE and IF NOT EXISTS cannot be "
                    "combined in CREATE STAGE"
                )
            if name.lower().startswith("_databend"):
                raise RuntimeError(
                    f"[2501] stage name {name} is reserved (prefix "
                    "_databend)"
                )
            key = name if "$" in name else name.lower()
            if key in self.stages and not (replace_flag or if_not_exists):
                raise RuntimeError(f"[2502] stage {name} already exists")
            if key in self.stages and if_not_exists:
                return empty()
            url_m = re.search(r"\burl\s*=\s*'([^']*)'", tail, re.I)
            ff_m = re.search(
                r"FILE_FORMAT\s*=\s*\((.*?)\)", tail, re.I | re.S
            )
            conn_m = re.search(
                r"\bCONNECTION\s*=\s*\(([^()]*)\)", tail, re.I | re.S
            )
            conn = parse_option_list(conn_m.group(1)) if conn_m else None
            if conn and "connection_name" in conn:
                conn = self.connections.get(
                    str(conn["connection_name"]).lower(), conn
                )
            if url_m and conn:
                ep = str(conn.get("endpoint_url", ""))
                mb = re.match(r"^s3://([^/]+)", url_m.group(1))
                if (
                    mb
                    and mb.group(1) != "testbucket"
                    and re.search(r"127\.0\.0\.1|localhost", ep)
                ):
                    # the reference probes the bucket on create; the CI
                    # minio only hosts testbucket
                    raise RuntimeError(
                        f"[2501] failed to access bucket {mb.group(1)}"
                    )
            fmt = None
            if ff_m:
                fmt = resolve_format(
                    parse_option_list(ff_m.group(1)), self.named_formats
                )
            if url_m:
                u = url_m.group(1)
                # reference stage/prefix.test rules: bare /path/ and
                # file:// are rejected with a hint to use fs:///; an
                # fs:/// url must end with '/'; fs:///path/ is a valid
                # named local-fs stage (EE vacuum/virtual-column files)
                if re.match(r"^/", u):
                    raise RuntimeError(
                        "[2501] local filesystem paths must use "
                        f"fs:///path/ instead of {u}"
                    )
                if re.match(r"^file://", u, re.I):
                    raise RuntimeError(
                        "[2501] local filesystem paths must use "
                        f"fs:///path/ instead of {u}"
                    )
                mfs0 = re.match(r"^fs://(/.*)$", u, re.I)
                if mfs0 and not u.endswith("/"):
                    raise RuntimeError(
                        "[2501] path in URL must end with '/' when "
                        f"CREATE STAGE. Got '{mfs0.group(1)}'."
                    )
                u2 = u.rstrip("/")
                if "://" not in u2:
                    u2 = u  # don't strip below the scheme (fs:///)
                st, sub = self.resolve_location(u2)
                d = os.path.join(st.dir, sub) if sub else st.dir
                self.stages[key] = Stage(
                    key, d, read_only=st.read_only, fmt=fmt,
                    url=url_m.group(1), conn=conn, sandboxed=st.sandboxed,
                )
            else:
                d = self._dir(key)
                if key not in self.stages:
                    # a fresh CREATE must not see files left by an
                    # earlier session's stage of the same name
                    shutil.rmtree(d, ignore_errors=True)
                    os.makedirs(d, exist_ok=True)
                elif replace_flag:
                    shutil.rmtree(d, ignore_errors=True)
                    os.makedirs(d, exist_ok=True)
                self.stages[key] = Stage(key, d, fmt=fmt)
            self._register_read_file()
            self._refresh_system_stages()
            return empty()
        m = self._re_drop_stage.match(sql)
        if m:
            if m.group(2) == "~":
                raise RuntimeError(
                    "[2501] the user stage ~ cannot be dropped"
                )
            key = m.group(2) if m.group(2) in self.stages else m.group(2).lower()
            if key not in self.stages and not m.group(1):
                raise RuntimeError(f"[2501] unknown stage {m.group(2)}")
            st = self.stages.pop(key, None)
            self._refresh_system_stages()
            if st and not st.read_only and st.dir.startswith(STAGE_ROOT):
                shutil.rmtree(st.dir, ignore_errors=True)
            elif st is None and m.group(1):
                # IF EXISTS on an untracked name still clears any stale
                # per-name dir a previous session left behind
                shutil.rmtree(
                    os.path.join(
                        STAGE_ROOT, re.sub(r"[^\w.]", "_", key)
                    ),
                    ignore_errors=True,
                )
            return empty()
        m = self._re_desc_stage.match(sql)
        if m:
            key = m.group(1) if m.group(1) in self.stages else m.group(1).lower()
            if key not in self.stages:
                raise RuntimeError(f"[2501] unknown stage {m.group(1)}")
            return spark.createDataFrame(
                [_stage_meta_row(self.stages[key])], _STAGES_SCHEMA
            )
        msw = re.match(
            r"^\s*SHOW\s+STAGES(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$", sql, re.I
        )
        if msw:
            import fnmatch

            pat = msw.group(1)
            rows = [
                _stage_meta_row(st)
                for k, st in sorted(self.stages.items())
                if k not in ("~", "data", "data_s3", "data_fs")
                and (pat is None or fnmatch.fnmatch(st.name, pat.replace("%", "*")))
            ]
            return spark.createDataFrame(rows, _STAGES_SCHEMA)

        m = self._re_remove.match(sql)
        if m:
            st, sub = self.resolve_location(m.group(1))
            if st.read_only:
                raise RuntimeError(f"[2501] stage {st.name} is read-only")
            pat = m.group(2).replace("''", "'") if m.group(2) else m.group(2)
            for _rel, p in self.list_files(
                st, sub, pattern=pat
            ):
                try:
                    os.remove(p)
                except OSError:
                    pass
            return empty()
        m = self._re_list.match(sql)
        if m:
            st, sub = self.resolve_location(m.group(1))
            pat = m.group(2).replace("''", "'") if m.group(2) else m.group(2)
            return self._list_df(st, sub, pat)
        m = self._re_alter_stage.match(sql)
        if m:
            key = m.group(2) if m.group(2) in self.stages else m.group(2).lower()
            if key not in self.stages:
                if m.group(1):
                    return empty()
                raise RuntimeError(f"[2501] unknown stage {m.group(2)}")
            st = self.stages[key]
            verb, tail = m.group(3).upper(), m.group(4)
            if verb == "UNSET":
                if re.search(r"\bCOMMENT\b", tail, re.I):
                    st.comment = ""
                if re.search(r"\bFILE_FORMAT\b", tail, re.I):
                    st.fmt = None
            else:
                ff_m = re.search(
                    r"FILE_FORMAT\s*=\s*\((.*?)\)", tail, re.I | re.S
                )
                if ff_m:
                    st.fmt = resolve_format(
                        parse_option_list(ff_m.group(1)), self.named_formats
                    )
                cm = re.search(
                    r"\bCOMMENT\s*=\s*'((?:[^']|'')*)'", tail, re.I
                )
                if cm:
                    st.comment = cm.group(1).replace("''", "'")
                mu2 = re.search(r"\bURL\s*=\s*'([^']*)'", tail, re.I)
                if mu2:
                    base_st, sub2 = self.resolve_location(
                        mu2.group(1).rstrip("/")
                    )
                    st.url = mu2.group(1)
                    st.dir = (
                        os.path.join(base_st.dir, sub2)
                        if sub2
                        else base_st.dir
                    )
                    st.rel_root = st.dir
                    st.sandboxed = base_st.sandboxed
            self._refresh_system_stages()
            return empty()

        m = self._re_create_ff.match(sql)
        if m:
            name = m.group(2).lower()
            if name in self.named_formats and m.group(1):
                return empty()
            fmt = resolve_format(
                parse_option_list(m.group(3)), self.named_formats
            )
            self.named_formats[name] = fmt
            return empty()
        m = self._re_drop_ff.match(sql)
        if m:
            name = m.group(2).lower()
            if name not in self.named_formats and not m.group(1):
                raise RuntimeError(f"[2507] unknown file format {name}")
            self.named_formats.pop(name, None)
            return empty()
        if self._re_show_ff.match(sql):
            rows = [
                (n, f.type.upper())
                for n, f in sorted(self.named_formats.items())
            ]
            return self.spark.createDataFrame(
                rows or [("", "")], "name string, format_options string"
            ).where("name != ''" if not rows else "1=1")

        if self._re_copy.match(sql):
            return self._copy(sql, run_sql)
        mi = re.match(
            r"^\s*INSERT\s+INTO\s+([\w.`\"]+)\s+"
            r"(?:VALUES\s*(\([^)]*\))?\s+)?FROM\s+(@\S+)\s*(.*)$",
            sql,
            re.I | re.S,
        )
        if mi:
            # streaming-load form: INSERT INTO t [VALUES (lit, ?, …)]
            # FROM @stage — loads like COPY, `?` placeholders take the
            # file's columns in order, and consumes (purges) the files
            opts = self._parse_tail(mi.group(4))
            opts.setdefault("purge", "true")
            src = mi.group(3)
            if mi.group(2):
                items = [
                    x.strip() for x in mi.group(2)[1:-1].split(",")
                ]
                n = 0
                sel = []
                for it in items:
                    if it == "?":
                        n += 1
                        sel.append(f"${n}")
                    else:
                        sel.append(it)
                src = f"(SELECT {', '.join(sel)} FROM {src})"
            self._load(mi.group(1), src, opts, run_sql)
            return empty()
        return None

    def _list_df(self, st: Stage, sub: str, pattern: str | None):
        import datetime as _dt
        import hashlib

        rows = []
        for rel, p in self.list_files(st, sub, pattern=pattern):
            size = os.path.getsize(p)
            mtime = _dt.datetime.utcfromtimestamp(os.path.getmtime(p))
            rows.append((rel, size, None, mtime, None))
        schema = (
            "name string, size bigint, md5 string, "
            "last_modified timestamp, creator string"
        )
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(rows, schema)

    # ------------------------------------------------------------------
    # COPY

    def _split_copy(self, sql: str) -> tuple[str, str, str]:
        """COPY INTO <target> FROM <source> <options-tail>."""
        s = re.sub(r"^\s*COPY\s+(/\*.*?\*/\s*)?INTO\s+", "", sql, flags=re.I | re.S)
        mf = re.search(r"\bFROM\b", s, re.I)
        target = s[: mf.start()].strip()
        rest = s[mf.end() :].strip()
        # source: ( select ... ) | @ref | 'url'
        if rest.startswith("("):
            depth = 0
            for i, ch in enumerate(rest):
                depth += ch == "("
                depth -= ch == ")"
                if depth == 0:
                    break
            src, tail = rest[: i + 1], rest[i + 1 :]
        else:
            mt = re.match(r"^('[^']*'|@[^\s(;,]+|[\w.`\"]+)", rest)
            if not mt:
                raise ValueError(f"[1005] cannot parse COPY source {rest[:40]!r}")
            src = mt.group(1)
            tail = rest[mt.end() :]
        return target, src.strip(), tail.strip().rstrip(";")

    def _parse_tail(self, tail: str) -> dict:
        opts: dict[str, object] = {}
        ff = re.search(
            r"\bFILE_FORMAT\s*=\s*\(((?:[^()]|\([^()]*\))*)\)", tail, re.I | re.S
        )
        if ff:
            opts["__file_format"] = ff.group(1)
            tail = tail[: ff.start()] + " " + tail[ff.end() :]
        conn = re.search(
            r"\bCONNECTION\s*=\s*\(([^()]*)\)", tail, re.I | re.S
        )
        if conn:
            tail = tail[: conn.start()] + " " + tail[conn.end() :]
        evo = re.search(
            r"\bSCHEMA_EVOLUTION\s*=\s*\(([^()]*)\)", tail, re.I | re.S
        )
        if evo:
            opts["__schema_evolution"] = evo.group(1)
            tail = tail[: evo.start()] + " " + tail[evo.end() :]
        mpat = re.search(r"\bPATTERN\s*=>?\s*(\S)", tail, re.I)
        if mpat and mpat.group(1) != "'":
            # PATTERN takes a constant string literal only
            raise ValueError(
                "[1005] COPY PATTERN must be a constant string literal"
            )
        opts.update(parse_option_list(tail))
        return opts

    def _copy(self, sql: str, run_sql):
        target, src, tail = self._split_copy(sql)
        if target.startswith("'") and target.endswith("'"):
            target = target[1:-1].replace("''", "'")
        opts = self._parse_tail(tail)
        if target.startswith("@") or re.match(r"^'(s3|fs)://", target, re.I):
            return self._unload(target, src, opts, run_sql)
        return self._load(target, src, opts, run_sql)

    # -- load ----------------------------------------------------------

    def _validate_transform(self, q: str) -> None:
        """COPY transform source restrictions (reference binder
        check_transform_query, binder/copy_into_table.rs): single stage
        table, no WHERE/ORDER/GROUP, scalar projections only."""
        m = re.search(r"\bfrom\b", q, re.I)
        if not m:
            raise ValueError("[1005] COPY transform needs a FROM clause")
        tailf = q[m.end() :].strip()
        if tailf.startswith("("):
            raise ValueError("[1005] unexpected `(`")
        mref = re.match(
            r"^('?@[\w$~/.\-]*'?)"
            r"(\s*\((?:[^()]|\([^()]*\))*\))?"
            r"(\s+(?:AS\s+)?[A-Za-z_]\w*)?\s*(.*)$",
            tailf,
            re.I | re.S,
        )
        rest = (mref.group(4) if mref else tailf).strip().rstrip(";").strip()
        if rest:
            tok = rest[0] if rest[0] in ",()" else rest.split()[0].lower()
            raise ValueError(f"[1005] unexpected `{tok}`")
        sel = q[: m.start()]
        if re.search(r"\bover\s*\(", sel, re.I) or re.search(
            r"\b(sum|count|avg|min|max|rank|dense_rank|row_number|ntile|"
            r"array_agg|string_agg|listagg|json_array_elements|flatten|"
            r"unnest|generate_series|stddev|variance)\s*\(",
            sel,
            re.I,
        ):
            raise ValueError(
                "[1005] copy into table source can't contain aggregate, "
                "flatten or window functions"
            )

    def _load(self, target: str, src: str, opts: dict, run_sql):
        # explicit column list: copy into t(a, b) from ...
        mcols = re.match(r"^([\w.`\"]+)\s*\(([^)]*)\)\s*$", target, re.S)
        col_list = None
        if mcols:
            target = mcols.group(1)
            col_list = [
                c.strip().strip('`"').lower()
                for c in mcols.group(2).split(",")
                if c.strip()
            ]
        table = target.strip('`"')

        transform_sql = None
        if src.startswith("("):
            transform_sql = src[1:-1].strip()
            self._validate_transform(transform_sql)
            msrc = re.search(
                r"@[\w$~]+(?:/[^\s(),;']*)?", transform_sql
            )
            if not msrc:
                raise ValueError("[1005] COPY transform needs a stage source")
            stage_ref = msrc.group(0)
        else:
            stage_ref = src
        st, sub = self.resolve_location(stage_ref)
        co, _rest = copy_options(opts)
        listed = self.list_files(st, sub, pattern=co.pattern, files=co.files)
        hist = self.copy_history.setdefault(table.lower(), {})
        picked = pick_files(listed, hist, co)

        _topts = {
            k.lower(): str(v).lower()
            for k, v in (self.table_options(table) or {}).items()
        }
        if opts.get("__schema_evolution") is not None or _topts.get(
            "enable_schema_evolution"
        ) in ("true", "1"):
            self._apply_schema_evolution(table, picked, opts)
        fmt = self._fmt_for(
            opts.get("__file_format"), st, picked[0][1] if picked else None
        )
        if str(
            self.get_setting("enable_auto_detect_datetime_format", "0")
        ).lower() in ("1", "true"):
            fmt = replace(fmt, auto_detect_datetime=True)

        fields, decl, nulls, defaults = self.table_info(table)
        if col_list:
            by_name = {f.name.lower(): f for f in fields}
            fields = [by_name[c] for c in col_list]
        tx = self.txn()

        def note(key, sig):
            # inside a txn, remember the prior value so ROLLBACK
            # restores it (copy_into_txn.test)
            if tx.get("active"):
                tx.setdefault("stage_hist_undo", []).append(
                    (table.lower(), key, hist.get(key))
                )
            hist[key] = sig

        if transform_sql is not None:
            # each file is its own insert: record it as it lands, so a
            # failure on a later file does not reload the earlier ones
            results = []
            for rel, p, sig in picked:
                n = self._load_transform(
                    transform_sql, stage_ref, st, rel, p, fmt, table,
                    fields, run_sql,
                )
                results.append((rel, n, 0, None, None))
                note(os.path.realpath(p), sig)
        else:
            results = copy_into_table(
                self.spark, table, picked, fmt,
                replace(co, purge=co.purge and not st.read_only),
                info=(fields, decl, nulls, defaults),
                numeric_cast=self.get_setting("numeric_cast_option", "rounding"),
                # purge is durable only at COMMIT (copy_into_txn)
                purge_later=tx.setdefault("stage_purges", [])
                if tx.get("active") else None,
            )
            for key, sig in history_of(picked).items():
                note(key, sig)
        if co.return_failed_only:
            results = [r for r in results if r[2]]
        return self.spark.createDataFrame(results, COPY_RESULT_SCHEMA)

    def _apply_schema_evolution(self, table, picked, opts):
        """COPY … SCHEMA_EVOLUTION=(sample_files=…, …): sample the
        staged files, ALTER TABLE ADD the new columns, and error if the
        sample missed columns present elsewhere in the load."""
        import json as _json

        evo = parse_option_list(str(opts.get("__schema_evolution") or ""))

        def _lim(key):
            v = str(evo.get(key, "auto")).lower()
            return None if v in ("auto", "") else int(v)

        sample_files = _lim("sample_files")
        per_file = _lim("sample_records_per_file")
        total = _lim("sample_total_records")
        fields, _d, _n, _df = self.table_info(table)
        existing = {f.name.lower() for f in fields}
        fmt = self._fmt_for(
            opts.get("__file_format"), None,
            picked[0][1] if picked else None,
        )

        def _keys_of(path, limit):
            if fmt.type == "ndjson":
                out = []
                text = _read_text(path, path, fmt)
                for i, line in enumerate(x for x in text.split("\n") if x.strip()):
                    if limit is not None and i >= limit:
                        break
                    try:
                        obj = _json.loads(line)
                    except ValueError:
                        continue
                    out.append(
                        [(k.lower(), _render_infer(_classify_json(v)))
                         for k, v in obj.items()]
                    )
                return out
            import pyarrow.parquet as pq

            sch = pq.read_schema(path)
            return [
                [(f.name.lower(), _db_arrow_type(f.type, nested=False))
                 for f in sch]
            ]

        new_cols: dict[str, str] = {}
        seen_keys: set[str] = set()
        nrec = 0
        for fi, (rel, p, _sig) in enumerate(picked):
            full = _keys_of(p, None)
            for rec in full:
                for k, _t in rec:
                    seen_keys.add(k)
            if sample_files is not None and fi >= sample_files:
                continue
            for ri, rec in enumerate(full):
                if per_file is not None and ri >= per_file:
                    break
                if total is not None and nrec >= total:
                    break
                nrec += 1
                for k, t in rec:
                    if k in existing:
                        continue
                    if k in new_cols and new_cols[k] != t:
                        raise RuntimeError(
                            "[1046] schema evolution type mismatch for "
                            f"column {k}: {new_cols[k]} vs {t}"
                        )
                    new_cols[k] = t
        missed = sorted(seen_keys - existing - set(new_cols))
        if missed:
            raise RuntimeError(
                "[1046] schema evolution sample did not include all "
                f"columns. Extra columns: {', '.join(missed)}. Consider "
                "raising SAMPLE_FILES / SAMPLE_RECORDS_PER_FILE / "
                "SAMPLE_TOTAL_RECORDS"
            )
        if new_cols:
            cols_sql = ", ".join(
                f"`{k}` {_spark_type_for_display(t)}"
                for k, t in new_cols.items()
            )
            self.spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols_sql})")
            if self.note_decl is not None:
                for k, t in new_cols.items():
                    self.note_decl(
                        table,
                        k,
                        "variant"
                        if t.startswith(("TUPLE", "ARRAY", "MAP", "VARIANT"))
                        else t.lower(),
                    )

    def _load_transform(
        self, inner_sql, stage_ref, st, rel, path, fmt, table, fields, run_sql
    ):
        view = self._stage_view_for_files(
            st, [(rel, path)], fmt,
            include_meta="metadata$" in inner_sql,
            include_rowvar=bool(re.search(r"\$\d", inner_sql))
            and fmt.type in ("parquet", "orc", "arrow"),
        )
        q = inner_sql
        # swap the stage ref (plus quotes and any immediate arg list)
        q = re.sub(
            "'?" + re.escape(stage_ref) + r"'?(\s*\((?:[^()]|\([^()]*\))*\))?",
            view,
            q,
        )
        q = _rewrite_positional(q, self._view_cols[view])
        try:
            q = _protect_typey(
                q, [f.name for f in self.spark.table(view).schema.fields]
            )
        except Exception:  # noqa: BLE001
            pass
        df = run_sql(q)
        n = df.count()
        casted = df.toDF(*[f.name for f in fields[: len(df.columns)]])
        from pyspark.sql import functions as F
        from pyspark.sql import types as _T

        had_path = bool(re.search(r"(\$\d+|__row_variant)\s*:", inner_sql))
        decls = self.table_info(table)[1] or {}
        sel = []
        for f, src in zip(fields[: len(df.columns)], casted.schema.fields):
            c = F.col(f.name)
            if isinstance(src.dataType, _T.StringType) and (
                had_path or not isinstance(f.dataType, _T.StringType)
            ):
                # variant-path extractions keep JSON quoting; strip it
                # before a typed cast (parquet_to_variant transform).
                # Variant-declared targets keep the JSON text as-is.
                decl = str(decls.get(f.name.lower(), "")).lower()
                if not decl.startswith(("variant", "json")):
                    c = F.regexp_replace(c, '^"|"$', "")
            sel.append(c.cast(f.dataType).alias(f.name))
        insert_into(
            self.spark, casted.select(*sel), table, fields,
            self.table_info(table)[3] or {},
        )
        return n

    # -- unload --------------------------------------------------------

    def _unload(self, target: str, src: str, opts: dict, run_sql):
        st, sub = self.resolve_location(target.strip("'"))
        if st.read_only:
            raise RuntimeError(f"[2501] stage {st.name} is read-only")
        if src.startswith("("):
            df = run_sql(src[1:-1].strip())
        else:
            df = run_sql(f"SELECT * FROM {src}")
        fmt = self._fmt_for(opts.get("__file_format"), st, None)
        co, _rest = copy_options(opts)
        # target path: raw-path mode writes exactly that file; any
        # other subpath is a DIRECTORY (05_0016: @s/a'b -> a'b/data_…)
        _require_sandboxed(st)
        base, exact = st.dir, None
        if sub:
            if (co.use_raw_path or co.single) and not sub.endswith("/"):
                d, exact = os.path.split(sub)
                base = os.path.join(st.dir, d) if d else st.dir
            else:
                base = os.path.join(st.dir, sub.rstrip("/"))
        os.makedirs(base, exist_ok=True)
        self._qid += 1
        return copy_into_location(
            df, base, fmt, co, qid=f"{self._qid:032x}", rel_root=st.rel_root,
            exact=exact,
            ordered=bool(re.search(r"\bORDER\s+BY\b", src, re.I)),
        )

    # ------------------------------------------------------------------
    # SELECT-side stage refs

    _re_stage_ref = re.compile(
        r"(?:'@([\w$~]+)((?:/[^']*)?)'"
        r"|@([\w$~]+)((?:/(?:\\ |[^\s(),;'])*)?))"
        r"(\s*\(\s*[\w$]+\s*=>(?:[^()]|\([^()]*\))*\))?"
    )

    _view_cols: dict[str, list[str]] = {}
    _last_all_cols: list[str] | None = None

    def has_ref(self, sql: str) -> bool:
        if re.search(r"\bread_file\s*\(", sql, re.I):
            return True  # arity shim for the read_file UDF
        return "@" in sql and bool(self._re_stage_ref.search(sql))

    def resolve_refs(self, sql: str) -> str:
        """Replace @stage refs in queries with decoded temp views and
        rewrite $N / metadata$ references."""
        # list_stage TVF first
        def _ls(m):
            kw = parse_option_list(m.group(1))
            st, sub = self.resolve_location(str(kw.get("location", "")))
            df = self._list_df(st, sub, str(kw["pattern"]) if kw.get("pattern") else None)
            v = f"__list_stage_{abs(hash(m.group(1))) % 99991}"
            df.createOrReplaceTempView(v)
            return v

        sql = re.sub(
            r"list_stage\s*\(((?:[^()]|\([^()]*\))*)\)",
            _ls,
            sql,
            flags=re.I,
        )

        def _inf(m):
            df = self._infer_schema_df(m.group(1))
            v = f"__infer_schema_{abs(hash(m.group(1))) % 99991}"
            df.createOrReplaceTempView(v)
            return v

        sql = re.sub(
            r"infer_schema\s*\(((?:[^()]|\([^()]*\))*)\)", _inf, sql, flags=re.I
        )

        def _insp(m):
            df = self._inspect_parquet_df(m.group(1))
            v = f"__inspect_parquet_{abs(hash(m.group(1))) % 99991}"
            df.createOrReplaceTempView(v)
            return v

        sql = re.sub(
            r"inspect_parquet\s*\(\s*'(@[^']*)'\s*\)", _insp, sql, flags=re.I
        )
        sql = re.sub(
            r"\bread_file\s*\(\s*([^,()]+?)\s*\)",
            r"read_file(\1, NULL)",
            sql,
        )
        rf_spans: list[str] = []

        def _mask_rf(m):
            rf_spans.append(m.group(0))
            return f"\x01RF{len(rf_spans) - 1}\x01"

        sql = re.sub(
            r"\bread_file\s*\([^()]*\)", _mask_rf, sql
        )
        out = sql
        seen_cols: list[str] | None = None
        is_text = False
        for m in list(self._re_stage_ref.finditer(sql)):
            name = m.group(1) or m.group(3)
            sub = ((m.group(2) or m.group(4)) or "").lstrip("/")
            sub = sub.replace("\\ ", " ")
            args = m.group(5)
            key = name if name in self.stages else name.lower()
            if key not in self.stages:
                continue
            if sql[m.start()] == "'" or (
                m.start() > 0 and sql[m.start() - 1] == "'"
            ):
                # quoted stage refs are table sources only after FROM —
                # a literal '@...' in VALUES/comparisons stays a string
                if not re.search(r"(?i)FROM\s*$", sql[: m.start()].rstrip("'")):
                    continue
            if re.search(r"(^|/)\.\.(/|$)", sub) and self.get_setting(
                "stage_path_traversal_policy", "disable"
            ) in ("disable", None):
                raise RuntimeError(
                    "[1006] stage path traversal is not allowed by "
                    "stage_path_traversal_policy"
                )
            st = self.stages[key]
            kw = parse_option_list(args.strip()[1:-1]) if args else {}
            files = kw.get("files")
            if isinstance(files, str):
                files = [files]
            pattern = (
                str(kw["pattern"]) if kw.get("pattern") is not None else None
            )
            ffname = kw.get("file_format")
            listed = self.list_files(st, sub, pattern=pattern, files=files)
            if not listed:
                posrefs = [int(x) for x in re.findall(r"\$(\d+)", sql)]
                if posrefs:
                    width = max(posrefs)
                    cols_sql = ", ".join(
                        f"CAST(NULL AS STRING) AS _c{i}" for i in range(width)
                    )
                    view = "__stage_empty_pos"
                    self.spark.sql(
                        f"SELECT {cols_sql} WHERE false"
                    ).createOrReplaceTempView(view)
                    out = out.replace(m.group(0), view)
                    seen_cols = [f"_c{i}" for i in range(width)]
                    continue
                if re.search(r"select\s+(\*|[\w.]+\.\*)\s+from", sql, re.I):
                    view = "__stage_empty"
                    self.spark.sql("SELECT NULL AS c WHERE false").createOrReplaceTempView(view)
                    out = out.replace(m.group(0), view)
                    continue
                raise ValueError(
                    "[1065] no files found. specify a prefix/pattern/"
                    "files that matches at least one file"
                )
            if ffname:
                fmt = resolve_format(
                    {"format_name": str(ffname)}, self.named_formats
                )
            else:
                fmt = self._fmt_for(None, st, listed[0][1])
            view = self._stage_view_for_files(
                st, listed, fmt,
                include_meta="metadata$" in sql,
                include_rowvar=bool(re.search(r"\$\d", sql))
                and fmt.type in ("parquet", "orc", "arrow"),
            )
            out = out.replace(m.group(0), view)
            seen_cols = self._view_cols[view]
            try:
                self._last_all_cols = [
                    f.name for f in self.spark.table(view).schema.fields
                ]
            except Exception:  # noqa: BLE001
                self._last_all_cols = list(seen_cols)
            is_text = is_text or fmt.type in ("csv", "tsv", "text")
        for i, span in enumerate(rf_spans):
            out = out.replace(f"\x01RF{i}\x01", span)
        if seen_cols is not None:
            out = _protect_typey(out, self._last_all_cols or [])
        if seen_cols is not None and re.match(
            r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", out, re.I
        ):
            # a permanent view cannot reference the temp stage view —
            # session-scoped is indistinguishable for the test corpus
            out = re.sub(
                r"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?)VIEW\b",
                r"\1TEMPORARY VIEW",
                out,
                flags=re.I,
            )
        if seen_cols is not None:
            star = re.search(
                r"select\s+(distinct\s+)?(\*|\w+\.\*)(\s|,|$)", out, re.I
            )
            if star and re.search(r"\$\d+", out):
                # * never mixes with positional refs, any format
                raise ValueError(
                    "[1065] select * from file only support Parquet format"
                )
            if is_text and star:
                # text formats have no column names: * never binds
                raise ValueError(
                    "[1065] Query from CSV file lacks column positions. "
                    "Specify as $1, $2, etc."
                )
            out = _rewrite_positional(out, seen_cols)
        return out

    def _infer_schema_df(self, args_text: str):
        """INFER_SCHEMA TVF (reference table_functions/infer_schema):
        Databend-style type names, 0/1 nullability, filenames, order."""
        args = parse_option_list(args_text)
        loc = str(args.get("location", ""))
        schema_str = (
            "column_name string, type string, nullable int, "
            "filenames string, order_id int"
        )
        try:
            st, sub = self.resolve_location(loc)
            max_fc = int(str(args.get("max_file_count", 0) or 0))
            listed = self.list_files(
                st, sub, pattern=str(args["pattern"]) if args.get("pattern") else None
            )
            if max_fc:
                listed = listed[:max_fc]
        except ValueError:
            listed = []
        if not listed:
            return self.spark.createDataFrame([], schema_str)
        ffname = args.get("file_format")
        if ffname:
            fmt = resolve_format({"format_name": str(ffname)}, self.named_formats)
        else:
            fmt = self._fmt_for(None, None, listed[0][1])
        fnames = ",".join(rel for rel, _ in listed)
        max_rec = int(str(args.get("max_records_per_file", 0) or 0))
        rows = []
        if fmt.type in ("csv", "tsv", "text"):
            from databend_spark.sources.stage_format import (
                split_text_records,
            )

            names, col_types = None, []
            for rel, p in listed:
                text = _read_text(p, rel, fmt)
                recs = split_text_records(text, fmt)
                if not recs:
                    continue
                width = len(recs[0])
                if any(len(r) != width for r in recs):
                    raise RuntimeError(
                        "[1046] cannot infer schema: ragged CSV (column "
                        "counts differ between rows)"
                    )
                if names is None:
                    if fmt.skip_header:
                        names = [f0 for f0, _q in recs[0]]
                    else:
                        names = [f"column_{i + 1}" for i in range(width)]
                    col_types = [None] * width
                body = recs[fmt.skip_header :]
                if max_rec:
                    body = body[:max_rec]
                for i in range(min(width, len(col_types))):
                    for r in body:
                        v = r[i][0].strip() if fmt.trim_space else r[i][0]
                        if v in ("", fmt.null_display):
                            continue
                        col_types[i] = _merge_infer(
                            col_types[i], _classify_text(v)
                        )
            if names is None:
                return self.spark.createDataFrame([], schema_str)
            for i, n in enumerate(names):
                rows.append((n, col_types[i] or "VARCHAR", 1, fnames, i))
        elif fmt.type == "ndjson":
            import json as _json

            names, types = [], {}
            for rel, p in listed:
                text = _read_text(p, rel, fmt)
                seen = 0
                for line in text.split("\n"):
                    if not line.strip():
                        continue
                    seen += 1
                    if max_rec and seen > max_rec:
                        break
                    obj = _json.loads(line)
                    for k, v in obj.items():
                        if k not in types:
                            names.append(k)
                            types[k] = None
                        types[k] = _merge_infer(types[k], _classify_json(v))
            for i, n in enumerate(names):
                rows.append(
                    (n, _render_infer(types[n]) if types[n] else "VARCHAR",
                     1, fnames, i)
                )
        else:
            import pyarrow.parquet as pq

            sch = pq.read_schema(listed[0][1])
            meta = sch.metadata or {}
            for i, f in enumerate(sch):
                mv = meta.get(f.name.encode())
                if mv == b"Variant":
                    tname = "VARIANT"
                else:
                    tname = _db_arrow_type(f.type, nested=False)
                rows.append((f.name, tname, int(f.nullable), fnames, i))
        return self.spark.createDataFrame(rows, schema_str)

    def _inspect_parquet_df(self, loc: str):
        import pyarrow.parquet as pq

        st, sub = self.resolve_location(loc)
        listed = self.list_files(st, sub)
        if not listed:
            raise ValueError("[1065] no files found")
        p = listed[0][1]
        md = pq.ParquetFile(p).metadata
        comp = unc = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            comp += sum(
                rg.column(i).total_compressed_size for i in range(rg.num_columns)
            )
            unc += sum(
                rg.column(i).total_uncompressed_size for i in range(rg.num_columns)
            )
        return self.spark.createDataFrame(
            [(
                md.created_by, md.num_columns, md.num_rows,
                md.num_row_groups, os.path.getsize(p), comp, unc,
            )],
            "created_by string, num_columns int, num_rows bigint, "
            "num_row_groups int, size bigint, max_row_groups_size_compressed "
            "bigint, max_row_groups_size_uncompressed bigint",
        )

    def _stage_view_for_files(
        self, st: Stage, listed: list[tuple[str, str]], fmt: FormatParams,
        include_meta: bool = True, include_rowvar: bool = False,
    ) -> str:
        """Create a temp view over the decoded files with positional
        columns + metadata$ virtual columns; returns the view name."""
        spark = self.spark
        vname = f"__stage_v{abs(hash((st.dir, tuple(r for r, _ in listed), fmt.type))) % 999983}"
        if fmt.type == "avro":
            from databend_spark.sources.avro_reader import read_avro_records

            rows_avro = []
            for rel, p in listed:
                recs, _sch = read_avro_records(
                    open(p, "rb").read(), fmt.use_logic_type
                )
                for rn, rec in enumerate(recs):
                    rows_avro.append((_avro_json(rec), rel, rn))
            schema_a = T.StructType(
                [T.StructField("_c0", T.StringType(), True),
                 T.StructField("metadata$filename", T.StringType(), True),
                 T.StructField("metadata$file_row_number", T.LongType(), True)]
            )
            sdf = spark.createDataFrame(rows_avro, schema_a)
            sdf.createOrReplaceTempView(vname)
            self._view_cols[vname] = ["_c0"]
            return vname
        if fmt.type in ("parquet", "orc", "arrow"):
            import pyarrow as pa

            tbls = []
            names = None
            for rel, p in listed:
                if os.path.getsize(p) == 0:
                    continue
                tbl = _read_arrow(p, fmt)
                names = tbl.column_names
                if include_rowvar:
                    # $1 on a columnar file binds the whole record as a
                    # sorted-key variant (parquet_to_variant.test); the
                    # named columns do NOT coexist with it — a query
                    # mixing $1 with a named column must fail to resolve
                    tbl = pa.table(
                        {
                            "__row_variant": pa.array(
                                [_jdump(r) for r in tbl.to_pylist()]
                            )
                        }
                    )
                if include_meta:
                    tbl = tbl.append_column(
                        "metadata$filename",
                        pa.array([rel] * tbl.num_rows),
                    ).append_column(
                        "metadata$file_row_number",
                        pa.array(range(tbl.num_rows), type=pa.int64()),
                    )
                tbls.append(tbl)
            if not tbls:
                # every listed file was zero bytes — same as no files
                raise ValueError("[1065] no files found")
            big = (
                pa.concat_tables(tbls, promote_options="permissive")
                if len(tbls) > 1
                else tbls[0]
            )
            # arrow-native creation keeps nested struct FIELD ORDER (a
            # pandas round-trip would sort dict keys alphabetically)
            try:
                sdf = spark.createDataFrame(big)
            except Exception:  # noqa: BLE001 older arrow paths
                sdf = spark.createDataFrame(big.to_pandas())
            sdf.createOrReplaceTempView(vname)
            self._view_cols[vname] = (
                ["__row_variant"] if include_rowvar else list(names or [])
            )
            return vname
        numeric_cast = self.get_setting("numeric_cast_option", "rounding")
        rows_all = []
        maxw = 0
        if fmt.type == "ndjson":
            maxw = 1
        for rel, p in listed:
            raw = open(p, "rb").read()
            if fmt.type == "ndjson":
                import json as _json

                from databend_spark.sources.stage_format import decompress

                text = decompress(raw, rel, fmt.compression).decode("utf-8")
                rn = 0
                for line in text.split("\n"):
                    if not line.strip():
                        continue
                    try:
                        v = _json.dumps(
                            _json.loads(line),
                            separators=(",", ":"),
                            ensure_ascii=False,
                        )
                    except ValueError:
                        v = None
                    rows_all.append([v, rel, rn])
                    rn += 1
                continue
            # text formats: ragged all-string records
            from databend_spark.sources.stage_format import (
                decompress,
                split_text_records,
            )

            text = decompress(raw, rel, fmt.compression).decode(
                fmt.encoding or "utf-8"
            )
            recs = split_text_records(text, fmt)
            rn = 0
            for ln, rec in enumerate(recs, 1):
                if ln <= fmt.skip_header:
                    continue
                if len(rec) == 1 and rec[0][0] == "" and not rec[0][1]:
                    continue
                vals = []
                for ftxt, quoted in rec:
                    if not quoted and ftxt == fmt.null_display:
                        vals.append(None)
                    elif not quoted and ftxt == "":
                        vals.append(None)
                    else:
                        vals.append(ftxt)
                maxw = max(maxw, len(vals))
                rows_all.append([vals, rel, rn])
                rn += 1
        if fmt.type == "ndjson":
            cols = ["_c0"]
            data = [tuple(r) for r in rows_all]
        else:
            cols = [f"_c{i}" for i in range(max(maxw, 1))]
            data = [
                tuple(
                    (r[0] + [None] * (maxw - len(r[0])))
                ) + (r[1], r[2])
                for r in rows_all
            ]
        schema = T.StructType(
            [T.StructField(c, T.StringType(), True) for c in cols]
            + [
                T.StructField("metadata$filename", T.StringType(), True),
                T.StructField(
                    "metadata$file_row_number", T.LongType(), True
                ),
            ]
        )
        sdf = spark.createDataFrame(data, schema)
        sdf.createOrReplaceTempView(vname)
        self._view_cols[vname] = cols
        return vname


def _spark_type_for_display(t: str) -> str:
    if t.startswith(("TUPLE", "ARRAY", "MAP")):
        return "STRING"  # variant model: JSON text
    return {
        "BIGINT": "BIGINT", "DOUBLE": "DOUBLE", "VARCHAR": "STRING",
        "BOOLEAN": "BOOLEAN", "INT": "INT", "TINYINT UNSIGNED": "SMALLINT",
    }.get(t, "STRING")


def _read_text(path: str, rel: str, fmt: FormatParams) -> str:
    """Read + decompress a staged text file; 'none' still sniffs by
    extension (the reference's loaders sniff unless a codec is forced)."""
    from databend_spark.sources.stage_format import decompress

    raw = open(path, "rb").read()
    comp = fmt.compression if fmt.compression not in ("none", "") else "auto"
    return decompress(raw, rel, comp).decode(fmt.encoding or "utf-8")


def _classify_text(v: str) -> str:
    if re.fullmatch(r"-?\d+", v):
        return "BIGINT"
    if re.fullmatch(r"-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", v):
        return "DOUBLE"
    if v.lower() in ("true", "false"):
        return "BOOLEAN"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", v):
        return "DATE"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?", v):
        return "TIMESTAMP"
    return "VARCHAR"


def _classify_json(v):
    """JSON value -> structured inferred type: ('scalar', name) |
    ('array', elem) | ('tuple', {key: type}) | ('variant',)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("scalar", "BOOLEAN")
    if isinstance(v, int):
        return ("scalar", "BIGINT")
    if isinstance(v, float):
        return ("scalar", "DOUBLE")
    if isinstance(v, list):
        elem = None
        for x in v:
            elem = _merge_infer(elem, _classify_json(x), in_array=True)
        return ("array", elem)
    if isinstance(v, dict):
        return ("tuple", {k: _classify_json(x) for k, x in v.items()})
    return ("scalar", "VARCHAR")


def _merge_infer(a, b, in_array: bool = False):
    """Merge two inferred types (reference infer_schema conflict rules:
    int+float=DOUBLE, scalar conflicts=VARCHAR, array-in-array element
    conflicts=STRING, container-vs-scalar=VARIANT)."""
    if isinstance(a, str) or isinstance(b, str):  # CSV string lattice
        if a is None:
            return b
        if b is None or a == b:
            return a
        if {a, b} <= {"BIGINT", "DOUBLE"}:
            return "DOUBLE"
        return "VARCHAR"
    if a is None:
        return b
    if b is None or a == b:
        return a
    if a[0] == "scalar" and b[0] == "scalar":
        if {a[1], b[1]} <= {"BIGINT", "DOUBLE"}:
            return ("scalar", "DOUBLE")
        return ("scalar", "VARCHAR")
    if a[0] == "array" and b[0] == "array":
        return ("array", _merge_infer(a[1], b[1], in_array=True))
    if a[0] == "tuple" and b[0] == "tuple":
        merged = dict(a[1])
        for k, t in b[1].items():
            merged[k] = _merge_infer(merged.get(k), t)
        return ("tuple", merged)
    if in_array:
        return ("scalar", "VARCHAR")
    return ("variant",)


def _render_infer(t, nested: bool = False) -> str:
    """Inferred type -> Databend display (top-level SQL aliases, nested
    internal names; single-field tuples keep the trailing comma)."""
    if t is None:
        return "VARIANT"
    if isinstance(t, str):
        return t
    if t[0] == "scalar":
        if not nested:
            return t[1]
        return {
            "BIGINT": "INT64", "DOUBLE": "FLOAT64",
            "VARCHAR": "STRING", "BOOLEAN": "BOOLEAN",
        }.get(t[1], t[1])
    if t[0] == "array":
        return f"ARRAY({_render_infer(t[1], nested=True)})"
    if t[0] == "tuple":
        parts = [
            f"{k.upper()} {_render_infer(v, nested=True)}"
            for k, v in t[1].items()
        ]
        return "TUPLE(" + ", ".join(parts) + ("," if len(parts) == 1 else "") + ")"
    return "VARIANT"


def _db_arrow_type(t, nested: bool) -> str:
    """Arrow type -> Databend display name; top-level scalars render the
    SQL-ish alias (INT/BIGINT/VARCHAR), nested members the internal name
    (INT32/STRING) — matches infer_schema goldens."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        parts = [
            f"{f.name.upper()} {_db_arrow_type(f.type, nested=True)}"
            for f in t
        ]
        inner = ", ".join(parts) + ("," if len(parts) == 1 else "")
        return f"TUPLE({inner})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"ARRAY({_db_arrow_type(t.value_type, nested=True)})"
    if pa.types.is_map(t):
        return (
            f"MAP({_db_arrow_type(t.key_type, True)}, "
            f"{_db_arrow_type(t.item_type, True)})"
        )
    if pa.types.is_decimal(t):
        return f"DECIMAL({t.precision}, {t.scale})"
    if pa.types.is_timestamp(t):
        return "TIMESTAMP"
    if pa.types.is_date(t):
        return "DATE"
    if pa.types.is_boolean(t):
        return "BOOLEAN"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "BINARY"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "STRING" if nested else "VARCHAR"
    if pa.types.is_float32(t):
        return "FLOAT32" if nested else "FLOAT"
    if pa.types.is_float64(t):
        return "FLOAT64" if nested else "DOUBLE"
    for bits in (8, 16, 32, 64):
        if t == getattr(__import__("pyarrow"), f"int{bits}")():
            if nested:
                return f"INT{bits}"
            return {8: "TINYINT", 16: "SMALLINT", 32: "INT", 64: "BIGINT"}[bits]
        if t == getattr(__import__("pyarrow"), f"uint{bits}")():
            if nested:
                return f"UINT{bits}"
            return {
                8: "TINYINT UNSIGNED", 16: "SMALLINT UNSIGNED",
                32: "INT UNSIGNED", 64: "BIGINT UNSIGNED",
            }[bits]
    return str(t).upper()


def _protect_typey(sql: str, cols: list[str]) -> str:
    """Backtick stage columns named like type keywords (int64, float32)
    so the cast-alias rewriter leaves them alone (select_orc.test)."""
    for c in set(cols):
        if c.lower() in _TYPEY_NAMES and re.search(
            rf"(?<![`\w$.]){re.escape(c)}\b", sql
        ):
            sql = re.sub(rf"(?<![`\w$]){re.escape(c)}\b", f"`{c}`", sql)
    return sql


def _rewrite_positional(sql: str, cols: list[str]) -> str:
    """$N (optionally alias-qualified) -> the Nth stage column name."""

    def sub(m):
        pfx = m.group(1) or ""
        n = int(m.group(2))
        if 1 <= n <= len(cols):
            c = cols[n - 1]
            if c.startswith(("_c", "__")):
                return f"{pfx}{c}"
            return f"{pfx}`{c}`"
        return f"{pfx}_c{n - 1}"

    out = re.sub(r"([\w]+\.)?\$(\d+)", sub, sql)
    # metadata$ columns need backticks for Spark's parser
    out = re.sub(r"(?<!`)\bmetadata\$(\w+)", r"`metadata$\1`", out)
    return out
