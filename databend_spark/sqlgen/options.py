"""Per-call rewrite options.

``rewrite_databend_sql(sql, opts)`` publishes ``opts`` in a context
variable for the duration of the call; the function-macro templates in
``functions/registry.py`` read it through ``current_options()``. Each
thread (and each asyncio task) sees only the options of its own
rewrite, so two sessions rewriting at once cannot steer each other."""

from __future__ import annotations

from contextvars import ContextVar
from dataclasses import dataclass


@dataclass(frozen=True)
class RewriteOptions:
    # macros expand to JVM-only templates (Spark bans Python UDFs
    # inside lambda bodies)
    lambda_safe: bool = False
    # get() always takes the JSONB path (a VARIANT column is textually
    # indistinguishable from an array/map column)
    variant_get: bool = False
    # every array function routes to its __va_* JSONB implementation
    variant_array: bool = False
    # vector distances compute in float32 (VECTOR-typed columns)
    vector_f32: bool = False
    # datetime parsing: zero-padded ISO only (enable_strict_datetime_parser)
    dt_strict: bool = False
    # datetime parsing: format auto-detection
    # (enable_auto_detect_datetime_format)
    dt_auto: bool = False


DEFAULT = RewriteOptions()
_CURRENT: ContextVar[RewriteOptions] = ContextVar(
    "rewrite_options", default=DEFAULT
)


def current_options() -> RewriteOptions:
    """Options of the rewrite running in this context."""
    return _CURRENT.get()
