"""Mutations: UPDATE / DELETE / MERGE INTO / REPLACE INTO.

Reference: ``/root/reference/src/query/sql/src/planner/plans/mutation.rs``
(RelOp::MergeInto at :196), ``physical_mutation.rs`` — merge-on-read
mutation blocks committed through the snapshot chain. Spark-side the
same statements become copy-on-write rewrites committed as overwrite
snapshots on ``VersionedTable`` (old versions stay time-travelable,
exactly like the reference's snapshot chain). The DataFrame-level
``merge_dataframes`` is the pure relational core (usable standalone and
the unit the oracle checks).

Scale notes: copy-on-write rewrites the whole table — correct but
heavy; production would partition the target and rewrite only touched
partitions (or use a merge-on-read format). The relational core is a
single outer join on the merge key, so it scales as one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from databend_spark.streaming.incremental import VersionedTable

_DUPLICATE_KEYS = "MERGE source has duplicate join keys"


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Column] | None = None,
    when_matched_delete: Column | None = None,
    insert_not_matched: bool = True,
) -> DataFrame:
    """ANSI MERGE semantics on DataFrames.

    * matched + delete-condition → row removed
    * matched (remaining) → update assignments applied
    * source rows with no target match → inserted (when enabled)
    * target rows with no source match → kept verbatim

    Duplicate source keys are rejected (ANSI: "cannot update the same
    row twice") inside the plan: the source is grouped by key once, and
    a key with more than one row fails the query with ``raise_error``.
    So this function itself does not raise: the action that runs the
    returned plan fails with a Spark error whose message contains
    "MERGE source has duplicate join keys" (``merge_into`` turns that
    into a ``ValueError``).
    """
    grouped = source.groupBy(*on).agg(
        F.count(F.lit(1)).alias("__src_n"),
        *[F.first(c).alias(c) for c in source.columns if c not in on],
    )
    src = grouped.select(
        *[F.col(c).alias(f"__src_{c}") for c in source.columns],
        F.when(F.col("__src_n") > 1, F.raise_error(F.lit(_DUPLICATE_KEYS)))
        .otherwise(F.lit(1))
        .alias("__src_match"),
    )
    cond = None
    for k in on:
        c = F.col(k) == F.col(f"__src_{k}")
        cond = c if cond is None else (cond & c)
    joined = target.join(src, cond, "full_outer")

    matched = F.col("__src_match").isNotNull() & F.col(on[0]).isNotNull()
    tgt_only = F.col("__src_match").isNull()
    src_only = F.col(on[0]).isNull() & F.col("__src_match").isNotNull()

    if when_matched_delete is not None:
        joined = joined.filter(~(matched & when_matched_delete))
    if not insert_not_matched:
        joined = joined.filter(~src_only)

    out_cols = []
    upd = when_matched_update or {}
    for c in target.columns:
        expr = F.when(matched, upd.get(c, F.col(c))).when(tgt_only, F.col(c))
        if c in source.columns:
            expr = expr.when(src_only, F.col(f"__src_{c}"))
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def src(col: str) -> Column:
    """Reference a MERGE source column inside update assignments
    (``when_matched_update={"price": src("price") * 1.1}``)."""
    return F.col(f"__src_{col}")


def update_table(
    table: VersionedTable, condition: Column, assignments: dict[str, Column]
) -> int:
    """UPDATE t SET ... WHERE ... → copy-on-write overwrite commit."""
    cur = table.read()
    updated = cur.select(
        *[
            F.when(condition, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in cur.columns
        ]
    )
    return table.overwrite(updated)


def delete_from(table: VersionedTable, condition: Column) -> int:
    """DELETE FROM t WHERE ... → overwrite commit without matching rows."""
    return table.overwrite(table.read().filter(~condition))


def merge_into(
    table: VersionedTable,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Column] | None = None,
    when_matched_delete: Column | None = None,
    insert_not_matched: bool = True,
) -> int:
    """MERGE INTO t USING source ON ... — relational core + commit."""
    merged = merge_dataframes(
        table.read(),
        source,
        on,
        when_matched_update,
        when_matched_delete,
        insert_not_matched,
    )
    try:
        return table.overwrite(merged)
    except Exception as e:
        # the failed commit has removed its data dir: no version is added
        if _DUPLICATE_KEYS in str(e):
            raise ValueError(_DUPLICATE_KEYS) from None
        raise


def replace_into(table: VersionedTable, source: DataFrame, on: list[str]) -> int:
    """REPLACE INTO (upsert whole rows on the key) — the reference's
    REPLACE is MERGE with update-all + insert."""
    upd = {c: F.col(f"__src_{c}") for c in source.columns if c not in on}
    return merge_into(table, source, on, when_matched_update=upd)
