"""N-gram index — file-level pruning for LIKE '%substring%' scans.

Reference: the third member of the fuse pruning chain
(``storages/fuse/src/pruning/fuse_pruner.rs:88-93`` chains range →
bloom → **ngram** pruners; the ngram bloom index serves substring/LIKE
predicates that neither min/max stats nor equality blooms can touch).

Spark-first shape: the index is a tiny (file, gram) DataFrame — every
distinct character n-gram per parquet file. A LIKE '%needle%' scan
derives the needle's grams, keeps only files containing ALL of them
(a file missing any gram cannot contain the substring — no false
negatives), and reads just those files. Gram hashing happens entirely
in Spark expressions (xxhash64), so the probe side needs no Python-side
hash reimplementation.

At 100 TB the index is O(files × alphabet^n) rows of 16 bytes — metadata
scale — and pruning happens before the scan is planned, exactly like
partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databend_spark.session import load_table


def build_ngram_index(
    spark: SparkSession, table_path: str, col: str, n: int = 3
) -> str:
    """Write the (file, gram) index beside the table; returns its path."""
    idx_path = table_path.rstrip("/") + f"_ngram{n}_idx"
    df = load_table(spark, table_path).select(
        F.input_file_name().alias("file"), F.col(col).alias("_s")
    )
    grams = (
        df.select("file", F.explode(_gram_array("_s", n)).alias("gram"))
        .distinct()
    )
    grams.write.mode("overwrite").parquet(idx_path)
    return idx_path


def _gram_array(col: str, n: int):
    """Distinct xxhash64'd n-grams of a (lowercased) string column.
    Strings shorter than n contribute no grams (sequence(1,0) would run
    DESCENDING in Spark — guard, don't rely on it being empty)."""
    s = F.lower(F.col(col))
    return F.when(
        F.length(s) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(s) - (n - 1)),
                lambda i: F.xxhash64(s.substr(i, F.lit(n))),
            )
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))


#: Selectivity bail-out: if more than this many files match the gram
#: probe, re-planning an explicit file list stops paying for itself (a
#: plain multi-file scan has better task packing) and an unbounded
#: driver collect would be the real 100 TB bottleneck. Matches the
#: order of magnitude Delta data skipping comfortably collects.
MAX_PRUNE_FILES = 65536


def pruned_like_scan(
    spark: SparkSession,
    table_path: str,
    col: str,
    needle: str,
    n: int = 3,
    idx_path: str | None = None,
    max_files: int = MAX_PRUNE_FILES,
) -> DataFrame:
    """Scan rows where ``col`` contains ``needle``, reading only files
    whose gram index can contain it. Falls back to a full scan when the
    needle is shorter than ``n``, the index is absent, or more than
    ``max_files`` files qualify (then the index is not selective and the
    driver-side file list would be the bottleneck, not the scan).

    The only driver materialization is the matching-file list, which is
    how Spark/Delta file skipping inherently works — it is explicitly
    BOUNDED by ``max_files`` (collect is ``limit(max_files+1)``, so an
    unselective probe transfers at most ``max_files+1`` paths, never the
    full catalog)."""
    import os

    idx_path = idx_path or table_path.rstrip("/") + f"_ngram{n}_idx"
    full = load_table(spark, table_path).filter(
        F.lower(F.col(col)).contains(needle.lower())
    )
    if len(needle) < n or not os.path.exists(idx_path):
        return full
    # needle grams computed by the same Spark expressions as the index
    needle_grams = (
        spark.range(1)
        .select(F.explode(_gram_array_lit(needle, n)).alias("gram"))
    )
    ngrams = needle_grams.count()
    idx = load_table(spark, idx_path)
    matches = (
        idx.join(F.broadcast(needle_grams), "gram")
        .groupBy("file")
        .agg(F.countDistinct("gram").alias("hits"))
        .filter(F.col("hits") == ngrams)
        .select("file")
    )
    # bounded driver transfer: max_files+1 rows decide all three cases
    files = [r.file for r in matches.limit(max_files + 1).collect()]
    if not files:
        return full.limit(0)
    if len(files) > max_files:
        return full
    return load_table(spark, *files).filter(
        F.lower(F.col(col)).contains(needle.lower())
    )


def _gram_array_lit(needle: str, n: int):
    s = F.lower(F.lit(needle))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.lit(max(len(needle) - (n - 1), 0))),
            lambda i: F.xxhash64(s.substr(i, F.lit(n))),
        )
    )
