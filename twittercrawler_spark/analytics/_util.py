"""Shared helpers for the analytics query suite.

Every query in this package is a pair (Spark DataFrame program, ANSI-SQL
oracle) with IDENTICAL column names and deterministic values, so the driver's
order-insensitive value-hash comparison (row-count + schema + values) passes.

Cross-engine determinism rules used throughout:
* money/quantity aggregation is done in DECIMAL(12,2) (exact in both Spark
  and DuckDB) and only cast to DOUBLE at the end;
* every derived DOUBLE is ``round(x, 6)`` (or coarser) in BOTH engines;
* every top-k / first-match is a ``row_number`` over a TOTAL order (explicit
  tie-breaks on a unique key) — never engine task order;
* the shared 32-bit base hash is ``conv(substr(md5(s),1,8),16,10)`` (Spark)
  == ``CAST('0x' || substr(md5(s),1,8) AS BIGINT)`` (DuckDB): verified equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from the driver-provided sf directory."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def t_split(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like :func:`t`, but guarantees the scan feeds at least
    ``defaultParallelism`` partitions — for compute-heavy per-row work.

    A single-file single-row-group parquet input cannot split below
    row-group granularity, so a small-SF table otherwise runs expensive
    per-document expressions on ONE core. At production scale tables have
    many files/row groups and this is a no-op (no shuffle added).

    The under-split decision estimates the scan's split count from the
    file list and file SIZES (metadata lookups — the same
    ``maxPartitionBytes`` arithmetic Spark's own planner uses), not
    ``df.rdd.getNumPartitions()``: converting to an RDD materializes a plan
    translation per query construction for a number the listing already
    gives us. Counting files alone would force a needless full-table
    shuffle on a single LARGE multi-row-group file that the scan can
    already split by byte range."""
    import os
    from urllib.parse import urlparse

    df = t(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    max_bytes = int(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b")
    )
    est_splits = 0
    for f in df.inputFiles():
        path = urlparse(f).path
        try:
            size = os.path.getsize(path)
            splits = max(1, -(-size // max_bytes))
            if splits > 1:
                # byte ranges cannot split below row-group granularity, so a
                # big single-row-group file still yields ONE real partition —
                # cap the estimate by the footer's row-group count
                try:
                    import pyarrow.parquet as pq

                    splits = min(splits, max(1, pq.ParquetFile(path).num_row_groups))
                except Exception:
                    pass
        except OSError:  # non-local FS: fall back to one split per file
            splits = 1
        est_splits += splits
        if est_splits >= target:
            return df
    return df.repartition(target)


def dec(col: str | F.Column, prec: str = "decimal(12,2)") -> F.Column:
    """Exact-decimal view of a money/quantity column (same cast in oracle)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(prec)


def dbl6(c: F.Column) -> F.Column:
    """Final double, rounded to 6 so float noise can't flip the value hash."""
    return F.round(c.cast("double"), 6)


# Shared 32-bit base hash H(s) in [0, 2^32). Spark side; the oracle twin is
# CAST('0x' || substr(md5(s),1,8) AS BIGINT); the Python twin is
# py_base_hash32 — ALL consumers (LSH plane signs, classifier weights, …)
# must go through one of these three, never a re-implementation.
def base_hash32(c: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def py_base_hash32(s: str) -> int:
    """Pure-Python twin of :func:`base_hash32` (== the oracle SQL twin)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def word_shingles(text_col: F.Column, n: int = 3, distinct: bool = True) -> F.Column:
    """n-word shingles of lower-cased whitespace-tokenized text (distinct by
    default — pass ``distinct=False`` when the consumer is duplicate-
    insensitive, e.g. a min aggregate, to skip the dedup pass).

    1-based ``element_at`` indexing mirrors the oracle's 1-based list
    subscripts exactly. A nonempty text with FEWER than n tokens yields its
    whitespace-normalized whole text as the single feature — without that
    fallback, short documents (tweet-like) would have NO features, so
    identical short docs could never be flagged by any shingle-based dedup.
    Twin: the fallback branch in SHINGLES_SQL.
    """
    w = F.split(F.lower(text_col), r"\s+")
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + k).cast("int")) for k in range(n)]
        ),
    )
    whole = F.concat_ws(" ", w)
    # trim-gate: whitespace-only texts yield NO feature (split keeps empty
    # tokens in both engines, so `whole` can be spaces without it)
    gram = F.when(F.size(w) >= n, gram).otherwise(
        F.when(F.length(F.trim(whole)) > 0, F.array(whole)).otherwise(
            F.array().cast("array<string>")
        )
    )
    return F.array_distinct(gram) if distinct else gram


# DuckDB twin of word_shingles (as a CTE body over documents): produces
# (doc_id, s) DISTINCT rows. len(w)>=3 guard via greatest().
SHINGLES_SQL = """
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents) d,
         unnest(generate_series(1, greatest(len(w) - 2, 0))) AS g(i)
    UNION ALL
    SELECT doc_id, array_to_string(w, ' ') AS s
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents) d2
    WHERE len(w) < 3 AND length(trim(array_to_string(w, ' '))) > 0
  ) u
"""
