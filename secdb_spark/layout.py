"""Physical-layout and skew utilities — the 100 TB toolkit (SCALE.md §1/2).

These are the helpers a production deployment of this engine uses to
control the physical properties the operators rely on:

- `write_partitioned`: date/categorical-partitioned parquet with a target
  file size (files-per-partition derived from measured input bytes, not
  guessed), so readers get directory pruning AND right-sized scans.
- `write_bucketed` / `read_bucketed`: bucketed tables that make fact⋈fact
  joins shuffle-free (verified by plan test: no Exchange on either side).
- `salt` / `unsalt_agg`: two-stage aggregation over a salted key for
  skewed distributions — stage 1 aggregates (key, salt) partials, stage 2
  combines per key. Same result as a direct groupBy, but the heavy key's
  rows spread over `n_salts` reducers instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .session import scratch_dir

TARGET_FILE_BYTES = 256 * 1024 * 1024  # 256 MB — SCALE.md prescription


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> None:
    """Partition-pruned layout with measured (not guessed) file sizing:
    estimate input bytes from the logical plan stats, derive the file
    count, and repartition by (partition_col, uniform spread) so each
    output directory gets ~target-sized files."""
    est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_files = max(1, est_bytes // target_file_bytes)
    (
        df.repartition(int(n_files), F.col(partition_col), F.spark_partition_id())
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed table: co-locates rows by hash(bucket_col) at WRITE time so
    joins/aggs on that key need no shuffle at READ time. This is the 100 TB
    answer to the orders⋈lineitem shuffle (SCALE.md §2).

    The table is EXTERNAL, its files in a fresh `session.scratch_dir`:
    they leave with the process instead of collecting in a driver-owned
    session's warehouse (the default `spark-warehouse/` under the
    working directory), and a managed-table directory left there by an
    earlier session cannot collide with the write."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").option("path", scratch_dir("bucketed")).saveAsTable(
        table_name
    )


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def salt(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Append a deterministic salt derived from a uniform-ish row attribute
    hash — rows of one hot key spread across n_salts partitions. Pair with
    a two-stage aggregation (aggregate by (key, _salt), then by key)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation. `aggs` maps output name -> SUMMABLE
    aggregate expression (counts and sums recombine; avg must be derived
    from sum+count by the caller). Equivalent to df.groupBy(key).agg(...)
    — verified by differential test."""
    stage1 = salt(df, key, n_salts).groupBy(key, "_salt").agg(
        *[c.alias(f"__p_{name}") for name, c in aggs.items()]
    )
    return stage1.groupBy(key).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in aggs]
    )
