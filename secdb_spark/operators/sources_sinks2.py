"""Round-7 additions, batch 27 — ingestion edge cases: schema
evolution, corrupt-record auditing, CSV quoting round-trip.

Reference semantics: SURVEY §2.A extension (mount empty).  Real feeds
evolve columns, ship malformed lines, and embed every delimiter in
text fields; an engine that only reads clean fixtures hasn't
implemented ingestion.  Each call writes a deterministic fixture
derived from the corpus into a fresh `session.scratch_dir`, reads it
back through the edge-case path under test, and aggregates — so the
DuckDB oracle over the ORIGINAL table certifies the whole round trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import table
from ..registry import register
from ..session import scratch_dir
from ._helpers import r4


# ---------------------------------------------------------------------------
# src_schema_evolution — mergeSchema over batches with added columns
# ---------------------------------------------------------------------------

@register(
    "src_schema_evolution",
    oracle="""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN p_partkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_price,
           CAST(sum(CASE WHEN p_partkey % 2 = 1
                         THEN CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS price_cents
    FROM part GROUP BY p_brand
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early feed batch
    (even part keys) lacks the price column a later batch (odd keys)
    carries — the situation every long-lived ingestion hits.  The read
    goes through `mergeSchema=true`, which unions the footers'
    schemas; rows from the old batch surface NULL price.  The
    aggregate (rows, rows-with-price, exact price cents) equals the
    oracle over the ORIGINAL table only if merge filled the missing
    column with NULL and never dropped or misaligned a row.  At scale
    mergeSchema costs one footer read per file — schema unions are
    footer-sized, never data-sized."""
    p = table(spark, sf_dir, "part")
    d = scratch_dir("evo")
    old = p.filter(F.col("p_partkey") % 2 == 0).select("p_partkey", "p_brand")
    new = p.filter(F.col("p_partkey") % 2 == 1).select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    old.write.mode("overwrite").parquet(f"{d}/batch=0")
    new.write.mode("overwrite").parquet(f"{d}/batch=1")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{d}/batch=0", f"{d}/batch=1"
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(
            F.when(F.col("p_retailprice").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_with_price"),
        F.sum(
            F.when(
                F.col("p_retailprice").isNotNull(),
                F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long"),
            ).otherwise(0)
        ).cast("long").alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# src_csv_corrupt_audit — PERMISSIVE parse with corrupt-record capture
# ---------------------------------------------------------------------------

@register(
    "src_csv_corrupt_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0
                         THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS good_cents,
           CAST(max(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey END)
                AS BIGINT) AS max_good_key
    FROM orders
    """,
)
def src_csv_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-feed auditing: a CSV where every 7th order line carries
    a non-numeric key (the classic upstream-export bug) is read in
    PERMISSIVE mode with a `_corrupt_record` capture column — the line
    survives into quarantine instead of killing the job (FAILFAST) or
    silently vanishing (DROPMALFORMED).  The audit row (total lines,
    corrupt count, good count, exact cents over good rows) matches the
    oracle's modular split of the original table only if the parser
    quarantined exactly the poisoned lines and parsed every healthy
    one.  PERMISSIVE parsing is map-only; the quarantine column prunes
    away when untouched downstream."""
    o = table(spark, sf_dir, "orders")
    d = scratch_dir("corrupt")
    line = F.concat_ws(
        ",",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.lit("BADKEY")
        ).otherwise(F.col("o_orderkey").cast("string")),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        .cast("string"),
        F.col("o_orderpriority"),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(d)
    back = (
        spark.read.schema(
            "okey LONG, cents LONG, pri STRING, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(d)
    )
    bad = F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
    # max_good_key is not decoration: it forces `okey` into the parser's
    # required set.  Spark's CSV column pruning parses ONLY referenced
    # columns, and a parse error in an UNREFERENCED column never fires —
    # without this, the poisoned key field is skipped and n_corrupt
    # silently reads 0 (found by the DuckDB differential).
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(bad).cast("long").alias("n_corrupt"),
        F.sum(1 - bad).cast("long").alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("cents"))
            .otherwise(0)
        ).cast("long").alias("good_cents"),
        F.max("okey").cast("long").alias("max_good_key"),
    )


# ---------------------------------------------------------------------------
# snk_csv_quoting — delimiter/quote/newline round-trip proof
# ---------------------------------------------------------------------------

@register(
    "snk_csv_quoting",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_roundtrip_equal
    FROM part
    """,
)
def snk_csv_quoting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture round-trip: every part name is wrapped with
    an embedded delimiter, a double quote, and a literal newline —
    the three characters that break naive CSV writers — written with
    quoting+escaping on, read back with `multiLine=true`, and compared
    value-for-value against the source by key.  The op reports (rows,
    rows-that-round-tripped-equal); the oracle asserts they are the
    same number, so any quoting loss shows as a hash mismatch.
    multiLine reads cost splittability (one file = one task) — the
    documented trade-off for newline-bearing exports; the comparison
    join is key-co-located."""
    p = table(spark, sf_dir, "part")
    torture = F.concat(
        F.lit('a,"b"\n'), F.col("p_name"), F.lit(',"tail'), F.lit("\nend")
    )
    src = p.select("p_partkey", torture.alias("payload"))
    d = scratch_dir("quote")
    src.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(d)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("p_partkey LONG, payload STRING")
        .csv(d)
    )
    j = src.select(
        "p_partkey", F.col("payload").alias("expect")
    ).join(back, "p_partkey")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("payload") == F.col("expect"), 1).otherwise(0)
        ).cast("long").alias("n_roundtrip_equal"),
    )
