"""Shared determinism helpers for operator implementations.

The driver's correctness gate is an order-insensitive *value hash* across
Spark and DuckDB (SURVEY §4.4), so floating-point results must be
bit-identical after finalization. Conventions implemented here:

- **Deterministic double sums** (`dsum` / `SQL_DSUM`): `sum(double)` is
  order-dependent; with 32 shuffle partitions Spark's partial-sum order
  differs from DuckDB's sequential scan and the error (~n·ulp) can cross
  any rounding boundary. Instead both engines cast each addend to
  DECIMAL(38,6) (exact, deterministic half-up quantization of identical
  input doubles), sum exactly in decimal, then cast the total back to
  double — bit-identical by construction and still map-side-combinable
  (decimal sum has partial aggregates in Spark, so 100 TB scale behavior
  is unchanged: partial agg before the shuffle, final after).
- **round(x, 4)** on every derived double both sides.
- Tie-safe ordering and sorted arrays are per-operator (see call sites).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DEC = "decimal(38,6)"


def dsum(col: Column) -> Column:
    """Order-independent sum of a double expression, as double."""
    return F.sum(col.cast(DEC)).cast("double")


def davg(col: Column) -> Column:
    """Order-independent mean of a double expression, as double."""
    return dsum(col) / F.count(F.lit(1))


def r4(col: Column) -> Column:
    return F.round(col, 4)


def dsum_scaled(col: Column, scale: int) -> Column:
    """Order-independent sum via int64 fixed-point (decimal digits known
    a priori): floor(x * 10^scale + 0.5) summed as BIGINT. ~2x faster than
    the decimal path (stays in long codegen; floor is a JVM intrinsic
    where round(double) pays a per-row BigDecimal) — used on benched hot
    paths. Nonnegative inputs only (floor+0.5 = half-up there). Caller
    divides by 10^scale to present. Overflow bound: |sum| * 10^scale must
    stay < 2^63 (~9.2e18) — fine up to ~1e12 at scale 6."""
    return F.sum(F.floor(col * (10**scale) + 0.5).cast("bigint"))


def sql_dsum_scaled(expr: str, scale: int) -> str:
    """DuckDB twin of dsum_scaled (identical floor+0.5 fixed-point)."""
    return f"CAST(sum(CAST(floor(({expr}) * {10 ** scale} + 0.5) AS BIGINT)) AS BIGINT)"


def he4(col: Column) -> Column:
    """Tie-safe half-up e4 quantization of a shared-IEEE double
    expression, presented as double. `round(x, 4)` diverges between
    engines when x's shortest decimal repr ties at the 5th decimal
    (Spark rounds the DECIMAL repr HALF_UP; DuckDB rounds the binary
    value — e.g. 24255.51/8 prints 3031.93875 but sits below the tie:
    Spark→3031.9388, DuckDB→3031.9387). `floor(x*1e4 + 0.5)` runs the
    SAME IEEE ops on the SAME double in both engines, so the quantized
    integer — and the presented int/1e4 double — is bit-identical by
    construction. Use this instead of r4 whenever the rounded value is
    a raw ratio (sum/count, diff/count shapes) that can land exactly on
    a 4-dp tie; pair with sql_he4 in the oracle."""
    return F.floor(col * 10000 + F.lit(0.5)).cast("long") / 10000.0


def sql_he4(expr: str) -> str:
    """DuckDB twin of he4 (identical floor+0.5 e4 fixed-point)."""
    return f"(CAST(floor(({expr}) * 10000 + 0.5) AS BIGINT) / 10000.0)"


def sql_dsum(expr: str) -> str:
    """DuckDB-side twin of dsum()."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB-side twin of davg()."""
    return f"({sql_dsum(expr)} / count(*))"


def pin(df: "DataFrame") -> "DataFrame":  # noqa: F821 (forward ref)
    """Materialize a MODEL-SIZED multi-consumer frame once.

    Catalyst has no common-subexpression elimination across the DAG:
    a frame referenced by two+ consumers is recomputed per consumer,
    all the way down to the scans (plan-audit finding, SCALE.md §49-50
    — even a textbook diamond over one aggregate executes two scans,
    zero ReusedExchange).  For a frame that is model-sized (group
    aggregates, medians, per-source stats — thousands of rows at most)
    the fix is one eager localCheckpoint: every consumer then reads the
    materialized rows and the expensive parent pipeline runs ONCE.

    Use ONLY on model-sized frames.  A row-sized (corpus-sized) frame
    with several consumers needs a single-pass restructuring instead
    (SCALE.md §48) — checkpointing 100 TB trades scans for a bigger
    write.

    Durability: localCheckpoint is executor-local (NOT the reliable
    `checkpoint()`), so losing an executor mid-job fails the query and
    it re-runs — the right trade for model-sized frames inside
    interactive/batch queries.  A multi-hour pipeline stage at cluster
    scale that cannot afford re-runs should swap in
    `df.checkpoint(eager=True)` over a durable checkpoint dir.

    Set SECDB_SPARK_NO_PIN=1 to make this a no-op: a checkpointed frame
    hides everything upstream from `.explain`, so plan-shape tests (and
    ad-hoc plan reading) flip the switch to audit the full logical
    shape the pin otherwise truncates."""
    import os

    if os.environ.get("SECDB_SPARK_NO_PIN"):
        return df
    return df.localCheckpoint(eager=True)


def check_free(columns, *names: str) -> None:
    """Raise ValueError naming the first of ``names`` that is already in
    ``columns`` (the caller's columns a kernel carries along;
    case-insensitively, as Spark resolves names).  A kernel calls this
    with the columns it adds, so that ``withColumn`` or a join never
    silently replaces or shadows a caller column of the same name.
    Python-side only: the plan does not change."""
    have = {c.lower() for c in columns}
    for name in names:
        if name.lower() in have:
            raise ValueError(
                f"input column {name!r} collides with a column this "
                f"function adds; rename it"
            )


def require_integral_id(
    df: "DataFrame", id_col: str, fn_name: str  # noqa: F821
) -> None:
    """Vector-kernel ids must be integral: the Arrow kernel schemas carry
    bigint ids, and a silent cast('long') would turn string/UUID ids into
    NULLs — breaking results AND the self-match exclusion."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{fn_name}: id column '{id_col}' must be integral "
            f"(got {id_type.simpleString()}); map string/UUID ids to a "
            "surrogate long first"
        )
