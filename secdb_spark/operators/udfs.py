"""§2.K — UDF / UDAF / UDTF surface.

Reference semantics: the reference's ETL does row-wise Python transforms
(mount empty — SURVEY §2.K); here each variant is shown on a SQL-checkable
body so DuckDB can oracle it.

Perf hierarchy (SURVEY guidance, measured generally at 10-100x):
  built-in expressions >> pandas_udf (Arrow batches) >> row Python UDF.
udf_python exists to cover the API; every hot path in this repo uses
built-ins or Arrow. Arrow transfer is pinned on in session.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import register_views, table
from ..registry import register


@register(
    "udf_python",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN o_totalprice * 0.9
                WHEN o_totalprice >= 100000 THEN o_totalprice * 0.95
                ELSE o_totalprice END AS tiered_price
    FROM orders
    """,
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time scalar Python UDF (tiered discount). The SLOW path —
    one Python round-trip per row; kept only as API coverage."""

    @F.udf("double")
    def tiered(price: float) -> float:
        if price >= 300000:
            return price * 0.9
        if price >= 100000:
            return price * 0.95
        return price

    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", tiered("o_totalprice").alias("tiered_price"))


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge_vec
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Arrow UDF (series->series): whole Arrow batches cross
    the JVM<->Python boundary once, NumPy does the arithmetic. Same IEEE
    expression order as the oracle -> bit-identical."""

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge_vec"),
    )


@register(
    "udf_pandas_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / (100.0 * sum(CAST(l_quantity AS BIGINT))) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized UDAF (series->scalar): quantity-weighted mean price.
    Exactness across engines: prices are 2-decimal -> integer cents in
    int64, summed exactly, one final double division (float sums would
    diverge between NumPy pairwise and DuckDB sequential accumulation)."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        return float(int((cents * q).sum()) / (100.0 * int(q.sum())))

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@register(
    "udf_grouped_map",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round((o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderstatus))
                 / stddev_samp(o_totalprice) OVER (PARTITION BY o_orderstatus), 4)
             AS price_z
    FROM orders
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group pandas transform (applyInPandas): z-score of order price
    within status group. round(.,4): pandas/NumPy mean-std vs DuckDB's
    one-pass differ at ~1e-12 relative on z ~ O(1) values.

    Scale: each group must fit one executor's memory — fine for bounded
    categorical groups; for unbounded keys use window functions instead
    (udf surface shown here deliberately)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean, std = pdf["o_totalprice"].mean(), pdf["o_totalprice"].std(ddof=1)
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderstatus": pdf["o_orderstatus"],
                "price_z": ((pdf["o_totalprice"] - mean) / std).round(4),
            }
        )

    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").applyInPandas(
        zscore, "o_orderkey long, o_orderstatus string, price_z double"
    )


@register(
    "udtf_python",
    oracle="""
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (1 row -> N rows): tokenizer expanded via LATERAL join
    (Spark >= 3.5 @udtf API)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="tok: string")
    class Tokenize:
        def eval(self, text: str):  # noqa: ANN001
            for tok in text.lower().split(" "):
                yield (tok,)

    spark.udtf.register("secdb_tokenize", Tokenize)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT doc_id, t.tok FROM documents, LATERAL secdb_tokenize(text) t"
    )


@register(
    "udf_arrow_map",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_arrow
    FROM lineitem
    WHERE l_quantity >= 30
    """,
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy batch API — RecordBatches in, RecordBatches
    out, no pandas materialization at all (one step below pandas_udf in
    overhead; the right boundary for columnar native libs)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def net(batches):
        for b in batches:
            net_col = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), net_col],
                ["l_orderkey", "l_linenumber", "net_arrow"],
            )

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)
    return li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount").mapInArrow(
        net, "l_orderkey long, l_linenumber int, net_arrow double"
    )


@register(
    "udf_cogrouped_map",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk,
             sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS c_cents,
             count(*) AS n_cust
      FROM customer GROUP BY 1
    ), s AS (
      SELECT s_nationkey AS nk,
             sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS s_cents,
             count(*) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp,
           (coalesce(c_cents, 0) - coalesce(s_cents, 0)) / 100.0 AS balance_gap
    FROM c FULL JOIN s ON c.nk = s.nk
    """,
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: both tables grouped on the same key arrive
    as a pandas pair per key — the two-sided custom-merge surface (fuzzy
    reconciliation, per-key model scoring). Exact integer-cents arithmetic
    keeps the oracle hash-stable."""
    import numpy as np
    import pandas as pd

    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")

    def cents(col: pd.Series) -> int:
        # vectorized inside the Arrow batch (no per-row Python floor)
        return int(np.floor(col.to_numpy() * 100 + 0.5).astype(np.int64).sum())

    def merge(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        c_cents = cents(cpdf["c_acctbal"]) if len(cpdf) else 0
        s_cents = cents(spdf["s_acctbal"]) if len(spdf) else 0
        return pd.DataFrame(
            {
                "nationkey": [key[0]],
                "n_cust": [len(cpdf)],
                "n_supp": [len(spdf)],
                "balance_gap": [(c_cents - s_cents) / 100.0],
            }
        )

    return (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(
            merge, "nationkey int, n_cust long, n_supp long, balance_gap double"
        )
    )
