"""Warehouse-extras properties: sharded-index re-merge, output shapes,
and the global-window dual-kernel equivalence + scale-plan pins."""

from __future__ import annotations

import contextlib
import io

from conftest import SF_DIR, above_gates

from secdb_spark.registry import all_queries

QUERIES = all_queries()


def _canon(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_rfm_scale_kernel_equals_window_kernel(spark, monkeypatch):
    """Both customer_rfm kernels are exact: the bucketed-rank + arithmetic-
    ntile scale path must reproduce the ntile-window path bit-for-bit."""
    small = _canon(QUERIES["customer_rfm"](spark, SF_DIR))
    above_gates(monkeypatch)
    scaled = _canon(QUERIES["customer_rfm"](spark, SF_DIR))
    assert small.equals(scaled)


def test_pareto_scale_kernel_equals_window_kernel(spark, monkeypatch):
    """Decimal addends make the bucketed two-pass prefix sum bit-identical
    to the single-partition running sum, so cum_share and the A/B/C class
    breaks must match exactly."""
    small = _canon(QUERIES["part_abc_pareto"](spark, SF_DIR))
    above_gates(monkeypatch)
    scaled = _canon(QUERIES["part_abc_pareto"](spark, SF_DIR))
    assert small.equals(scaled)


def _single_partition_sort_parents(plan: str) -> list[str]:
    """Parents of each `Exchange SinglePartition` node in a simple-mode
    plan tree (the consumer prints on the line above).  A single-partition
    exchange under a final scalar HashAggregate is a 1-row total — fine at
    any scale; one under a Sort is a global window funneling the data
    through a single task — the bottleneck the scale kernels remove."""
    lines = plan.splitlines()
    parents = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            parents.append(lines[i - 1] if i else "")
    return [p for p in parents if "Sort" in p or "Window" in p]


def test_scale_kernels_have_no_single_partition_window(spark, monkeypatch):
    """The point of the scale kernels: no global-window funnel — every
    Exchange SinglePartition left in the plan is a 1-row scalar total
    (HashAggregate parent), never a Sort/Window feed."""
    above_gates(monkeypatch)
    for name in ("customer_rfm", "part_abc_pareto"):
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        bad = _single_partition_sort_parents(buf.getvalue())
        assert not bad, f"{name} scale kernel regressed: {bad}"
    monkeypatch.undo()
    df = QUERIES["customer_rfm"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    # the gate really selects the window kernel below the threshold
    assert _single_partition_sort_parents(buf.getvalue())


def test_sharded_index_remerges_to_unsharded(spark):
    """Re-merging a term's shards (union of postings, sum of df_shard)
    must equal the unsharded inverted index exactly — the property that
    makes (term, shard) keys a pure layout change, not a semantic one."""
    flat = QUERIES["invert_index"](spark, SF_DIR).toPandas()
    sharded = QUERIES["invert_index_sharded"](spark, SF_DIR).toPandas()

    merged: dict[str, list[int]] = {}
    df_sum: dict[str, int] = {}
    for _, row in sharded.iterrows():
        docs = [int(x) for x in row["postings"].split(",")] if row["postings"] else []
        merged.setdefault(row["term"], []).extend(docs)
        df_sum[row["term"]] = df_sum.get(row["term"], 0) + int(row["df_shard"])

    assert set(merged) == set(flat["term"])
    for _, row in flat.iterrows():
        term = row["term"]
        assert df_sum[term] == int(row["df"]), term
        expect = [int(x) for x in row["postings"].split(",")]
        assert sorted(merged[term]) == expect, term


def test_sharded_index_caps_hot_term_row_size(spark):
    """Every sharded posting row must be strictly smaller than the hottest
    unsharded term's row would be at the same df — the reason the sharded
    form exists.  Concretely: max per-shard df <= ceil(df / n_shards) + a
    hash-imbalance slack, and no shard id falls outside [0, n_shards)."""
    from secdb_spark.operators.warehouse_extras import INDEX_SHARDS

    sharded = QUERIES["invert_index_sharded"](spark, SF_DIR).toPandas()
    assert sharded["shard"].between(0, INDEX_SHARDS - 1).all()
    flat = QUERIES["invert_index"](spark, SF_DIR).toPandas()
    df_by_term = dict(zip(flat["term"], flat["df"]))
    hot = max(df_by_term.values())
    # the hottest term's largest shard must be well under its full df
    hot_terms = [t for t, d in df_by_term.items() if d == hot]
    for t in hot_terms:
        worst = sharded[sharded["term"] == t]["df_shard"].max()
        if hot >= 2 * INDEX_SHARDS:
            assert worst < hot


def test_global_order_kernels_on_skewed_duplicates(spark):
    """Adversarial input for the bucketed kernels: 90% of rows share ONE
    key value (every quantile split lands on it), plus negatives and a
    unique tail.  Rank and prefix sum must still equal the single-
    partition window exactly — equal keys always share a bucket, so split
    degeneracy affects balance only, never correctness."""
    from pyspark.sql import Window, functions as F

    from secdb_spark.operators._global_order import (
        bucketed_global_rank,
        bucketed_prefix_sum,
    )

    rows = [(float(7), i) for i in range(900)]
    rows += [(float(-i), 1000 + i) for i in range(50)]
    rows += [(float(100 + i), 2000 + i) for i in range(50)]
    df = spark.createDataFrame(rows, ["k", "id"])

    got = (
        bucketed_global_rank(df, "k", ["id"], n_buckets=16, out="r")
        .orderBy("id")
        .collect()
    )
    want = (
        df.withColumn("r", F.row_number().over(Window.orderBy("k", "id")))
        .orderBy("id")
        .collect()
    )
    assert [(x.k, x.id, x.r) for x in got] == [
        (x.k, x.id, x.r) for x in want
    ]

    got_s = (
        bucketed_prefix_sum(df, "k", ["id"], "k", n_buckets=16,
                            desc=True, out="c")
        .orderBy("id")
        .collect()
    )
    w = Window.orderBy(F.col("k").desc(), "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want_s = (
        df.withColumn("c", F.sum(F.col("k").cast("decimal(38,6)")).over(w))
        .orderBy("id")
        .collect()
    )
    assert [(x.k, x.id, float(x.c)) for x in got_s] == [
        (x.k, x.id, float(x.c)) for x in want_s
    ]
