"""Layout/skew toolkit tests: salting equivalence, bucketed-join
shuffle-freedom (plan-level), partitioned-writer pruning."""

from __future__ import annotations

import contextlib
import io
import re
import uuid

import pytest

from conftest import SF_DIR

from pyspark.sql import functions as F

from secdb_spark import layout
from secdb_spark.catalog import table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_agg_equals_direct(spark):
    """Two-stage salted aggregation must equal the direct groupBy exactly
    (event_type is a 5-value heavily skewed key — the salting target)."""
    ev = table(spark, SF_DIR, "events")
    direct = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"),
        )
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    salted = (
        layout.salted_agg(
            ev,
            "event_type",
            {
                "n": F.count(F.lit(1)),
                "cents": F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")),
            },
            n_salts=8,
        )
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    assert (direct["n"] == salted["n"]).all()
    assert (direct["cents"] == salted["cents"]).all()


def test_salt_spreads_hot_key(spark):
    """The hot key's rows must land on many salts (the whole point)."""
    ev = table(spark, SF_DIR, "events")
    spread = (
        layout.salt(ev, "event_type", n_salts=8)
        .groupBy("event_type")
        .agg(F.countDistinct("_salt").alias("n_salts_used"))
        .toPandas()
    )
    assert (spread["n_salts_used"] >= 4).all(), spread


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    tag = uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    o = table(spark, SF_DIR, "orders")
    li = table(spark, SF_DIR, "lineitem")
    layout.write_bucketed(o, f"orders_b_{tag}", "o_orderkey", 4, "o_orderkey")
    layout.write_bucketed(li, f"lineitem_b_{tag}", "l_orderkey", 4, "l_orderkey")
    yield f"orders_b_{tag}", f"lineitem_b_{tag}"
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql(f"DROP TABLE IF EXISTS orders_b_{tag}")
    spark.sql(f"DROP TABLE IF EXISTS lineitem_b_{tag}")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    """orders ⋈ lineitem on the bucket key: ZERO Exchange in the plan —
    the write-time co-location replaces the runtime shuffle (SCALE.md §2).
    The unbucketed same join must show Exchanges, proving the contrast."""
    ot, lt = bucketed_tables
    joined = layout.read_bucketed(spark, ot).join(
        layout.read_bucketed(spark, lt),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    p = _plan(joined)
    assert not re.search(r"\(\d+\) Exchange\b", p), "bucketed join must not shuffle"
    # contrast: the plain-parquet join DOES shuffle under the same config
    o = table(spark, SF_DIR, "orders")
    li = table(spark, SF_DIR, "lineitem")
    p2 = _plan(o.join(li, o.o_orderkey == li.l_orderkey))
    assert re.search(r"\(\d+\) Exchange\b", p2)
    # and the result matches
    assert joined.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()


def test_write_partitioned_prunes(spark, tmp_path):
    d = str(tmp_path / "layout")
    li = table(spark, SF_DIR, "lineitem")
    layout.write_partitioned(li, d, "l_returnflag")
    back = spark.read.parquet(d).filter(F.col("l_returnflag") == "A")
    p = _plan(back)
    # partition filter must show as a partition-pruning predicate, not a scan filter
    assert "PartitionFilters" in p and "l_returnflag" in p.split("PartitionFilters")[1].split("]")[0]
    assert back.count() == li.filter(F.col("l_returnflag") == "A").count()


def test_dynamic_partition_pruning(spark, tmp_path):
    """A selective dim filter on the partition column must inject a
    runtime dynamicpruning expression into the fact scan — directories
    for non-matching partitions are never read (the 100 TB fact⋈dim
    pattern; SCALE.md §1)."""
    d = str(tmp_path / "dpp")
    li = table(spark, SF_DIR, "lineitem")
    layout.write_partitioned(li, d, "l_returnflag")
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame([("A", "returned"), ("N", "open")], "flag string, label string")
    j = fact.join(dim.filter(F.col("label") == "returned"), fact.l_returnflag == dim.flag)
    p = _plan(j)
    assert "dynamicpruning" in p.lower(), "DPP regressed: full fact scan"
    assert j.count() == li.filter(F.col("l_returnflag") == "A").count()


def test_observe_inline_metrics(spark):
    """df.observe: data-quality metrics collected DURING the job (no second
    scan) must equal a separately-computed aggregate — the 100 TB pattern
    for row-count/invariant monitoring on every pipeline stage."""
    from pyspark.sql import Observation

    li = table(spark, SF_DIR, "lineitem")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity")).cast("bigint")).alias("total_qty"),
        F.count(F.when(F.col("l_discount") > 0.1, 1)).alias("bad_discounts"),
    )
    n_out = observed.filter(F.col("l_quantity") > 10).count()  # the real job
    m = obs.get
    direct = li.agg(
        F.count(F.lit(1)),
        F.sum(F.floor(F.col("l_quantity")).cast("bigint")),
    ).collect()[0]
    assert m["n_rows"] == direct[0]
    assert m["total_qty"] == direct[1]
    assert m["bad_discounts"] == 0  # corpus invariant: discounts <= 0.1
    assert 0 < n_out < m["n_rows"]


def test_write_bucketed_survives_orphaned_table_dir(spark):
    """A managed-table directory left by a PREVIOUS session (fresh
    metastore, stale warehouse dir — the verify driver's vanilla session
    over a reused working dir) must not fail the bucketed write with
    LOCATION_ALREADY_EXISTS; write_bucketed drops the orphan first.
    Found by tools/driver_dryrun.py in round 5."""
    import hashlib
    import os
    from urllib.parse import urlparse

    from conftest import SF_DIR

    from secdb_spark.registry import all_queries

    tag = hashlib.sha1(SF_DIR.encode()).hexdigest()[:8]
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    for t in (f"secdb_ob_{tag}", f"secdb_lb_{tag}"):
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")
        d = os.path.join(wh.path, t)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "orphan.parquet"), "w") as f:
            f.write("stale")
    out = all_queries()["join_bucketed"](spark, SF_DIR).collect()
    assert len(out) > 0
