"""Spark's generated-code cache holds the engine's working set.

Spark compiles each whole-stage-codegen class once and keeps it in an LRU
bounded by the static conf ``spark.sql.codegen.cache.maxEntries`` (default
100).  A session whose calls interleave over more classes than that misses
on every lookup and recompiles every class of every call; `get_spark`
sizes the bound so that a repeated pass compiles nothing."""

from __future__ import annotations

from bench import HEADLINE
from conftest import SF_DIR

from secdb_spark.registry import all_queries
from secdb_spark.session import clear_memos, codegen_compiles

#: perfbench registry_mix's registry ops and the bench.py headline
#: families: about 250 generated classes at sf0.001.  registry_mix's
#: join_interval_overlap is left out: in some calls AQE picks a second
#: physical plan for its self-join, whose two classes a repeated pass may
#: then compile for the first time.
OPS = (
    "agg_mad", "fn_map", "sql_tpch_q12", "text_pii_scrub", "ts_ohlc",
    "win_ntile", "udf_pandas_agg", "xbrl_supersede", "snk_sqlite",
) + tuple(HEADLINE.values())


def _clear_codegen_cache(spark) -> None:
    """Empty Spark's generated-code cache (``CodeGenerator.cache``, a
    private field), so the first pass compiles its classes whatever the
    tests before it ran."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def _pass(spark, queries) -> int:
    before = codegen_compiles(spark)
    for op in OPS:
        queries[op](spark, SF_DIR).write.mode("overwrite").format("noop").save()
    return codegen_compiles(spark) - before


def test_a_repeated_pass_compiles_no_class(spark):
    queries = all_queries()
    clear_memos()
    _clear_codegen_cache(spark)
    first = _pass(spark, queries)
    assert first > 100, f"the pass needs {first} classes, not past the default"
    assert _pass(spark, queries) == 0
