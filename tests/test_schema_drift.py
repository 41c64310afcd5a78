"""Testdata schema-drift guards.

Round 3 failed 5 driver checks because the driver's data generator
switched events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between
rounds and the catalog hard-coded the unit.  The conversion is now
footer-probed (catalog.events_ts_unit); these tests pin the rest of the
contract so the NEXT silent regeneration fails here, in the local suite,
instead of in the driver's CORRECTNESS file a round later.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest

from secdb_spark.catalog import SCHEMAS, TABLES, events_ts_unit

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_parquet_columns_match_catalog(sf_dir):
    """Every table's parquet column NAMES must match the catalog schema
    exactly (order included) — a renamed or added column in regenerated
    testdata silently breaks explicit-schema reads (missing columns read
    as null, new columns vanish)."""
    for t in TABLES:
        f = pq.ParquetFile(f"{sf_dir}/{t}.parquet")
        assert list(f.schema_arrow.names) == [
            fld.name for fld in SCHEMAS[t].fields
        ], f"{sf_dir}/{t}: column drift"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_unit_probed_and_sane(sf_dir, spark):
    """The footer-probed ts unit must be a unit we convert, and the
    converted timestamps must land in the data's documented era (2024) —
    a wrong unit shifts everything 1000x into 1970 or 5 million AD."""
    assert events_ts_unit(sf_dir) in ("ns", "us", "ms")

    from pyspark.sql import functions as F

    from secdb_spark.catalog import table

    row = (
        table(spark, sf_dir, "events")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    assert 2000 <= row.lo.year <= 2100, f"{sf_dir}: min ts {row.lo}"
    assert 2000 <= row.hi.year <= 2100, f"{sf_dir}: max ts {row.hi}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_timestamp_columns_are_microseconds(sf_dir):
    """o_orderdate / l_shipdate are read as TimestampNTZ with no unit
    conversion — valid only while the files stay micros.  If the
    generator ever emits nanos here (as it once did for events.ts), the
    nanosAsLong session conf would surface them as raw longs and every
    date predicate would go wrong; fail here instead."""
    for t, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        schema = pq.ParquetFile(f"{sf_dir}/{t}.parquet").schema
        lt = str(schema.column(schema.names.index(col)).logical_type)
        assert "timeUnit=microseconds" in lt, f"{sf_dir}/{t}.{col}: {lt}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_categorical_dictionaries_stable(sf_dir):
    """Several fixed-vocabulary ops (feat_onehot's segments, agg_bool /
    sql_pivot's priorities, events_type_overlap / ts_cross_corr's event
    types) hardcode the TPC-H-style dictionaries in BOTH the Spark plan
    and the DuckDB oracle text.  The driver regenerates testdata between
    rounds; if a regeneration ever changes these dictionaries, fail HERE
    with a precise message instead of as a driver hash mismatch."""
    import duckdb

    con = duckdb.connect()
    seg = {
        r[0]
        for r in con.sql(
            f"SELECT DISTINCT c_mktsegment FROM read_parquet('{sf_dir}/customer.parquet')"
        ).fetchall()
    }
    assert seg == {
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
    }, f"{sf_dir}: c_mktsegment dictionary drifted: {sorted(seg)}"
    pri = {
        r[0]
        for r in con.sql(
            f"SELECT DISTINCT o_orderpriority FROM read_parquet('{sf_dir}/orders.parquet')"
        ).fetchall()
    }
    assert pri == {
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
    }, f"{sf_dir}: o_orderpriority dictionary drifted: {sorted(pri)}"
    ets = {
        r[0]
        for r in con.sql(
            f"SELECT DISTINCT event_type FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    }
    assert ets == {"click", "error", "purchase", "signup", "view"}, (
        f"{sf_dir}: event_type dictionary drifted: {sorted(ets)}"
    )
    langs = {
        r[0]
        for r in con.sql(
            f"SELECT DISTINCT lang FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    }
    assert langs == {"en", "de", "es", "fr", "zh"}, (
        f"{sf_dir}: documents.lang dictionary drifted: {sorted(langs)}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_data_assumptions_round6_ops(sf_dir):
    """Round-6 ops embed data assumptions that a testdata regeneration
    could silently break; fail precisely here instead of as a driver
    hash mismatch.
    - agg_weighted_median / part_xyz_cv treat l_quantity as integral
      (floor(q+0.5) weights);
    - layout_zorder's date bucket is anchored at 1995-01-01 (negative
      datediff would flow through sign-extending shifts);
    - corpus_char_trigrams' oracle uses a 600-position static spine.
    """
    import duckdb

    con = duckdb.connect()
    frac = con.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/lineitem.parquet') "
        "WHERE l_quantity <> floor(l_quantity)"
    ).fetchone()[0]
    assert frac == 0, f"{sf_dir}: l_quantity no longer integral ({frac} rows)"
    early = con.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/orders.parquet') "
        "WHERE o_orderdate < TIMESTAMP '1995-01-01'"
    ).fetchone()[0]
    assert early == 0, f"{sf_dir}: orders predate the z-order epoch"
    maxlen = con.sql(
        f"SELECT max(length(text)) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert maxlen + 1 <= 600, (
        f"{sf_dir}: document length {maxlen} exceeds the char-trigram spine"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_document_token_count_within_ngram_spine(sf_dir):
    """The trigram oracles (corpus_ngram_topk, text_repetition,
    text_novelty) use a static 128-position unnest spine; a regenerated
    corpus with longer documents would silently DROP trigrams from the
    oracle side while the Spark side keeps them."""
    import duckdb

    con = duckdb.connect()
    mx = con.sql(
        f"SELECT max(len(string_split(text, ' '))) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert mx <= 128, f"{sf_dir}: max doc tokens {mx} exceeds the oracle spine"
