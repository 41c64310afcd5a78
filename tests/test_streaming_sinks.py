"""Streaming batch-equivalence (SURVEY §5.2.5) and sink read-back checks."""

from __future__ import annotations

from conftest import SF_DIR

from secdb_spark.registry import all_queries

QUERIES = all_queries()


def test_watermark_equals_tumbling_modulo_open_windows(spark):
    """availableNow + append emits only watermark-closed windows: the
    result must be a PREFIX of the batch tumbling result — equal except
    for windows still open at termination."""
    wm = QUERIES["stream_watermark"](spark, SF_DIR).toPandas()
    tb = QUERIES["stream_tumbling"](spark, SF_DIR).toPandas()
    wm_set = {(r.window_start, r.event_type, r.n) for r in wm.itertuples()}
    tb_set = {(r.window_start, r.event_type, r.n) for r in tb.itertuples()}
    assert wm_set <= tb_set, "watermarked output must agree with batch on closed windows"
    open_windows = tb_set - wm_set
    assert len(open_windows) <= 6, f"too many unclosed windows: {len(open_windows)}"
    if open_windows:
        max_closed = max(w for w, _, _ in wm_set)
        assert all(w >= max_closed for w, _, _ in open_windows), (
            "only the trailing (open) windows may be withheld"
        )


def test_stream_dedup_matches_batch_distinct(spark):
    """event_id is unique in the corpus -> in-stream dedup keeps all rows;
    injectable duplicates are covered by the bounded-state semantics."""
    dd = QUERIES["stream_dedup"](spark, SF_DIR).toPandas()
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert len(dd) == n_events
    assert dd["event_id"].is_unique


def test_stream_stateful_totals(spark):
    """Final per-user state must equal the batch per-user aggregate."""
    st = QUERIES["stream_stateful"](spark, SF_DIR).toPandas().set_index("user_id")
    from secdb_spark.catalog import table as load_table
    from pyspark.sql import functions as F

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .set_index("user_id")
    )
    # update-mode memory sink may hold one row per micro-batch update;
    # keep the last (max) count per user before comparing
    st_final = st.groupby(level=0)["n_events"].max()
    assert (st_final.sort_index() == batch["n_events"].sort_index()).all()


def test_snk_sqlite_roundtrip(spark):
    """SQLite shard sink: read-back must equal the source exactly."""
    import pandas as pd

    out = QUERIES["snk_sqlite"](spark, SF_DIR).toPandas().sort_values("s_suppkey")
    src = (
        spark.read.parquet(f"{SF_DIR}/supplier.parquet")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .toPandas()
        .sort_values("s_suppkey")
    )
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True),
        src.reset_index(drop=True),
        check_dtype=False,
    )


def _dims_dict(v):
    """The registered xbrl views expose dims as a JSON string (driver
    canonicalization can't sort dicts); internal map-typed results arrive
    as dict or list-of-tuples depending on the Arrow path — normalize."""
    if v is None:
        return {}
    if isinstance(v, str):
        import json

        return json.loads(v) if v else {}
    return dict(v)


def test_xbrl_etl_parses_fixture_facts(spark):
    """104 fixture filings (4 hand-written + 100 generated) must parse to
    typed facts with full context resolution."""
    facts = QUERIES["src_xbrl_etl"](spark, SF_DIR).toPandas()
    # 9 hand-written facts + 100 generated filings x 10 facts each
    assert len(facts) == 9 + 100 * 10
    assert facts["cik"].nunique() == 4 + 20
    rev = facts[
        (facts.accession == "0000002-24-000007")
        & (facts.concept == "us-gaap:Revenues")
    ]
    assert len(rev) == 1
    assert float(rev.iloc[0]["value_num"]) == 61858000000.0
    assert rev.iloc[0]["period_start"] == "2024-01-01"
    assert _dims_dict(rev.iloc[0]["dims"]) == {"seg:Region": "EMEA"}
    # exact decimal money type preserved INTERNALLY (SURVEY §1
    # requirement) — the driver-facing view casts to double (lossless for
    # the integer fixture values) so the golden oracle canonicalizes
    # identically in both engines; internal consumers read _xbrl_facts.
    import decimal

    from pyspark.sql.types import DoubleType
    from secdb_spark.operators.sources_sinks import _xbrl_facts

    internal = _xbrl_facts(spark, SF_DIR)
    row = internal.filter("value_num IS NOT NULL").limit(1).collect()[0]
    assert isinstance(row["value_num"], decimal.Decimal)
    etl_schema = {f.name: f.dataType for f in
                  QUERIES["src_xbrl_etl"](spark, SF_DIR).schema.fields}
    assert isinstance(etl_schema["value_num"], DoubleType)


def test_xbrl_context_resolution_multi_dimension(spark):
    """Generated filings carry 6 contexts incl. a two-dimensional one; every
    fact must resolve to ITS context's period + dimension map, with values
    matching the generator's ground-truth function."""
    from fixtures import gen_xbrl as g

    facts = QUERIES["src_xbrl_etl"](spark, SF_DIR).toPandas()
    acc = g.accession(3, 2, False)  # company 3, Q3, base filing
    f = facts[facts.accession == acc]
    assert len(f) == 10
    assert (f["form"] == "10-Q").all()
    # consolidated duration fact
    cons = f[(f.concept == "us-gaap:Revenues") & f.dims.apply(lambda d: _dims_dict(d) == {})]
    assert len(cons) == 1
    assert int(cons.iloc[0]["value_num"]) == g.value(3, 2, "us-gaap:Revenues", None, False)
    assert cons.iloc[0]["period_start"] == g.QUARTERS[2][0]
    # instant fact resolves to the instant context, not the duration one
    assets = f[f.concept == "us-gaap:Assets"]
    assert assets.iloc[0]["period_instant"] == g.QUARTERS[2][1]
    assert assets.iloc[0]["period_start"] is None
    # regional dimension member
    emea = f[f.dims.apply(lambda d: _dims_dict(d) == {"seg:Region": "EMEA"})]
    assert len(emea) == 1
    assert int(emea.iloc[0]["value_num"]) == g.value(3, 2, "us-gaap:Revenues", "EMEA", False)
    # two-dimensional context
    two = f[f.dims.apply(lambda d: len(_dims_dict(d)) == 2)]
    assert len(two) == 1
    assert _dims_dict(two.iloc[0]["dims"]) == {
        "seg:Region": "AMER",
        "seg:Channel": "ONLINE",
    }


def test_xbrl_supersedence_latest_accession_wins(spark):
    """Every company amended Q2: the superseded facts view must contain the
    amendment's facts and NONE of the original Q2 filing's."""
    from fixtures import gen_xbrl as g

    facts = QUERIES["xbrl_supersede"](spark, SF_DIR).toPandas()
    for ci in (0, 7, 19):
        base = g.accession(ci, g.AMENDED_QUARTER, False)
        amend = g.accession(ci, g.AMENDED_QUARTER, True)
        assert (facts.accession == base).sum() == 0, "superseded filing leaked"
        assert (facts.accession == amend).sum() == 10
    # non-amended quarters keep their base filings
    assert (facts.accession == g.accession(5, 0, False)).sum() == 10
    # amended value is the corrected one
    a = facts[
        (facts.accession == g.accession(0, g.AMENDED_QUARTER, True))
        & (facts.concept == "us-gaap:NetIncomeLoss")
    ]
    assert int(a.iloc[0]["value_num"]) == g.value(
        0, g.AMENDED_QUARTER, "us-gaap:NetIncomeLoss", None, True
    )


def test_xbrl_metrics_standardization(spark):
    """Per-filing standardized metrics: pivot correctness, derived margin,
    amendment supersedence, and no dimensional leakage."""
    from fixtures import gen_xbrl as g

    m = QUERIES["xbrl_metrics"](spark, SF_DIR).toPandas().set_index("accession")
    # 80 surviving generated filings (20 Q2 bases superseded); the 4
    # hand-written fixtures carry ONLY dimensional contexts, so the
    # consolidated-only metric correctly excludes them
    assert len(m) == 80
    assert "0000002-24-000007" not in m.index  # dimensional-only filing
    sample = m.iloc[0]
    assert sample["net_margin"] is not None
    # consolidated metric == consolidated ground truth (REGIONAL facts must
    # not leak in: regional revenue values are larger in the generator)
    acc = g.accession(2, 3, False)
    assert m.loc[acc]["revenue"] == g.value(2, 3, "us-gaap:Revenues", None, False)
    # the amended Q2 filing's metrics carry the corrected values
    am = g.accession(2, g.AMENDED_QUARTER, True)
    assert m.loc[am]["revenue"] == g.value(
        2, g.AMENDED_QUARTER, "us-gaap:Revenues", None, True
    )
    assert g.accession(2, g.AMENDED_QUARTER, False) not in m.index


def test_build_secdb_end_to_end(spark):
    """One command produces the SECDB-shaped relational output: manifest
    row counts consistent with the composed views, sqlite export readable."""
    manifest = (
        QUERIES["build_secdb"](spark, SF_DIR).toPandas().set_index("table_name")
    )
    n_facts = QUERIES["xbrl_supersede"](spark, SF_DIR).count()
    assert manifest.loc["facts", "n_rows"] == n_facts
    assert manifest.loc["filings", "n_rows"] == 104  # every accession, incl. superseded
    assert manifest.loc["entities", "n_rows"] == 24
    assert manifest.loc["metrics", "n_rows"] == 80
    # the sqlite round trip must preserve every fact row
    assert manifest.loc["facts_sqlite", "n_rows"] == n_facts
    assert (manifest["checksum"] != 0).all()


def test_sqlite_sink_capability_dispatch(spark, monkeypatch):
    """No sqlite-jdbc jar ships in this container -> the sharded branch is
    selected; with the jar present (simulated) the jdbc branch is."""
    from secdb_spark.operators import sources_sinks as ss

    assert ss.sqlite_jdbc_available(spark) is False  # environment fact
    assert ss.choose_sqlite_sink(spark) == "sharded"
    monkeypatch.setattr(ss, "sqlite_jdbc_available", lambda s: True)
    assert ss.choose_sqlite_sink(spark) == "jdbc"


def test_snk_sqlite_jdbc_branch_when_jar_present(spark, monkeypatch):
    """When the capability check reports a jar, snk_sqlite must route
    through write_sqlite_jdbc (stubbed here: writing via the real jdbc
    data source needs the jar this container lacks)."""
    import sqlite3

    from secdb_spark.operators import sources_sinks as ss

    called = {}

    def fake_jdbc(df, db_path, table_name):
        called["db_path"] = db_path
        con = sqlite3.connect(db_path)
        df.toPandas().to_sql(table_name, con, index=False)
        con.close()

    monkeypatch.setattr(ss, "sqlite_jdbc_available", lambda s: True)
    monkeypatch.setattr(ss, "write_sqlite_jdbc", fake_jdbc)
    out = ss.snk_sqlite(spark, SF_DIR)
    assert "db_path" in called, "jdbc branch not taken despite jar present"
    assert out.count() == spark.read.parquet(f"{SF_DIR}/supplier.parquet").count()
