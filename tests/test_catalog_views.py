"""The catalog's SQL views: `catalog.register_views` is the one code path
that binds a table name, and a SQL op, or `Engine.sql`, reads the corpus it
was given — never the views another corpus, another session or an older
file left behind.  Each result is compared with the op's DuckDB oracle."""

from __future__ import annotations

import ast
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_DIR

from secdb_spark.catalog import TABLES
from secdb_spark.registry import all_oracles
from secdb_spark.verify import compare_frames, duckdb_connect, verify_op

PKG = Path(__file__).resolve().parents[1] / "secdb_spark"


def _copy(tmp_path) -> str:
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copyfile)
    return str(sf)


def _half_orders(tmp_path) -> str:
    """A copy of SF_DIR holding the first half of its orders."""
    sf = _copy(tmp_path)
    t = pq.read_table(f"{sf}/orders.parquet")
    pq.write_table(t.slice(0, t.num_rows // 2), f"{sf}/orders.parquet")
    return sf


def _check(name, spark, sf_dir, duck=None) -> None:
    res = verify_op(name, spark, sf_dir, con=duck)
    assert res.status == "OK", res.detail


def test_sql_op_after_an_op_at_another_corpus(spark, duck, tmp_path):
    other = _half_orders(tmp_path)
    _check("sql_subquery_scalar", spark, SF_DIR, duck)
    _check("sql_qualify", spark, other)
    _check("sql_subquery_scalar", spark, SF_DIR, duck)


def test_engine_sql_reads_its_own_corpus(spark, duck, tmp_path):
    from secdb_spark.engine import Engine

    eng = Engine(SF_DIR, spark=spark)
    _check("sql_cte", spark, _half_orders(tmp_path))
    q = all_oracles()["sql_cte"]
    res = compare_frames(
        "engine.sql", eng.sql(q).toPandas(), duck.execute(q).fetchdf()
    )
    assert res.status == "OK", res.detail


def test_rewritten_events_file_is_registered_again(spark, tmp_path):
    """events.parquet rewritten at the same path from TIMESTAMP(MICROS) to
    TIMESTAMP(NANOS): the events view must convert the new unit."""
    sf = _copy(tmp_path)
    _check("sql_range_interval", spark, sf)
    path = f"{sf}/events.parquet"
    t = pq.read_table(path)
    i = t.schema.get_field_index("ts")
    ns = t.column(i).cast(pa.timestamp("ns"))
    pq.write_table(t.set_column(i, pa.field("ts", ns.type), ns), path)
    con = duckdb_connect(sf)
    try:
        _check("sql_range_interval", spark, sf, con)
    finally:
        con.close()


def test_sql_op_in_a_new_session(spark, duck):
    """Temp views belong to one SparkSession: a session of the same
    application must register its own."""
    _check("sql_cte", spark, SF_DIR, duck)
    _check("sql_cte", spark.newSession(), SF_DIR, duck)


def _calls_in(tree):
    """(enclosing top-level function name, call) for every call."""
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield getattr(top, "name", None), node


def test_catalog_names_are_bound_only_by_register_views():
    """Outside `catalog.register_views`, `createOrReplaceTempView` takes
    a literal name that is not a catalog table."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, call in _calls_in(ast.parse(path.read_text())):
            f = call.func
            if not (isinstance(f, ast.Attribute)
                    and f.attr == "createOrReplaceTempView"):
                continue
            if (rel, fn) == ("catalog.py", "register_views"):
                continue
            arg = call.args[0] if call.args else None
            if not (isinstance(arg, ast.Constant) and arg.value not in TABLES):
                bad.append(f"{rel}:{call.lineno} in {fn}")
    assert not bad, f"catalog views bound outside register_views: {bad}"
