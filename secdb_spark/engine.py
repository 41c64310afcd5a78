"""User-facing engine facade — the `sqlite3 secdb.sqlite` equivalent.

The reference's user surface is a SQLite database file queried with ad-hoc
SQL (SURVEY §3.2); a user switching to this repo gets the same two
gestures plus the operator library:

    from secdb_spark.engine import Engine

    eng = Engine("/root/testdata/sf0.1")
    eng.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1").show()
    eng.table("orders").filter("o_totalprice > 100").count()
    eng.op("dedup_near").show()          # any registry operator by name
    eng.ops()                            # list the 500+ operator ids
    eng.verify("dedup_near")             # diff it against its DuckDB oracle

One-shot CLI (the `sqlite3 file "SELECT ..."` shape):

    python -m secdb_spark "SELECT count(*) FROM lineitem"
    python -m secdb_spark --sf /root/testdata/sf0.01 --op yoy_growth

Scale notes: `Engine` owns nothing heavier than view registration —
every query still compiles to the same Catalyst plans as the registry
entries; `sql()` strings go through the identical session/temp-view path
the driver's spark.sql ops use.  On a cluster, pass an existing
SparkSession: `Engine(sf_dir, spark=spark)` — the facade applies the
runtime confs it needs (nanosAsLong, Arrow, AQE, UTC) without owning the
session lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DEFAULT_SF_DIR, TABLES, register_views, table
from .registry import all_oracles, all_queries
from .session import apply_runtime_confs, get_spark


class Engine:
    """SQL + DataFrame + operator access over one testdata/warehouse dir."""

    def __init__(
        self, sf_dir: str = DEFAULT_SF_DIR, spark: SparkSession | None = None
    ) -> None:
        self.sf_dir = sf_dir
        self.spark = apply_runtime_confs(spark) if spark else get_spark("secdb-engine")

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL over this engine's table views (lazy DataFrame),
        bound first to its own corpus by `catalog.register_views`."""
        register_views(self.spark, self.sf_dir)
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        """One catalog table as a DataFrame (explicit schema, ts normalized)."""
        return table(self.spark, self.sf_dir, name)

    def tables(self) -> tuple[str, ...]:
        return TABLES

    def op(self, name: str) -> DataFrame:
        """Run a registered operator by id (see ops()); lazy DataFrame."""
        queries = all_queries()
        if name not in queries:
            raise KeyError(
                f"unknown operator {name!r}; see Engine.ops() for the "
                f"{len(queries)} registered ids"
            )
        return queries[name](self.spark, self.sf_dir)

    def ops(self) -> list[str]:
        """All registered operator ids, sorted."""
        return sorted(all_queries())

    @property
    def api(self):
        """The composable DataFrame API (secdb_spark.api): the certified
        kernels as DataFrame-in/out functions over ARBITRARY tables —
        e.g. eng.api.dedup_corpus(df, "id", "body")."""
        from . import api as _api

        return _api

    def oracle(self, name: str) -> str | None:
        """The operator's DuckDB-runnable reference SQL (None for R/D class)."""
        return all_oracles().get(name)

    def verify(self, name: str):
        """Differential check of one operator against its DuckDB reference
        SQL on THIS engine's data dir — the certification gate as a user
        gesture (evaluate-don't-trust).  Returns a
        `secdb_spark.verify.VerifyResult`; R/D-class operators report
        ROWS_ONLY (the same weaker signal the driver records)."""
        from .verify import verify_op

        return verify_op(name, self.spark, self.sf_dir)

    def explain(self, name_or_sql: str) -> str:
        """Formatted physical plan for an operator id or a SQL string."""
        import contextlib
        import io

        df = (
            self.op(name_or_sql)
            if name_or_sql in all_queries()
            else self.sql(name_or_sql)
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()
