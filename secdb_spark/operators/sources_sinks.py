"""§2.A — Scans, sources, and sinks.

Reference semantics: the reference ingests EDGAR feed XML + filing
packages and sinks to SQLite (north star: "DataFrame transformations +
JDBC/SQLite sink"; mount empty — SURVEY §2.A/§3.1). This environment has
no sqlite-jdbc jar and no network, so the SQLite sink uses stdlib sqlite3
via foreachPartition (the documented fallback, SURVEY §7.M5) and the XBRL
ETL parses local fixture filings.

Round-trip ops write under a per-call `session.scratch_dir` (driver may
invoke each query multiple times — never reuse a fixed path). Read-back queries give
the driver a comparable DataFrame; the write itself is the op under test.

100 TB notes:
- snk_parquet partitions by a low-cardinality column -> directory-level
  partition pruning for readers; target file size is controlled by the
  upstream repartition, not the writer.
- snk_sqlite shards per partition (single-file SQLite cannot take 100 TB
  or concurrent writers): each Spark partition writes its own .db, a
  manifest row records (shard, rows); readers attach shards.
- src_xbrl_etl is manifest-driven mapInPandas: filings list repartitions
  across executors, each batch parses locally — the reference's
  multiprocessing pool, distributed.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..catalog import SCHEMAS, table
from ..registry import register
from ..session import memo, scratch_dir
from ._helpers import dsum, pin, sql_dsum

FIXTURES_DIR = os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")


@register(
    "src_parquet",
    oracle="""
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_quantity > 40
    GROUP BY l_returnflag
    """,
)
def src_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with explicit schema; filter + 2-column projection
    reach the scan (PushedFilters + pruned ReadSchema in .explain)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 40)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "src_csv",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE n_regionkey <= 2
    """,
)
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with header + explicit schema (EDGAR index files are
    delimited — the reference's delimited-ingest path). Round-trip: nation
    -> csv -> explicit-schema read -> filter."""
    d = scratch_dir("csv")
    table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(d)
    return (
        spark.read.schema(SCHEMAS["nation"])
        .option("header", True)
        .csv(d)
        .filter(F.col("n_regionkey") <= 2)
    )


@register(
    "src_json",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_id < 200
    """,
)
def src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest with explicit schema (no inference pass)."""
    d = scratch_dir("json")
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    ev.select("event_id", "event_type", "value").coalesce(1).write.mode(
        "overwrite"
    ).json(d)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(d)


@register(
    "src_text",
    oracle="""
    SELECT count(*) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def src_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line ingest (document corpus ingest path)."""
    d = scratch_dir("text")
    table(spark, sf_dir, "documents").select("text").coalesce(1).write.mode(
        "overwrite"
    ).text(d)
    lines = spark.read.text(d)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
    )


@register(
    "snk_parquet",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {sql_dsum('l_extendedprice')} AS total
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink verified by read-back aggregation.
    partitionBy(l_returnflag) -> one directory per flag value -> readers
    filtering on the partition column skip whole directories (the 100 TB
    layout primitive; SURVEY §4.3 prescribes date-derived partitioning
    for the fact tables)."""
    d = scratch_dir("parquet")
    li = table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(d)
    back = spark.read.parquet(d)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_extendedprice")).alias("total"),
    )


@register(
    "snk_csv",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def snk_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema'd read-back (values survive text round-trip:
    Spark prints doubles with full precision)."""
    d = scratch_dir("snkcsv")
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    agg.coalesce(1).write.mode("overwrite").option("header", True).csv(d)
    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("revenue", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(d)


def sqlite_jdbc_available(spark: SparkSession) -> bool:
    """True when a sqlite-jdbc driver jar is on the Spark JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName("org.sqlite.JDBC")  # noqa: SLF001
        return True
    except Exception:
        return False


def choose_sqlite_sink(spark: SparkSession) -> str:
    """Capability dispatch for the SQLite sink: 'jdbc' when the sqlite-jdbc
    jar is present (df.write.jdbc — the north-star path), else 'sharded'
    (foreachPartition + stdlib sqlite3). Factored out so tests can assert
    the selection both ways without needing the jar."""
    return "jdbc" if sqlite_jdbc_available(spark) else "sharded"


def write_sqlite_jdbc(df: DataFrame, db_path: str, table_name: str) -> None:
    """The df.write.jdbc path — activates only when sqlite-jdbc is on the
    classpath (see choose_sqlite_sink). SQLite is single-writer, so the
    write is coalesced to one connection; for parallel writes use the
    sharded path instead."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .format("jdbc")
        .option("url", f"jdbc:sqlite:{db_path}")
        .option("dbtable", table_name)
        .option("driver", "org.sqlite.JDBC")
        .save()
    )


def write_sqlite_sharded(df: DataFrame, shard_dir: str, table_name: str,
                         ddl: str, insert_sql: str, n_shards: int = 4) -> list[str]:
    """Sharded stdlib-sqlite3 sink: each partition writes its own shard DB
    (SQLite is single-writer; sharding is the only parallel shape).

    `shard_dir` MUST be a path visible to BOTH executors and driver: in
    local mode any tempdir works (executors share the driver filesystem);
    on a real cluster pass a shared/NFS/fuse-mounted path — a driver-local
    tempdir would leave the read-back empty. Returns the shard manifest."""
    key = df.columns[0]
    parts = df.repartition(n_shards, key)
    ncols = len(df.columns)

    def write_partition(rows) -> None:
        import sqlite3 as sq

        from pyspark import TaskContext

        rows = list(rows)
        if not rows:
            return
        # Deterministic shard name per PARTITION (not per attempt): a
        # retried/speculative task writes to a temp name and atomically
        # renames over its predecessor, so a replayed partition REPLACES
        # its shard instead of leaving a duplicate that double-counts in
        # the read-back.  os.replace is atomic on POSIX within a
        # filesystem, which shard_dir is by contract.
        pid = TaskContext.get().partitionId()
        final = os.path.join(shard_dir, f"shard_{pid:05d}.db")
        tmp = f"{final}.tmp_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        con = sq.connect(tmp)
        con.execute(ddl)
        con.executemany(insert_sql, [tuple(r[i] for i in range(ncols)) for r in rows])
        con.commit()
        con.close()
        os.replace(tmp, final)

    parts.foreachPartition(write_partition)
    shards = sorted(
        f for f in os.listdir(shard_dir) if f.startswith("shard_") and f.endswith(".db")
    )
    if not shards:
        raise RuntimeError(
            f"no sqlite shards appeared in {shard_dir}: executors cannot see "
            "this path (driver-local dir on a cluster?) — pass a shared path"
        )
    return shards


@register(
    "snk_sqlite",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def snk_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star "JDBC/SQLite sink" (BASELINE.json:7). Capability-dispatched:
    df.write.jdbc when a sqlite-jdbc jar is on the classpath, else sharded
    stdlib sqlite3 (no jar ships in this container, so the sharded branch is
    what runs here; the jdbc branch is unit-tested via dispatch). Returns the
    merged read-back, which must equal the SOURCE rows exactly — the oracle
    (exact since round 8; was R class) is simply the source selection: INT
    survives sqlite INTEGER and DOUBLE survives sqlite REAL bit-for-bit
    (both are the same 8-byte storage classes), so the write→read round
    trip is lossless and hash-comparable."""
    import sqlite3

    d = scratch_dir("sqlite")  # local mode: driver tempdir IS executor-visible
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    if choose_sqlite_sink(spark) == "jdbc":
        db = os.path.join(d, "supplier.db")
        write_sqlite_jdbc(supp, db, "supplier")
        shards = ["supplier.db"]
    else:
        shards = write_sqlite_sharded(
            supp,
            d,
            "supplier",
            "CREATE TABLE supplier (s_suppkey INTEGER, s_name TEXT, "
            "s_nationkey INTEGER, s_acctbal REAL)",
            "INSERT INTO supplier VALUES (?, ?, ?, ?)",
        )

    frames = []
    for shard in shards:
        con = sqlite3.connect(os.path.join(d, shard))
        frames.append(pd.read_sql_query("SELECT * FROM supplier", con))
        con.close()
    merged = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(merged).orderBy("s_suppkey")


@register(
    "src_stream_file",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def src_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming file source (the incremental monthly-feed model,
    SURVEY §2.A): readStream over the events parquet, availableNow trigger
    (process-everything-then-stop), memory sink. Batch-equivalent oracle —
    counts must equal the batch aggregation exactly."""
    sink = f"stream_src_{uuid.uuid4().hex[:8]}"
    # the file source monitors a DIRECTORY (arrivals land as new files);
    # stage the single test file into one via symlink
    stage = scratch_dir("stream")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(stage, "events.parquet"))
    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(stage)
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(f"stream {sink} did not finish in 120s")
    return spark.table(sink)


FACT_SCHEMA = (
    "accession string, cik string, form string, concept string, unit string, "
    "decimals int, value_num decimal(38,6), value_text string, "
    "period_instant string, period_start string, period_end string, "
    "dims map<string,string>"
)

FACT_COLS = [f.split()[0] for f in FACT_SCHEMA.split(", ")]


def _parse_filing(path: str) -> list[tuple]:
    """Parse ONE XBRL instance into fact tuples (FACT_SCHEMA order).

    Full context resolution per SURVEY §1.1: every <context> is indexed by
    id (entity CIK, instant/duration period, explicit dimension members
    from segment AND scenario as an open-ended map), and each fact resolves
    its own contextRef — multi-context, multi-dimension filings are the
    normal case (fixtures/xbrl_gen has 6 contexts per filing, one of them
    two-dimensional). Numeric values parse to exact Decimal with the
    `decimals` rounding metadata kept as a column; non-numeric facts (e.g.
    dei:DocumentType) land in value_text. The filing's form type
    (10-Q vs 10-Q/A) is denormalized onto every fact row — it drives
    amendment supersedence downstream (xbrl_supersede)."""
    import decimal
    import xml.etree.ElementTree as ET

    ns = {"x": "http://www.xbrl.org/2003/instance"}
    accession = os.path.basename(path)[: -len(".xml")]
    root = ET.parse(path).getroot()
    ctxs: dict[str, tuple] = {}
    for ctx in root.findall("x:context", ns):
        cik = ctx.find("x:entity/x:identifier", ns).text
        period = ctx.find("x:period", ns)
        instant = period.find("x:instant", ns)
        start = period.find("x:startDate", ns)
        end = period.find("x:endDate", ns)
        dims = {
            m.get("dimension"): m.text
            for holder in ("x:segment", "x:scenario")
            for m in ctx.findall(f"{holder}/x:explicitMember", ns)
        }
        ctxs[ctx.get("id")] = (
            cik,
            instant.text if instant is not None else None,
            start.text if start is not None else None,
            end.text if end is not None else None,
            dims,
        )
    form = None
    for fact in root.findall("x:fact", ns):
        if fact.get("name") == "dei:DocumentType":
            form = fact.text
    out = []
    for fact in root.findall("x:fact", ns):
        cik, instant, start, end, dims = ctxs[fact.get("contextRef")]
        raw = (fact.text or "").strip()
        try:
            value_num, value_text = decimal.Decimal(raw), None
        except decimal.InvalidOperation:
            value_num, value_text = None, raw
        dec = fact.get("decimals")
        out.append(
            (
                accession,
                cik,
                form,
                fact.get("name"),
                fact.get("unitRef"),
                int(dec) if dec is not None else None,
                value_num,
                value_text,
                instant,
                start,
                end,
                dims,
            )
        )
    return out


def _xbrl_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filing -> facts extraction (the reference's core ETL, SURVEY §3.1)
    as a manifest-driven distributed parse: manifest DF of filing paths ->
    repartition -> mapInPandas(parse with stdlib ElementTree) -> typed
    facts DataFrame. Parses 104 fixture filings: 4 hand-written originals
    (fixtures/xbrl) + 100 generated multi-context/dimensioned/amended
    instances (fixtures/xbrl_gen, see fixtures/gen_xbrl.py).

    The result is localCheckpoint'ed (eager, ~10k rows) and held in
    `session.memo` with the filing paths as its inputs: the seven
    consumers (src_xbrl_etl, xbrl_filings, xbrl_supersede, xbrl_metrics,
    build_secdb and the xbrl_q_* analytics) read the materialized fact
    partitions instead of each re-running the parse (VERDICT r6 "What's
    wrong" #3), and a filing rewritten, added or removed parses again.

    The reference used RaptorXML (proprietary, absent); context
    resolution, dimensions and supersedence semantics follow the public
    XBRL 2.1 spec."""
    import glob

    paths = sorted(
        glob.glob(os.path.join(os.path.abspath(FIXTURES_DIR), "xbrl", "*.xml"))
        + glob.glob(os.path.join(os.path.abspath(FIXTURES_DIR), "xbrl_gen", "*.xml"))
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for path in b["path"]:
                out.extend(_parse_filing(path))
            yield pd.DataFrame(out, columns=FACT_COLS)

    def build() -> DataFrame:
        manifest = spark.createDataFrame([(p,) for p in paths], "path string")
        return (
            manifest.repartition(8)
            .mapInPandas(parse, FACT_SCHEMA)
            .localCheckpoint(eager=True)
        )

    return memo(spark, ("xbrl_facts",), paths, build)


#: Facts of the 4 hand-written fixtures (fixtures/xbrl/*.xml) as spec
#: literals, FACT_COLS order with dims pre-serialized to the exact JSON
#: string to_json emits — change a fixture and this table must change
#: consciously (the _xbrl_filings_oracle discipline).  form is NULL: none
#: of the four carries a dei:DocumentType fact.
_XBRL_HANDWRITTEN_FACTS: tuple[tuple, ...] = (
    ("0000001-24-000001", "0000320193", None, "us-gaap:Assets", "usd", 6,
     352755000000, None, "2024-03-31", None, None, '{"seg:Region":"AMER"}'),
    ("0000001-24-000001", "0000320193", None, "us-gaap:Liabilities", "usd", 6,
     290437000000, None, "2024-03-31", None, None, '{"seg:Region":"AMER"}'),
    ("0000001-24-000001", "0000320193", None,
     "dei:EntityCommonStockSharesOutstanding", "shares", 0,
     15334082000, None, "2024-03-31", None, None, '{"seg:Region":"AMER"}'),
    ("0000002-24-000007", "0000789019", None, "us-gaap:Revenues", "usd", 3,
     61858000000, None, None, "2024-01-01", "2024-03-31",
     '{"seg:Region":"EMEA"}'),
    ("0000002-24-000007", "0000789019", None, "us-gaap:NetIncomeLoss", "usd",
     3, 21939000000, None, None, "2024-01-01", "2024-03-31",
     '{"seg:Region":"EMEA"}'),
    ("0000003-24-000012", "0001018724", None, "us-gaap:Revenues", "usd", 3,
     143313000000, None, None, "2024-01-01", "2024-03-31",
     '{"seg:Region":"APAC"}'),
    ("0000003-24-000012", "0001018724", None, "us-gaap:OperatingIncomeLoss",
     "usd", 3, 15307000000, None, None, "2024-01-01", "2024-03-31",
     '{"seg:Region":"APAC"}'),
    ("0000003-24-000012", "0001018724", None, "us-gaap:NetIncomeLoss", "usd",
     3, 10431000000, None, None, "2024-01-01", "2024-03-31",
     '{"seg:Region":"APAC"}'),
    ("0000004-24-000020", "0001652044", None, "us-gaap:Assets", "usd", 6,
     407350000000, None, "2024-03-31", None, None, '{"seg:Region":"AMER"}'),
)


def _xbrl_gen_module():
    """Import fixtures/gen_xbrl.py by path (the _xbrl_filings_oracle
    loader, shared)."""
    import importlib.util

    path = os.path.abspath(os.path.join(FIXTURES_DIR, "gen_xbrl.py"))
    spec = importlib.util.spec_from_file_location("gen_xbrl_facts", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def _xbrl_facts_oracle(superseded: bool) -> str:
    """Golden VALUES oracle for the facts table (round 8 — src_xbrl_etl /
    xbrl_supersede were R class): every generated fact recomputed as a
    PURE FUNCTION of fixtures/gen_xbrl.py — per filing 1 dei:DocumentType
    (text, no unit/decimals) + 3 consolidated duration + 2 consolidated
    instant + 3 regional seg:Region + 1 two-dimensional cAO fact whose
    value is the AMER revenue // 10 — plus the four hand-written
    fixtures' 9 facts as spec literals.  dims is the exact JSON string
    Spark's to_json(map) emits (document member order: Region before
    Channel).  With superseded=True, each company's Q2 base 10-Q drops
    (its 10-Q/A wins the (cik, period_end, base_form) group on accession
    order); the hand-written filings are sole members of their groups and
    always survive.  value_num compares as DOUBLE — every fixture value
    is an integer < 2^53, so the cast is exact in both engines."""
    gen = _xbrl_gen_module()

    rows: list[tuple] = []
    for acc, ci, qi, amended in gen.all_filings():
        if superseded and qi == gen.AMENDED_QUARTER and not amended:
            continue  # the 10-Q/A wins this (cik, period_end, 10-Q) group
        form = "10-Q/A" if amended else "10-Q"
        start, end = gen.QUARTERS[qi]
        ck = gen.cik(ci)
        rows.append((acc, ck, form, "dei:DocumentType", None, None,
                     None, form, None, start, end, "{}"))
        for c in gen.DUR_CONCEPTS:
            rows.append((acc, ck, form, c, "usd", 0,
                         gen.value(ci, qi, c, None, amended), None,
                         None, start, end, "{}"))
        for c in gen.INST_CONCEPTS:
            rows.append((acc, ck, form, c, "usd", 0,
                         gen.value(ci, qi, c, None, amended), None,
                         end, None, None, "{}"))
        for r in gen.REGIONS:
            rows.append((acc, ck, form, "us-gaap:Revenues", "usd", 0,
                         gen.value(ci, qi, "us-gaap:Revenues", r, amended),
                         None, None, start, end,
                         '{"seg:Region":"' + r + '"}'))
        rows.append((acc, ck, form, "us-gaap:Revenues", "usd", 0,
                     gen.value(ci, qi, "us-gaap:Revenues", "AMER", amended)
                     // 10, None, None, start, end,
                     '{"seg:Region":"AMER","seg:Channel":"ONLINE"}'))
    rows.extend(_XBRL_HANDWRITTEN_FACTS)

    def lit(v, kind: str) -> str:
        if v is None:
            return f"CAST(NULL AS {kind})"
        if kind == "VARCHAR":
            return "'" + str(v) + "'"
        return f"CAST({v} AS {kind})"

    kinds = ("VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR",
             "INTEGER", "DOUBLE", "VARCHAR", "VARCHAR", "VARCHAR",
             "VARCHAR", "VARCHAR")
    body = ", ".join(
        "(" + ", ".join(lit(v, k) for v, k in zip(r, kinds)) + ")"
        for r in rows
    )
    return (
        f"SELECT * FROM (VALUES {body}) AS t({', '.join(FACT_COLS)})"
    )


@register("src_xbrl_etl", oracle=_xbrl_facts_oracle(False))
def src_xbrl_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing facts view: `_xbrl_facts` with the `dims` map
    serialized to a JSON string and value_num cast to DOUBLE.  The driver
    canonicalizes result rows with a pandas sort, and map values arrive
    there as unhashable dicts (the round-3 src_xbrl_etl/xbrl_supersede
    errors); DECIMAL cells canonicalize engine-dependently (DuckDB's
    pandas bridge floats them), and every fixture value is an integer
    < 2^53, so the double cast is the exact portable form — internal
    consumers keep the typed map and exact decimal via `_xbrl_facts`.
    Golden oracle since round 8 (was R class): see _xbrl_facts_oracle."""
    return (
        _xbrl_facts(spark, sf_dir)
        .withColumn("dims", F.to_json("dims"))
        .withColumn("value_num", F.col("value_num").cast("double"))
    )


def _xbrl_filings_oracle() -> str:
    """Golden VALUES oracle for xbrl_filings (round 7 — was R class):
    the 100 generated filings' metadata recomputed as a PURE FUNCTION of
    fixtures/gen_xbrl.py (independent of the XML parse: accession/cik/
    form/period come from the generator's arithmetic, n_facts from its
    emission structure — 1 dei + 3 duration + 2 instant + 3 regional +
    1 two-dim = 10), plus the four hand-written fixtures' rows as spec
    literals (no dei fact -> NULL form, period falls back to
    max(fact period) = 2024-03-31; fact counts 3/2/3/1 — change a
    fixture and this oracle must change consciously)."""
    import importlib.util

    path = os.path.abspath(os.path.join(FIXTURES_DIR, "gen_xbrl.py"))
    spec = importlib.util.spec_from_file_location("gen_xbrl_ss", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    rows = []
    for acc, ci, qi, amended in gen.all_filings():
        rows.append(
            (
                acc,
                gen.cik(ci),
                "10-Q/A" if amended else "10-Q",
                gen.QUARTERS[qi][1],
                10,
                "10-Q",
                amended,
            )
        )
    for acc, cik_, n in (
        ("0000001-24-000001", "0000320193", 3),
        ("0000002-24-000007", "0000789019", 2),
        ("0000003-24-000012", "0001018724", 3),
        ("0000004-24-000020", "0001652044", 1),
    ):
        rows.append((acc, cik_, None, "2024-03-31", n, None, False))

    def lit(v) -> str:
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        return "'" + v + "'"

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return (
        f"SELECT * FROM (VALUES {body}) AS t(accession, cik, form, "
        "period_end, n_facts, base_form, is_amendment)"
    )


@register("xbrl_filings", oracle=_xbrl_filings_oracle())
def xbrl_filings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filing-level metadata table (SECDB layer 2: one row per accession):
    cik, form, declared report period, fact count, amendment flag and the
    base form the amendment supersedes. One groupBy(accession) shuffle
    over the facts — map-side combinable.

    period_end is the filing's DECLARED report period — the period end of
    its dei:DocumentType context (the consolidated duration context) —
    falling back to max(fact period) only when the dei fact is absent.
    Keying on max over ALL facts is fragile for real EDGAR data: an
    amendment whose fact set includes any later-period fact would land in
    a different (cik, period_end, base_form) group than its base filing
    and silently escape supersedence."""
    facts = _xbrl_facts(spark, sf_dir)
    return (
        facts.groupBy("accession", "cik")
        .agg(
            F.min("form").alias("form"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("concept") == "dei:DocumentType",
                        F.coalesce("period_end", "period_instant"),
                    )
                ),
                F.max(F.coalesce("period_end", "period_instant")),
            ).alias("period_end"),
            F.count(F.lit(1)).alias("n_facts"),
        )
        .withColumn(
            "base_form",
            F.when(F.col("form").isNotNull(), F.regexp_replace("form", "/A$", "")),
        )
        .withColumn(
            "is_amendment",
            F.coalesce(F.col("form").endswith("/A"), F.lit(False)),
        )
    )


def _xbrl_supersede_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amendment supersedence — the upsert_latest pattern applied to
    filings/facts (VERDICT r1 'What's missing' #2): within each
    (cik, period_end, base_form) group the LATEST accession wins (EDGAR
    accession sequences are monotone per filer), and only the winner's
    facts survive into the queryable view.

    Scale: winners are decided on the tiny filings table (1 row per
    filing), then applied to the big facts table as a broadcast semi-join
    — the facts never shuffle."""
    facts = _xbrl_facts(spark, sf_dir)
    filings = xbrl_filings(spark, sf_dir)
    w = Window.partitionBy("cik", "period_end", "base_form").orderBy(
        F.col("accession").desc()
    )
    winners = (
        filings.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("accession")
    )
    return facts.join(F.broadcast(winners), "accession", "semi")


@register("xbrl_supersede", oracle=_xbrl_facts_oracle(True))
def xbrl_supersede(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing superseded-facts view (dims as JSON string, value_num
    as DOUBLE — see src_xbrl_etl for why neither the map type nor the
    DECIMAL can cross the driver's canonicalization).  Golden oracle since
    round 8 (was R class): _xbrl_facts_oracle(superseded=True) recomputes
    the surviving fact set — winners per (cik, period_end, base_form) —
    as a pure function of the fixture generator."""
    return (
        _xbrl_supersede_facts(spark, sf_dir)
        .withColumn("dims", F.to_json("dims"))
        .withColumn("value_num", F.col("value_num").cast("double"))
    )


def _xbrl_metrics_oracle() -> str:
    """Golden VALUES oracle for xbrl_metrics (round 7 — was R class):
    the standardized metrics recomputed as a pure function of
    fixtures/gen_xbrl.py.  Winners under supersedence are the plain 10-Q
    for every quarter except the amended one, whose 10-Q/A wins; the
    consolidated filter (no dimension members) excludes every
    hand-written fixture fact (all four files carry only dimensioned or
    unmapped-concept facts — verified, and the oracle freezes that
    semantic).  net_margin divides the exact integers in DuckDB with the
    shared round(x, 6), so no Python float formatting is in the path."""
    import importlib.util

    path = os.path.abspath(os.path.join(FIXTURES_DIR, "gen_xbrl.py"))
    spec = importlib.util.spec_from_file_location("gen_xbrl_ss2", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    rows = []
    for ci in range(gen.N_COMPANIES):
        for qi in range(len(gen.QUARTERS)):
            amended = qi == gen.AMENDED_QUARTER
            v = lambda c: gen.value(ci, qi, c, None, amended)  # noqa: E731
            rows.append(
                (
                    gen.accession(ci, qi, amended),
                    gen.cik(ci),
                    v("us-gaap:Assets"),
                    v("us-gaap:Liabilities"),
                    v("us-gaap:NetIncomeLoss"),
                    v("us-gaap:OperatingIncomeLoss"),
                    v("us-gaap:Revenues"),
                )
            )
    body = ", ".join(
        "('" + r[0] + "', '" + r[1] + "', "
        + ", ".join(str(x) for x in r[2:]) + ")"
        for r in rows
    )
    return f"""
    SELECT accession, cik,
           CAST(assets AS DOUBLE) AS assets,
           CAST(liabilities AS DOUBLE) AS liabilities,
           CAST(net_income AS DOUBLE) AS net_income,
           CAST(operating_income AS DOUBLE) AS operating_income,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(net_income AS DOUBLE) / CAST(revenue AS DOUBLE), 6)
             AS net_margin
    FROM (VALUES {body}) AS t(accession, cik, assets, liabilities,
                              net_income, operating_income, revenue)
    """


@register("xbrl_metrics", oracle=_xbrl_metrics_oracle())
def xbrl_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized per-filing metrics — the reference's core domain output
    (SURVEY §1.1 layer 2: "a standardized subset of metrics per filing
    (revenue, net income, assets) to make cross-company queries
    tractable"). Consumes the SUPERSEDED facts view (amendments win) and
    only CONSOLIDATED contexts (no dimension members) — a regional
    seg:Region breakdown must not leak into the company-level metric.
    concept->metric mapping is the broadcastable lookup a real deployment
    maintains per taxonomy version.

    Scale: facts partition by accession; the pivot is a groupBy(accession)
    with min() per mapped concept — one shuffle, map-side combinable."""
    facts = _xbrl_supersede_facts(spark, sf_dir).filter(
        F.size(F.col("dims")) == 0
    )
    concept_map = {
        "us-gaap:Revenues": "revenue",
        "us-gaap:NetIncomeLoss": "net_income",
        "us-gaap:Assets": "assets",
        "us-gaap:Liabilities": "liabilities",
        "us-gaap:OperatingIncomeLoss": "operating_income",
    }
    mapping = spark.createDataFrame(
        list(concept_map.items()), "concept string, metric string"
    )
    mapped = facts.join(F.broadcast(mapping), "concept")
    pivoted = (
        mapped.groupBy("accession", "cik")
        .pivot("metric", sorted(set(concept_map.values())))
        # min, not first(): deterministic if a filing ever carries duplicate
        # facts for a mapped concept (first() is order-dependent)
        .agg(F.min(F.col("value_num").cast("double")))
    )
    return pivoted.withColumn(
        "net_margin",
        F.when(
            F.col("revenue").isNotNull() & (F.col("revenue") != 0),
            F.round(F.col("net_income") / F.col("revenue"), 6),
        ),
    ).orderBy("accession")


#: Fingerprint space for the build manifest (the result_fingerprint
#: methodology: md5-bucket per canonical row string, commutative SUM).
BUILD_FP_SPACE = 1_000_000_007
_CANON_NULL = "<NULL>"

#: Canonical column basis per manifest table.  Every part stringifies
#: identically in Spark and DuckDB: VARCHAR/INT columns cast directly,
#: value columns through BIGINT (every fixture value is an exact integer
#: — the _xbrl_facts_oracle contract), booleans as 'true'/'false' in both
#: engines.  metrics' net_margin is EXCLUDED consciously: it is a pure
#: derivation of net_income/revenue (adds no integrity) and its
#: round(double, 6) stringifies engine-dependently.
_BUILD_CANON: dict[str, list[str]] = {
    "facts": ["accession", "cik", "form", "concept", "unit", "decimals",
              "CAST(value_num AS BIGINT)", "value_text", "period_instant",
              "period_start", "period_end", "dims_json"],
    "filings": ["accession", "cik", "form", "period_end", "n_facts",
                "base_form", "is_amendment"],
    "entities": ["cik", "n_filings", "n_facts"],
    "metrics": ["accession", "cik", "CAST(assets AS BIGINT)",
                "CAST(liabilities AS BIGINT)", "CAST(net_income AS BIGINT)",
                "CAST(operating_income AS BIGINT)",
                "CAST(revenue AS BIGINT)"],
    "facts_sqlite": ["accession", "cik", "concept", "value_num",
                     "dims_json"],
}


def _canon_expr(parts: list[str]) -> "F.Column":
    """Spark side of the canonical row string (SQL-expression parts so the
    SAME spec strings drive both engines)."""
    cols = [
        F.coalesce(F.expr(p).cast("string"), F.lit(_CANON_NULL))
        for p in parts
    ]
    return F.concat_ws("|", *cols)


def _dq_canon(parts: list[str]) -> str:
    """DuckDB side of the canonical row string."""
    return " || '|' || ".join(
        f"coalesce(CAST({p} AS VARCHAR), '{_CANON_NULL}')" for p in parts
    )


def _build_secdb_oracle() -> str:
    """Golden manifest oracle (round 8 — build_secdb was R class): every
    (table_name, n_rows, checksum) row recomputed by DuckDB from the SAME
    golden fixture oracles the component ops certify against
    (_xbrl_facts_oracle(True) / _xbrl_filings_oracle / _xbrl_metrics_oracle)
    over the SAME canonical basis (_BUILD_CANON) and md5-bucket fingerprint
    (_sql_hash_bucket — the result_fingerprint methodology).  Equality
    therefore proves the full pipeline INCLUDING the parquet and sqlite
    round trips, not just the in-memory frames."""
    from .pipeline_extras import _sql_hash_bucket

    def row(name: str, src: str, parts: list[str]) -> str:
        bucket = _sql_hash_bucket(_dq_canon(parts), BUILD_FP_SPACE)
        return (
            f"SELECT '{name}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(coalesce(sum({bucket}), 0) AS BIGINT) AS checksum FROM {src}"
        )

    # facts_g exposes the JSON dims column under FACT_COLS' name `dims`;
    # the built tables rename it dims_json — map the spec accordingly.
    facts_parts = [
        p.replace("dims_json", "dims") for p in _BUILD_CANON["facts"]
    ]
    sqlite_parts = [
        "accession", "cik", "concept",
        "CAST(CAST(value_num AS BIGINT) AS VARCHAR)", "dims",
    ]
    return f"""
    WITH facts_g AS ({_xbrl_facts_oracle(True)}),
         filings_g AS ({_xbrl_filings_oracle()}),
         metrics_g AS ({_xbrl_metrics_oracle()}),
         entities_g AS (
           SELECT cik,
                  CAST(count(DISTINCT accession) AS BIGINT) AS n_filings,
                  CAST(count(*) AS BIGINT) AS n_facts
           FROM facts_g GROUP BY cik
         )
    {row('facts', 'facts_g', facts_parts)}
    UNION ALL {row('filings', 'filings_g', _BUILD_CANON['filings'])}
    UNION ALL {row('entities', 'entities_g', _BUILD_CANON['entities'])}
    UNION ALL {row('metrics', 'metrics_g', _BUILD_CANON['metrics'])}
    UNION ALL {row('facts_sqlite', 'facts_g', sqlite_parts)}
    """


@register("build_secdb", oracle=_build_secdb_oracle())
def build_secdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single "build the SECDB" entry point (VERDICT r1 item 10): one
    composed pipeline parse -> facts -> supersede -> filings / entities /
    metrics, persisted as a parquet database AND a sharded SQLite export
    of the facts table. Returns the build manifest (table, n_rows,
    checksum) where checksum is the engine-portable md5-bucket fingerprint
    of the READ-BACK rows (parquet for the four tables, sqlite shards for
    the export) — exact golden oracle since round 8 (was R class; the old
    checksum used Spark-only xxhash64): see _build_secdb_oracle.

    Scale: every stage is the already-scale-shaped operator it composes
    (manifest-parallel parse, broadcast-semi supersedence, one-shuffle
    aggregations); persistence is parquet partitioned per table with the
    SQLite export sharded per partition; each fingerprint is a 1-row
    map-side-combinable aggregate over its read-back scan."""
    out = scratch_dir("db")
    # pinned (r13): the parse -> supersede pipeline feeds BOTH the facts
    # write and the entities rollup write — unpinned it re-parsed the
    # fixture corpus once per consumer (SCALE.md §50).
    facts = pin(_xbrl_supersede_facts(spark, sf_dir))
    tables = {
        "facts": facts.withColumn("dims_json", F.to_json("dims")).drop("dims"),
        "filings": xbrl_filings(spark, sf_dir),
        "entities": (
            facts.groupBy("cik")
            .agg(
                F.countDistinct("accession").alias("n_filings"),
                F.count(F.lit(1)).alias("n_facts"),
            )
        ),
        "metrics": xbrl_metrics(spark, sf_dir),
    }
    from .pipeline_extras import _hash_bucket

    # r13 (guide §5 — no collect in the query path): each manifest line
    # is a ONE-ROW aggregate over its read-back scan, unioned into the
    # returned plan; the old per-table collect() paid a driver job per
    # table at build time for numbers the sink job computes anyway.
    def manifest_df(name: str, back: DataFrame, parts: list[str]) -> DataFrame:
        return back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(_hash_bucket(_canon_expr(parts), BUILD_FP_SPACE)),
                F.lit(0),
            ).cast("long").alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")

    manifests = []
    for name, df in tables.items():
        path = os.path.join(out, name)
        df.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        manifests.append(manifest_df(name, back, _BUILD_CANON[name]))
    # SQLite export of the facts table (the reference's target store).
    # value_num exports as its canonical BIGINT string (every fixture
    # value is an exact integer) so the read-back fingerprint is portable.
    facts_str = tables["facts"].select(
        "accession", "cik", "concept",
        F.col("value_num").cast("bigint").cast("string").alias("value_num"),
        "dims_json",
    )
    write_sqlite_sharded(
        facts_str,
        out,
        "facts",
        "CREATE TABLE facts (accession TEXT, cik TEXT, concept TEXT, "
        "value_num TEXT, dims_json TEXT)",
        "INSERT INTO facts VALUES (?, ?, ?, ?, ?)",
    )
    import sqlite3

    frames = []
    for shard in sorted(os.listdir(out)):
        if shard.startswith("shard_") and shard.endswith(".db"):
            con = sqlite3.connect(os.path.join(out, shard))
            frames.append(pd.read_sql_query("SELECT * FROM facts", con))
            con.close()
    merged = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    manifests.append(
        manifest_df("facts_sqlite", merged, _BUILD_CANON["facts_sqlite"])
    )
    manifest = manifests[0]
    for m in manifests[1:]:
        manifest = manifest.unionByName(m)
    return manifest.orderBy("table_name")


@register(
    "snk_partitioned",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def snk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned lakehouse layout write + read-back: orders written
    `partitionBy(o_year)` into a directory-per-year layout, then read back
    through partition discovery and aggregated per partition value.

    The two scale-critical choices a 100 TB writer must make, both here:
    - `repartition("o_year")` BEFORE the write: without it every input
      task appends one file into every partition directory (tasks ×
      partitions small files — the classic lakehouse small-file explosion);
      with it each partition directory receives its rows from one task.
    - the partition column is LOW cardinality (years, not days) so
      partition pruning on read (`WHERE o_year = ...`) skips whole
      directories — the read-back aggregation's scan lists only matching
      dirs; tests pin a PartitionFilters entry in the pruned read's plan."""
    o = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    out = scratch_dir("snk_part")
    (
        o.repartition("o_year")
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
    )


@register(
    "join_dpp",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS sum_price
    FROM orders
    WHERE year(o_orderdate) % 3 = 1
    GROUP BY 1, 2
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a year-partitioned fact joined to a
    small dim whose filter is only known at runtime — Spark reuses the
    dim's broadcast as a pruning predicate on the fact's PARTITION
    COLUMN, so unmatched partition directories are never even listed.
    This is THE mechanism that makes star-schema queries over a 100 TB
    date-partitioned fact read only the queried dates when the date
    restriction arrives via a dim join instead of a literal WHERE (a
    static filter Catalyst could push).  Both sides are genuine parquet
    scans (a local-relation dim would constant-fold the subquery away),
    and the dim's restriction lives on a separate physical column
    (y_mod) with no declared dependency on the join key — so Catalyst
    CANNOT infer a static partition filter and the pruning below is
    purely the runtime dynamicpruningexpression; the plan test pins it
    inside the fact scan's PartitionFilters."""
    o = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    fact_dir = scratch_dir("dpp_fact")
    o.repartition("o_year").write.mode("overwrite").partitionBy("o_year").parquet(
        fact_dir
    )
    dim_dir = scratch_dir("dpp_dim")
    (
        o.select("o_year")
        .distinct()
        .withColumn("y_mod", F.col("o_year") % 3)
        .write.mode("overwrite")
        .parquet(dim_dir)
    )

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("y_mod") == 1).drop("y_mod")
    return (
        fact.join(dim, "o_year")
        .groupBy("o_year", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )
