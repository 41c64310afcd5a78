"""The benchmark's workloads and the reference-digest check of their outputs.

Each workload is a fixed list of calls into the program: registered
operators (``registry.all_queries``) and, for ``registry_mix``, ``api``
functions taken from the call catalog in ``tools/api_plan_audit.py``.
Outputs are compared with reference digests of ``verify.canon_rows``
(see ``make_digests.py``), which match exactly when ``verify.compare_frames``
would report OK.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "digests.json")
# The api calls' input tables, as ``tools/api_plan_audit._write_fixtures``
# writes them (see ``write_api_fixtures``): kept, because writing them in
# every run cost 7-8 s of a cold JVM's first parquet writes.
API_FIXTURES = os.path.join(DATA_DIR, "api_fixtures")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # data set under perfbench/data, e.g. "sf0.1"
    sink: str  # "noop": write to the noop sink; "collect": toPandas()
    ops: tuple[tuple[str, str], ...]  # (label, registry op id)
    # Nominal length of one warm timed pass on a quiet 4-vCPU host:
    # ``--seconds`` becomes a fixed number of passes, so every run holds the
    # same calls at the same point of the JVM's warm-up.
    pass_s: float
    api: tuple[str, ...] = ()  # api functions from the audit call catalog

    def timed_passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))

    def labels(self) -> list[str]:
        return [label for label, _ in self.ops] + [f"api.{fn}" for fn in self.api]

    def digest_keys(self, sf: str) -> dict[str, tuple[str, str]]:
        """label -> (data set, key) of its reference digest."""
        keys = {label: (sf, op) for label, op in self.ops}
        keys.update({f"api.{fn}": ("api", fn) for fn in self.api})
        return keys

    def calls(self, spark, data_dir: str, fixture_dir: str) -> dict[str, Callable]:
        """label -> thunk returning the call's DataFrame.  ``fixture_dir``
        is the api calls' scratch directory."""
        from secdb_spark.registry import all_queries

        queries = all_queries()
        out: dict[str, Callable] = {}
        for label, op in self.ops:
            if op not in queries:
                raise KeyError(f"workload {self.name}: no registered op {op!r}")
            out[label] = (lambda fn: lambda: fn(spark, data_dir))(queries[op])
        if self.api:
            from secdb_spark import api
            from tools.api_plan_audit import _catalog

            fixtures = {name: spark.read.parquet(os.path.join(API_FIXTURES, name))
                        for name in sorted(os.listdir(API_FIXTURES))}
            catalog = _catalog(api, fixtures, fixture_dir)
            for fn in self.api:
                out[f"api.{fn}"] = catalog[fn]
        return out


def write_api_fixtures(spark, scratch: str) -> None:
    """Rewrite ``API_FIXTURES`` with ``_write_fixtures``'s tables (their
    parquet parts only)."""
    from tools.api_plan_audit import _write_fixtures

    _write_fixtures(spark, scratch)
    shutil.rmtree(API_FIXTURES, ignore_errors=True)
    for name in sorted(os.listdir(scratch)):
        os.makedirs(os.path.join(API_FIXTURES, name))
        for part in sorted(os.listdir(os.path.join(scratch, name))):
            if part.endswith(".parquet"):
                shutil.copy(os.path.join(scratch, name, part),
                            os.path.join(API_FIXTURES, name, part))


# Left out of ``headline``: its output at sf0.1 is 947,826 rows, and
# collecting and checking them cost about 15 s of every run's set-up.
HEADLINE_SKIP = ("q_dedup_near",)


def _headline_ops() -> tuple[tuple[str, str], ...]:
    from bench import HEADLINE

    return tuple((label, op) for label, op in HEADLINE.items()
                 if label not in HEADLINE_SKIP)


# Family-stratified slice of the read-only registry ops, fixed so that
# parent and child commits measure the same calls.  Rule used to pick it:
# among ops that have a DuckDB oracle, write no files, stream nothing and
# take under 0.9 s warm at sf0.01, every family (op-id prefix) with at
# least 20 such ops gives its middle op in name order.  One pandas-UDF op
# is added so that the Python-worker layer runs in this workload too.
REGISTRY_SLICE = (
    "agg_mad", "fn_map", "join_interval_overlap", "sql_tpch_q12",
    "text_pii_scrub", "ts_ohlc", "win_ntile", "udf_pandas_agg",
)

# The paper's pipeline inside the mix: the XBRL filings parsed and
# superseded, and the sharded SQLite export the paper's database lives in.
SECDB_OPS = ("xbrl_supersede", "snk_sqlite")

# Two api functions, evenly spaced in name order over the audit catalog's
# read-only entries that run on its fixtures in under 0.9 s.
API_SLICE = ("dup_histogram", "scd2_merge")


def workloads() -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            Workload("headline", "sf0.1", "noop", _headline_ops(), pass_s=10.0),
            Workload(
                "registry_mix", "sf0.01", "collect",
                tuple((op, op) for op in REGISTRY_SLICE + SECDB_OPS), pass_s=5.0,
                api=API_SLICE,
            ),
        )
    }


def digest(pdf) -> str:
    """sha256 over the sorted column names and ``verify.canon_rows``."""
    from secdb_spark.verify import canon_rows

    h = hashlib.sha256(json.dumps(sorted(pdf.columns)).encode())
    for row in canon_rows(pdf):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def load_digests(path: str = DIGESTS) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


class Checker:
    """Compares call outputs with their reference digests."""

    def __init__(self, refs: dict, keys: dict[str, tuple[str, str]]) -> None:
        self.refs = refs
        self.keys = keys

    def rows(self, label: str) -> int:
        dataset, key = self.keys[label]
        return self.refs.get(dataset, {}).get(key, {}).get("rows", 0)

    def check(self, label: str, pdf) -> str | None:
        """None if ``pdf`` matches the reference, else what differs."""
        dataset, key = self.keys[label]
        ref = self.refs.get(dataset, {}).get(key)
        if ref is None:
            return f"{label}: no reference digest in {dataset}"
        if len(pdf) != ref["rows"]:
            return f"{label}: {len(pdf)} rows, reference has {ref['rows']}"
        if digest(pdf) != ref["sha256"]:
            return f"{label}: values differ from the {ref['source']} reference"
        return None
