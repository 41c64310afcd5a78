"""Regenerate ``perfbench/digests.json``, the reference the benchmark checks
every call's output against.

    PYTHONPATH=. SPARK_GRAFT_CPUS=$(nproc) python3 -m perfbench.make_digests

For a registered op with a DuckDB oracle, the reference is the digest of
the oracle's result (``verify.duckdb_connect``) over the same data set:
the sf0.1 oracle of ``sim_cosine_topk`` alone takes about 16 s, which is
why the digests are kept rather than recomputed each run.  Ops without an oracle and the ``api`` calls are checked against
their own first-run digest, taken here with Spark.  Every workload gets
digests for its own data set and for sf0.001, which the smoke tests use.
The api calls' input tables (``data/api_fixtures``) are rewritten first.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import (  # noqa: E402
    DATA_DIR, DIGESTS, digest, workloads, write_api_fixtures,
)


def main() -> int:
    from secdb_spark.registry import all_oracles
    from secdb_spark.session import get_spark
    from secdb_spark.verify import duckdb_connect

    refs: dict[str, dict] = {}
    oracles = all_oracles()
    spark = get_spark("perfbench-digests")
    seen = set()
    with tempfile.TemporaryDirectory() as tmp:
        write_api_fixtures(spark, os.path.join(tmp, "api_fixtures"))
        for wl in workloads().values():
            for sf in sorted({wl.sf, "sf0.001"}):
                data_dir = os.path.join(DATA_DIR, sf)
                thunks = wl.calls(spark, data_dir, os.path.join(tmp, wl.name, sf))
                con = duckdb_connect(data_dir)
                for label, (dataset, key) in wl.digest_keys(sf).items():
                    if (dataset, key) in seen:
                        continue
                    seen.add((dataset, key))
                    if key in oracles and dataset != "api":
                        pdf, source = con.execute(oracles[key]).fetchdf(), "duckdb"
                    else:
                        pdf, source = thunks[label]().toPandas(), "self"
                    refs.setdefault(dataset, {})[key] = {
                        "sha256": digest(pdf), "rows": len(pdf), "source": source,
                    }
                    print(f"{dataset:8s} {key:36s} {source:6s} {len(pdf)} rows",
                          flush=True)
                con.close()
    spark.stop()
    with open(DIGESTS, "w", encoding="utf-8") as fh:
        json.dump({k: dict(sorted(v.items())) for k, v in sorted(refs.items())},
                  fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
