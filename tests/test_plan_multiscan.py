"""Plan-level multiscan regression guard (SCALE.md §50).

Catalyst has no cross-DAG common-subexpression elimination: every extra
consumer of a DataFrame re-executes its whole upstream, down to the
scans.  Round 8's registry-wide plan audit (tools/plan_audit.py) found
76 operators re-scanning a table 3-166x and fixed them by pinning
(eager localCheckpoint) their model-sized multi-consumer frames.

This test pins the class shut on a REPRESENTATIVE SAMPLE — the former
worst offenders, one per fixed shape — by re-deriving each op's final
plan and asserting no table is scanned >= 3 times.  The full sweep
stays in tools/plan_audit.py (run it per batch); this subset keeps the
suite fast while making the worst regressions impossible to ship
silently.
"""

from __future__ import annotations

import pytest

from tools.plan_audit import ALLOWED_MULTISCAN, audit_one

SF_DIR = "/root/testdata/sf0.001"

# one per fixed shape: iterative peel, star-agg diamond, hash-branch
# union, grouped prefix-sum kernel, eval pipeline, postings self-join,
# LM scoring, window stage-chain, SQL-surface allowlist boundary
SAMPLE = [
    "graph_kcore",            # was 166 scans (3^rounds recompute)
    "stat_levene",            # was 23 (kernel + caller diamonds)
    "brand_nation_lift",      # was 20 (4-consumer cell aggregate)
    "bloom_build",            # was 14 (per-hash union branches)
    "lsh_eval",               # was 12 (truth/cand/hit fan)
    "ivf_eval",               # was 12 (ex/iv self-joins, now 1-pass)
    "dedup_near",             # was 18 (8x banded signature reuse)
    "sim_jaccard",            # was 6 (shared _jaccard_pairs kernel)
    "text_unigram_logprob",   # was 3 ("Catalyst reuses" assumption)
    "decile_lift_table",      # was 6 (grouped_range_prefix_sum callers)
]


@pytest.mark.parametrize("op", SAMPLE)
def test_no_multiscan_regression(spark, op):
    from secdb_spark.registry import all_queries

    per_path, _ = audit_one(op, all_queries()[op], spark, SF_DIR)
    worst = max(per_path.values(), default=0)
    assert worst < 3 or op in ALLOWED_MULTISCAN, (
        f"{op} re-scans one table {worst}x — a multi-consumer frame lost "
        f"its pin (see tools/plan_audit.py, SCALE.md §50): {dict(per_path)}"
    )
