"""Property test for join_asof — the hardest custom operator (SURVEY §7:
no native OSS Spark as-of). The union-tag + last_value window formulation
is compared against a brute-force model (for each purchase, scan ALL
events for the latest strictly-prior view by the same user) on generated
streams that force the edge cases: same-timestamp events, purchases
before any view, interleaved users.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from secdb_spark.registry import all_queries

QUERIES = all_queries()

# small discrete domains force ts collisions and interleavings
events_strategy = st.lists(
    st.tuples(
        st.integers(1, 3),  # user_id
        st.integers(0, 20),  # ts (coarse -> frequent exact collisions)
        st.sampled_from(["view", "purchase", "click"]),
    ),
    min_size=1,
    max_size=40,
)


def brute_force_asof(rows):
    """(purchase_id -> (view_id, view_ts)) by definition: latest view of the
    same user ordered STRICTLY BEFORE the purchase in (ts, event_id)."""
    out = {}
    for pid, (pu, pts, ptype) in enumerate(rows):
        if ptype != "purchase":
            continue
        best = None
        for vid, (vu, vts, vtype) in enumerate(rows):
            if vtype != "view" or vu != pu:
                continue
            if (vts, vid) < (pts, pid):  # strictly prior in (ts, event_id)
                if best is None or (rows[best][1], best) < (vts, vid):
                    best = vid
        out[pid] = best
    return out


@pytest.fixture(scope="module")
def run_asof(spark, tmp_path_factory):
    import uuid

    def run(rows):
        d = str(tmp_path_factory.mktemp(f"asof_{uuid.uuid4().hex[:6]}"))
        pdf = pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.to_datetime(
                    [f"2024-01-01 00:{t:02d}:00" for _, t, _ in rows]
                ).astype("datetime64[ns]"),
                "user_id": [u for u, _, _ in rows],
                "event_type": [ty for _, _, ty in rows],
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        pdf.to_parquet(f"{d}/events.parquet", index=False)
        out = QUERIES["join_asof"](spark, d).toPandas()
        return {
            int(r.purchase_id): (None if pd.isna(r.asof_view_id) else int(r.asof_view_id))
            for r in out.itertuples()
        }

    return run


@settings(max_examples=12, deadline=None)  # each example is a Spark job
@given(events_strategy)
def test_asof_matches_brute_force(run_asof, rows):
    expected = brute_force_asof(rows)
    got = run_asof(rows)
    assert got == expected
