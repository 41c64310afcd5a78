"""Global-window gates: plan pins that the above-gate kernels contain no
single-partition Sort/Window feed, and a source-level sweep that CLOSES
THE CLASS: any new ungated global window in the operators package — a
partition-less ordering or a bare whole-frame `Window.partitionBy()` —
fails the sweep until it is either gated on GLOBAL_WINDOW_GATE (through
`catalog.fits`) or consciously allowlisted with a model-sized-input
justification.  That each gated op's above-gate kernel matches its
DuckDB oracle is pinned in tests/test_size_gates.py."""

from __future__ import annotations

import ast
import contextlib
import io
import pathlib

from conftest import SF_DIR, above_gates

from secdb_spark.registry import all_queries

QUERIES = all_queries()


def _single_partition_sort_parents(plan: str) -> list[str]:
    """Single-partition Exchanges whose consumer is a Sort/Window — the
    global-window funnel; a SinglePartition under a scalar HashAggregate
    is a 1-row total and fine at any scale."""
    lines = plan.splitlines()
    parents = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            parents.append(lines[i - 1] if i else "")
    return [p for p in parents if "Sort" in p or "Window" in p]


def test_scale_kernels_have_no_single_partition_window(spark, monkeypatch):
    above_gates(monkeypatch)
    for name in sorted(func for _, func in GATED_FUNCS):
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        bad = _single_partition_sort_parents(buf.getvalue())
        assert not bad, f"{name} scale kernel has a global-window funnel: {bad}"


# --- source sweep: the class is closed -----------------------------------
#
# Every global (partition-less) window in the operators package —
# `Window.orderBy`, `Window.rowsBetween`/`rangeBetween`, or
# `Window.partitionBy()` / `Window.partitionBy(*by)` whose `by` defaults
# to None/empty, ordered or not (an unordered one is a whole-frame
# aggregate, which also runs in one partition) — must be either
# (a) inside a function that dispatches on GLOBAL_WINDOW_GATE through
# `catalog.fits` (the below-gate branch of a dual kernel), or
# (b) allowlisted here with a model-sized-input justification.  Adding
# a new ungated site anywhere fails this test until it is gated or
# consciously added below.

OPS_DIR = pathlib.Path(__file__).resolve().parent.parent / "secdb_spark" / "operators"

#: (file, function) -> why a global window is safe there
#
# NOTE for auditors: every entry here runs its window over a model-sized
# (tens-of-rows) aggregate, so Spark's "No Partition Defined for Window
# operation ... moving all data to a single partition" WARN in selfcheck
# / pytest logs is EXPECTED for these ops and benign by construction —
# the single partition holds an already-reduced frame, not the base scan.
MODEL_SIZED_ALLOWLIST = {
    ("stats_extras.py", "survival_km"): "ordered and whole-frame windows over the distinct-event-time aggregates (study-duration-bounded)",
    ("sketch_extras.py", "bottomk_sample"): "row_number over the k-row TakeOrderedAndProject result",
    ("warehouse_extras4.py", "orders_open_backlog"): "running sum over the per-day aggregate (calendar-bounded)",
    ("warehouse_extras7.py", "zipf_slope"): "rank over the |vocab|-row term-frequency aggregate (vocabulary, not corpus, sizes the window)",
    ("warehouse_extras7.py", "cumulative_entities"): "running sum over the per-day aggregate (calendar-bounded)",
    ("warehouse_extras8.py", "rolling_corr"): "by=None: moment windows over ONE pre-bucketed series; ts_rolling_corr passes the per-day aggregate (calendar-bounded)",
    ("warehouse_extras9.py", "brand_rank_shift"): "ranking windows over the |brands|-row aggregate (model-sized)",
    ("warehouse_extras16.py", "customer_lorenz_deciles"): "cumulative share over the 10-row decile aggregate (customer ranking itself is the bucketed kernel)",
    ("corpus_extras2.py", "corpus_stopword_coverage"): "row_number over the k-row TakeOrderedAndProject result (sample_bottomk convention)",
    ("warehouse_extras23.py", "key_gap_audit"): "lag over the per-4096-key-block aggregate (|keyrange|/4096-sized; widen KEY_BLOCK for larger key spaces)",
    ("warehouse_extras32.py", "decile_lift_table"): "cumulative-share windows over the 10-row decile aggregate (customer ranking is the bucketed grouped_range_prefix_sum kernel, customer_lorenz_deciles convention)",
    ("warehouse_extras36.py", "bpe_merge_candidates"): "row_number over the k-row TakeOrderedAndProject result (sample_bottomk convention)",
    ("curation_extras2.py", "vocab_topk_coverage"): "rank over the |vocab|-row frequency aggregate (corpus_zipf_slope convention — vocabulary, not corpus, sizes the window)",
    ("warehouse_extras35.py", "ts_macd"): "EWMA lag chains over the |days|-row daily revenue aggregate (calendar-bounded series, win_ewma convention)",
    ("warehouse_extras38.py", "mix_token_budget"): "largest-remainder row_number and whole-frame total over the |sources|-row allocation aggregate (model-sized)",
    ("warehouse_extras4.py", "gini"): "by=None ranks the caller's whole frame as ONE population in one partition (docstring says so); agg_gini binds by=['c_nationkey'] over the per-customer spend aggregate",
    ("warehouse_extras6.py", "autocorr"): "by=None lags ONE pre-bucketed series (one row per order_col by contract, calendar-bounded); ts_autocorr binds by=['event_type'] over the daily aggregate",
    ("warehouse_extras8.py", "rsi"): "by=None windows ONE pre-bucketed close series (one row per order_col by contract, calendar-bounded); ts_rsi binds by=['event_type'] over the daily aggregate",
    ("windows.py", "ewma"): "by=None smooths the caller's whole frame as ONE series in one partition (docstring says so); win_ewma binds by=['user_id']",
    ("econ_extras.py", "chi2_independence"): "whole-frame margins over the |segments| x |priorities| contingency aggregate (25 cells)",
    ("ml_prep.py", "mix_apply"): "whole-frame total over the |sources|-row count aggregate (model-sized)",
    ("variance_extras.py", "first_touch_mix"): "whole-frame share over the |event types|-row first-event aggregate",
    ("warehouse_extras15.py", "session_depth_dist"): "whole-frame share over the <=10-row capped session-depth histogram",
    ("warehouse_extras15.py", "customer_order_count_dist"): "whole-frame share over the <=20-row capped orders-per-customer histogram",
    ("warehouse_extras32.py", "part_sourcing_breadth"): "whole-frame share over the <=|nations|-row sourcing-breadth histogram",
    ("warehouse_extras6.py", "mix_temperature"): "whole-frame totals over the |sources|-row count aggregate (model-sized)",
    ("warehouse_extras7.py", "orders_linecount_dist"): "whole-frame total over the lines-per-order histogram (max fan-out rows, ~7 in TPC-H)",
    ("warehouse_extras38.py", "weighted_sample"): "row_number over the k-row TakeOrderedAndProject result (sample_bottomk convention; priorities are map-side, the orderBy+limit is partial top-k per partition)",
}

#: functions whose global-window use is the below-gate branch of a
#: GLOBAL_WINDOW_GATE dual kernel (gate presence asserted below); each is
#: also a registered op, and their above-gate plans are pinned above
GATED_FUNCS = {
    ("windows.py", "win_ntile"),
    ("text_analysis.py", "seq_pack"),
    ("variance_extras.py", "vocab_growth"),
    ("similarity_extras.py", "feat_quantile_bin"),
    ("warehouse_extras3.py", "skyline_2d"),
    ("warehouse_extras.py", "customer_rfm"),
    ("warehouse_extras.py", "part_abc_pareto"),
    # not partition-less sites, but low-cardinality partitionBy funnels
    # gated the same way (16x probe finding)
    ("warehouse_extras5.py", "agg_weighted_median"),
    ("curation_extras.py", "embed_coreset"),
    ("warehouse_extras36.py", "agg_trimmed_mean"),
}


def _empty_default_params(fn) -> set[str]:
    """Parameters of `fn` that default to None or an empty list/tuple."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return {
        p.arg
        for p, d in pairs
        if (isinstance(d, ast.Constant) and d.value is None)
        or (isinstance(d, (ast.List, ast.Tuple)) and not d.elts)
    }


def _is_window(node) -> bool:
    return isinstance(node, ast.Name) and node.id == "Window"


def _is_partitionless(node, stack) -> bool:
    """`Window.partitionBy()`, or `Window.partitionBy(*by)` where every
    starred name is a parameter of an enclosing def that defaults to None
    or empty — the call's own default is a partition-less window."""
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
            and _is_window(node.func.value)
            and not node.keywords):
        return False
    empty = set().union(*(_empty_default_params(f) for f in stack))
    return all(
        isinstance(a, ast.Starred)
        and isinstance(a.value, ast.Name)
        and a.value.id in empty
        for a in node.args
    )


def _is_global_window(node, stack) -> bool:
    """A window spec with no partition: `Window.orderBy(...)`,
    `Window.rowsBetween(...)`, `Window.rangeBetween(...)`, or a
    partition-less `Window.partitionBy(...)` (ordered or bare)."""
    if (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("orderBy", "rowsBetween", "rangeBetween")
            and _is_window(node.func.value)):
        return True
    return _is_partitionless(node, stack)


def _global_window_sites():
    """(file, enclosing top-level def, lineno) for every partition-less
    window in the operators package."""
    sites = []
    for path in sorted(OPS_DIR.glob("*.py")):

        def visit(node, stack):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack = stack + [node]
            if _is_global_window(node, stack):
                func = stack[0].name if stack else None
                sites.append((path.name, func, node.lineno))
            for child in ast.iter_child_nodes(node):
                visit(child, stack)

        visit(ast.parse(path.read_text()), [])
    return sites


def test_no_ungated_global_windows_in_registry():
    allowed = set(MODEL_SIZED_ALLOWLIST) | GATED_FUNCS
    sites = _global_window_sites()
    unknown = [(f, fn, ln) for f, fn, ln in sites if (f, fn) not in allowed]
    assert not unknown, (
        "ungated global window outside the allowlist — gate it on "
        f"GLOBAL_WINDOW_GATE or justify it in MODEL_SIZED_ALLOWLIST: {unknown}"
    )


def test_allowlist_has_no_stale_entries():
    """An allowlist entry that matches no site hides nothing today and
    would silently admit a future one; GATED_FUNCS is exempt (its
    partitioned funnels are checked by the dispatch test below)."""
    live = {(f, fn) for f, fn, _ in _global_window_sites()}
    stale = sorted(set(MODEL_SIZED_ALLOWLIST) - live)
    assert not stale, f"MODEL_SIZED_ALLOWLIST entries match no site: {stale}"


def _asks_the_gate(func) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "fits"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "catalog"
        for n in ast.walk(func)
    )


def test_gated_funcs_actually_dispatch_on_the_gate():
    """The gate can't be silently deleted: every dual-kernel function
    must call `catalog.fits`."""
    defs = {
        (path.name, node.name): node
        for path in sorted(OPS_DIR.glob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
    }
    for key in sorted(GATED_FUNCS):
        assert key in defs, f"{key} not found"
        assert _asks_the_gate(defs[key]), f"{key} lost its catalog.fits dispatch"
