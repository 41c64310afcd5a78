"""Size gates: every kernel choice under secdb_spark/operators/ asks one
predicate, `catalog.fits(sf_dir, bound, *tables)`, over one stamp-keyed
footer read.

- Forced above every bound (`conftest.above_gates`), each gated op must
  still match its DuckDB oracle, or its default-branch answer when it
  has none, and must really have asked the gates listed for it.
- An AST guard keeps every gate on the predicate: no footer count is
  compared with a bound outside `catalog`, `fits` is always reached as
  `catalog.fits` (the one seam a test patches), and every function that
  asks it is listed in GATED_OPS.
- The footer read is re-read when its file changes: a corpus rewritten
  at the same path gets the new file's row count and timestamp unit."""

from __future__ import annotations

import ast
import pathlib
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR

from secdb_spark import catalog
from secdb_spark.registry import all_oracles, all_queries
from secdb_spark.verify import canon_rows, compare_frames

QUERIES = all_queries()
ORACLES = all_oracles()
OPS_DIR = pathlib.Path(__file__).resolve().parent.parent / "secdb_spark" / "operators"

#: registered op -> the (file, function) of each gate it asks; together
#: they cover every `catalog.fits` and `spread_scan` call under operators/
GATED_OPS = {
    "agg_percentile_disc": {("warehouse_extras8.py", "agg_percentile_disc")},
    "agg_trimmed_mean": {("warehouse_extras36.py", "agg_trimmed_mean")},
    "agg_weighted_median": {("warehouse_extras5.py", "agg_weighted_median")},
    "ann_pq_adc_topk": {("curation_extras.py", "ann_pq_adc_topk")},
    "customer_rfm": {("warehouse_extras.py", "customer_rfm")},
    "data_profile": {("warehouse_extras2.py", "data_profile")},
    "decile_lift_table": {("warehouse_extras32.py", "decile_lift_table")},
    "dedup_near": {("llm_pipeline.py", "_dedup_near_pairs")},
    "dedup_shingle": {("warehouse_extras.py", "dedup_shingle")},
    "embed_coreset": {("curation_extras.py", "embed_coreset")},
    "embed_neardup": {("llm_pipeline.py", "embed_neardup")},
    "feat_quantile_bin": {("similarity_extras.py", "feat_quantile_bin")},
    "gap_expfit_ks": {("warehouse_extras17.py", "gap_expfit_ks")},
    "graph_kcore": {("warehouse_extras22.py", "graph_kcore")},
    "heaps_law_fit": {("curation_extras2.py", "heaps_law_fit")},
    "heavy_user_concentration": {
        ("warehouse_extras23.py", "heavy_user_concentration")
    },
    "ivf_eval": {("eval_extras.py", "ivf_eval")},
    "knn_label_eval": {("warehouse_extras16.py", "knn_label_eval")},
    "length_pareto_ks": {("corpus_extras2.py", "length_pareto_ks")},
    "lsh_candidates": {("warehouse_extras3.py", "_lsh_group_pairs")},
    "lsh_eval": {("recsys_extras.py", "lsh_eval")},
    "part_abc_pareto": {("warehouse_extras.py", "part_abc_pareto")},
    "reorder_interval_percentiles": {
        ("warehouse_extras15.py", "reorder_interval_percentiles")
    },
    "seq_pack": {("text_analysis.py", "seq_pack")},
    "ship_lag_percentiles": {("warehouse_extras30.py", "ship_lag_percentiles")},
    "sim_containment": {("similarity_extras.py", "sim_containment")},
    "sim_cosine_topk": {("llm_pipeline.py", "_cosine_topk_exact")},
    "sim_jaccard": {
        ("llm_pipeline.py", "sim_jaccard"),
        ("llm_pipeline.py", "_spread_docs"),
    },
    "skyline_2d": {("warehouse_extras3.py", "skyline_2d")},
    "source_length_ks": {("warehouse_extras13.py", "source_length_ks")},
    "spearman_corr": {("warehouse_extras19.py", "midrank2")},
    "stat_ks_2samp": {("stats_extras2.py", "stat_ks_2samp")},
    "stat_levene": {("stats_extras3.py", "stat_levene")},
    "stat_mannwhitney": {("stats_extras2.py", "stat_mannwhitney")},
    "vocab_growth": {("variance_extras.py", "vocab_growth")},
    "win_ntile": {("windows.py", "win_ntile")},
}


def _asker(frame) -> tuple[str, str]:
    """(file, function) of the first frame outside catalog.py: the
    operator code that asked the gate, directly or via `spread_scan`."""
    while frame.f_code.co_filename == catalog.__file__:
        frame = frame.f_back
    return (pathlib.Path(frame.f_code.co_filename).name, frame.f_code.co_name)


@pytest.mark.parametrize("name", sorted(GATED_OPS))
def test_above_gate_matches_oracle(name, spark, duck, monkeypatch):
    if name not in ORACLES:
        default = canon_rows(QUERIES[name](spark, SF_DIR).toPandas())
    asked = set()

    def above(*_):
        asked.add(_asker(sys._getframe(1)))
        return False

    monkeypatch.setattr(catalog, "fits", above)
    got = QUERIES[name](spark, SF_DIR).toPandas()
    assert GATED_OPS[name] <= asked, f"{name} asked only {sorted(asked)}"
    if name in ORACLES:
        res = compare_frames(name, got, duck.execute(ORACLES[name]).fetchdf())
        assert res.ok, res.detail
    else:
        assert canon_rows(got) == default


# --- AST guard: every gate asks the predicate -----------------------------

_FOOTER_COUNTS = {"footers", "table_rows", "table_split_units"}


def _called(node) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _trees():
    for path in sorted(OPS_DIR.glob("*.py")):
        yield path.name, ast.parse(path.read_text())


def test_no_footer_count_is_compared_outside_catalog():
    """A footer count under operators/ only ever becomes a plan literal,
    `F.lit(catalog.table_rows(...))`; a size comparison is a call of
    `catalog.fits` through the module, never a name imported from it."""
    bad = []
    for fname, tree in _trees():
        literal = {
            id(a) for n in ast.walk(tree) if _called(n) == "lit" for a in n.args
        }
        for n in ast.walk(tree):
            if _called(n) in _FOOTER_COUNTS and id(n) not in literal:
                bad.append((fname, n.lineno, ast.unparse(n)))
            elif _called(n) == "fits" and not (
                isinstance(n.func, ast.Attribute)
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == "catalog"
            ):
                bad.append((fname, n.lineno, ast.unparse(n)))
            elif isinstance(n, ast.ImportFrom) and n.module == "catalog":
                names = {a.name for a in n.names} & (_FOOTER_COUNTS | {"fits"})
                bad += [(fname, n.lineno, f"imports {x}") for x in sorted(names)]
    assert not bad, f"footer counts used outside catalog.fits: {bad}"


def _gate_sites() -> set[tuple[str, str]]:
    """(file, innermost function) of every `catalog.fits` or
    `spread_scan` call under operators/."""
    sites = set()
    for fname, tree in _trees():

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if _called(node) in ("fits", "spread_scan"):
                sites.add((fname, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    return sites


def test_every_gate_is_forced():
    listed = set().union(*GATED_OPS.values())
    sites = _gate_sites()
    assert not sites - listed, f"gates no forced op asks: {sorted(sites - listed)}"
    assert not listed - sites, f"listed gates that are gone: {sorted(listed - sites)}"


# --- the footer read follows the file -------------------------------------


def test_rewritten_events_file_is_read_again(spark, tmp_path):
    """events.parquet rewritten at the same path with another timestamp
    unit and row count: the footer reads and `catalog.table` give the new
    file's answers, not the first read's."""
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copyfile)
    path = f"{sf}/events.parquet"

    def ts_by_event():
        ev = catalog.table(spark, sf, "events").select("event_id", "ts")
        return dict(ev.collect())

    first = ts_by_event()
    assert catalog.events_ts_unit(sf) == "us"
    assert catalog.table_rows(sf, "events") == len(first)

    t = pq.read_table(path).slice(0, len(first) // 4)
    i = t.schema.get_field_index("ts")
    ns = t.column(i).cast(pa.timestamp("ns"))
    pq.write_table(t.set_column(i, pa.field("ts", ns.type), ns), path)

    assert catalog.events_ts_unit(sf) == "ns"
    assert catalog.table_rows(sf, "events") == t.num_rows
    kept = t.column("event_id").to_pylist()
    assert ts_by_event() == {e: first[e] for e in kept}
