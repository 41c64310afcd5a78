"""`session.memo`, the one process-level memo of computed results: an
entry is reused only while the Spark application and every file it read
are unchanged, so a corpus rewritten at the same path is read again."""

from __future__ import annotations

import shutil
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_DIR

from secdb_spark import session


def _app(app_id: str):
    """Stands in for a SparkSession: `memo` reads only its applicationId."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_hits_until_an_input_or_the_application_changes(tmp_path):
    session.clear_memos()
    f = tmp_path / "in.txt"
    f.write_text("a")
    calls = []

    def build():
        calls.append(1)
        return object()

    v = session.memo(_app("a1"), ("k",), [str(f)], build)
    assert session.memo(_app("a1"), ("k",), [str(f)], build) is v
    assert len(calls) == 1
    f.write_text("ab")  # rewritten at the same path
    assert session.memo(_app("a1"), ("k",), [str(f)], build) is not v
    session.memo(_app("a2"), ("k",), [str(f)], build)  # a new application
    assert len(calls) == 3
    for i in range(session._MEMO_MAX):
        session.memo(_app("a2"), ("other", i), [], build)
    assert ("k",) not in session._MEMO  # the oldest entry went first
    assert len(session._MEMO) == session._MEMO_MAX
    session.clear_memos()
    assert not session._MEMO


class _Context:
    """Stands in for a SparkContext: counts its applicationId reads."""

    def __init__(self, app_id: str):
        self.app_id, self.reads = app_id, 0

    @property
    def applicationId(self):
        self.reads += 1
        return self.app_id


def test_memo_reads_the_application_id_once_per_context():
    session.clear_memos()
    calls = []

    def build():
        calls.append(1)
        return object()

    ctx = _Context("a1")
    spark = SimpleNamespace(sparkContext=ctx)
    v = session.memo(spark, ("k",), [], build)
    for _ in range(3):
        assert session.memo(spark, ("k",), [], build) is v
    assert ctx.reads == 1  # hits under the same context make no read
    fresh = _Context("a2")  # a new context misses
    assert session.memo(SimpleNamespace(sparkContext=fresh), ("k",), [], build) is not v
    assert fresh.reads == 1 and len(calls) == 2
    session.clear_memos()


def _suffix_tokens(path) -> None:
    """Rewrite documents.parquet in place with every token suffixed, so
    the corpus's dictionary changes and its row count does not."""
    t = pq.read_table(path)
    i = t.schema.get_field_index("text")
    text = [" ".join(tok + "_v2" for tok in s.split(" "))
            for s in t.column(i).to_pylist()]
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(text)), path)


def test_rewritten_corpus_is_not_served_a_stale_dictionary(spark, tmp_path):
    """dedup_near's mask kernel takes the corpus dictionary from the
    memo; after documents.parquet is rewritten at the same path, the
    next call must answer as a cold call does."""
    from secdb_spark.registry import all_queries

    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copyfile)
    dedup_near = all_queries()["dedup_near"]
    assert dedup_near(spark, str(sf)).count() > 0
    _suffix_tokens(sf / "documents.parquet")
    after_rewrite = dedup_near(spark, str(sf)).count()
    session.clear_memos()
    cold = dedup_near(spark, str(sf)).count()
    assert cold > 0
    assert after_rewrite == cold
