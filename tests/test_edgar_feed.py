"""EDGAR feed layer: parser golden values, offline-refusal dispatch,
and the registered op's contract."""

from __future__ import annotations

import pytest

from conftest import SF_DIR

from secdb_spark.operators import edgar_feed as ef
from secdb_spark.registry import all_queries

QUERIES = all_queries()


def test_parse_feed_golden():
    rows = ef.parse_feed(ef._fixture_feed_path())
    assert len(rows) == 6
    accs = [r[1] for r in rows]
    assert accs == sorted(accs) or len(set(accs)) == 6  # unique accessions
    first = rows[0]
    assert first[0] == "0000001000"
    assert first[2] == "10-Q"
    assert first[3] == "2024-03-31"
    assert first[5].endswith("-xbrl.zip")
    # the amendment is present with its /A form type
    assert any(r[2] == "10-Q/A" for r in rows)


def test_fetch_refuses_offline(monkeypatch, tmp_path):
    monkeypatch.delenv(ef.ALLOW_NETWORK_ENV, raising=False)
    assert not ef.network_allowed()
    with pytest.raises(RuntimeError, match="network fetch disabled"):
        ef.fetch_feed("https://example.invalid/feed.rss", str(tmp_path / "f"))


def test_fetch_dispatch_opt_in(monkeypatch, tmp_path):
    """With the env opt-in the gate opens and the stdlib fetch path runs
    (stubbed urlopen — no real socket in this container)."""
    monkeypatch.setenv(ef.ALLOW_NETWORK_ENV, "1")
    assert ef.network_allowed()

    import io
    import urllib.request

    class FakeResp(io.BytesIO):
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    monkeypatch.setattr(
        urllib.request, "urlopen", lambda url, timeout: FakeResp(b"<rss/>")
    )
    dest = str(tmp_path / "feed.xml")
    assert ef.fetch_feed("https://example.invalid/feed.rss", dest) == dest
    assert open(dest, "rb").read() == b"<rss/>"


def test_src_edgar_feed_matches_parser(spark):
    got = QUERIES["src_edgar_feed"](spark, SF_DIR).toPandas()
    rows = ef.parse_feed(ef._fixture_feed_path())
    assert len(got) == len(rows)
    assert list(got.columns) == ef.FEED_COLS
    got_t = {tuple(r) for r in got.itertuples(index=False)}
    assert got_t == set(rows)
