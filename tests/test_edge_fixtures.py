"""Degenerate-input oracle checks: indicator queries and the bucketed
streaming ATR against their DuckDB oracles on `events` fixtures derived
with tools/make_edge_fixture.py — empty, one event per key, and tied
`ts` within a key — written under the pytest temp root, never into the
source fixture directory."""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from big_data_share_market_spark.registry import all_queries
from tools.make_edge_fixture import CASES, make_edge_fixtures

from .conftest import SF_DIR, assert_parity

_QUERIES = all_queries()
#: stream_atr_per_key runs its state per hash bucket of keys: one event
#: per key and tied `ts` are where one key's state could leak into the
#: next key's run.
_EDGE_QUERIES = ("sma", "ema", "signal_case", "heikin_ashi",
                 "stream_atr_per_key")


@pytest.fixture(scope="module")
def edge_dirs(tmp_path_factory):
    return make_edge_fixtures(SF_DIR, str(tmp_path_factory.mktemp("edge")))


def test_edge_fixtures_have_their_shape(edge_dirs):
    """Each derived fixture really is the degenerate case it names."""
    def events(case):
        return pq.read_table(f"{edge_dirs[case]}/events.parquet").to_pandas()

    assert len(events("empty_events")) == 0
    one = events("one_event_per_key")
    assert len(one) > 0 and one["user_id"].is_unique
    tied = events("tied_ts")
    assert len(tied) == len(pq.read_table(f"{SF_DIR}/events.parquet"))
    assert tied.duplicated(["user_id", "ts"]).any()


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("name", _EDGE_QUERIES)
def test_edge_fixture_oracle_parity(spark, edge_dirs, name, case):
    sf_dir = edge_dirs[case]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        fn, sql = _QUERIES[name]
        assert_parity(fn(spark, sf_dir), con, sql, name=f"{name} on {case}")
    finally:
        con.close()
