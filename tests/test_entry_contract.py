"""Replicates the round driver's correctness gate locally: every
``queries()`` entry runs in Spark at sf0.01 and must match its
``oracle_sql()`` DuckDB result — row count, schema (column names), and
order-insensitive values."""

import json
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


from scrapy_playwright_scrapegraphai_spark import entry_queries as EQ

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()

# demoted-from-contract variants (driver records at most 50 entries; see
# entry_queries.PYTEST_ONLY_QUERIES) keep full oracle parity here
ORACLES.update(EQ.PYTEST_ONLY_ORACLES)
QUERIES.update(
    {k: entry_mod._with_pyfiles(fn) for k, fn in EQ.PYTEST_ONLY_QUERIES.items()}
)


def test_contract_size_within_driver_cap():
    # the round-4 driver silently recorded only the first 50 dict entries;
    # every contract query must land in CORRECTNESS_r{N}.json
    names = set(entry_mod.queries())
    assert len(names) == 50
    assert set(entry_mod.oracle_sql()) == names
    # a refactor cannot drop a query the benchmark times: the contract is
    # exactly the benchmark's per-layer query.<name>_s metrics
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        layers = [m["name"] for m in json.load(fh)["per_layer"]]
    timed = {n[len("query."):-len("_s")] for n in layers
             if n.startswith("query.") and n.endswith("_s")}
    assert names == timed
    assert not names & set(EQ.PYTEST_ONLY_QUERIES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["user_id", "event_id", "rank"]


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    got = _normalize(QUERIES[name](spark, SF).toPandas())
    want = _normalize(duck.execute(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    for col in got.columns:
        a, b = got[col], want[col]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            pd.testing.assert_series_equal(
                a.astype("float64"), b.astype("float64"),
                check_names=False, check_exact=True,
            )
        else:
            assert a.astype(str).tolist() == b.astype(str).tolist(), (
                f"{name}: value mismatch in {col}"
            )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0  # runs and has a stable schema
    assert len(df.columns) > 0
