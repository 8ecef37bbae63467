import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkedin_iceberg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _slow_test_ids() -> set:
    """Node ids (tests/file.py::test[param]) of the slow tier — the
    longest stress/fuzz/sweep tests, measured with --durations=0 (r12);
    kept as a data file so the tier is auditable and regenerable."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "slow_tests.txt")
    try:
        with open(path) as fh:
            return {ln.strip() for ln in fh
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return set()


FULL_SUITE = 'python -m pytest tests/ -q -m "slow or not slow"'


def pytest_report_header(config):
    n = len(_slow_test_ids())
    if config.getoption("markexpr", "") == "not slow":
        return (f"slow tier: {n} tests in tests/slow_tests.txt deselected; "
                f"full suite: {FULL_SUITE}")
    return f"slow tier: {n} tests in tests/slow_tests.txt"


def pytest_collection_modifyitems(config, items):
    slow = _slow_test_ids()
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


@pytest.fixture()
def catalog(spark, warehouse):
    from linkedin_iceberg_spark import Catalog
    return Catalog(spark, warehouse)


def duckdb_oracle(sql: str, sf_dir: str = SF_DIR):
    """Run SQL against DuckDB with the testdata registered as views."""
    import duckdb
    con = duckdb.connect()
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con.execute(sql).fetchdf()


def assert_df_equals_oracle(spark_df, oracle_sql: str, sf_dir: str = SF_DIR,
                            sort_by=None):
    """Order-insensitive comparison of a Spark DF vs DuckDB result."""
    import math

    import pandas as pd

    actual = spark_df.toPandas()
    expected = duckdb_oracle(oracle_sql, sf_dir)
    assert sorted(actual.columns) == sorted(expected.columns), \
        f"columns differ: {sorted(actual.columns)} vs {sorted(expected.columns)}"
    cols = sorted(actual.columns)
    actual = actual[cols]
    expected = expected[cols]
    assert len(actual) == len(expected), \
        f"row count differs: {len(actual)} vs {len(expected)}"

    def norm(df):
        out = df.copy()
        for c in out.columns:
            if pd.api.types.is_datetime64_any_dtype(out[c]):
                out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
            elif pd.api.types.is_float_dtype(out[c]):
                out[c] = out[c].round(6)
        return out.sort_values(by=list(out.columns), ignore_index=True)

    a, e = norm(actual), norm(expected)
    pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False,
                                  rtol=1e-5, atol=1e-8)
