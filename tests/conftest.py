import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    from datavault4dbt_spark.context import configure_session_builder

    # the engine's SESSION_CONFS (static ones included), plus the
    # suite's local layout
    s = configure_session_builder(
        SparkSession.builder.master("local[8]")
        .appName("dv4dbt-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")).getOrCreate()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True, scope="module")
def _fresh_spark_cache():
    """Spark's cache is keyed on canonicalized PLANS, so a subtree
    persist()ed by one test (e.g. the bundle multi-consuming a full-width
    stage) silently substitutes an InMemoryRelation into a LATER test's
    identical subtree — defeating the scan properties (column pruning)
    that test asserts. Clear the cache at each module boundary so plan
    assertions always see cold scans (and cached leaks don't accumulate
    across the suite)."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()
    yield


def duck_con(sf_dir):
    """DuckDB connection with the driver's view layout."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, columns):
    """Order-insensitive canonical form: sort columns by name, stringify,
    sort rows — mirrors the driver's value-hash compare."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = [tuple(canon(r[i]) for i in idx) for r in rows]
    out.sort()
    return out


def compare_spark_duck(spark, sf_dir, spark_df, duck_sql):
    """Assert spark result == duckdb oracle result (driver-style)."""
    con = duck_con(sf_dir)
    d = con.execute(duck_sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    assert len(s_rows) == len(d_rows), (
        f"row count: spark={len(s_rows)} duck={len(d_rows)}")
    sn = normalize(s_rows, s_cols)
    dn = normalize(d_rows, d_cols)
    diffs = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not diffs, f"{len(diffs)} row diffs; first: {diffs[0]}"
