from __future__ import annotations

import contextlib
import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_pyspark_bigdata_spark.session import get_spark  # noqa: E402
from tools.check_oracle import TABLES, compare  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con


def edge_table(spark, d: str, table: str, rows, schema: str):
    """Write ``rows`` (with Spark DDL ``schema``) as ``table`` of an edge
    fixture in directory ``d``, and return a DuckDB connection with a view
    of that table. Queries read the fixture with ``sf_dir=d``."""
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{d}/{table}.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{d}/{table}.parquet/*.parquet')"
    )
    return con


def assert_oracle_match(spark, duck, fn, sql, sf_dir=SF_SMOKE):
    """Spark-vs-DuckDB compare (same normalization as tools/check_oracle)."""
    sdf = fn(spark, sf_dir).toPandas()
    odf = duck.execute(sql).df()
    problems = compare("q", sdf, odf)
    assert not problems, problems
    return sdf


def oracle_test(*mods):
    """The sf0.001 oracle-match test over every query that ``mods``
    register with oracle SQL, one case per query named after it. A test
    module binds it once (``test_x_oracle = oracle_test(x)``), so the
    cases follow each module's ``QUERIES`` and keep the module's test ids;
    ``oracle_modules`` records ``mods`` for the registry guard that every
    query module is bound somewhere. A query must stop every stream it
    starts."""
    cases = [(fn, sql) for m in mods for fn, sql in m.QUERIES.items() if sql]

    @pytest.mark.parametrize("fn,sql", cases, ids=[fn.__name__ for fn, _ in cases])
    def test(spark, duck, fn, sql):
        assert_oracle_match(spark, duck, fn, sql)
        assert not spark.streams.active, "a query left a stream running"

    test.oracle_modules = mods
    return test


@contextlib.contextmanager
def no_spark_job(spark, what: str):
    """Assert that the ``with`` block, on this thread, starts no Spark job:
    the block runs under a fresh job group, whose job list must be empty
    on exit."""
    sc = spark.sparkContext
    group = f"no-job-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"{what} must not start Spark jobs")
    try:
        yield
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs == [], f"{what} started Spark jobs {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
