from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lachesis_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_CHECK = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lachesis_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from lachesis_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con


def canon(rows, colnames):
    """Driver-style canonical form: columns sorted by name, rows sorted,
    doubles rounded to 1e-6."""
    import math

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if isinstance(v, (int, bool)):
            return v
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def jobs_in_group(spark, group, run):
    """``run()``'s result and the number of Spark jobs it launched, counted
    through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_matches_oracle(spark_df, duck_con, sql):
    srows, scols = spark_df.collect(), spark_df.columns
    res = duck_con.execute(sql)
    drows = res.fetchall()
    dcols = [d[0] for d in res.description]
    assert sorted(scols) == sorted(dcols), f"columns {sorted(scols)} != {sorted(dcols)}"
    assert canon(srows, scols) == canon(drows, dcols)
