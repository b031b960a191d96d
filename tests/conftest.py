from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under a dedicated job group; return (result, #jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count probe", False)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None, False)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from doc2vec_spark.session import get_spark

    s = get_spark("doc2vec-spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from doc2vec_spark.tables import TABLES

    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
