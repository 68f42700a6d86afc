"""Shared fixtures: one SparkSession + one DuckDB oracle connection per run.

``SPARK_GRAFT_TEST_SF`` picks the scale-factor dir (default sf0.01 — the same
scale the driver's correctness gate runs at).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_etl_sh_lianjia_spark.session import TABLES, get_spark, table_path

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(TEST_SF_DIR, t)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture()
def first_read(spark):
    """``first_read(sf_dir, *artifacts)``: read declared artifacts of an
    ingested sf_dir once through the serving path's build-on-first-read
    hook (when none are named: every declared artifact whose source
    tables the sf_dir has), so later commits maintain them. Returns the
    managed dir."""
    from data_etl_sh_lianjia_spark import session as sess

    def read(sf_dir, *artifacts):
        out_dir = spark._lianjia_ingest_map[os.path.normpath(str(sf_dir))]
        if not artifacts:
            artifacts = [
                rel
                for rel, a in sess._ARTIFACTS.items()
                if all(
                    os.path.isdir(os.path.join(out_dir, f"{t}.parquet"))
                    for t in a["tables"]
                )
            ]
        for rel in artifacts:
            assert sess._ensure_artifact(spark, out_dir, rel), rel
        return out_dir

    return read
