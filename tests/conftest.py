from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from ensembl_database_loader_spark.session import get_spark

    spark = get_spark(
        app_name="edl-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '4')}]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield spark


@pytest.fixture(autouse=True)
def _per_test_tempdir(tmp_path_factory, monkeypatch):
    """Point ``tempfile`` at a fresh directory for each test and remove
    it afterwards: probes and operators stage their indexes, stores and
    exports under ``tempfile.mkdtemp``. The directory comes from
    pytest's base temp dir, which is resolved before the switch."""
    d = tmp_path_factory.mktemp("tempfile")
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    yield
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables registered as views —
    mirrors the driver's oracle environment."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
