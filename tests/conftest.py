import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lsd_spark.catalog import TABLES, table_path  # noqa: E402

SF_DIR = os.environ.get("LSD_TEST_SF_DIR", "/root/testdata/sf0.01")
# the smallest catalog, next to SF_DIR: for plan-shape and reference-plan checks
SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.fixture(scope="session")
def spark():
    from lsd_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'")
    yield con
    con.close()
