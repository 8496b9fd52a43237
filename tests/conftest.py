from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vizlinc_ingester_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# get_spark's 16g default driver heap is as large as a 16 GB test box's
# RAM: cached and checkpointed blocks fill it over the full suite until
# the kernel OOM-kills the JVM and every later Spark test fails. The
# sf0.001 suite needs far less; an explicit SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "8g")


def _find_jdbc_jar() -> str | None:
    """Locate an embedded-database JDBC driver jar (DuckDB) so the S6
    JDBC export path can be exercised against a real driver."""
    import glob

    for pat in (
        "/root/.cache/coursier/**/duckdb_jdbc*.jar",
        os.path.expanduser("~/.m2/**/duckdb_jdbc*.jar"),
    ):
        hits = glob.glob(pat, recursive=True)
        if hits:
            return sorted(hits)[-1]
    return None


JDBC_JAR = _find_jdbc_jar()
if JDBC_JAR and not os.environ.get("SPARK_GRAFT_EXTRA_JARS"):
    os.environ["SPARK_GRAFT_EXTRA_JARS"] = JDBC_JAR


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("vizlinc-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
