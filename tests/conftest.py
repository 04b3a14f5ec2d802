import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from warpdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("warpdb-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def persisted_frames(spark):
    """Count of persisted RDDs minus local checkpoints: iterative
    operators ``localCheckpoint`` per round by design, and those stay
    registered as persisted until the JVM garbage-collects them."""

    def count():
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())

    return count


@pytest.fixture(scope="session")
def fixture_csv(tmp_path_factory):
    """The reference's 4-row data/test.csv:1-5, verbatim (FIXTURES.md §1.1)."""
    p = tmp_path_factory.mktemp("data") / "test.csv"
    p.write_text("price,quantity\n10.5,3\n20.0,4\n15.25,2\n30.0,5\n")
    return str(p)


@pytest.fixture(scope="session")
def extended_csv(tmp_path_factory):
    """data/extended.csv:1-5 (FIXTURES.md §1.3)."""
    p = tmp_path_factory.mktemp("data") / "extended.csv"
    p.write_text(
        "price,quantity,discount\n10.5,3,0.1\n20.0,4,0.2\n15.25,2,0.05\n30.0,5,0.15\n"
    )
    return str(p)


@pytest.fixture(scope="session")
def fixture_json(tmp_path_factory):
    """data/test.json NDJSON fixture (FIXTURES.md §1.2)."""
    p = tmp_path_factory.mktemp("data") / "test.json"
    p.write_text(
        '{"price": 10.5, "quantity": 3}\n{"price": 20.0, "quantity": 4}\n'
        '{"price": 15.25, "quantity": 2}\n{"price": 30.0, "quantity": 5}\n'
    )
    return str(p)
