import os
import sys

import pytest

# the checkout this conftest lives in, so a second clone tests its own engine
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pgsf_spark.session import get_spark

    s = get_spark("pgsf_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def tmp_store(spark, tmp_path):
    from pgsf_spark.operators.table_store import TableStore

    return TableStore(spark, str(tmp_path / "store"))


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def empty_sf_dir(spark, tmp_path_factory):
    """A sf dir whose tables all have the right schema and ZERO rows
    (used by test_empty_inputs.py)."""
    from pgsf_spark.tables import TABLES, load_table

    root = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sparklane: test touches a SparkSession (auto-applied; the slow lane)."
        " Fast lane = `-m 'not sparklane'` -- pure-Python units, lints, and"
        " doc/protocol pins that run in seconds.",
    )


def pytest_collection_modifyitems(config, items):
    """Auto-split the suite into lanes (VERDICT r12 ask #6).

    Any test that requests a Spark-touching fixture (directly or
    transitively) is marked ``sparklane``; everything else is the fast
    lane. The close ritual runs the WHOLE suite; mid-round iteration can
    run ``-m 'not sparklane'`` (~seconds) between Spark-lane runs, which
    keeps the ritual runnable twice per round as the suite grows."""
    # item.fixturenames is the TRANSITIVE fixture closure, so "spark"
    # alone catches tests reaching it through tmp_store/empty_sf_dir too;
    # only a fixture that builds a session WITHOUT requesting `spark`
    # would need adding here.
    for item in items:
        if "spark" in set(getattr(item, "fixturenames", ())):
            item.add_marker(pytest.mark.sparklane)
