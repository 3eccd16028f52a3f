import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smartbots_etl_facturas_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session", autouse=True)
def _testdata_schema_guard():
    """Fail the whole session with ONE clear message when the harness
    has regenerated /root/testdata with a drifted schema (it has
    changed events.ts's physical type between rounds before), instead
    of dozens of cryptic downstream failures. Schema-footer reads
    only — no data IO."""
    from scripts.check_schemas import check_dir, load_expected

    expected = load_expected()
    problems = []
    for d in {SF_DIR, SF_DIR_ORACLE}:
        if os.path.isdir(d):
            problems.extend(check_dir(d, expected))
    if problems:
        pytest.fail(
            "testdata schema drift (driver regenerated /root/testdata):\n  "
            + "\n  ".join(problems)
            + "\nUpdate readers/oracles, then scripts/expected_schemas.json.",
            pytrace=False,
        )


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("smartbots-etl-facturas-spark-tests", master=f"local[{cpus}]",
                      shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def perfbench_workloads():
    """``perfbench/workloads.py``: the benchmark's inbox generator,
    ingest oracle and plan probes (its modules import each other by
    bare name, so their directory goes on ``sys.path``)."""
    here = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
    if here not in sys.path:
        sys.path.append(here)
    import workloads

    return workloads
