from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from optiprism_spark.session import get_spark

    # get_spark's default driver heap (48g) lets the suite's JVM grow
    # past the host's memory: on a 4 vCPU / 15 GB host its RSS peaked
    # at 14.5-15.6 GB in a full run and the kernel OOM-killed it twice
    # mid-suite. An 8g heap keeps it inside the host.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("optiprism_spark_tests", cpus=8)
    yield s


def drop_table_clean(spark, name: str) -> None:
    """DROP TABLE plus rmtree of any ORPHANED warehouse directory —
    debris of a crashed/killed run whose in-memory catalog died with
    the process (catalog entry gone, files still on disk). A later
    saveAsTable on the same fixed name then fails with
    LOCATION_ALREADY_EXISTS even though DROP TABLE IF EXISTS ran
    (r12 verdict: 15 lifecycle setup errors + 1 collateral plan-assert
    failure from exactly this). Only for TEST-owned fixed table names —
    never engine state."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, name.lower()), ignore_errors=True)
