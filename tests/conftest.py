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

    # pinned rather than get_spark's default (half the host's memory,
    # capped at 48g — session.default_driver_memory), so the suite's
    # heap is the same on every host. The old fixed 48g default let the
    # suite's JVM outgrow a 4 vCPU / 15 GB host (RSS 14.5-15.6 GB, the
    # kernel OOM-killed it twice mid-suite); 8g keeps it inside.
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
