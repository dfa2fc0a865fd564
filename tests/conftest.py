from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from dff.env import pick_local_dir

    builder = SparkSession.builder.master("local[4]").appName("dff-tests")
    local_dir = pick_local_dir()  # tmpfs iff capacity allows (dff/env.py)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    session = (
        builder.config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        # fixed pre-touched heap: see jobs/validate.py
        .config("spark.driver.extraJavaOptions", "-Xms4g -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(autouse=True)
def no_leaked_streaming_queries():
    """Fail a test that leaves a streaming query running, and stop the
    query so later tests neither fail for it nor share its cores.  Looks
    only at an already-running session; starts none."""
    yield
    session = SparkSession.getActiveSession()
    if session is None:
        return
    leaked = session.streams.active
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail(
            f"test left {len(leaked)} streaming queries active: "
            + ", ".join(q.name or str(q.id) for q in leaked)
        )
