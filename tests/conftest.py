from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_2025_1_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def checkpointed(spark):
    """Formatted plans of the frames local-checkpointed while the test
    builds its queries, in order (``plans.explain.checkpointed_plans``)."""
    from bigdata_2025_1_spark.plans.explain import checkpointed_plans

    with checkpointed_plans(spark) as plans:
        yield plans


@pytest.fixture
def query_plan(checkpointed):
    """``query_plan(df)``: ``df``'s formatted plan followed by the plans
    of the frames the test has local-checkpointed so far — the whole
    shape the query runs, as the plan-text helpers of
    ``plans/explain.py`` read it."""
    from bigdata_2025_1_spark.plans.explain import whole_plan

    return lambda df: whole_plan(df, checkpointed)
