from __future__ import annotations

import pytest

from formula1_etl_analytics_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="formula1-etl-analytics-spark-tests", cpus=8)
    yield s
