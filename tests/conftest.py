from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from slowfast_feature_extractor_spark.session import get_spark  # noqa: E402
from slowfast_feature_extractor_spark.sources.pages import gen_pages  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"
# a directory name that ``inputFiles()`` lists percent-encoded
# (``with%20space%2541dir``): plan-time footer statistics must decode it
SCAN_DIR_ENCODED = "with space%41dir"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_pd():
    """Tiny deterministic pages fixture (FIXTURES.md §1)."""
    return gen_pages(n_hosts=6, paths_per_host=4, base_revisits=8, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pd):
    from slowfast_feature_extractor_spark.sources.pages import pages_spark_schema

    return spark.createDataFrame(pages_pd, schema=pages_spark_schema())


@pytest.fixture(scope="session")
def spark_for_hypothesis(spark):
    """Session-scoped alias (hypothesis forbids function-scoped
    fixtures); shared by every hypothesis-based test module."""
    return spark
