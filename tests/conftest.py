"""Shared Spark session + tiny fixture frames for the test suite."""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from yahoofinancedatalake_spark.session import boundary_scope, get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """The suite's one session. Its JVM (java.io.tmpdir), its Python
    workers (TMPDIR) and the test process (tempfile.tempdir) keep their
    temp entries under a private root inside pytest's base temp dir,
    so a test that diffs the temp dir sees this run's entries and no
    other process's."""
    root = str(tmp_path_factory.mktemp("tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = root
    return get_spark(
        "tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}"},
    )


@pytest.fixture(autouse=True)
def _test_boundaries():
    """The stage boundaries a test takes (directly, or through
    ``Query.spark`` and the operators) are released when it ends, so
    no test leaves blocks pinned in the shared session until a driver
    GC."""
    with boundary_scope():
        yield


@pytest.fixture(scope="session")
def stocks_df(spark):
    """Tiny reference-shaped stocks table (FIXTURES.md A1)."""
    rows = [
        ("AAPL", "2024-01-02", 100.0, 106.0, 99.0, 105.0, 1_000_000,
         "2024-01-02T21:00:00Z"),
        ("AAPL", "2024-01-03", 105.0, 105.5, 101.0, 102.0, 1_200_000,
         "2024-01-03T21:00:00Z"),
        ("AAPL", "2024-01-04", 102.0, 110.0, 102.0, 108.0, 900_000,
         "2024-01-04T21:00:00Z"),
        ("MSFT", "2024-01-02", 370.0, 376.0, 369.0, 375.0, 2_000_000,
         "2024-01-02T21:00:00Z"),
        ("MSFT", "2024-01-03", 375.0, 380.0, 360.0, 362.0, 2_500_000,
         "2024-01-03T21:00:00Z"),
    ]
    from yahoofinancedatalake_spark.schemas import STOCKS_RAW

    return spark.createDataFrame(rows, STOCKS_RAW)


@pytest.fixture(scope="session")
def news_df(spark):
    rows = [
        ("n1", "AAPL", "Great record profit, strong growth",
         "Analysts see a rally", "2024-01-02T10:00:00Z", "Wire", "company",
         "http://x/1", "", 0.8, "positive", "2024-01-02T21:00:00Z"),
        ("n1", "AAPL", "Great record profit, strong growth",
         "Analysts see a rally", "2024-01-02T10:00:00Z", "Wire", "company",
         "http://x/1", "", 0.8, "positive", "2024-01-02T21:00:00Z"),
        ("n2", "AAPL", "Lawsuit risk and weak decline",
         "Fear of a crash", "2024-01-03T10:00:00Z", "Post", "company",
         "http://x/2", "", -0.7, "negative", "2024-01-03T21:00:00Z"),
        ("n3", "MSFT", "Quarterly report released",
         "Numbers in line", "2024-01-02T12:00:00Z", "Wire", "business",
         "http://x/3", "", 0.0, "neutral", "2024-01-02T21:00:00Z"),
        ("n0", "MSFT", "Pre-epoch artifact", "", "1970-01-01T00:00:00Z",
         "Wire", "company", "http://x/0", "", 0.0, "neutral",
         "2024-01-02T21:00:00Z"),
    ]
    from yahoofinancedatalake_spark.schemas import NEWS_RAW

    return spark.createDataFrame(rows, NEWS_RAW)


@pytest.fixture(scope="session")
def company_df(spark):
    rows = [
        ("AAPL", "Apple Inc.", "Technology", "Consumer Electronics",
         "United States", 3_000_000_000_000, "USD", "2024-01-02T21:00:00Z"),
        ("MSFT", "Microsoft", "Technology", "Software",
         "United States", 2_800_000_000_000, "USD", "2024-01-02T21:00:00Z"),
    ]
    from yahoofinancedatalake_spark.schemas import COMPANY_RAW

    return spark.createDataFrame(rows, COMPANY_RAW)
