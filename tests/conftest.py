from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from storm_data_etl_service_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


#: skip reason shared by the Go byte-parity tests that need the
#: reference checkout's 271-record golden fixture
_REFERENCE_SKIP_REASON = "reference fixture not available"


def pytest_terminal_summary(terminalreporter):
    """Report the reference-parity skips by count and reason, so a run
    without the golden fixture says what it did not check."""
    n = sum(
        _REFERENCE_SKIP_REASON in str(r.longrepr)
        for r in terminalreporter.stats.get("skipped", [])
    )
    if n:
        terminalreporter.write_sep("-", "reference parity")
        terminalreporter.write_line(
            f"{n} reference byte-parity tests skipped: {_REFERENCE_SKIP_REASON}"
        )
