import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def fixture_pdfs():
    from sparkpdf.testing.fixtures import all_fixtures

    return all_fixtures()


@pytest.fixture(scope="session")
def spark():
    from sparkpdf.session import get_spark

    s = get_spark(app_name="sparkpdf-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()
