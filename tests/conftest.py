import os

import pytest

from arabicner_spark.session import session


@pytest.fixture(scope="session")
def spark():
    # the pinned job budgets were measured at 8 shuffle partitions
    s = session(os.environ.get("SPARK_TEST_MASTER", "local[4]"), shuffle_partitions=8)
    yield s
    s.stop()
