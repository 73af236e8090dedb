from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pgstosrt_spark.session import get_spark

    s = get_spark("pgstosrt-tests", cpus=8)
    yield s
    s.stop()
