from __future__ import annotations

import pytest

from openmrs_module_epts_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("epts-etl-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_leaked_streaming_query(request):
    """Stop any streaming query a test leaves active on the shared session,
    and fail that test: a live query keeps consuming CPU under every later
    test and may never terminate on its own."""
    yield
    if "spark" not in request.fixturenames:
        return
    leaked = request.getfixturevalue("spark").streams.active
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail(
            f"test left {len(leaked)} streaming query(ies) active: "
            f"{[q.name or q.id for q in leaked]}"
        )
