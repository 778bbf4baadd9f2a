from __future__ import annotations

import os

import pytest

from crowdsorsa_etl_spark.session import get_spark


def _slow_nodeids() -> set[str]:
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(path) as fh:
            return {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return set()


def pytest_collection_modifyitems(config, items):
    """Mark the measured-slow tests (tests/slow_tests.txt) with ``slow``.

    pytest.ini deselects them by default so the driver-visible tier
    finishes inside the driver's window; the round close runs the full
    suite with ``-m "slow or not slow"``. Stale list entries (renamed or
    removed tests) simply match nothing."""
    slow = _slow_nodeids()
    if not slow:
        return
    marker = pytest.mark.slow
    for item in items:
        if item.nodeid in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


#: .dbf layouts of the two season exports (field name, type, width, decimals)
SEASON_FIELDS = {
    2023: [
        ("id", "C", 16, 0),
        ("kuntakoodi", "C", 4, 0),
        ("havaittu", "C", 19, 0),
        ("laji", "C", 40, 0),
        ("torjunta", "C", 10, 0),
    ],
    2024: [
        ("tunniste", "C", 16, 0),
        ("kunta", "C", 40, 0),
        ("havaittu", "C", 10, 0),
        ("torjuttu", "C", 10, 0),
        ("laji", "C", 40, 0),
        ("tiheys", "N", 8, 2),
    ],
}


@pytest.fixture()
def season_zip(tmp_path):
    """``season_zip(season, n)`` → path of a season export zip holding the
    synthetic observation fixture rows (sources/observations.py)."""
    from crowdsorsa_etl_spark.functions.geo import _parse_wkb
    from crowdsorsa_etl_spark.sources.observations import (
        observation_rows_2023,
        observation_rows_2024,
    )
    from crowdsorsa_etl_spark.sources.shapefile import write_shapefile_zip

    def make(season: int, n: int = 60) -> str:
        rows = (observation_rows_2023 if season == 2023 else observation_rows_2024)(n)
        fields = SEASON_FIELDS[season]
        path = str(tmp_path / f"season{season}_{n}.zip")
        write_shapefile_zip(
            path,
            field_specs=fields,
            rows=[list(r[: len(fields)]) for r in rows],
            geometries=[_parse_wkb(r[len(fields)]) for r in rows],
        )
        return path

    return make
