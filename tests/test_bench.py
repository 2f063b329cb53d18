"""`bench.py`'s artifact naming: only the canonical profile owns
BENCH_FULL.json."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("sf,parallelism,cores,name", [
    ("0.1", 8, 8, "BENCH_FULL.json"),
    ("0.1", 4, 8, "BENCH_FULL_sf0.1_c4.json"),
    ("0.001", 8, 8, "BENCH_FULL_sf0.001_c8.json"),
    ("1", 32, 32, "BENCH_FULL_sf1_c32.json"),
    ("0.1", 8, None, "BENCH_FULL_sf0.1_c8.json"),
])
def test_full_artifact_name(sf, parallelism, cores, name):
    assert bench.full_artifact_name(sf, parallelism, cores) == name
