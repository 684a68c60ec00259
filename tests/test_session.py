"""The session factory's pure settings derivations."""

from __future__ import annotations

import pytest

from ducklakexl_spark.session import max_result_size


@pytest.mark.parametrize(
    "driver_mem, want",
    [
        ("48g", "8192m"),  # capped
        ("16g", "8192m"),
        ("8g", "4096m"),  # half the heap
        ("4G", "2048m"),
        ("2gb", "1024m"),
        ("1536m", "768m"),
        ("1024", "512m"),  # a bare number is MiB, as in Spark
        ("1t", "8192m"),
        ("2097152k", "1024m"),
    ],
)
def test_max_result_size_is_half_the_driver_capped_at_8g(driver_mem, want):
    assert max_result_size(driver_mem) == want
