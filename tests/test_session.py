"""Session factory: the driver heap default is sized to the host."""

from __future__ import annotations

import os

import pytest

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.session import (
    default_driver_memory,
)


@pytest.mark.parametrize(
    ("ram_gb", "heap"),
    [(2, "1g"), (3.5, "1g"), (8, "2g"), (15, "3g"), (16, "4g"), (256, "4g")],
)
def test_default_driver_memory_is_a_quarter_of_ram_within_1g_to_4g(
    monkeypatch, ram_gb, heap
):
    page = 4096
    pages = int(ram_gb * 2**30) // page
    monkeypatch.setattr(
        os, "sysconf", {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}.__getitem__
    )
    assert default_driver_memory() == heap
