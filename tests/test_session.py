"""Session sizing defaults that come from the machine, not from options."""

import os

import pytest

from confluence2md_spark.session import _local_width


@pytest.mark.parametrize(
    "master, width",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[16]", 16),
        ("local[3,2]", 3),
        ("local[*]", os.cpu_count()),
        ("spark://host:7077", os.cpu_count()),
    ],
)
def test_shuffle_default_is_local_width(master, width):
    assert _local_width(master) == width
