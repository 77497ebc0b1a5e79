"""Session factory: the local-parallelism floor is gated on a
single-JVM local master."""

from __future__ import annotations

import pytest

from blspark.session import is_local_master


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local-cluster[2,1,1024]", False),
    ],
)
def test_is_local_master(master, local):
    assert is_local_master(master) is local
