"""Session sizing without a JVM: the driver heap the session asks for must
fit the host it starts on, so ``-Xms<heap> -XX:+AlwaysPreTouch`` can map and
touch it (a heap larger than free memory fails to start, or gets a JVM
already running on the host OOM-killed)."""

from __future__ import annotations

import pytest

from engine.session import _heap_gib


def _mem_available_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / float(1 << 20)
    raise AssertionError("no MemAvailable in /proc/meminfo")


@pytest.mark.parametrize("cores", [1, 4, 8, 32])
def test_heap_fits_the_host(cores):
    gib = _heap_gib(cores)
    # the 1 GiB floor only binds on a host with < 2 GiB available
    assert gib <= max(1.0, _mem_available_gib() / 2), gib
    assert 1 <= gib <= 4 * cores
