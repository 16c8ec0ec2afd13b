from __future__ import annotations

import pytest

from doin_fine_ance__spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("doin-fine-ance-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture()
def clock(monkeypatch):
    """A settable clock for the snapshot module's commit timestamps and
    retention, starting at the real time."""
    import time
    import types

    from doin_fine_ance__spark.operators import snapshot

    now = [time.time()]
    monkeypatch.setattr(snapshot, "time", types.SimpleNamespace(time=lambda: now[0]))
    return now
