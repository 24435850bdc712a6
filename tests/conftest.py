import contextlib

import numpy as np
import pytest

from deeptime_spark.dispatch import FORCE_ENV
from deeptime_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deeptime-spark-tests")
    yield s


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture
def force_distributed(monkeypatch):
    """Context manager: inside it every size-gated operator takes its
    distributed path (``DEEPTIME_FORCE_DISTRIBUTED=1``)."""

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setenv(FORCE_ENV, "1")
            yield

    return forced
