"""The one driver-or-distributed decision every size-gated operator makes.

Small problems stay on the driver in numpy, large ones go to Spark: each
gated operator (graph kernels, connected components, the deep fits,
``KMeans``, ``DeterministicKMeans``' replay) compares a size estimate of
its input with a bound kept next to it and asks :func:`on_driver`.

``DEEPTIME_FORCE_DISTRIBUTED=1`` sends every gated operator down its
distributed path whatever its size. Both paths give the same result, so
the switch exists to time and test the distributed code on inputs the
driver would normally absorb (``tools/forced_distributed_bench.py``, the
cross-path tests). It is read at call time.

Every decision is logged at INFO on the ``deeptime_spark.dispatch``
logger as ``(name, estimate, bound, choice)``.
"""

from __future__ import annotations

import logging
import os
from typing import Optional

log = logging.getLogger(__name__)

FORCE_ENV = "DEEPTIME_FORCE_DISTRIBUTED"


def forced() -> bool:
    """True when ``DEEPTIME_FORCE_DISTRIBUTED=1``: an operator whose size
    probe is itself costly checks this first and skips the probe."""
    return os.environ.get(FORCE_ENV) == "1"


def on_driver(name: str, estimate: Optional[int], bound: int) -> bool:
    """True when ``name`` should run on the driver: ``estimate <= bound``
    and the force switch is off. ``estimate`` is None when the operator
    has no driver-sized input (it skipped its probe under the switch, or
    the probe found an input the driver path cannot take); that input
    goes distributed."""
    driver = not forced() and estimate is not None and estimate <= bound
    choice = "driver" if driver else "distributed"
    log.info("dispatch %s estimate=%s bound=%s -> %s", name, estimate, bound, choice)
    return driver
