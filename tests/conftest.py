import contextlib

import numpy as np
import pandas as pd
import pytest
from py4j.java_gateway import GatewayClient

from vyperdatum_spark.session import get_spark


@contextlib.contextmanager
def _counting_py4j():
    calls = [0]
    orig = GatewayClient.send_command

    def counting(self, command, *args, **kw):
        # not the deletes of Java refs that earlier work left behind:
        # they arrive in bursts of hundreds, whenever Python frees them
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return orig(self, command, *args, **kw)

    GatewayClient.send_command = counting
    try:
        yield calls
    finally:
        GatewayClient.send_command = orig


@pytest.fixture
def count_py4j():
    """``with count_py4j() as calls:`` counts the py4j round-trips the
    block makes in ``calls[0]``."""
    return _counting_py4j


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="vyperdatum_spark_tests",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_points():
    """Seeded synthetic points spanning regions A/B/C, the overlap
    zones, and outside-coverage space (FIXTURES.md §1)."""
    rng = np.random.default_rng(42)
    n = 600
    x = rng.uniform(-78.0, -74.0, n)
    y = rng.uniform(33.0, 36.0, n)
    z = np.round(rng.uniform(5.0, 15.0, n), 2)
    # skew cluster at a famous coordinate inside the A∩B∩C zone
    famous = slice(0, n // 5)
    x[famous] = -76.7512345
    y[famous] = 34.7512345
    return pd.DataFrame(
        {"pid": np.arange(n, dtype=np.int64), "x": x, "y": y, "z": z}
    )
