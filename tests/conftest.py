from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Pin the TEST session shape to the driver gate's: driver_sim runs a
# virgin local[8] session, so the suite tests the same width — and the
# thousands of tiny sf0.001/sf0.01 jobs stop paying 32-wide task
# scheduling per stage (measured −25% wall on two representative
# files). Set BEFORE the engine import: apply_runtime_confs re-derives
# the shuffle width from this env var on every load_table call, so a
# fixture-level conf alone would not stick. Child processes inherit
# os.environ, so tests that launch app.py pass it the ``app_env``
# fixture's environment, which drops the pin again.
_OUTER_CPUS = os.environ.get("SPARK_GRAFT_CPUS")
os.environ["SPARK_GRAFT_CPUS"] = "8"

from kafka_spark_streaming_app_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # width comes from the SPARK_GRAFT_CPUS pin above (local[8],
    # shuffle 8 — the driver gate's session shape)
    spark = get_spark(
        app_name="tests", extra_confs={"spark.driver.memory": "8g"}
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


@pytest.fixture()
def app_env() -> dict[str, str]:
    """Environment for an app.py subprocess: this one without the local[8]
    pin, so the app sizes its session as a plain launch would (from the
    caller's SPARK_GRAFT_CPUS if it set one, else from the machine)."""
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS")
    if _OUTER_CPUS is not None:
        env["SPARK_GRAFT_CPUS"] = _OUTER_CPUS
    return env
