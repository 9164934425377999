from __future__ import annotations

import os
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Long-haul sweeps (random-history replays, hypothesis property
    sweeps, sf0.1 funnel stages — the ``slow`` marker) are gated behind
    SPARK_GRAFT_LONG_TESTS so a plain ``pytest tests/`` fits the
    grading driver's verify window (VERDICT r11 #2: the full suite
    outgrew it at 53-61 min). Every gated sweep has shorter targeted
    siblings that stay in the default run; the gated set runs in the
    builder's BASELINE sweeps and before each round close. A run that
    selects the marker itself (``pytest -m slow``) asked for exactly
    these sweeps, so it is not gated either."""
    if os.environ.get("SPARK_GRAFT_LONG_TESTS"):
        return
    if re.search(r"(?<!not )\bslow\b", config.option.markexpr or ""):
        return
    gate = pytest.mark.skip(
        reason="long-haul sweep; set SPARK_GRAFT_LONG_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(gate)


@pytest.fixture(scope="session")
def spark():
    # local[$SPARK_GRAFT_CPUS] (get_spark's default; the Tier-1 command
    # sets it to the host's cores): the suite's heavy tail is CPU-bound
    # Spark work at sf0.1, so it scales with the cores the host has —
    # a fixed thread count oversubscribes a small host and idles a big
    # one; tiny-data tests are scheduling-bound and unaffected.
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
