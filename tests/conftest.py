from __future__ import annotations

import os

import pytest

from agent_data_wrangler_spark.operators import fits
from agent_data_wrangler_spark.session import get_spark

SF_DIR = os.environ.get("ADW_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="adw-tests", master="local[4]", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.ui.enabled": "false",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _fresh_fit_memo():
    """Each test starts with an empty fit memo and leaves the other tests'
    entries alone: no test may pass only because another filled the memo."""
    saved = dict(fits._MEMO)
    fits._MEMO.clear()
    yield
    fits._MEMO.clear()
    fits._MEMO.update(saved)
