"""Input guards of the measurement scripts: each rejects bad input before
starting Spark."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import capture_plans  # noqa: E402
import semskew_smoke  # noqa: E402


def test_capture_plans_requires_round():
    # "<tag> <sf_dir>" without the round no longer falls back to a fixed
    # plans/ sub-directory
    with pytest.raises(SystemExit) as e:
        capture_plans.main(["before", "data/sf0.1"])
    assert e.value.code == 2
    assert capture_plans.REPO == REPO


@pytest.mark.parametrize("hot_n", [0, -1, 1001])
def test_semskew_rejects_hot_n_outside_corpus(hot_n):
    with pytest.raises(ValueError):
        semskew_smoke.hot_stride(1000, hot_n)


def test_semskew_hot_stride():
    assert semskew_smoke.hot_stride(1000, 1000) == 1
    assert semskew_smoke.hot_stride(1000, 250) == 4
