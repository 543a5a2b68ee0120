from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Hypothesis profiles (r11 verdict task 3): the SUITE GATE is
# derandomized so "pytest green" is a stable, reproducible claim —
# every historical sweep-found counterexample is pinned as a named
# @example in its sweep, so determinism loses no regression coverage.
# The randomized EXPLORER profile is the bug-finding mode
# (HYPOTHESIS_PROFILE=explore, run deliberately each round); any new
# find gets fixed and pinned as an @example before the round ships.
from hypothesis import settings as _hsettings  # noqa: E402

_hsettings.register_profile("gate", derandomize=True)
_hsettings.register_profile("explore", derandomize=False)
_hsettings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "gate"))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from dbt_nlp_sqlizer_team04_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_check() -> str:
    return SF_CHECK


@pytest.fixture()
def matcher_count(monkeypatch):
    """Count ``difflib.SequenceMatcher`` constructions for the rest of the
    test; returns a callable reading the count. The fuzzy scorer's memo
    starts empty."""
    import difflib

    from dbt_nlp_sqlizer_team04_spark.plans import linking

    made = [0]

    class Counting(difflib.SequenceMatcher):
        def __init__(self, *args, **kwargs):
            made[0] += 1
            super().__init__(*args, **kwargs)

    monkeypatch.setattr(difflib, "SequenceMatcher", Counting)
    monkeypatch.setattr(linking, "SequenceMatcher", Counting)
    linking.partial_ratio.cache_clear()
    return lambda: made[0]
