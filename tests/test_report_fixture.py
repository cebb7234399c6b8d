"""The post-fit report's values against the committed fixture
(``tests/data/report_values.json``, written by ``tools/report_fixture.py``):
floats to 1e-12 relative, integers, flags and cluster ids exactly."""

import json
import math

import pytest

from tools.report_fixture import CASES, FIXTURE_PATH, report_values

REL_TOL = 1e-12


def _diffs(got, want, path="") -> list[str]:
    """Where ``got`` and ``want`` differ: floats beyond ``REL_TOL``,
    anything else (ints, bools, strings, keys, lengths) at all."""
    if isinstance(want, dict):
        if not isinstance(got, dict) or got.keys() != want.keys():
            return [f"{path}: keys {sorted(got) if isinstance(got, dict) else got} != {sorted(want)}"]
        return [d for k in want for d in _diffs(got[k], want[k], f"{path}.{k}")]
    if isinstance(want, list):
        if not isinstance(got, list) or len(got) != len(want):
            return [f"{path}: {got} != {want}"]
        return [d for i, (g, w) in enumerate(zip(got, want)) for d in _diffs(g, w, f"{path}[{i}]")]
    if isinstance(want, float):
        ok = isinstance(got, float) and math.isclose(got, want, rel_tol=REL_TOL, abs_tol=0.0)
    else:
        ok = type(got) is type(want) and got == want
    return [] if ok else [f"{path}: {got!r} != {want!r}"]


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE_PATH) as f:
        return json.load(f)


@pytest.mark.parametrize("case", CASES)
def test_report_values_match_fixture(spark, recorded, case):
    assert _diffs(report_values(spark, case), recorded[case], case) == []
