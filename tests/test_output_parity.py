"""Output-surface parity net: every dict-returning reference operation
reachable through the YAML adapter table must emit AT LEAST the
reference's output keys (comment lines excluded) when called with
default arguments — except for known branch-dependent keys that the
reference itself only emits under non-default arguments.

This is the check that caught the round-2 drift in Embed2_Basic,
BinaryStats, LocalGlobal, SimpleStats, Trend, LocalSimple, ARFit,
KPSSTest and VarianceRatioTest.
"""

import glob
import os
import re
import warnings

import numpy as np
import pytest
from ref_parity import REF_ROOT

from pyhctsa_spark.plans.yaml_config import FUNC_TABLE

# keys the reference emits only on non-default branches (list-sweep
# arguments, non-default fit families, non-posDrown ACF criteria)
BRANCH_ONLY = {
    ("Correlation", "AutoCorrShape"): {"meanabsacf", "sumabsacf"},
    ("Stationarity", "KPSSTest"): {
        "lagmaxstat", "lagminstat", "maxpValue", "maxstat",
        "minpValue", "minstat",
    },
    ("Distribution", "FitMLE"): {"a", "b"},
    ("HypothesisTests", "VarianceRatioTest"): {
        "IIDperiodmaxpValue", "IIDperiodminpValue", "maxpValue", "maxstat",
        "meanpValue", "meanstat", "minpValue", "minstat",
        "periodmaxpValue", "periodminpValue",
    },
}


def _reference_keys():
    ref = {}
    for path in glob.glob(f"{REF_ROOT}/Operations/*.py"):
        mod = os.path.basename(path)[:-3]
        src = open(path).read()
        for m in re.finditer(r"\ndef ([A-Z]\w+)\(.*?(?=\ndef |\Z)", src, re.S):
            fname, body = m.group(1), m.group(0)
            keys = set()
            for line in body.splitlines():
                if line.strip().startswith("#"):
                    continue
                keys.update(re.findall(r"out\['([^']+)'\]", line))
            if keys:
                ref[(mod, fname)] = keys
    return ref


def _series():
    return np.random.default_rng(0).standard_normal(500) * 2 + 5


def test_adapters_run_on_default_arguments():
    """The reference-free half of the net: every adapter runs on a
    seeded series with default arguments (the reference keys are not
    needed to catch an adapter that raises)."""
    y = _series()
    problems = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for (mod, fn), adapter in FUNC_TABLE.items():
            try:
                adapter(y)
            except Exception as e:  # noqa: BLE001
                problems.append((mod, fn, f"raises: {e}"))
    assert problems == []
    assert set(BRANCH_ONLY) <= set(FUNC_TABLE)


@pytest.mark.skipif(
    not os.path.isdir(REF_ROOT),
    reason="reference tree not present — the key comparison reads its "
           "Operations/*.py",
)
def test_dict_output_keys_cover_reference():
    ref = _reference_keys()
    assert ref  # the glob must find the reference's operations
    y = _series()
    problems = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for (mod, fn), adapter in FUNC_TABLE.items():
            keys = ref.get((mod, fn))
            if not keys:
                continue
            try:
                out = adapter(y)
            except Exception as e:  # noqa: BLE001
                problems.append((mod, fn, f"raises: {e}"))
                continue
            if not isinstance(out, dict):
                continue
            missing = keys - set(out) - BRANCH_ONLY.get((mod, fn), set())
            if missing:
                problems.append((mod, fn, f"missing: {sorted(missing)}"))
    assert problems == []
