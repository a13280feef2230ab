"""Every registry entry oracle-checked on every test run.

The driver's correctness gate samples 50 queries per round, so without
this sweep a registry entry can sit unsampled for rounds (37 of 108 had
never been driver-checked as of round 3).  Running the full side-by-side
comparison at sf0.001 (~100 s on local[8]) closes that hole: an entry
that breaks fails CI immediately, not two rounds later.

Each frame's plan is checked for cartesian joins before it is collected;
test_plans_dates_pipeline reuses those verdicts.  Set
SPARK_GRAFT_SKIP_FULL_ORACLE=1 to skip during quick iteration (the plan
test then builds every frame for its plan alone).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oracle_check import run_check  # noqa: E402

FULL_SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_FULL_ORACLE") == "1",
    reason="explicitly skipped for quick iteration",
)
def test_full_registry_matches_oracles(spark, plan_verdicts):
    passed, failed, rows_only = run_check(
        spark, FULL_SF_DIR, verbose=False, plan_verdicts=plan_verdicts
    )
    assert not failed, f"oracle mismatches: {failed}"
    # Every entry must be REACHED (passed or deliberately rows-only);
    # a silently empty registry would otherwise vacuously pass.
    assert len(passed) + len(rows_only) >= 108
