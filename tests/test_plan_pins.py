"""Every physical-plan spec in tools/explain_plans.py, checked in CI.

``CHECKS`` there is the one statement of each plan property (pushdown
reaches the scan, dimension joins broadcast, row-local operators add no
Exchange, the tagger is one fused MapInPandas after one range Exchange,
...). Each spec is one case here: its frame is built on the sf0.001
inputs and its formatted plan must show no violation, so a lost
pushdown, a new Exchange or Python leaking into a hot path fails CI.

Planning only — .explain() never executes the query (a few specs' frames
run eager checkpoints while they are built).
"""

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOLS = os.path.join(REPO_ROOT, "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

from explain_plans import CHECKS, build, formatted, violations  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(CHECKS))
def test_plan_pin(spark, name):
    assert violations(name, formatted(build(spark, name, SF_DIR))) == []
