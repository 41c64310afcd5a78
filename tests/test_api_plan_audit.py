"""API-layer multiscan gate — tools/api_plan_audit.py run as a test.

The registry plan sweep (tests/test_plan_multiscan.py) can't see api.*
functions because they take arbitrary frames; SCALE.md §54 found two API
diamonds by hand and round 9's first automated sweep immediately caught
three more (the _offsets theta-self-join consuming its per-bucket
aggregate twice in global_rank / global_prefix_sum / grouped_topk).
This test keeps the class closed: every api.__all__ member must hold an
audit-catalog entry (or a justified SKIP), and none may scan one fixture
table >= 3 times in its final plan outside the tool's allowlist.
"""

from __future__ import annotations

from tools.api_plan_audit import run_sweep


def test_api_surface_multiscan_free(spark):
    flagged, errors, names = run_sweep(spark, flag_at=3, verbose=False)
    assert not errors, f"api plan audit errors: {errors}"
    assert not flagged, (
        "api functions re-scanning one table >=3x (pin the shared frame "
        f"or allowlist with justification): {flagged}"
    )
    assert len(names) >= 50  # the sweep actually covered the surface
