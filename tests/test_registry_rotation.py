"""Self-enforcing registry rotation (round-6 verdict item 1; auto since r8).

The driver's CORRECTNESS gate walks ``queries()`` in insertion order under a
~50-query budget, so cumulative driver coverage depends on every query that
has NO ``CORRECTNESS_r*.json`` row sorting BEFORE every query that has one.
Round 6 lost its entire driver budget re-verifying the round-5 window because
the rotation procedure was a comment, not a test; round 7 made it a test but
the suite went red whenever a new artifact landed before the next manual
rotation commit (ADVICE r7, medium). Since round 8 the rotation is AUTOMATIC:
``registry._ordered()`` stably partitions REGISTRY's insertion order on the
artifact set at import time, so the ordering updates itself the moment a new
``CORRECTNESS_r{N}.json`` artifact lands; no hand-ordered list exists to
keep in sync. These tests pin that mechanism.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_verified() -> set[str]:
    names: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            doc = json.load(f)
        queries = doc.get("queries", doc)
        if isinstance(queries, dict):
            names |= set(queries.keys())
        else:
            names |= {q["name"] for q in queries}
    return names


def test_unverified_queries_sort_before_verified():
    """The EFFECTIVE ordering (what the driver sees) is rotation-correct."""
    from cartography_spark.plans.registry import all_queries

    verified = _driver_verified()
    assert verified, "no CORRECTNESS_r*.json artifacts found at repo root"
    first_verified_pos = None
    for pos, name in enumerate(all_queries()):
        if name in verified:
            if first_verified_pos is None:
                first_verified_pos = pos
        elif first_verified_pos is not None:
            raise AssertionError(
                f"auto-rotation broken: driver-unverified query {name!r} at "
                f"effective position {pos} sorts after driver-verified "
                f"queries starting at position {first_verified_pos}"
            )


def test_rotation_helper_matches_local_scan():
    """registry.driver_verified() reads the same artifact set this test does."""
    from cartography_spark.plans.registry import driver_verified

    assert driver_verified() == _driver_verified()

