"""Spec resolution for the interleaved A/B harness (tools/ab_bench.py)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def test_resolve_variants_registry_and_file(tmp_path):
    from ab_bench import resolve

    # registry query name resolves to its builder
    label, fn = resolve("agg_pricing_summary")
    assert label == "agg_pricing_summary" and callable(fn)

    # file.py:fn loads the callable from disk
    p = tmp_path / "variant.py"
    p.write_text("def my_fn(spark, sf_dir):\n    return 'ok'\n")
    label, fn = resolve(f"{p}:my_fn")
    assert label == "variant:my_fn" and fn(None, None) == "ok"

    # unknown spec exits with a message rather than raising opaquely
    with pytest.raises(SystemExit):
        resolve("definitely_not_a_query")
