"""Smoke test of ``scripts/scale_ladder.py``: one full ladder cell, in
process on the test session, over a ~300-record corpus."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from scale_ladder import run_cell  # noqa: E402

STAGES = ["records", "signatures", "pairs", "scored", "clusters"]


def test_scale_ladder_cell(spark, tmp_path):
    report = run_cell(spark, 300, str(tmp_path))
    steps = report["steps"]
    assert list(steps) == [
        "inmem", "durable", "resume_clusters", "base", "incremental", "recrawl", "recrawl_full",
    ]
    for name in ("inmem", "durable"):
        assert list(steps[name]["stage_stats"]) == STAGES
        assert steps[name]["jobs"] > 0 and steps[name]["tasks"] > 0
    assert [s["resumed"] for s in steps["resume_clusters"]["stage_stats"].values()] == [
        True, True, True, True, False,
    ]
    assert report["f1"] >= 0.99
    assert report["gates"] == {
        "f1": True,
        "durable_equals_inmem": True,
        "resume_equals_inmem": True,
        "recrawl_f1": True,
        "recrawl_divergence": True,
    }
    inc, rc = report["incremental"], report["recrawl"]
    assert inc["delta_records"] > 0 and 0 < inc["delta_pair_frac"] < 1
    assert inc["full_refines_incremental"]
    assert rc["n_updated"] > 0 and rc["edge_retaining"]
    assert rc["n_records"] == report["records"]
