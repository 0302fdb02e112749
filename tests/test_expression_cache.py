"""The ER stages build their stage-invariant column expressions once per
process. A reused expression must give exactly what a cold build gives
under the session's current ANSI setting, and the builders' cache keys
must cover every value they read: a changed config field or weights file
changes the output."""

from __future__ import annotations

import json
from dataclasses import replace

import pytest

from crocodile_spark.config import PipelineConfig
from crocodile_spark.functions import normalize
from crocodile_spark.operators import blocking, normalize_stage, scoring

_BUILDERS = (
    normalize.stopword_array,
    normalize_stage._record_columns,
    blocking._signature_columns,
    blocking._minhash_columns,
    blocking._key_column,
    scoring._side_columns,
    scoring._feature_columns,
    scoring._score_columns,
)


def _clear():
    for b in _BUILDERS:
        b.cache_clear()


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        ("https://a.example/1", "Ada Lovelace wrote the first program"),
        ("https://a.example/2", "ada lovelace, the first programmer"),
        ("https://b.example/1", None),  # NULL text
        ("https://b.example/2", "the and of"),  # only stopwords: no tokens
        ("https://b.example/3", "!!! ..."),  # no token at all
        ("https://c.example/1", "Charles Babbage analytical engine"),
        ("https://c.example/2", "Charles Babbage analytical engine"),  # exact dup
        ("https://c.example/3", "charles babbage difference engine"),
        ("", "Charles Babbage analytical engine"),  # exact dup, empty host
    ]
    return spark.createDataFrame(rows, "url string, text string").cache()


def _stages(pages, cfg):
    """Rows of the records, signatures and scored stages, sorted (the
    first columns, url or (url_a, url_b), are unique)."""
    records = normalize_stage.normalize_pages(pages, use_html=False).cache()
    sigs = blocking.mention_signatures(records, cfg).cache()
    scored = scoring.score(blocking.pairs_from_signatures(sigs, cfg), sigs, cfg)
    out = tuple(sorted(df.collect()) for df in (records, sigs, scored))
    records.unpersist()
    sigs.unpersist()
    return out


def test_cached_expressions_follow_ansi_per_plan(spark, pages):
    cfg = PipelineConfig()
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    try:
        for ansi in ("true", "false", "true"):
            spark.conf.set(key, ansi)
            warm = _stages(pages, cfg)
            _clear()
            cold = _stages(pages, cfg)
            assert warm == cold, f"ansi={ansi}"
            assert len(warm[2]) > 0
    finally:
        spark.conf.set(key, before)


def test_config_fields_change_the_output(spark, pages):
    cfg = PipelineConfig()
    _, sigs, scored = _stages(pages, cfg)
    _, narrow_sigs, _ = _stages(pages, replace(cfg, sig_max_tokens=1))
    assert narrow_sigs != sigs
    _, _, loose = _stages(pages, replace(cfg, score_threshold=0.0))
    assert sum(r["is_edge"] for r in loose) > sum(r["is_edge"] for r in scored)


def test_weights_file_changes_the_output(spark, pages, tmp_path, monkeypatch):
    cfg = PipelineConfig()
    _, _, scored = _stages(pages, cfg)
    # load_trained_weights reads <package>/models/, resolved from __file__
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "logistic_weights.json").write_text(
        json.dumps({"weights": {f: 1.0 for f in scoring.PAIR_FEATURES}, "bias": -1.0})
    )
    monkeypatch.setattr(scoring, "__file__", str(tmp_path / "operators" / "scoring.py"))
    _, _, refit = _stages(pages, cfg)
    assert [r["match_prob"] for r in refit] != [r["match_prob"] for r in scored]
    _clear()
    assert _stages(pages, cfg)[2] == refit
    monkeypatch.undo()
    assert _stages(pages, cfg)[2] == scored
