from __future__ import annotations

import pytest

from crocodile_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="croco-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def corpus():
    from crocodile_spark.datagen import make_corpus

    return make_corpus(n_entities=40, pages_per_entity=6, seed=42)


@pytest.fixture(scope="session")
def corpus_dfs(spark, corpus):
    from crocodile_spark.datagen import corpus_to_spark

    wp, kb, gold = corpus_to_spark(spark, corpus)
    return wp.cache(), kb.cache(), gold.cache()


@pytest.fixture(scope="session")
def assert_state_from_scratch():
    """Check a ``ResolutionState`` a delta operator returned against the
    one a batch ``run_pipeline`` over the same corpus (``full``) gives."""
    from crocodile_spark.operators.blocking import static_keys, token_document_frequencies

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    def check(state, full, cfg):
        assert rows(state.token_df, "token", "df") == rows(
            token_document_frequencies(full.records, cfg), "token", "df"
        )
        assert rows(state.static_keys, "url", "key") == rows(
            static_keys(full.signatures, cfg), "url", "key"
        )
        assert state.n_records == full.records.count() == state.records.count()
        sig_cols = ("url", "sig_tokens", "block_tokens", "mention_norm")
        assert rows(state.signatures, *sig_cols) == rows(full.signatures, *sig_cols)

    return check
