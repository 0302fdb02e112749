"""Stage 1 -- normalize (SURVEY.md section 7.1 step 2).

web_pages(url, warc_ts, html, text, lang) -> records(url, host, text,
text_norm, tokens, row_hash, lang, warc_ts).

Laws applied: HTML->text frozen extractor (Arrow pandas UDF; byte-identical
per url -- BASELINE.json input_hint invariant), F2-style lowercase +
whitespace collapse (reference crocodile/processors.py:106-111), F3 sha256
row hash (processors.py:112), F4 tokenize+stopword-set (utils.py:13-15).
Everything except the HTML extractor is native-expression / codegen'd.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crocodile_spark.functions.normalize import (
    html_to_text_udf,
    row_hash,
    tokenize,
)

# columns carried through when the input has them; embedding rides through
# so the scoring stage can compute the emb_cosine pair feature
_CARRIED = ("warc_ts", "lang", "entity_id", "embedding")


@functools.cache
def _record_columns(from_html: bool) -> tuple[Column, tuple[Column, ...]]:
    """(text_norm over the raw page, the record columns over text_norm),
    built once per process."""
    text = (
        html_to_text_udf(F.col("html"))
        if from_html
        else F.coalesce(F.col("text"), F.lit(""))
    )
    # F2 law on page text: lower + whitespace collapse + trim
    text_norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")).alias("text_norm")
    record = (
        F.col("url"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.col("text_norm"),
        tokenize(F.col("text_norm")).alias("tokens"),
        row_hash(F.col("text_norm")).alias("row_hash"),
    )
    return text_norm, record


def normalize_pages(web_pages: DataFrame, use_html: bool = True) -> DataFrame:
    """Build the normalized record table from raw web pages.

    When ``use_html`` is set the text column is re-derived from the html
    bytes through the frozen extractor (the ``text`` input column is treated
    as untrusted); otherwise ``text`` is taken as-is (testdata tables have
    no html payload).

    Two projections: ``text_norm`` first, so the tokenizer and the row hash
    read it instead of re-deriving it.
    """
    text_norm, record = _record_columns(use_html and "html" in web_pages.columns)
    carried = [c for c in _CARRIED if c in web_pages.columns]
    return web_pages.select("url", text_norm, *carried).select(*record, *carried)
