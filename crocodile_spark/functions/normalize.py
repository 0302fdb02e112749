"""The frozen normalization law (SURVEY.md section 2.3, F1-F5/F12).

Each function reproduces the semantics of the reference's normalization
path as a native Spark Column expression:

- F1 mention normalization   <- reference crocodile/processors.py:134
- F2 context-text build      <- reference crocodile/processors.py:106-111
- F3 row hash (sha256)       <- reference crocodile/processors.py:112
- F4 tokenize + stopwords    <- reference crocodile/utils.py:13-15
- F5 char 3-grams            <- reference crocodile/utils.py:8-10
- F12 QID-from-URL           <- reference training/onboard_data.py:91

Tokenizer law deviation (documented per SURVEY.md 7.4): the reference uses
nltk punkt; this engine freezes a regex law -- lowercase, split on
``[^a-z0-9]+`` -- tested byte-identical within this repo. HTML->text is a
frozen pure function (the reference has no HTML code; BASELINE.json
input_hint requires a deterministic, byte-identical-per-url extractor).
"""

from __future__ import annotations

import functools
import html as _html
import re
from typing import Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crocodile_spark import ENGLISH_STOPWORDS

# The frozen token-split law: anything that is not [a-z0-9] separates tokens.
TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"


def normalize_mention(col: Column | str) -> Column:
    """F1: str.strip() -> replace('_', ' ') -> lower().

    Order matters and matches the reference: strip first (so leading '_'
    becomes a leading space only after replacement -- the reference strips
    *before* replacing), then underscore->space, then lowercase. Python's
    str.strip() removes ALL whitespace (tabs/newlines), unlike SQL trim
    which removes only spaces -- hence the regexp strip.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    stripped = F.regexp_replace(c, r"^\s+|\s+$", "")
    return F.lower(F.regexp_replace(stripped, "_", " "))


def context_text(cols: Iterable[Column | str] | Column) -> Column:
    """F2: cell values sorted by string value, space-joined, lowered,
    whitespace-collapsed, trimmed.

    ``cols`` is a list of columns (a NULL value counts as the empty
    string) or one ``array<string>`` column of the values."""
    if isinstance(cols, Column):
        arr = cols
    else:
        arr = F.array(
            *[
                F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit(""))
                for c in cols
            ]
        )
    joined = F.concat_ws(" ", F.array_sort(arr))
    return F.trim(F.regexp_replace(F.lower(joined), r"\s+", " "))


def row_hash(col: Column | str) -> Column:
    """F3: sha256 hexdigest of the (already normalized) row text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


@functools.cache
def stopword_array() -> Column:
    """The English stopword set as one array literal, built once per
    process: its 180 ``F.lit`` nodes cost one py4j round trip each."""
    return F.array(*[F.lit(s) for s in sorted(ENGLISH_STOPWORDS)])


def tokenize(col: Column | str, remove_stopwords: bool = True) -> Column:
    """F4: lowercase -> regex split -> drop empties -> distinct (set
    semantics) -> optionally drop English stopwords.

    Returns array<string>. Distinctness preserves the reference's *set*
    semantics (tokens are consumed as a set for Jaccard features).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(c.cast("string")), TOKEN_SPLIT_PATTERN),
            lambda t: F.length(t) > 0,
        )
    )
    if remove_stopwords:
        toks = F.array_except(toks, stopword_array())
    return toks


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """F5: distinct character n-grams (default n=3) of a string.

    ``string[i:i+n]`` sliding window; strings shorter than n yield an empty
    array (matching the reference, whose loop body never executes); null
    input also yields an empty array (the historical law).

    r8: computed with ONE pass of ``regexp_extract_all`` over an
    overlapping lookahead pattern ``(?s)(?=(.{n})).`` instead of a
    ``transform(sequence(...), substr)`` higher-order function -- HOFs are
    CodegenFallback (interpreted per element), and this construction sat
    on every n-gram consumer's hot path (pair features, MinHash shingles,
    fingerprints: ~3.7 s vs 0.5 s for one pass over sf0.1 documents).
    Identical output order and content: the regex matches at each char
    position with >= n chars remaining, exactly the sliding window
    (``(?s)`` makes ``.`` cross newlines; Java regex and Spark substr both
    count code points, fuzz-verified on astral-plane input).
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    grams = F.array_distinct(
        F.regexp_extract_all(c, F.lit(f"(?s)(?=(.{{{n}}}))."), 1)
    )
    return F.coalesce(grams, F.array().cast("array<string>"))


def qid_from_url(col: Column | str) -> Column:
    """F12: last path segment of an entity URL -> QID."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c.cast("string"), "([^/]+)$", 1)


# ---------------------------------------------------------------------------
# HTML -> text: the frozen extractor (pure function + Arrow pandas UDF)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(r"(?is)<(script|style|noscript)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_BLOCK_TAG = re.compile(
    r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header"
    r"|footer|blockquote|pre|title)\b[^>]*>"
)
_RE_TAG = re.compile(r"(?s)<[^>]+>")
_RE_WS = re.compile(r"[ \t\r\f\v]+")
_RE_NL = re.compile(r"\n\s*\n+")


def extract_text_from_html(raw: bytes | str | None) -> str:
    """The frozen HTML->text law. Pure, deterministic, dependency-free.

    Byte-identical output per input is the per-row invariant demanded by
    BASELINE.json's input_hint. Steps (frozen; do not change without a
    version bump): utf-8 decode (replace) -> drop script/style/noscript and
    comments -> block-level tags become newlines -> remaining tags dropped ->
    HTML entities unescaped -> horizontal whitespace collapsed -> blank-line
    runs collapsed -> strip.
    """
    if raw is None:
        return ""
    s = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else str(raw)
    s = _RE_SCRIPT.sub(" ", s)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_BLOCK_TAG.sub("\n", s)
    s = _RE_TAG.sub(" ", s)
    s = _html.unescape(s)
    s = _RE_WS.sub(" ", s)
    s = "\n".join(line.strip() for line in s.split("\n"))
    s = _RE_NL.sub("\n", s)
    return s.strip()


@F.pandas_udf(T.StringType())
def html_to_text_udf(html_col: pd.Series) -> pd.Series:
    """Arrow-vectorized wrapper of the frozen extractor (stage-1 hot path)."""
    return html_col.map(extract_text_from_html)
