"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting. All native
expressions (no UDFs)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crocodile_spark.functions.normalize import char_ngrams, stopword_array, tokenize

# Tiny frozen per-language marker profiles (function words). An n-gram
# heuristic, not a model -- deterministic and dependency-free. Markers
# must be ASCII [a-z0-9] only: the tokenizer law splits on [^a-z0-9]+
# after lowercasing, so a diacritic marker (e.g. pt 'nao' with a tilde)
# could never match a token. Languages with no profile map to 'und'.
# r5 (VERDICT r4 #7): pt/it/nl added; cross-profile overlaps (que/para/
# por between es and pt, una between es and it) are resolved by the
# argmax -- full-sentence marker density, not single words, decides.
LANGUAGE_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr": ("le", "la", "les", "et", "des", "est", "que", "une", "dans", "pour"),
    "es": ("el", "la", "los", "las", "es", "que", "una", "para", "con", "por"),
    "pt": ("que", "uma", "para", "com", "por", "mais", "como", "dos", "das", "ser"),
    "it": ("di", "che", "il", "per", "con", "del", "una", "sono", "non", "anche"),
    "nl": ("het", "een", "van", "dat", "voor", "met", "niet", "zijn", "op", "aan"),
}

# r6 (VERDICT r5 #7): script-detection tier ahead of the Latin marker
# argmax. The tokenizer law ([^a-z0-9]+ after lower) erases non-Latin
# text entirely, so every ru/zh/ja/ar document was 'und' -- a large blind
# spot for corpus curation. Unicode-block character ratios (native
# regexp_count, no UDF) pick the dominant script; scripts that determine
# the language near-uniquely map directly (kana -> ja, Han without kana
# -> zh, Hangul -> ko); Cyrillic/Arabic get a marker sub-tier (function
# words chosen to be language-SPECIFIC within the script: e.g. none of
# the ru markers occur in Ukrainian/Bulgarian orthography) and fall back
# to the honest script tag ('und-Cyrl') rather than guess -- the law is
# wrong-language-never, not always-an-answer. Remaining scripts report
# 'und-<Script>'.
SCRIPT_RANGES: dict[str, str] = {
    "Cyrl": "Ѐ-ӿ",
    "Arab": "؀-ۿ",
    "Hani": "一-鿿",
    "Kana": "぀-ヿ",  # hiragana + katakana
    "Hang": "가-힯",
    "Grek": "Ͱ-Ͽ",
    "Deva": "ऀ-ॿ",
}
_LATIN_RANGE = "A-Za-z"
# Russian-specific function words (absent from uk/bg/sr orthography):
# eto, chto, ego, chtoby, kogda, tol'ko, ochen'
CYRILLIC_RU_MARKERS = (
    "это",
    "что",
    "его",
    "чтобы",
    "когда",
    "только",
    "очень",
)
# fi, min, ala, ila, allati, alladhi, hadha
ARABIC_AR_MARKERS = (
    "في",
    "من",
    "على",
    "إلى",
    "التي",
    "الذي",
    "هذا",
)


def language_scores(text_col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit ratio over the document's token set."""
    toks = tokenize(text_col, remove_stopwords=False)
    out = {}
    for lang, markers in LANGUAGE_PROFILES.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.when(
            F.size(toks) > 0,
            F.size(F.array_intersect(toks, marker_arr)) / F.size(toks),
        ).otherwise(F.lit(0.0))
    return out


def script_counts(text_col: Column | str) -> dict[str, Column]:
    """Per-script letter counts via native regexp_count (plus Latin)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    out = {
        s: F.regexp_count(t, F.lit(f"[{rng}]")) for s, rng in SCRIPT_RANGES.items()
    }
    out["Latn"] = F.regexp_count(t, F.lit(f"[{_LATIN_RANGE}]"))
    return out


def _unicode_marker_hit(text_col: Column, markers: tuple[str, ...]) -> Column:
    """True when any marker word appears among the Unicode word tokens
    (split on non-letter/digit, lowercased) -- the tokenizer for the
    non-Latin sub-tier, since the Latin token law erases these scripts."""
    utoks = F.filter(
        F.split(F.lower(text_col), r"[^\p{L}\p{N}]+"),
        lambda x: F.length(x) > 0,
    )
    return F.size(F.array_intersect(utoks, F.array(*[F.lit(m) for m in markers]))) > 0


def identify_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds pred_lang + lang_confidence.

    Two tiers (r6): when Latin letters are at least as frequent as the
    top non-Latin script, the original marker-ratio argmax runs ('und'
    when no profile scores above zero) -- byte-identical to r5 on
    all-Latin corpora. Otherwise the dominant script decides: kana
    present and CJK dominant -> ja; Han without kana -> zh; Hangul -> ko;
    Cyrillic/Arabic -> ru/ar only on a language-specific marker hit, else
    the honest 'und-Cyrl'/'und-Arab'; other scripts -> 'und-<Script>'.
    Script-tier confidence is the dominant script's share of letters."""
    t = F.col(text_col)
    scores = language_scores(t)
    pairs = F.array(
        *[F.struct(s.alias("score"), F.lit(lang).alias("lang"))
          for lang, s in scores.items()]
    )
    best = F.array_max(pairs)  # struct compare: score first, then lang
    latin_pred = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    latin_conf = best["score"]

    c = script_counts(t)
    nl = F.array(
        *[
            F.struct(c[s].alias("n"), F.lit(s).alias("script"))
            for s in SCRIPT_RANGES
        ]
    )
    nl_best = F.array_max(nl)
    total = sum(c.values()).cast("double")
    kana, han = c["Kana"], c["Hani"]
    ja_cond = (kana > 0) & nl_best["script"].isin("Kana", "Hani")
    ru_hit = _unicode_marker_hit(t, CYRILLIC_RU_MARKERS)
    ar_hit = _unicode_marker_hit(t, ARABIC_AR_MARKERS)
    script_pred = (
        F.when(ja_cond, F.lit("ja"))
        .when(nl_best["script"] == "Hani", F.lit("zh"))
        .when(nl_best["script"] == "Hang", F.lit("ko"))
        .when(
            nl_best["script"] == "Cyrl",
            F.when(ru_hit, F.lit("ru")).otherwise(F.lit("und-Cyrl")),
        )
        .when(
            nl_best["script"] == "Arab",
            F.when(ar_hit, F.lit("ar")).otherwise(F.lit("und-Arab")),
        )
        .otherwise(F.concat(F.lit("und-"), nl_best["script"]))
    )
    script_conf = F.when(ja_cond, (kana + han) / total).otherwise(
        nl_best["n"] / total
    )
    latin_wins = c["Latn"] >= nl_best["n"]
    return df.withColumn(
        "pred_lang", F.when(latin_wins, latin_pred).otherwise(script_pred)
    ).withColumn(
        "lang_confidence",
        F.when(latin_wins, latin_conf).otherwise(script_conf),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite quality score in [0,1]:
    alpha ratio, mean token length, stopword ratio, whitespace-token count.
    The blend mirrors published web-corpus quality filters (length,
    punctuation, stopword density heuristics)."""
    t = F.col(text_col)
    n = F.length(t).cast("double")
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("double")
    ws_toks = F.size(
        F.filter(F.split(t, r"\s+"), lambda x: F.length(x) > 0)
    ).cast("double")
    all_toks = tokenize(t, remove_stopwords=False)
    stop_ratio = F.when(
        F.size(all_toks) > 0,
        F.size(F.array_intersect(all_toks, stopword_array())) / F.size(all_toks),
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    mean_tok_len = F.when(ws_toks > 0, alpha / ws_toks).otherwise(F.lit(0.0))
    length_score = F.least(ws_toks / 100.0, F.lit(1.0))
    quality = F.least(
        F.lit(1.0),
        alpha_ratio * 0.5
        + F.least(mean_tok_len / 10.0, F.lit(1.0)) * 0.2
        + length_score * 0.2
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.1,
    )
    return (
        df.withColumn("alpha_ratio", alpha_ratio)
        .withColumn("mean_tok_len", mean_tok_len)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("n_ws_tokens", ws_toks.cast("long"))
        .withColumn("quality", quality)
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish piece count (letter runs, digit
    runs, single symbols) -- the cheap token-budget estimator."""
    t = F.col(text_col)
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda x: F.length(x) > 0))
    bpe = F.regexp_count(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
    return df.withColumn("n_ws_tokens", ws).withColumn("n_bpe_tokens", bpe)


def rolling_hash(col: Column | str, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial (Rabin-Karp) rolling hash of the full string -- a native
    aggregate over codepoints, engine-portable (DuckDB replays it with
    list_reduce; parity incl. unicode + empty string is property-tested).
    acc stays < mod (~2^31), so acc*base + code never overflows under ANSI.
    """
    t = (F.col(col) if isinstance(col, str) else col).cast("string")
    codes = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * base + c, F.lit(mod)),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", num_slots: int = 4, shingle_size: int = 3
) -> DataFrame:
    """Document fingerprint: ``num_slots`` portable MinHash slots --
    lexicographic min of md5(seed || shingle) per slot (engine-portable,
    unlike integer xxhash). Equal fingerprints across all slots ~ near-
    identical shingle sets."""
    grams = char_ngrams(F.lower(F.col(text_col)), shingle_size)
    for i in range(num_slots):
        df = df.withColumn(
            f"fp{i}",
            F.array_min(F.transform(grams, lambda g, i=i: F.md5(F.concat(F.lit(f"s{i}:"), g)))),
        )
    return df
