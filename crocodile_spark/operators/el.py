"""Crocodile-parity entity linking: table cells -> KB candidates.

Re-expresses the reference's EL dataflow (SURVEY.md section 3.1) on Spark:

  onboard -> cell extraction (F1/F2/F3 laws) -> candidate generation
  (blocking join against a KB table, replacing LamAPI S6) -> 19-feature
  assembly (X1, crocodile/feature.py:87-153) -> heuristic rank (W1/W2/W3)
  -> type-frequency features (A1/X3) -> logistic re-rank (M1/W4) -> export
  (J6).

Everything is a flat DataFrame: one row per (table row, column) cell for
mentions, one row per (cell, candidate) for candidates -- mirroring the
backend's own exploded cell_data design
(backend/app/services/result_sync.py:428-454).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.functions.normalize import (
    context_text,
    normalize_mention,
    row_hash,
    tokenize,
)
from crocodile_spark.functions.similarity import (
    levenshtein_similarity,
    ngram_jaccard,
    set_jaccard,
)

# F8: candidate kind -> numeric (crocodile/feature.py:66-73; default 1)
KIND_MAP = {"entity": 1, "type": 2, "disambiguation": 3, "predicate": 4}
# F9: NER type -> numeric (crocodile/feature.py:33-44; default 4 = OTHER).
# Alias forms (LOC/ORG/PERS/OTHERS) map identically in the reference.
NERTYPE_MAP = {
    "LOCATION": 1,
    "LOC": 1,
    "ORGANIZATION": 2,
    "ORG": 2,
    "PERSON": 3,
    "PERS": 3,
    "OTHER": 4,
    "OTHERS": 4,
}

# The 7 features averaged by the W1 heuristic (crocodile/processors.py:325-343)
W1_FEATURES = (
    "ed_score",
    "jaccard_score",
    "jaccardNgram_score",
    "desc",
    "descNgram",
    "bow_similarity",
    "popularity",
)


def _map_expr(mapping: dict, col, default: int):
    expr = F.lit(default)
    for k, v in mapping.items():
        expr = F.when(col == k, F.lit(v)).otherwise(expr)
    return expr


def extract_cells(input_rows: DataFrame) -> DataFrame:
    """Onboard + cell extraction: one row per NE cell.

    input_rows carries ``data array<string>`` + ``ne_cols map<string,string>``
    + ``context_cols array<int>`` + ``correct_qids map<string,string>``
    (FIXTURES.md section 4, mirroring crocodile/crocodile.py:268-282).
    Applies the P4 validity law (processors.py:130-136), F1 mention law,
    F2 context law over context columns, F3 row hash.
    """
    # try_element_at: ANSI mode (default in Spark 4) makes element_at throw
    # on out-of-range indexes; the reference tolerates ragged rows via its
    # int(c) < len(row) guard (processors.py:130-136), so null-on-miss here.
    ctx_vals = F.transform(
        F.col("context_cols"),
        lambda i: F.coalesce(F.try_element_at("data", i + 1), F.lit("")),
    )
    rows = input_rows.withColumn("context_text", context_text(ctx_vals)).withColumn(
        "row_hash", row_hash(F.col("context_text"))
    )
    cells = rows.select(
        "client_id",
        "dataset_name",
        "table_name",
        "row_id",
        "data",
        "context_text",
        "row_hash",
        "correct_qids",
        F.explode("ne_cols").alias("col_id_str", "ne_type"),
    ).withColumn("col_id", F.col("col_id_str").cast("int"))
    cells = cells.withColumn(
        "cell_value", F.try_element_at("data", F.col("col_id") + 1)
    )
    # P4 validity: in-range (try_element_at -> null when out of range), truthy, notna
    cells = cells.where(
        F.col("cell_value").isNotNull() & (F.length(F.trim("cell_value")) > 0)
    )
    return cells.select(
        "client_id",
        "dataset_name",
        "table_name",
        "row_id",
        "col_id",
        "ne_type",
        "cell_value",
        normalize_mention(F.col("cell_value")).alias("mention_norm"),
        "context_text",
        "row_hash",
        F.try_element_at(
            "correct_qids", F.concat_ws("-", F.col("row_id"), F.col("col_id"))
        ).alias("gold_qid"),
    )


def kb_token_index(kbn: DataFrame, kb_columns: list[str]) -> DataFrame:
    """(KB row, token) index for the T5 fuzzy retry."""
    return kbn.select(*kb_columns, F.explode("name_tokens").alias("token"))


def kb_token_df(kb_tok: DataFrame) -> DataFrame:
    """(token, df) document frequencies of the KB name tokens -- a
    map-side-combined aggregate, skew-immune."""
    return kb_tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))


def select_fuzzy_tokens(
    sparse_tokens: DataFrame, token_df: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Per-mention fuzzy block-token selection with the DF cap and the
    least-frequent-token fallback (ADVICE r3).

    A token naming more than ``fuzzy_token_df_cap`` KB entries carries no
    retrieval signal and is the one quadratic-join risk in the EL path, so
    it is normally dropped. But a mention whose EVERY token is hot
    ("grand hotel unseen" over a hotel KB) would then retrieve ZERO fuzzy
    candidates where the reference retrieves and caps by score -- so each
    such mention keeps its LEAST-frequent KB token (deterministic
    tie-break on the token string), bounded by the larger
    ``fuzzy_fallback_df_cap`` (beyond that even one token would pull an
    unbounded candidate set through the pre-window join; the residual
    recall deviation above the fallback cap is the documented trade).

    The per-mention window partitions are tiny (a mention's token count),
    so the two window passes are shuffle-bounded by the sparse-mention
    table, not the KB."""
    st = sparse_tokens.join(token_df, "token", "inner")  # tokens known to the KB
    w = Window.partitionBy("mention_norm")
    st = st.withColumn(
        "_usable", (F.col("df") <= cfg.fuzzy_token_df_cap).cast("int")
    ).withColumn("_any_usable", F.max("_usable").over(w))
    best = F.min_by(
        F.struct(F.col("df"), F.col("token")), F.struct(F.col("df"), F.col("token"))
    ).over(w)
    st = st.withColumn("_best_token", best["token"]).withColumn("_best_df", best["df"])
    keep = (F.col("_usable") == 1) | (
        (F.col("_any_usable") == 0)
        & (F.col("token") == F.col("_best_token"))
        & (F.col("_best_df") <= cfg.fuzzy_fallback_df_cap)
    )
    return st.where(keep).select("mention_norm", "token")


def fuzzy_token_index(
    kbn: DataFrame, kb_columns: list[str], cfg: PipelineConfig
) -> DataFrame:
    """DF-capped (KB row, token) index: tokens naming more than
    ``cfg.fuzzy_token_df_cap`` entries are excluded. generate_candidates
    now uses kb_token_index + select_fuzzy_tokens (per-mention fallback);
    this mention-agnostic form remains for callers without one."""
    kb_tok = kb_token_index(kbn, kb_columns)
    usable = (
        kb_token_df(kb_tok)
        .where(F.col("df") <= cfg.fuzzy_token_df_cap)
        .select("token")
    )
    return kb_tok.join(usable, "token", "inner")


def generate_candidates(
    cells: DataFrame, kb: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Candidate generation: blocking join against the KB (replaces the
    LamAPI HTTP source S6, crocodile/fetchers.py:51-121).

    Implements the reference's dedup-of-identical-mentions rewrite
    (fetchers.py:127-147): distinct mention_norm -> candidate sets ->
    re-join to cells (J5 law: all cells sharing a normalized mention share
    one candidate set, processors.py:186-200).

    Two passes like the reference (exact then fuzzy, T5): pass 1 blocks on
    full normalized name; pass 2 (for mentions with <= 1 candidate) blocks
    on shared name tokens -- the in-engine analog of fuzzy=True retry --
    keyed by mention (NOT first-occurrence context; the reference's
    duplicate-mention bug at processors.py:191 is deliberately not
    reproduced). Retrieval is capped at ``candidate_retrieval_limit`` per
    mention by a deterministic retrieval score.

    Skew guard: the token index is DF-capped before the join -- a token
    naming more than ``cfg.fuzzy_token_df_cap`` KB entries is dropped from
    the fuzzy block key (same corpus-level-stopword law as
    blocking.py::distinctive_tokens). Without the cap a hot token ("john",
    "de") at a 100x KB makes the pre-window join quadratic; a token that
    hot cannot discriminate within the retrieval cap anyway.
    """
    mentions = cells.select("mention_norm").distinct()
    kbn = kb.withColumn("name_norm", normalize_mention(F.col("name"))).withColumn(
        "name_tokens", tokenize(F.col("name"), remove_stopwords=False)
    )

    exact = mentions.join(
        kbn, F.col("mention_norm") == F.col("name_norm"), "inner"
    ).select("mention_norm", *kb.columns)

    # fuzzy retry for sparse mentions: block on shared name tokens
    n_exact = exact.groupBy("mention_norm").agg(F.count(F.lit(1)).alias("n"))
    sparse = (
        mentions.join(n_exact, "mention_norm", "left")
        .where(F.coalesce(F.col("n"), F.lit(0)) <= 1)
        .select("mention_norm")
        .withColumn(
            "token", F.explode(tokenize(F.col("mention_norm"), remove_stopwords=False))
        )
    )
    kb_tok = kb_token_index(kbn, kb.columns)
    tok_df = kb_token_df(kb_tok)
    chosen = select_fuzzy_tokens(sparse, tok_df, cfg)
    # chosen can never contain a token hotter than BOTH caps, so
    # pre-filtering the KB side with the SAME df table is output-identical
    # and keeps ultra-hot (KB row, token) pairs -- 'de' naming millions of
    # entries at a 100x KB -- out of the shuffle entirely. max() of the
    # two caps, not the fallback cap alone: a config with
    # fuzzy_token_df_cap > fuzzy_fallback_df_cap would otherwise silently
    # drop candidates for tokens between the caps.
    kb_df_bound = max(cfg.fuzzy_token_df_cap, cfg.fuzzy_fallback_df_cap)
    kb_tok_capped = kb_tok.join(
        tok_df.where(F.col("df") <= kb_df_bound).select("token"),
        "token",
        "inner",
    )
    fuzzy = (
        chosen.join(kb_tok_capped, "token", "inner")
        .select("mention_norm", *kb.columns)
        .distinct()
    )

    cands = exact.unionByName(fuzzy).distinct()
    # retrieval cap: top-N per mention by edit similarity, deterministic ties
    retr_score = levenshtein_similarity(
        F.col("mention_norm"), normalize_mention(F.col("name"))
    )
    w = Window.partitionBy("mention_norm").orderBy(
        F.desc("retrieval_score"), F.asc("qid")
    )
    return (
        cands.withColumn("retrieval_score", retr_score)
        .withColumn("retrieval_rank", F.row_number().over(w))
        .where(F.col("retrieval_rank") <= cfg.candidate_retrieval_limit)
        .drop("retrieval_rank")
    )


def inject_gold_candidates(
    cand_by_mention: DataFrame, cells: DataFrame, kb: DataFrame
) -> DataFrame:
    """J9: ensure every gold qid appears in its mention's candidate set
    (placeholder-union law, crocodile/fetchers.py:76-90) so training slices
    always contain the gold row (W3 precondition)."""
    required = (
        cells.where(F.col("gold_qid").isNotNull())
        .select("mention_norm", F.col("gold_qid").alias("qid"))
        .distinct()
    )
    missing = required.join(
        cand_by_mention.select("mention_norm", "qid"), ["mention_norm", "qid"], "left_anti"
    )
    placeholders = missing.join(kb, "qid", "inner").select(
        "mention_norm", *[c for c in kb.columns]
    )
    return cand_by_mention.drop("retrieval_score").unionByName(placeholders)


def compute_features(
    cell_cands: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """X1: the 19-feature algebra per (cell, candidate)
    (crocodile/feature.py:87-153), all native expressions.

    KB-provided slots (popularity/ed/jaccard/jaccardNgram in the reference)
    are computed in-engine; bow_similarity is the F6 overlap between the
    row's context tokens and the entity's name+description tokens (X2
    in-engine replacement); typeFreq1..5 are attached later (X3).
    """
    mention = F.col("mention_norm")
    name = F.coalesce(normalize_mention(F.col("name")), F.lit(""))
    desc = F.coalesce(F.col("description"), F.lit(""))
    mention_toks = tokenize(mention, remove_stopwords=False)
    name_toks = tokenize(name, remove_stopwords=False)
    row_toks = tokenize(F.col("context_text"))
    desc_toks = tokenize(desc)
    entity_text_toks = F.array_union(name_toks, desc_toks)

    ws_count = lambda c: F.size(  # noqa: E731
        F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0)
    )

    return (
        cell_cands.withColumn("ntoken_mention", ws_count(mention).cast("double"))
        .withColumn("ntoken_entity", ws_count(name).cast("double"))
        .withColumn("length_mention", F.length(mention).cast("double"))
        .withColumn("length_entity", F.length(name).cast("double"))
        .withColumn("popularity", F.coalesce(F.col("popularity"), F.lit(0.0)))
        .withColumn("ed_score", levenshtein_similarity(mention, name))
        .withColumn("jaccard_score", set_jaccard(mention_toks, name_toks))
        .withColumn("jaccardNgram_score", ngram_jaccard(mention, name))
        .withColumn("desc", set_jaccard(row_toks, desc_toks))
        .withColumn("descNgram", ngram_jaccard(mention, desc))
        .withColumn("bow_similarity", set_jaccard(row_toks, entity_text_toks))
        .withColumn("kind", _map_expr(KIND_MAP, F.col("kind"), 1).cast("double"))
        .withColumn(
            "NERtype", _map_expr(NERTYPE_MAP, F.col("nertype"), 4).cast("double")
        )
        .withColumn(
            "column_NERtype",
            _map_expr(NERTYPE_MAP, F.col("ne_type"), 4).cast("double"),
        )
    )


def heuristic_rank(
    feats: DataFrame, cfg: PipelineConfig, gold_inject: bool = True
) -> DataFrame:
    """W1 heuristic score + W2 rank/slice + W3 gold injection.

    Score = mean of the 7 W1 features (crocodile/processors.py:325-343).
    Rank: score desc with deterministic qid tie-break (SURVEY.md 7.4
    deviation from the reference's arrival-order stability). Gold
    injection: the gold candidate is force-kept in the training slice via
    an is_gold-first ordering (semantics-equivalent simplification of
    processors.py:299-311).
    """
    score = sum((F.col(c) for c in W1_FEATURES), F.lit(0.0)) / float(len(W1_FEATURES))
    scored = feats.withColumn("score", score).withColumn(
        "is_gold",
        (F.col("gold_qid").isNotNull() & (F.col("qid") == F.col("gold_qid"))).cast(
            "int"
        ),
    )
    cell_key = ["client_id", "dataset_name", "table_name", "row_id", "col_id"]
    w_rank = Window.partitionBy(*cell_key).orderBy(F.desc("score"), F.asc("qid"))
    scored = scored.withColumn("rank", F.row_number().over(w_rank))
    if gold_inject:
        w_train = Window.partitionBy(*cell_key).orderBy(
            F.desc("is_gold"), F.desc("score"), F.asc("qid")
        )
        scored = scored.withColumn("train_rank", F.row_number().over(w_train))
    return scored


def top_k_results(ranked: DataFrame, cfg: PipelineConfig, rank_col: str = "rank") -> DataFrame:
    """el_results slice: top max_candidates_in_result per cell (W2)."""
    return ranked.where(F.col(rank_col) <= cfg.max_candidates_in_result)


def export_el(
    ranked: DataFrame, input_rows: DataFrame, col_ids: list[int] | None = None
) -> DataFrame:
    """J6 export law (crocodile/crocodile.py:448-475): the top-1 candidate
    per NE column flattened to {col}_id/_name/_desc/_score columns, joined
    back to the input rows on the row key.

    ``col_ids``: the NE column index list, statically known from the
    table's ne_cols metadata -- pass it to keep the pivot plan job-free;
    the ``collect()`` fallback exists only for callers without metadata."""
    key = ["client_id", "dataset_name", "table_name", "row_id"]
    top1 = ranked.where(F.col("rank") == 1).select(
        *key,
        "col_id",
        F.col("qid").alias("id"),
        F.col("name"),
        F.col("description"),
        F.col("score"),
    )
    if col_ids is None:
        col_ids = sorted(
            r["col_id"] for r in top1.select("col_id").distinct().collect()
        )
    wide = top1.groupBy(*key).pivot("col_id", col_ids).agg(
        F.first("id").alias("id"),
        F.first("name").alias("name"),
        F.first("description").alias("desc"),
        F.first("score").alias("score"),
    )
    return input_rows.select(*key, "data").join(wide, key, "left")


def build_cell_data(ranked: DataFrame) -> DataFrame:
    """J7 result-sync cell_data materialization
    (backend/app/services/result_sync.py:428-454 + data_service.py:195-219):
    the flat per-cell serving table the search/filter/sort/pagination
    endpoints read -- one row per NE cell with its raw text, the top-1
    candidate's confidence, and that candidate's sorted type ids. In
    production this is a MERGE INTO a serving table; here it is the pure
    projection (the merge law is J2).

    Coverage law (r4): candidate-less cells (rank null, kept by
    link_cells) are emitted with null confidence and null types -- the
    backend's cell_data covers EVERY cell
    (backend/app/services/result_sync.py:428-454), not just linked ones."""
    key = ["client_id", "dataset_name", "table_name", "row_id", "col_id"]
    top1 = ranked.where((F.col("rank") == 1) | F.col("rank").isNull())
    types_col = (
        F.array_sort(F.transform(F.col("types"), lambda t: t["id"]))
        if "types" in ranked.columns
        else F.array().cast("array<string>")
    )
    return top1.select(
        *key,
        F.col("cell_value").alias("cell_text"),
        F.col("score").alias("confidence"),
        types_col.alias("types"),
    )


def training_export(ranked: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S11/M3 training-sample export (training/export_training.py:38-75):
    one row per candidate in the training slice, features rounded to 3dp,
    target = 1 iff candidate id == gold qid."""
    feat_cols = [c for c in cfg.feature_names if c in ranked.columns]
    return ranked.where(
        F.col("train_rank") <= cfg.max_candidates_in_result
    ).select(
        "client_id",
        "dataset_name",
        "table_name",
        "row_id",
        "col_id",
        "qid",
        *[F.round(F.col(c), 3).alias(c) for c in feat_cols],
        F.col("is_gold").alias("target"),
    )


def link_cells(
    input_rows: DataFrame,
    kb: DataFrame,
    cfg: PipelineConfig | None = None,
    keep_unlinked: bool = True,
) -> DataFrame:
    """Full EL phase (section 3.1 steps 1-2): cells -> ranked candidates
    with features. Returns the flat candidates table (one row per cell x
    candidate) with rank and train_rank.

    ``keep_unlinked`` (default True, r4): a valid NE cell whose mention
    matched NOTHING in the KB survives as one row with null candidate
    columns and null rank -- parity with the reference, which writes
    el_results even when empty (crocodile/processors.py:236-246) so the
    backend's cell_data covers every cell. rank-bounded consumers
    (top_k_results, training_export, export_el top-1) drop these rows
    naturally via their rank predicates; build_cell_data keeps them."""
    cfg = cfg or PipelineConfig()
    cells = extract_cells(input_rows)
    cands = generate_candidates(cells, kb, cfg)
    cands = inject_gold_candidates(cands, cells, kb)
    cell_cands = cells.join(cands, "mention_norm", "inner")
    feats = compute_features(cell_cands, cfg)
    ranked = heuristic_rank(feats, cfg)
    if keep_unlinked:
        unlinked = cells.join(
            cands.select("mention_norm").distinct(), "mention_norm", "left_anti"
        )
        ranked = ranked.unionByName(unlinked, allowMissingColumns=True)
    return ranked
