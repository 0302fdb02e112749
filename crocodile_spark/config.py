"""Pipeline configuration.

Mirrors the reference's configuration surface (Crocodile.__init__,
reference crocodile/crocodile.py:32-51) re-expressed for a Spark pipeline,
plus the blocking/scoring/clustering knobs the new engine adds per
SURVEY.md section 7.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # ---- candidate/result shaping (reference crocodile/crocodile.py:45-51) ----
    max_candidates_in_result: int = 5       # top-K kept per mention (W2)
    candidate_retrieval_limit: int = 16     # max candidates per mention at blocking
    top_n_for_type_freq: int = 3            # A1 top-N slice
    type_freq_sample_fraction: float = 0.7  # A2: docs_to_process=0.7
    type_freq_sample_seed: int = 42         # reference samples unseeded; we seed

    # ---- blocking (new engine; SURVEY.md 7.1 stage 2) ----
    minhash_num_hashes: int = 16            # MinHash signature length
    minhash_band_size: int = 4              # rows per LSH band -> 4 bands
    shingle_size: int = 3                   # char n-gram size (F5 law, n=3)
    max_block_size: int = 64                # cap pairs per block: drop oversized keys
    min_token_length: int = 2               # drop 1-char tokens from blocking keys
    # mention-signature token selection: a token is "distinctive" when its
    # document frequency <= max(floor, ceil(frac * N)) -- a RELATIVE law
    # (corpus-level stopword removal), deliberately NOT clamped by
    # max_block_size: the r4 conflation min(cap, frac*N) emptied scoring
    # signatures at 529k records (name tokens hit DF ~ 70 > 64 and F1 fell
    # to 0.9844). Pair-blowup safety is cap_blocks' job (oversized tok:
    # blocks are still dropped from BLOCKING); signature boundedness is
    # sig_max_tokens' job (k-rarest truncation per record)
    mention_df_fraction: float = 0.05
    mention_df_floor: int = 3
    # per-record signature bound: keep only the sig_max_tokens rarest
    # distinctive tokens (ties broken by token text -- deterministic), so
    # signature width is O(k) regardless of corpus size
    sig_max_tokens: int = 12
    # per-record tok: blocking-key budget, DECOUPLED from sig_max_tokens
    # (ADVICE r5/r6): block_tokens is the block_max_tokens rarest among
    # ALL block-eligible distinctive tokens (df <= max_block_size), not
    # the eligible subset of the k-rarest signature slice -- a shared
    # token outranked by 12 unshared rarer fillers on both sides no
    # longer silently loses the pair. Width stays bounded per record.
    block_max_tokens: int = 48
    # EL fuzzy-retry (T5) skew guard: a KB name token indexing more than
    # this many entries is dropped from the token block key -- it cannot
    # discriminate within candidate_retrieval_limit and only inflates the
    # pre-window join (el.py::select_fuzzy_tokens)
    fuzzy_token_df_cap: int = 256
    # per-mention fallback (ADVICE r3): a mention whose EVERY token is hot
    # keeps its least-frequent token anyway (the reference retrieves and
    # caps by score), bounded by this larger cap so one pathological
    # mention cannot pull an unbounded candidate set through the
    # pre-window join; beyond it the recall deviation is accepted+documented
    fuzzy_fallback_df_cap: int = 4096

    # ---- scoring (stage 3) ----
    score_threshold: float = 0.42           # heuristic-mean edge threshold (W1);
                                            # sits mid-gap between observed
                                            # same-entity minima (~0.48) and
                                            # cross-entity maxima (~0.26)

    # ---- clustering (stage 4) ----
    max_cc_iterations: int = 20             # large-star/small-star bound

    # ---- execution ----
    shuffle_partitions: int = 32
    # byte budget for FORCED broadcasts on the incremental delta path
    # (r6 ADVICE): row-count gates say nothing about bytes -- a 2M-row
    # url set at 300B/url is ~600MB in the driver. Gates estimate
    # rows x (2 x sampled avg strlen + 48B row overhead) and fall back
    # to the shuffle join past this budget.
    broadcast_bytes_cap: int = 128 * 1024 * 1024
    checkpoint_dir: str | None = None       # lakehouse root; None = in-memory only
    resume_buckets: int = 4                 # mid-stage resume granularity (Q1/Q2
                                            # claim-batch analog; SURVEY 7.5)

    # feature order: the 19-slot vector law of the reference
    # (reference crocodile/feature.py:10-30 DEFAULT_FEATURES).
    feature_names: tuple = field(
        default=(
            "ntoken_mention", "ntoken_entity", "length_mention", "length_entity",
            "popularity", "ed_score", "jaccard_score", "jaccardNgram_score",
            "desc", "descNgram", "bow_similarity", "kind", "NERtype",
            "column_NERtype", "typeFreq1", "typeFreq2", "typeFreq3",
            "typeFreq4", "typeFreq5",
        )
    )
