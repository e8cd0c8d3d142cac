"""Text-analysis operators over the ``documents`` table (north-star
LLM-data-pipeline surface: token counting, quality scoring, language ID,
fingerprinting).

Everything except language-ID is oracle-checked against DuckDB; all
expressions are built-in (codegen'd JVM side) — a 100 TB documents scan
runs these as a single map-only stage with partial aggregation where
grouped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from mini_log_lakehouse_spark import session
from mini_log_lakehouse_spark.functions.text import (
    BPE_ISH_PATTERN,
    avg_token_len,
    bpe_ish_tokens,
    distinct_token_count,
    quality_score,
    text_or_empty,
    token_count,
    token_shingles,
    ws_tokens,
)
from mini_log_lakehouse_spark.sources.registry import load_table, warm_mode

#: Tiny per-language lexicons for the n-gram/lexicon language-ID heuristic.
#: Real multilingual function words; deterministic, no model download.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "un", "una", "por"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "人", "这"),
}


def _docs(spark, sf_dir: str):
    """The documents table with the module's NULL contract applied: a
    missing text is the EMPTY document (symmetric with _TXT on the
    oracle side). Keeps every text expression total — regex counts,
    shingles, fingerprints — instead of letting NULL propagate into
    engine-specific corners (see _TXT's comment)."""
    return load_table(spark, sf_dir, "documents").withColumn(
        "text", text_or_empty()
    )


def load_documents_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver ``documents``: raw columns plus ``n_tokens`` materialized
    once — the lakehouse answer to "text-function throughput dominates
    corpus stats". The testdata already ships ``n_chars`` as a physical
    column; a 100 TB ingest would likewise compute token counts ONCE at
    the staging write, after which every stats/packing/sampling query is
    a pure numeric aggregate that never touches ``text`` (and with
    columnar storage never even reads it — column pruning drops the text
    bytes from the scan entirely).

    In warm-cache mode (SPARK_GRAFT_CACHE_TABLES=1, the bench contract)
    the staged table persists in memory, standing in for the written
    silver table; cold paths get the same schema lazily so correctness
    runs are identical either way.
    """

    def staged() -> DataFrame:
        return _docs(spark, sf_dir).withColumn(
            "n_tokens", token_count(F.col("text")).cast("long")
        )

    if not warm_mode():
        return staged()
    return session.memo(spark, ("textstats.staged", sf_dir), lambda: staged().persist())


def _doc_serving_fct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-layer micro-fact for corpus stats, the documents twin of
    events._serving_fct: (lang, source)-grain counts/sums (~|langs|x
    |sources| rows at ANY corpus size), materialized once per (session,
    sf_dir) in warm-cache mode. Every stats request then re-aggregates a
    handful of rows in one task instead of re-scanning the silver table —
    at 100 TB the fact would be a written gold table; here it stands in
    as a 1-partition persisted frame."""

    def build() -> DataFrame:
        df = (
            load_documents_staged(spark, sf_dir)
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
            .coalesce(1)
            .persist()
        )
        df.count()  # eager, so the first serve isn't penalized
        return df

    return session.memo(spark, ("textstats.doc_fct", sf_dir), build)


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (whitespace tokenization), grouped
    over the staged ``n_tokens`` column — a numeric-only aggregate after
    the one-time silver materialization (load_documents_staged). In
    warm-cache mode it re-aggregates the (lang, source) serving
    micro-fact instead (value-identical: the fact's grain partitions the
    documents, and all inputs are integer sums); the driver's cold
    correctness gate keeps the silver-scan plan."""
    if warm_mode():
        fct = _doc_serving_fct(spark, sf_dir)
        return (
            fct.groupBy("lang")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("total_tokens").cast("long").alias("total_tokens"),
                F.round(
                    F.sum("total_tokens") / F.sum("n_docs"), 6
                ).alias("avg_tokens"),
                F.sum("total_chars").cast("long").alias("total_chars"),
            )
            .orderBy("lang")
        )
    d = load_documents_staged(spark, sf_dir)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias("avg_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


def doc_word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-20 (explode + count + top-K)."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counts per source (regexp_extract_all)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.array_size(bpe_ish_tokens(F.col("text")))).cast("long").alias("bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprint + size stats (md5 content hash)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        # long casts: DuckDB len()/length() return BIGINT
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("text_len"),
    ).orderBy("doc_id")


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristic: unique-token ratio + length score."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        distinct_token_count(F.col("text")).cast("long").alias("n_unique_tokens"),
        F.round(avg_token_len(F.col("text")), 6).alias("avg_token_len"),
        quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


#: Chunking parameters: window of 50 tokens advancing by 40 (10-token
#: overlap) — the context-window-prep shape of a training-data pipeline.
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (training-data context prep):
    split each document into CHUNK_TOKENS-token windows every
    CHUNK_STRIDE tokens, with the LAST window right-aligned to the
    document end. Right-aligning (instead of letting starts run past
    n − window + 1) means every chunk is a full window (or the single
    window of a short doc) and no chunk is wholly contained in the
    previous one — a naive "starts while start ≤ n" rule emits a
    contained tail chunk for ~25% of document lengths, silently
    double-weighting document tails in the training set. One posexplode
    over computed starts — a pure map-side explode, no shuffle until the
    final sort; at 100 TB this is a single scan producing ~len/stride
    rows per doc."""
    d = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    n = F.array_size(toks)
    # 1-based starts: 1, 1+S, ... up to last = max(n-T+1, 1), plus the
    # right-aligned tail start itself (dedup'd when it falls on stride).
    last = F.greatest(n - F.lit(CHUNK_TOKENS) + 1, F.lit(1))
    starts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.sequence(F.lit(1), last, F.lit(CHUNK_STRIDE)), F.array(last)
            )
        )
    )
    return (
        d.select("doc_id", toks.alias("_toks"), F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_size(F.slice("_toks", F.col("start"), F.lit(CHUNK_TOKENS)))
            .cast("long")
            .alias("chunk_tokens"),
            F.concat_ws(" ", F.slice("_toks", F.col("start"), F.lit(CHUNK_TOKENS))).alias(
                "chunk_text"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def _max_run_length(sorted_arr) -> F.Column:
    """Longest run of equal adjacent elements in a *sorted* array ==
    the count of the most frequent element. One O(n) fold (aggregate
    with (prev, run, best) struct state) — no per-token explode, no
    O(n·distinct) nested scan, so a 100k-token document costs one pass."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate bigram /
    trigram fraction and most-frequent-token share, plus the resulting
    keep/drop flag (the standard repetition filter in training-data
    pipelines; thresholds are the survey defaults, rational arithmetic
    only so the oracle reproduces doubles bit-for-bit). All signals are
    per-row array expressions — a map-only pass at any scale.

    spread_cpu: the shingle arrays + per-row array_sort/array_distinct
    are the most expensive JVM per-row expressions in this module, and
    the warm-mode cached documents table arrives in ~6 partitions
    (measured 5.2 s warm at sf0.1 on 6 of 32 cores — see
    OPTIMIZATION_r15.md)."""
    from mini_log_lakehouse_spark.session import spread_cpu

    d = spread_cpu(_docs(spark, sf_dir), "doc_id")
    # Materialize the three arrays ONCE in their own projection: inlined,
    # every stat column re-evaluates its shingle/tokenize regex tree
    # independently (the signal expressions reference each array 2×, and
    # whole-stage CSE does not span the interpreted HOF boundary) —
    # measured 5.2 s → see OPTIMIZATION_r15.md. CollapseProject keeps
    # the boundary because the array exprs are non-cheap and referenced
    # more than once downstream (the minhash _base idiom).
    arrs = d.select(
        "doc_id",
        ws_tokens(F.col("text")).alias("_t"),
        token_shingles(F.col("text"), 2).alias("_g2"),
        token_shingles(F.col("text"), 3).alias("_g3"),
    )
    dup2 = F.lit(1.0) - F.array_size(F.array_distinct("_g2")) / F.array_size("_g2")
    dup3 = F.lit(1.0) - F.array_size(F.array_distinct("_g3")) / F.array_size("_g3")
    top_frac = _max_run_length(F.array_sort("_t")) / F.array_size("_t")
    out = arrs.select(
        "doc_id",
        F.array_size("_t").cast("long").alias("n_tokens"),
        F.round(dup2, 6).alias("dup_2gram_ratio"),
        F.round(dup3, 6).alias("dup_3gram_ratio"),
        F.round(top_frac, 6).alias("top_token_frac"),
    )
    keep = (
        (F.col("dup_2gram_ratio") < 0.9)
        & (F.col("dup_3gram_ratio") < 0.8)
        & (F.col("top_token_frac") < 0.3)
    )
    return out.select("*", keep.cast("int").alias("keep")).orderBy("doc_id")


#: PII detector patterns — metacharacter-conservative so Java regex
#: (Spark) and RE2 (DuckDB) agree: no lookaround, no \s (engines differ
#: on vertical tab), only literal classes / bounded quantifiers / \b.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{1,3}[- ]?\(?\d{3}\)?[- ]?\d{3}[- ]?\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "long_id": r"\b\d{9,}\b",
}
PII_SENTINELS: dict[str, str] = {
    "email": "<EMAIL>",
    "phone": "<PHONE>",
    "ipv4": "<IP>",
    "long_id": "<ID>",
}
#: Redaction applies patterns in this order (emails before phones before
#: IPs before bare digit runs) — the order matters because a later
#: pattern could match inside an earlier match's text; both engines
#: replace in the same sequence so fingerprints stay identical.
PII_REDACTION_ORDER = ("email", "phone", "ipv4", "long_id")


#: Single-scan PII presence test: alternation of every detector pattern
#: (non-capturing groups — Java regex and RE2 agree). A gate that only
#: needs *whether* PII exists should use this, not the per-type counts:
#: rlike/regexp_matches short-circuits at the first hit, where four
#: regexp_extract_all calls each scan the full text and allocate match
#: arrays (measured 0.82 s → ~0.4 s on the curation summary at sf0.1).
PII_ANY_PATTERN = "|".join(f"(?:{PII_PATTERNS[k]})" for k in PII_REDACTION_ORDER)


def pii_any(col) -> F.Column:
    """True when any PII detector pattern matches (single-scan rlike)."""
    return col.rlike(PII_ANY_PATTERN)


def pii_count(col, kind: str) -> F.Column:
    """Occurrences of one PII pattern in a text column (raw text —
    counts are independent per pattern, detector-metric style)."""
    return F.array_size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[kind]), F.lit(0)))


def redact_pii(col) -> F.Column:
    """Replace every PII match with its typed sentinel, in
    PII_REDACTION_ORDER. Pure regexp_replace chain — codegen'd, map-only
    at any scale."""
    out = col
    for kind in PII_REDACTION_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], PII_SENTINELS[kind])
    return out


def doc_pii_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scrub signals: per-type match counts, the
    redacted-content fingerprint (what a curation pipeline would store in
    place of raw text), and a ``clean`` flag. One map-only scan."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    counts = {k: pii_count(t, k).cast("long") for k in PII_REDACTION_ORDER}
    clean = (
        sum(counts.values(), F.lit(0).cast("long")) == 0
    )
    return d.select(
        "doc_id",
        *[counts[k].alias(f"n_{k}") for k in PII_REDACTION_ORDER],
        F.md5(redact_pii(t)).alias("redacted_fingerprint"),
        clean.cast("int").alias("clean"),
    ).orderBy("doc_id")


#: Whitespace run class — explicit (no \s: Java includes \x0B, RE2 does
#: not), shared by the Spark expression and the oracle.
_WS_RUN = r"[ \t\n\r]+"


def normalize_text(col) -> F.Column:
    """Canonical text form: whitespace runs collapsed to single spaces,
    trimmed, lowercased — the dedup-friendly normalization pass of a
    training-data pipeline (run it before fingerprinting/shingling so
    formatting-only variants collapse)."""
    return F.lower(F.trim(F.regexp_replace(col, _WS_RUN, " ")))


def doc_normalized_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-vs-normalized accounting per document: lengths on both sides
    and the normalized fingerprint (the exact-dedup key after
    normalization)."""
    d = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_len"),
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm).alias("norm_fingerprint"),
    ).orderBy("doc_id")


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit language ID: score = |tokens ∩ lexicon(lang)| per
    language, predict the argmax (alphabetical tiebreak), compare with the
    labeled ``lang``. One map-only pass + tiny aggregate."""
    d = _docs(spark, sf_dir)
    toks = F.array_distinct(ws_tokens(F.col("text")))
    scored = d.select(
        "doc_id",
        "lang",
        *[
            F.array_size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias(f"score_{lang}")
            for lang, words in sorted(LANG_LEXICONS.items())
        ],
    )
    # argmax via array of (score, lang) structs sorted desc — deterministic
    # alphabetical tiebreak comes from sorting on (-score, lang).
    pairs = F.array(
        *[
            F.struct(
                (-F.col(f"score_{lang}")).alias("neg"), F.lit(lang).alias("lang")
            )
            for lang in sorted(LANG_LEXICONS)
        ]
    )
    predicted = F.array_sort(pairs)[0]["lang"]
    return (
        scored.select("doc_id", "lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted_lang")
    )


#: Corpus-frequency threshold for the rare-token fraction signal (a
#: token is "rare" when its whole-corpus count is at most this).
UNIGRAM_RARE_MAX = 2

#: Per-document keyword count for the TF-IDF extraction.
TFIDF_TOP_K = 3


def _ratio6(p_expr: str, q_expr: str) -> F.Column:
    """Exact half-up quantization of the rational p/q to 6 decimals,
    never ROUNDing an arbitrary double: micro = (2·p·10⁶ + q) DIV (2·q)
    in integer/decimal arithmetic (`DIV` truncates toward zero — exact),
    then one double division by 10⁶. micro fits in a long (≤ ~10¹⁵ at
    any bench leg) so the double conversion is exact, and a single IEEE
    division is bit-identical in Spark and DuckDB. Same discipline as
    relational._to_money2 (ROUND on a boundary double flips between
    engines; the half-up must happen in exact arithmetic).

    ``p_expr``/``q_expr`` are SQL fragments over the enclosing plan's
    column names; p is widened to decimal(38,0) before the multiply so
    token-mass sums at the 100× leg can't overflow a long.

    Domain precondition: p/q < ~9.2·10¹² (micro must fit the BIGINT
    that Spark's DIV returns — property-tested at the boundary in
    test_sampling_props). Both callers are bounded far below it:
    avg_corpus_freq ≤ total corpus tokens, rare_frac ≤ 1."""
    return (
        F.expr(
            f"CAST((CAST({p_expr} AS DECIMAL(38,0)) * 2000000 + {q_expr}) "
            f"DIV (2 * ({q_expr})) AS DOUBLE)"
        )
        / F.lit(1e6)
    )


def _doc_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token, tf): per-document term frequencies — the shared
    first stage of the unigram-LM and TF-IDF operators. One explode +
    one shuffle on (doc_id, token) with map-side partial aggregation;
    the explode itself is map-only, so at 100 TB this is a single
    corpus scan whose shuffle rows are DISTINCT doc-term pairs (already
    collapsed by the partial agg), not raw token occurrences."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring of every document against a model
    trained on the corpus itself — the classic "how typical is this
    document" quality signal of a training-data pipeline (cf. CCNet-style
    LM filtering), expressed with exact rational statistics instead of
    float log-probs so the cross-engine hash gate is bit-stable:

    - ``avg_corpus_freq``: mean whole-corpus frequency of the document's
      tokens (high = stereotypical text, low = unusual/noisy).
    - ``rare_frac``: fraction of tokens whose corpus count ≤
      UNIGRAM_RARE_MAX (an OOV-rate analog).
    - ``min_token_count``: the rarest token's corpus count.

    Shape at 100 TB: the unigram model (``vocab``) is vocab-scale —
    millions of rows / ~100 MB, broadcastable; here it rides the same
    (token) shuffle as the df-join. Token mass sums use decimal(38,0)
    (a 100× corpus overflows a long), and the two ratios are quantized
    in exact arithmetic (_ratio6)."""
    tf = _doc_term_freq(spark, sf_dir)
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    per_doc = (
        tf.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf").cast("decimal(38,0)") * F.col("c")).alias("mass"),
            F.sum(
                F.when(F.col("c") <= UNIGRAM_RARE_MAX, F.col("tf")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rare_tokens"),
            F.min("c").cast("long").alias("min_token_count"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        _ratio6("mass", "n_tokens").alias("avg_corpus_freq"),
        _ratio6("rare_tokens", "n_tokens").alias("rare_frac"),
        "min_token_count",
    ).orderBy("doc_id")


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP_K keyword extraction per document. idf is the
    *linear* N/df (no log): tf·N is an exact integer and the single
    division by df is one IEEE op, so scores — and therefore ranks —
    are bit-identical across engines (ln() differs in the last ulp
    between libms, which would flip ranks on near-ties). Ranking uses
    the exact integer ``score_micro`` with an alphabetical tiebreak.

    Shape at 100 TB: doc-term pairs shuffle once on token to meet the
    vocab-scale df table (broadcastable), then once on doc_id for the
    rank window; the rank ≤ K predicate pushes a WindowGroupLimit so
    each task keeps K rows per doc before the final sort."""
    d = _docs(spark, sf_dir)
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = _doc_term_freq(spark, sf_dir)
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_micro",
            F.expr(
                "CAST((CAST(tf AS DECIMAL(38,0)) * n_docs * 2000000 + df) "
                "DIV (2 * df) AS LONG)"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            F.col("term_rank").cast("long").alias("term_rank"),
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            (F.col("score_micro").cast("double") / F.lit(1e6)).alias("tfidf"),
        )
        .orderBy("doc_id", "term_rank")
    )


#: LM-gate threshold on a document's mean *relative* corpus frequency
#: (Σ tf·c / (n·T), the average corpus-probability of the document's
#: tokens): drop below LM_GATE_NUM / LM_GATE_DEN. The relative form is
#: scale-invariant (measured ≈0.0331 median at every sf leg from 0.001
#: to 1.0), so one constant serves every corpus size; the absolute mean
#: frequency grows linearly with the corpus and cannot be a constant.
LM_GATE_NUM = 331
LM_GATE_DEN = 10_000


def doc_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate against the corpus's own unigram LM
    (the CCNet-shaped "drop text the LM finds unusual" filter, with the
    LM trained on the corpus itself): a document is dropped when the
    mean relative corpus frequency of its tokens falls below
    LM_GATE_NUM/LM_GATE_DEN. Emits per-document verdicts with the exact
    integer-quantized score so downstream can re-threshold.

    Exactness: the score and the compare never touch floats — the gate
    is the cross-multiplication mass·DEN < NUM·(n·T) in decimal(38,0)
    (mass ≤ T² ≈ 1.6e24 at 100 TB; ×10⁴ still ≪ 1e38), and the reported
    ``rel_freq_micro`` is truncating integer division, so Spark and the
    DuckDB oracle agree bit-for-bit. Shape: same two shuffles as
    doc_unigram_lm_scores (token-grain join + doc-grain agg); the
    corpus-total T is a broadcast scalar."""
    d = _docs(spark, sf_dir)
    tf = _doc_term_freq(spark, sf_dir)
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    total = tf.agg(F.sum("tf").cast("decimal(38,0)").alias("total_tokens"))
    per_doc = (
        tf.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf").cast("decimal(38,0)") * F.col("c")).alias("mass"),
        )
        .crossJoin(F.broadcast(total))
    )
    q = "CAST(n_tokens AS DECIMAL(38,0)) * total_tokens"
    gated = per_doc.select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST((mass * 1000000) DIV ({q}) AS LONG)").alias("rel_freq_micro"),
        F.expr(
            f"CASE WHEN mass * {LM_GATE_DEN} < {LM_GATE_NUM} * ({q}) "
            "THEN 'drop' ELSE 'keep' END"
        ).alias("verdict"),
    )
    return (
        gated.join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "rel_freq_micro", "verdict")
        .orderBy("doc_id")
    )


#: Sparse-search query document and result depth.
SPARSE_QUERY_DOC = 0
SPARSE_TOP_K = 10


def sparse_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED (doc_id, shared_terms, score_milli) lexical scores of
    every candidate document against SPARSE_QUERY_DOC — the shared
    scoring stage of doc_sparse_search (which top-Ks it) and
    retrieval.doc_hybrid_search (which rank-fuses it with the dense
    tier). See doc_sparse_search for the semantics and scale shape."""
    tf = _doc_term_freq(spark, sf_dir)
    d = _docs(spark, sf_dir)
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # idf_milli: one exact integer quantization per token (same
    # truncating-DIV discipline as everywhere else)
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "token",
        F.expr("CAST((CAST(n_docs AS DECIMAL(38,0)) * 1000) DIV df AS LONG)").alias(
            "idf_milli"
        ),
    )
    posting = tf.join(idf, "token")
    query = posting.filter(F.col("doc_id") == SPARSE_QUERY_DOC).select(
        "token", F.col("tf").alias("tf_q")
    )
    scored = (
        posting.filter(F.col("doc_id") != SPARSE_QUERY_DOC)
        .join(F.broadcast(query), "token")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf").cast("decimal(38,0)")
                * F.col("tf_q")
                * F.col("idf_milli")
                * F.col("idf_milli")
            ).alias("_score"),
            F.count(F.lit(1)).cast("long").alias("shared_terms"),
        )
    )
    return scored.select(
        "doc_id",
        "shared_terms",
        F.expr("CAST(_score DIV 1000 AS LONG)").alias("score_milli"),
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram (bucket b covers
    2^b ≤ n_chars < 2^(b+1)) — the corpus-shape diagnostic behind
    chunk-size and packing decisions. Buckets are assigned by EXACT
    integer range comparison against a broadcast 31-row bound table
    (never floor(log2(n)) — float log at power-of-two boundaries is an
    engine-tie hazard); documents with n_chars < 1 would fall in no
    bucket and are excluded by construction (none exist in this
    corpus, and zero-length docs have no length to histogram)."""
    d = _docs(spark, sf_dir)
    buckets = spark.range(31).select(
        F.col("id").cast("int").alias("bucket"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").alias("lo"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT) + 1)").alias("hi"),
    )
    return (
        d.join(
            F.broadcast(buckets),
            (d.n_chars >= buckets.lo) & (d.n_chars < buckets.hi),
        )
        .groupBy(F.col("bucket").cast("long").alias("bucket"), "lo", "hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select("bucket", F.col("lo").alias("min_chars"),
                (F.col("hi") - 1).alias("max_chars"), "n_docs")
        .orderBy("bucket")
    )


def doc_sparse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical retrieval via the inverted-index join — the
    BM25-family query shape: score every document against a query
    document by the sum over SHARED tokens of tf_q · tf_d · idf², with
    the linear idf (N/df) of doc_tfidf_top_terms so the score is an
    exact rational (engines agree bit-for-bit; log-idf would rank
    identically but hash-differ in the last ulp).

    The plan IS an inverted index at 100 TB: doc-term postings join
    the (tiny, broadcast) query term list ON THE TOKEN — only documents
    sharing a query term are ever scored; no pairwise document loop
    exists anywhere. Scoring aggregates the posting join, top-K is a
    TakeOrderedAndProject. Exactness: idf is quantized ONCE per token
    (idf_milli = N·10³ DIV df, truncating), then the score
    Σ tf_d·tf_q·idf_milli² is pure decimal(38,0) integer arithmetic."""
    return (
        sparse_scores(spark, sf_dir)
        .orderBy(F.desc("score_milli"), F.asc("doc_id"))
        .limit(SPARSE_TOP_K)
    )


#: NULL-text convention, module-wide and SYMMETRIC with the Spark side
#: (_docs below): a document with no text is the EMPTY document. Without
#: it the engines drift on hard nulls — e.g. Spark's greatest() skips
#: NULLs while DuckDB's propagates, so token_shingles(NULL) emitted one
#: empty gram Spark-side and none oracle-side (found by the null-text
#: corpus in tests/test_adversarial_corpora.py).
_TXT = "COALESCE(text, '')"
_TOKS = f"string_split({_TXT}, ' ')"

#: The one SQL statement of functions/text.quality_score — shared by the
#: doc_quality_scores and curation oracles so the threshold compare and
#: the reported score can never drift apart.
SQL_QUALITY = (
    f"ROUND(len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) * 0.5"
    f" + least(1.0, len({_TOKS}) / 100.0) * 0.5, 6)"
)

# --- multi-pattern blocklist scan (Aho–Corasick) -----------------------------

#: Curation blocklist: every pattern is BORDER-FREE (no proper prefix
#: equals a suffix — asserted by test), so occurrences can never
#: overlap and the automaton's all-matches count equals the oracle's
#: non-overlapping replace() count. The set mixes whole words, a
#: multi-word phrase, and substrings that cross word boundaries
#: ("ta" inside table/data, "w s" across a space) — matches regexp
#: word-boundary scans cannot express in one pass.
BLOCKLIST = (
    "slow",
    "agg",
    "ta",
    "w s",
    "fast join",
    "big query",
    "value",
    "stream",
)


def build_aho_corasick(patterns: tuple[str, ...]):
    """Goto/fail/output automaton (Aho & Corasick, CACM 1975). Built
    once per pattern set on the driver — size O(Σ|patterns|), shipped
    to tasks as a closure constant like the k-means codebooks."""
    from collections import deque

    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for pi, pat in enumerate(patterns):
        node = 0
        for ch in pat:
            nxt = goto[node].get(ch)
            if nxt is None:
                nxt = len(goto)
                goto[node][ch] = nxt
                goto.append({})
                out.append([])
            node = nxt
        out[node].append(pi)
    fail = [0] * len(goto)
    q = deque(goto[0].values())
    while q:
        u = q.popleft()
        for ch, v in goto[u].items():
            q.append(v)
            f = fail[u]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[v] = cand if cand != v else 0
            out[v] = out[v] + out[fail[v]]
    return goto, fail, out


def ac_count(text: str, goto, fail, out, n_patterns: int) -> list[int]:
    """ALL-occurrence counts per pattern in one left-to-right pass —
    overlapping matches included (the failure links surface every
    pattern ending at each position; see the ababa test)."""
    counts = [0] * n_patterns
    node = 0
    for ch in text:
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        for pi in out[node]:
            counts[pi] += 1
    return counts


def doc_blocklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, pattern) hit counts for the curation BLOCKLIST via a
    single-pass **Aho–Corasick** scan: one automaton walk per document
    counts every pattern simultaneously — the shape a production
    blocklist (thousands of phrases) requires, where one regexp pass
    per pattern would re-scan the corpus P times. The automaton is
    driver-built (O(Σ|patterns|) states) and rides into a map-only
    Arrow pass; text never shuffles, and the output is (doc, pattern)
    grain, already sparse (zero-hit pairs dropped).

    Hash-gated exactly because the blocklist is border-free (see
    BLOCKLIST): non-overlapping = all occurrences, so DuckDB's
    replace()-length count reproduces the automaton integer for
    integer; the automaton itself handles overlaps generally (tested
    on ababa) — the restriction is the oracle's, not the scanner's."""
    import pandas as pd

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    goto, fail, out = build_aho_corasick(BLOCKLIST)
    npat = len(BLOCKLIST)

    def run(batches):
        for pdf in batches:
            dids, pats, hits = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                counts = ac_count(text, goto, fail, out, npat)
                for pi, c in enumerate(counts):
                    if c:
                        dids.append(int(did))
                        pats.append(BLOCKLIST[pi])
                        hits.append(c)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(dids, dtype="int64"),
                    "pattern": pd.Series(pats, dtype="object"),
                    "hits": pd.Series(hits, dtype="int64"),
                }
            )

    return (
        docs.mapInPandas(run, "doc_id long, pattern string, hits long")
        .orderBy("doc_id", "pattern")
    )


_SQL_BLOCKLIST_VALUES = ", ".join(f"('{p}')" for p in BLOCKLIST)

ORACLES: dict[str, str] = {
    "doc_token_stats": f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
               ROUND(SUM(len({_TOKS})) * 1.0 / COUNT(*), 6) AS avg_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
        ORDER BY 1
    """,
    "doc_word_histogram": f"""
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY 1
        ORDER BY n DESC, token
        LIMIT 20
    """,
    "doc_bpe_token_counts": f"""
        SELECT source,
               CAST(SUM(len(regexp_extract_all({_TXT}, '{BPE_ISH_PATTERN}'))) AS BIGINT) AS bpe_tokens,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1
        ORDER BY 1
    """,
    "doc_fingerprints": f"""
        SELECT doc_id,
               md5({_TXT}) AS fingerprint,
               len({_TOKS}) AS n_tokens,
               length({_TXT}) AS text_len
        FROM documents
        ORDER BY doc_id
    """,
    "doc_quality_scores": f"""
        SELECT doc_id,
               lang,
               len({_TOKS}) AS n_tokens,
               len(list_distinct({_TOKS})) AS n_unique_tokens,
               ROUND(length(replace({_TXT}, ' ', '')) * 1.0 / len({_TOKS}), 6) AS avg_token_len,
               {SQL_QUALITY} AS quality
        FROM documents
        ORDER BY doc_id
    """,
    # Start computation mirrors the Spark side exactly: stride starts up
    # to last = max(n-T+1, 1), plus the right-aligned tail start,
    # dedup'd and sorted (generate_series is inclusive like F.sequence).
    "doc_chunks": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        st AS (
            SELECT doc_id, toks,
                   list_sort(list_distinct(list_concat(
                       generate_series(1, greatest(len(toks) - {CHUNK_TOKENS} + 1, 1), {CHUNK_STRIDE}),
                       [greatest(len(toks) - {CHUNK_TOKENS} + 1, 1)]
                   ))) AS starts
            FROM t
        ),
        c AS (
            SELECT doc_id, toks, starts,
                   unnest(generate_series(1, len(starts))) AS k
            FROM st
        )
        SELECT doc_id,
               CAST(k - 1 AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(toks, starts[k],
                                   starts[k] + {CHUNK_TOKENS} - 1)) AS BIGINT) AS chunk_tokens,
               array_to_string(list_slice(toks, starts[k],
                                          starts[k] + {CHUNK_TOKENS} - 1), ' ') AS chunk_text
        FROM c
        ORDER BY doc_id, chunk_idx
    """,
    # Shingle expressions mirror functions/text.py token_shingles exactly
    # (shortened tail grams via greatest(n-k,1) included); the
    # most-frequent-token count is relational here (GROUP BY token) ==
    # the Spark side's sorted-run fold, by construction.
    "doc_repetition_stats": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), grams AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   list_transform(range(1, greatest(len(toks)-1, 1)+1),
                                  i -> array_to_string(list_slice(toks, i, i+1), ' ')) AS g2,
                   list_transform(range(1, greatest(len(toks)-2, 1)+1),
                                  i -> array_to_string(list_slice(toks, i, i+2), ' ')) AS g3
            FROM t
        ), top AS (
            SELECT doc_id, MAX(c) AS top_cnt FROM (
                SELECT doc_id, tok, COUNT(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY 1, 2
            )
            GROUP BY 1
        ), stats AS (
            SELECT g.doc_id,
                   CAST(g.n_tokens AS BIGINT) AS n_tokens,
                   ROUND(1.0 - len(list_distinct(g.g2)) * 1.0 / len(g.g2), 6) AS dup_2gram_ratio,
                   ROUND(1.0 - len(list_distinct(g.g3)) * 1.0 / len(g.g3), 6) AS dup_3gram_ratio,
                   ROUND(top.top_cnt * 1.0 / g.n_tokens, 6) AS top_token_frac
            FROM grams g JOIN top USING (doc_id)
        )
        SELECT *,
               CASE WHEN dup_2gram_ratio < 0.9 AND dup_3gram_ratio < 0.8
                         AND top_token_frac < 0.3
                    THEN 1 ELSE 0 END AS keep
        FROM stats
        ORDER BY doc_id
    """,
    # Lexicon argmax mirrored in SQL: score = |distinct tokens ∩ lexicon|
    # per language; argmax with alphabetical tiebreak via list_sort over
    # (neg_score, lang) structs — the same (-score, lang) ordering trick
    # as the Spark side, and DuckDB sorts structs field-by-field exactly
    # like Spark's array_sort.
    "doc_lang_id": (
        lambda lex: f"""
        WITH scored AS (
            SELECT lang,
                   {", ".join(
                       f"len(list_intersect(list_distinct({_TOKS}), "
                       f"[{', '.join(repr(w) for w in words)}])) AS s_{lang}"
                       for lang, words in sorted(lex.items())
                   )}
            FROM documents
        ), pred AS (
            SELECT lang,
                   list_sort([
                       {", ".join(
                           f"{{'neg': -s_{lang}, 'lang': '{lang}'}}"
                           for lang in sorted(lex)
                       )}
                   ])[1].lang AS predicted_lang
            FROM scored
        )
        SELECT lang, predicted_lang, COUNT(*) AS n
        FROM pred
        GROUP BY 1, 2
        ORDER BY 1, 2
    """
    )(LANG_LEXICONS),
}

#: Sequential redaction chain, innermost-first — same order as
#: PII_REDACTION_ORDER ('g' flag: DuckDB replaces only the first match
#: by default, Spark replaces all).
_SQL_REDACTED = _TXT
for _kind in PII_REDACTION_ORDER:
    _SQL_REDACTED = (
        f"regexp_replace({_SQL_REDACTED}, '{PII_PATTERNS[_kind]}', "
        f"'{PII_SENTINELS[_kind]}', 'g')"
    )

_SQL_PII_COUNTS = " + ".join(
    f"len(regexp_extract_all({_TXT}, '{PII_PATTERNS[k]}'))" for k in PII_REDACTION_ORDER
)

ORACLES["doc_pii_signals"] = f"""
        SELECT doc_id,
               {", ".join(
                   f"CAST(len(regexp_extract_all({_TXT}, '{PII_PATTERNS[k]}')) AS BIGINT) AS n_{k}"
                   for k in PII_REDACTION_ORDER
               )},
               md5({_SQL_REDACTED}) AS redacted_fingerprint,
               CASE WHEN {_SQL_PII_COUNTS} = 0 THEN 1 ELSE 0 END AS clean
        FROM documents
        ORDER BY doc_id
"""

_SQL_NORM = f"lower(trim(regexp_replace({_TXT}, '{_WS_RUN}', ' ', 'g')))"

ORACLES["doc_normalized_fingerprints"] = f"""
        SELECT doc_id,
               length({_TXT}) AS raw_len,
               length({_SQL_NORM}) AS norm_len,
               md5({_SQL_NORM}) AS norm_fingerprint
        FROM documents
        ORDER BY doc_id
"""

#: Shared CTE fragment: per-document term frequencies (mirror of
#: _doc_term_freq).
_SQL_TF = f"""
    SELECT doc_id, token, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
    GROUP BY 1, 2
"""

ORACLES["doc_unigram_lm_scores"] = f"""
        WITH tf AS ({_SQL_TF}),
        vocab AS (SELECT token, SUM(tf) AS c FROM tf GROUP BY 1),
        per_doc AS (
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(CAST(tf AS HUGEINT) * c) AS mass,
                   CAST(SUM(CASE WHEN c <= {UNIGRAM_RARE_MAX} THEN tf ELSE 0 END) AS BIGINT)
                       AS rare_tokens,
                   CAST(MIN(c) AS BIGINT) AS min_token_count
            FROM tf JOIN vocab USING (token)
            GROUP BY 1
        )
        SELECT doc_id,
               n_tokens,
               CAST((mass * 2000000 + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1000000
                   AS avg_corpus_freq,
               CAST((CAST(rare_tokens AS HUGEINT) * 2000000 + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1000000
                   AS rare_frac,
               min_token_count
        FROM per_doc
        ORDER BY doc_id
"""

ORACLES["doc_tfidf_top_terms"] = f"""
        WITH tf AS ({_SQL_TF}),
        dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
                   (CAST(tf.tf AS HUGEINT) * n_docs * 2000000 + df) // (2 * df)
                       AS score_micro
            FROM tf JOIN dfx USING (token) CROSS JOIN nd
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_micro DESC, token) AS term_rank
            FROM scored
        )
        SELECT doc_id,
               CAST(term_rank AS BIGINT) AS term_rank,
               token,
               CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df,
               CAST(score_micro AS DOUBLE) / 1000000 AS tfidf
        FROM ranked
        WHERE term_rank <= {TFIDF_TOP_K}
        ORDER BY doc_id, term_rank
"""

ORACLES["doc_lm_quality_gate"] = f"""
        WITH tf AS ({_SQL_TF}),
        vocab AS (SELECT token, SUM(tf) AS c FROM tf GROUP BY 1),
        total AS (SELECT CAST(SUM(tf) AS HUGEINT) AS t FROM tf),
        per_doc AS (
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(CAST(tf AS HUGEINT) * c) AS mass
            FROM tf JOIN vocab USING (token)
            GROUP BY 1
        )
        SELECT p.doc_id, d.lang, p.n_tokens,
               CAST((mass * 1000000) // (CAST(n_tokens AS HUGEINT) * t)
                    AS BIGINT) AS rel_freq_micro,
               CASE WHEN mass * {LM_GATE_DEN}
                         < {LM_GATE_NUM} * (CAST(n_tokens AS HUGEINT) * t)
                    THEN 'drop' ELSE 'keep' END AS verdict
        FROM per_doc p
        CROSS JOIN total
        JOIN documents d ON p.doc_id = d.doc_id
        ORDER BY p.doc_id
"""

# Shared CTE chain ending in sparse_scored(doc_id, shared_terms,
# score_milli) — one SQL definition of the lexical scorer, in lockstep
# with sparse_scores(); the top-K oracle below and retrieval's hybrid
# RRF oracle both start from it.
SQL_SPARSE_SCORED = f"""tf AS ({_SQL_TF}),
        dfs AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        idf AS (
            SELECT token,
                   CAST((CAST((SELECT COUNT(*) FROM documents) AS HUGEINT) * 1000)
                        // df AS BIGINT) AS idf_milli
            FROM dfs
        ), posting AS (
            SELECT tf.doc_id, tf.token, tf.tf, idf.idf_milli
            FROM tf JOIN idf USING (token)
        ), query AS (
            SELECT token, tf AS tf_q FROM posting
            WHERE doc_id = {SPARSE_QUERY_DOC}
        ), sparse_scored AS (
            SELECT p.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS shared_terms,
                   CAST(SUM(CAST(p.tf AS HUGEINT) * q.tf_q
                            * p.idf_milli * p.idf_milli) // 1000 AS BIGINT)
                       AS score_milli
            FROM posting p JOIN query q USING (token)
            WHERE p.doc_id <> {SPARSE_QUERY_DOC}
            GROUP BY 1
        )"""

ORACLES["doc_blocklist_hits"] = f"""
        WITH pats(pattern) AS (VALUES {_SQL_BLOCKLIST_VALUES}),
        hits AS (
            SELECT d.doc_id, p.pattern,
                   (length(COALESCE(d.text, '')) - length(replace(COALESCE(d.text, ''), p.pattern, '')))
                       // length(p.pattern) AS hits
            FROM documents d, pats p
        )
        SELECT doc_id, pattern, CAST(hits AS BIGINT) AS hits
        FROM hits
        WHERE hits > 0
        ORDER BY 1, 2
"""

ORACLES["doc_length_histogram"] = """
    WITH buckets AS (
        SELECT CAST(b AS BIGINT) AS bucket,
               (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) AS lo,
               (CAST(1 AS BIGINT) << (CAST(b AS INTEGER) + 1)) AS hi
        FROM UNNEST(range(0, 31)) AS t(b)
    )
    SELECT b.bucket,
           b.lo AS min_chars,
           b.hi - 1 AS max_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d
    JOIN buckets b ON d.n_chars >= b.lo AND d.n_chars < b.hi
    GROUP BY 1, 2, 3
    ORDER BY 1
"""

ORACLES["doc_sparse_search"] = f"""
        WITH {SQL_SPARSE_SCORED}
        SELECT doc_id, shared_terms, score_milli
        FROM sparse_scored
        ORDER BY score_milli DESC, doc_id ASC
        LIMIT {SPARSE_TOP_K}
"""

QUERIES = {
    "doc_blocklist_hits": doc_blocklist_hits,
    "doc_token_stats": doc_token_stats,
    "doc_sparse_search": doc_sparse_search,
    "doc_length_histogram": doc_length_histogram,
    "doc_lm_quality_gate": doc_lm_quality_gate,
    "doc_unigram_lm_scores": doc_unigram_lm_scores,
    "doc_tfidf_top_terms": doc_tfidf_top_terms,
    "doc_word_histogram": doc_word_histogram,
    "doc_bpe_token_counts": doc_bpe_token_counts,
    "doc_fingerprints": doc_fingerprints,
    "doc_quality_scores": doc_quality_scores,
    "doc_lang_id": doc_lang_id,
    "doc_chunks": doc_chunks,
    "doc_repetition_stats": doc_repetition_stats,
    "doc_pii_signals": doc_pii_signals,
    "doc_normalized_fingerprints": doc_normalized_fingerprints,
}
