"""Tokenizer vocabulary induction: byte-pair-encoding merge learning
(Sennrich et al. 2016's corpus-driven merge table) — the step of a
training-data pipeline that turns corpus statistics into a tokenizer.

Scale shape: the ONLY corpus-scale pass is the word-frequency aggregate
(explode + groupBy — one shuffle over the corpus, identical to
doc_word_histogram). Every BPE iteration then runs over the *vocabulary*
table (distinct words + frequencies), which is orders of magnitude
smaller than the corpus and bounded by the language, not the data size —
at 100 TB the vocab is still ~10^6-10^7 rows. Per round:

- pair counting is a codegen'd array expression + groupBy over the vocab;
- only the single argmax pair is collected to the driver (a scalar
  decision per round, like the k-means centroid pulls in the IVF tier);
- the merge is applied with a vectorized Arrow pass (``mapInPandas``
  over the vocab — Python is fine here because the data is vocab-scale
  and the scan-left-merge is inherently sequential per word);
- ``localCheckpoint`` truncates lineage each round (the iterative-loop
  shape, same as dedup.connected_components).

Determinism: argmax ties break by (frequency desc, pair lexicographic
asc), so the merge table is reproducible run-to-run and matches the
pure-Python reference implementation in the tests token-for-token — and
every entry here is hash-gated: the induction itself and the corpus
encode are both restated as unrolled DuckDB CTE chains (bpe_oracle_sql /
bpe_encode_oracle_sql), the same recipe as kmeans_oracle_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mini_log_lakehouse_spark.functions.text import text_or_empty, ws_tokens
from mini_log_lakehouse_spark.sources.registry import load_table

#: Merge-table size for the driver query — small enough to keep the
#: gate fast, large enough to exercise multi-character merges.
BPE_N_MERGES = 12
#: Leading BPE tokens echoed per document by doc_bpe_encode (enough to
#: spot-check segmentations without shipping whole token streams).
BPE_ENCODE_HEAD = 12

_VOCAB_SCHEMA = StructType(
    [
        StructField("syms", ArrayType(StringType()), False),
        StructField("freq", LongType(), False),
    ]
)


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the one corpus-scale pass."""
    return (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, n) adjacent-symbol pair frequencies, weighted by word
    frequency. Words with < 2 symbols contribute nothing — the empty
    branch is explicit because sequence(1, 0) is descending in Spark."""
    size = F.array_size("syms")
    idx = F.when(size >= 2, F.sequence(F.lit(1), size - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("syms", i).alias("a"),
            F.element_at("syms", i + 1).alias("b"),
        ),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def _merge_pair(syms, a: str, b: str) -> list:
    """One left-to-right non-overlapping merge pass of the adjacency
    (a, b) — the single-merge primitive shared by vocab learning and
    corpus encoding (they MUST agree, or encode-time tokens diverge
    from the learned vocabulary)."""
    res, i = [], 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            res.append(a + b)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every non-overlapping left-to-right (a, b) adjacency with
    the merged symbol — vectorized Arrow pass over the vocab table."""

    def merge_batches(batches):
        for pdf in batches:
            pdf = pdf.assign(syms=[_merge_pair(s, a, b) for s in pdf["syms"]])
            yield pdf

    return vocab.mapInPandas(merge_batches, schema=_VOCAB_SCHEMA)


def learn_bpe_merges(
    docs: DataFrame, text_col: str = "text", n_merges: int = BPE_N_MERGES
) -> list[tuple[str, str]]:
    """Learn the first ``n_merges`` BPE merges from a document corpus.
    Returns the ordered merge table [(left, right), ...]."""
    wf = word_frequencies(docs, text_col)
    # character split (split-on-empty-regex emits a trailing "" filtered
    # out below)
    chars = F.split(F.col("w"), "")
    vocab = (
        wf.select(
            F.filter(chars, lambda c: c != F.lit("")).alias("syms"),
            F.col("freq"),
        )
        .groupBy("syms")
        .agg(F.sum("freq").alias("freq"))
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # re-group after merging: distinct words can collapse to the same
        # symbol sequence once merges land (the reference impl does too)
        vocab = (
            _apply_merge(vocab, a, b)
            .groupBy("syms")
            .agg(F.sum("freq").alias("freq"))
            .localCheckpoint()
        )
    return merges


def corpus_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_N_MERGES
) -> list[tuple[str, str]]:
    """The learned merge table, memoized per (session, corpus,
    n_merges): it is a pure function of the corpus, and both driver
    queries (doc_bpe_merge_table, doc_bpe_encode) need it."""
    from mini_log_lakehouse_spark.session import memo

    return memo(
        spark,
        ("vocab.merges", sf_dir, n_merges),
        lambda: learn_bpe_merges(load_table(spark, sf_dir, "documents"), n_merges=n_merges),
    )


def doc_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the ordered BPE merge table learned from the
    documents corpus (rank, left symbol, right symbol, merged token).
    Hash-checked end to end: merge learning is discrete and exact (pair
    counts → argmax with a total tie order → greedy merge), so
    ``bpe_oracle_sql()`` restates the whole iterative induction as
    unrolled DuckDB CTEs — the kmeans_oracle_sql recipe applied to a
    tokenizer fit."""
    merges = corpus_merges(spark, sf_dir)
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    # explicit DDL schema: an empty corpus learns zero merges, and
    # schema inference cannot type an empty local list
    return spark.createDataFrame(
        rows, "rank long, left_sym string, right_sym string, merged string"
    ).orderBy("rank")


def bpe_chain_cte_sql(n_merges: int = BPE_N_MERGES) -> tuple[str, str]:
    """Unrolled CTE chain of the full BPE merge induction, WITHOUT a
    final SELECT — returns (cte_sql, final_vocab_cte_name) so both the
    merge-table oracle (bpe_oracle_sql) and the corpus-encode oracle
    (bpe_encode_oracle_sql) compose the exact same induction. The final
    vocab state v{n}(wid, pos, sym, freq) IS each distinct word's
    encoded symbol sequence: encode_word applies each learned merge
    once, in learned order — exactly the transformation the chain
    applied to the vocabulary.

    State between iterations is the vocabulary in long form —
    v{i}(wid, pos, sym, freq), one row per symbol of each distinct
    word (wid = the word itself; collapsing merged-equal words like
    the Spark loop does is unnecessary for parity, because the pair
    multiset of a word depends only on its symbol sequence, so
    frequency-weighted pair counts agree either way). Per iteration:

    - p{i}: adjacent-pair counts via lead() — matches _pair_counts;
    - m{i}: the argmax merge, tie order (n DESC, a ASC, b ASC) — the
      exact ORDER BY of learn_bpe_merges;
    - the greedy non-overlapping left-to-right merge of _merge_pair,
      which SQL can express because overlap only happens in runs of
      candidates (requires a = b): within each maximal run of
      consecutive candidate positions, greedy picks exactly the
      even offsets. h/r compute the runs + parity, s marks the
      consumed right neighbor of every picked position, v{i} drops
      consumed rows, renames picked symbols to a||b, and renumbers.

    CTEs are MATERIALIZED: v{i-1} is referenced twice per iteration
    (pair counting and merging), and inlining would double the plan
    per unrolled level."""
    sql = [
        """
    WITH wf AS MATERIALIZED (
        SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE length(w) > 0 GROUP BY 1
    ), v0 AS MATERIALIZED (
        SELECT w AS wid, CAST(i AS BIGINT) - 1 AS pos,
               substring(w, CAST(i AS INTEGER), 1) AS sym, freq
        FROM wf, UNNEST(range(1, length(w) + 1)) AS t(i)
    )"""
    ]
    for i in range(1, n_merges + 1):
        sql.append(f"""
    , p{i} AS MATERIALIZED (
        SELECT sym AS a, nxt AS b, SUM(freq) AS n FROM (
            SELECT sym, freq,
                   lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
            FROM v{i - 1}
        ) WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), m{i} AS MATERIALIZED (
        SELECT a, b FROM p{i} ORDER BY n DESC, a ASC, b ASC LIMIT 1
    ), g{i} AS (
        SELECT v.wid, v.pos, v.sym, v.freq,
               CASE WHEN v.sym = m.a
                         AND lead(v.sym) OVER (PARTITION BY v.wid
                                               ORDER BY v.pos) = m.b
                    THEN 1 ELSE 0 END AS cand
        FROM v{i - 1} v CROSS JOIN m{i} m
    ), h{i} AS (
        SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY wid, cand
                                           ORDER BY pos) AS grp
        FROM g{i}
    ), r{i} AS (
        SELECT wid, pos, sym, freq, cand,
               CASE WHEN cand = 1
                         AND (pos - MIN(pos) OVER (PARTITION BY wid, cand, grp))
                             % 2 = 0
                    THEN 1 ELSE 0 END AS picked
        FROM h{i}
    ), s{i} AS (
        SELECT *, COALESCE(LAG(picked) OVER (PARTITION BY wid ORDER BY pos),
                           0) AS consumed
        FROM r{i}
    ), v{i} AS MATERIALIZED (
        SELECT s.wid,
               ROW_NUMBER() OVER (PARTITION BY s.wid ORDER BY s.pos) - 1 AS pos,
               CASE WHEN s.picked = 1 THEN s.sym || m.b ELSE s.sym END AS sym,
               s.freq
        FROM s{i} s CROSS JOIN m{i} m
        WHERE s.consumed = 0
    )""")
    return "".join(sql), f"v{n_merges}"


def bpe_oracle_sql(n_merges: int = BPE_N_MERGES) -> str:
    """Merge-table oracle: the chain plus one row per argmax decision."""
    chain, _ = bpe_chain_cte_sql(n_merges)
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({i - 1} AS BIGINT) AS rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""{chain}
    SELECT * FROM (
        {unions}
    ) ORDER BY rank"""


def bpe_encode_oracle_sql(
    n_merges: int = BPE_N_MERGES, head: int = BPE_ENCODE_HEAD
) -> str:
    """Corpus-encode oracle (VERDICT r7 ask 4): doc_bpe_encode restated
    relationally. The chain's final vocab state v{n} holds each
    distinct word's post-merge symbol sequence, so encoding is a JOIN:
    explode each document into its word instances (order-preserving
    index), join on the word, and the per-doc token stream is the
    (word index, symbol position) order — from which the word count,
    token count, and first-``head`` tokens all follow. Empty documents
    keep explicit zero rows via the LEFT JOIN + COALESCE."""
    chain, vf = bpe_chain_cte_sql(n_merges)
    return f"""{chain}
    , docw AS MATERIALIZED (
        SELECT doc_id, CAST(t.i AS BIGINT) AS widx, words[CAST(t.i AS INTEGER)] AS w
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> length(x) > 0) AS words
            FROM documents
        ), UNNEST(range(1, len(words) + 1)) AS t(i)
    ), toks AS MATERIALIZED (
        SELECT d.doc_id, d.widx, v.pos, v.sym
        FROM docw d JOIN {vf} v ON v.wid = d.w
    ), counts AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT widx) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_bpe_tokens
        FROM toks GROUP BY 1
    ), heads AS (
        SELECT doc_id, string_agg(sym, ' ' ORDER BY widx, pos) AS head_tokens
        FROM (
            SELECT doc_id, widx, pos, sym,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY widx, pos) AS rn
            FROM toks
        ) WHERE rn <= {head}
        GROUP BY 1
    )
    SELECT doc.doc_id,
           COALESCE(c.n_words, 0) AS n_words,
           COALESCE(c.n_bpe_tokens, 0) AS n_bpe_tokens,
           COALESCE(h.head_tokens, '') AS head_tokens
    FROM documents doc
    LEFT JOIN counts c ON c.doc_id = doc.doc_id
    LEFT JOIN heads h ON h.doc_id = doc.doc_id
    ORDER BY doc.doc_id"""


def doc_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the FIRST BPE merge decision, which — unlike the
    full iterative table — is closed-form: before any merge has been
    applied every symbol is a single character, so the winning pair is
    just the argmax over adjacent character-pair frequencies weighted by
    word frequency. That makes this one step of the algorithm fully
    SQL-expressible (the oracle restates it with substring arithmetic);
    later iterations depend on the merged symbols and stay rows-only in
    doc_bpe_merge_table."""
    d = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(d)
    chars = F.split(F.col("w"), "")
    vocab = (
        wf.select(
            F.filter(chars, lambda c: c != F.lit("")).alias("syms"),
            F.col("freq"),
        )
        .groupBy("syms")
        .agg(F.sum("freq").alias("freq"))
    )
    return (
        _pair_counts(vocab)
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(1)
        .select(
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.concat("a", "b").alias("merged"),
            F.col("n").cast("long").alias("pair_freq"),
        )
    )


_ENCODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_words", LongType(), False),
        StructField("n_bpe_tokens", LongType(), False),
        StructField("head_tokens", StringType(), False),
    ]
)


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Encode one word with a learned merge table: character-split, then
    apply each merge once, in learned order — the exact mirror of how
    learn_bpe_merges transformed the vocabulary, so encoding the
    training corpus reproduces the trained symbol sequences verbatim.
    (This is deliberately NOT the rank-priority re-application loop of
    some BPE encoders: re-applying an early merge to adjacencies created
    by a later one would produce symbols the learned vocabulary never
    contained.)"""
    syms = list(word)
    for a, b in merges:
        if len(syms) < 2:
            break
        syms = _merge_pair(syms, a, b)
    return syms


def bpe_encode_documents(
    docs: DataFrame, merges: list[tuple[str, str]], head: int = BPE_ENCODE_HEAD
) -> DataFrame:
    """Tokenize a document corpus with a learned merge table. Emits per
    document the word/token counts and the first ``head`` tokens.

    Scale shape: the merge table is vocab-scale and rides into the
    Arrow-batched encoder as a closure constant (at 100 TB: a broadcast
    of ~10⁵ pairs, a few MB) — the pass itself is map-only over the
    corpus, no shuffle. Per-batch memoization keys on the distinct
    words of the batch, so the Python cost is ~O(distinct words), not
    O(tokens) — the Zipf head hits the cache."""

    def encode_batches(batches):
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            toks = cache.get(word)
            if toks is None:
                toks = cache[word] = encode_word(word, merges)
            return toks

        for pdf in batches:
            n_words, n_toks, heads = [], [], []
            for text in pdf["text"]:
                words = [w for w in text.split(" ") if w]
                toks: list[str] = []
                for w in words:
                    toks.extend(enc(w))
                n_words.append(len(words))
                n_toks.append(len(toks))
                heads.append(" ".join(toks[:head]))
            import pandas as pd

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_bpe_tokens": pd.Series(n_toks, dtype="int64"),
                    "head_tokens": heads,
                }
            )

    # NULL text encodes as the empty document (the oracle's LEFT JOIN +
    # COALESCE already keeps explicit zero rows for it); without the
    # coalesce the kernel's text.split crashes the Python worker
    return docs.select(
        "doc_id", text_or_empty().alias("text")
    ).mapInPandas(encode_batches, schema=_ENCODE_SCHEMA)


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: learn BPE_N_MERGES merges from the corpus, then
    tokenize the corpus with them (the "apply the tokenizer at scale"
    step). Hash-checked end to end (bpe_encode_oracle_sql): the
    induction chain's final vocab state is each word's encoded form, so
    the oracle joins it back onto word instances — and the behavioral
    test additionally pins the encoder token-for-token against an
    independent pure-Python BPE."""
    d = load_table(spark, sf_dir, "documents")
    merges = corpus_merges(spark, sf_dir)
    return bpe_encode_documents(d, merges).orderBy("doc_id")


#: All three BPE entries are oracle-checked: the merge table via the
#: unrolled induction chain, the corpus encode via the same chain's
#: final vocab state joined back onto word instances
#: (bpe_encode_oracle_sql — the per-word memoized Python encoder is a
#: CACHE, not extra semantics: its output equals the chain's final
#: symbol sequences by construction, now enforced by the hash gate).
#: The FIRST merge is additionally closed-form (single-character
#: symbols): pair frequencies are counted directly over words (grouping
#: words into a vocab first and weighting by freq sums to exactly the
#: same counts, since the pair set depends only on the word).
ORACLES: dict[str, str] = {
    "doc_bpe_merge_table": bpe_oracle_sql(),
    "doc_bpe_encode": bpe_encode_oracle_sql(),
    "doc_bpe_first_merge": """
        WITH words AS (
            SELECT w
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE length(w) > 0
        ), pairs AS (
            SELECT substring(w, CAST(i AS INTEGER), 1) AS a,
                   substring(w, CAST(i AS INTEGER) + 1, 1) AS b
            FROM words, UNNEST(range(1, length(w))) AS t(i)
        )
        SELECT a AS left_sym, b AS right_sym, a || b AS merged,
               CAST(COUNT(*) AS BIGINT) AS pair_freq
        FROM pairs
        GROUP BY 1, 2, 3
        ORDER BY pair_freq DESC, left_sym, right_sym
        LIMIT 1
    """,
}

QUERIES = {
    "doc_bpe_merge_table": doc_bpe_merge_table,
    "doc_bpe_first_merge": doc_bpe_first_merge,
    "doc_bpe_encode": doc_bpe_encode,
}
