"""Text-analysis building blocks for training-data pipelines.

All pure Spark SQL expressions (split/filter/size/regexp — JVM-side,
whole-stage-codegen'd, no UDFs), so they run at scan throughput on 100 TB
and can be mirrored 1:1 in DuckDB SQL for oracle checks.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import pin

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small: language ID at pipeline scale is a scoring
# pass, not a model.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es": ("el", "los", "las", "y", "de", "un", "una", "es", "que", "para"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
    "zh": ("的", "了", "是", "我", "不", "在", "他", "有", "这", "就"),
}
# Deterministic tie-break: earlier language wins ties.
LANG_PRIORITY = ("en", "fr", "es", "de", "zh")

TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words + punct marks
STOPWORDS_EN = LANG_LEXICONS["en"]


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col) -> Column:
    """Lowercase + collapse whitespace: the canonical form used by
    fingerprinting and shingling."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def whitespace_tokens(col) -> Column:
    return F.split(normalize_text(col), " ")


def token_count(col) -> Column:
    """Whitespace token count (0 for empty/blank strings).

    Counted on the NORMALIZED text: Spark's ``trim`` strips only ASCII
    spaces, so testing ``trim(text) = ''`` misses tab/newline-only docs and
    would count their separator runs as tokens (caught by the pandas
    differential test). Normalization collapses every ``\\s`` run to one
    space first, making the blank test exact."""
    norm = normalize_text(col)
    return F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " ")))


def regex_token_count(col) -> Column:
    """BPE-ish token count: alphanumeric runs + individual punctuation."""
    return F.regexp_count(_c(col), F.lit(TOKEN_REGEX))


def lexicon_hits(col, lexicon) -> Column:
    """How many tokens appear in ``lexicon`` (duplicates count).

    One ``regexp_count`` pass over the space-padded normalized text with a
    token-anchored alternation. Zero-width lookarounds keep the delimiting
    spaces unconsumed, so consecutive duplicates ("the the") all count —
    exactly the semantics of filtering the whitespace-token array, without
    building an array per row or leaving whole-stage codegen (higher-order
    functions are interpreted, and their eval path serializes under many
    concurrent tasks; see ``kernels``)."""
    alternation = "|".join(re.escape(w) for w in lexicon)
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    return F.regexp_count(padded, F.lit(f"(?<= )(?:{alternation})(?= )"))


def stopword_ratio(col, lexicon=STOPWORDS_EN) -> Column:
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        lexicon_hits(col, lexicon).cast("double") / n.cast("double")
    )


def mean_word_length(col) -> Column:
    """Mean whitespace-token length, computed arithmetically: the normalized
    text has exactly one space between tokens (and none at the ends), so
    total token characters = length(norm) - (n_tokens - 1). Same value as
    summing per-token lengths, with no array or fold."""
    norm = normalize_text(col)
    n = F.size(F.split(norm, " "))
    total = F.length(norm) - (n - F.lit(1))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def punct_ratio(col) -> Column:
    n_chars = F.length(_c(col))
    n_punct = F.length(F.regexp_replace(_c(col), r"[A-Za-z0-9\s]", ""))
    return F.when(n_chars == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / n_chars.cast("double")
    )


def quality_score(col) -> Column:
    """Heuristic document-quality score in [0, 1]: favors mid-length docs
    with a healthy stopword ratio, low punctuation density, and plausible
    word lengths. Pure arithmetic → identical in any SQL engine.

    Values are bit-identical to the naive composition of the component
    functions above (pinned by tests/test_text_differential.py), but the
    expression is LET-BOUND via single-element ``transform`` lambdas (the
    ``shingles`` idiom): the naive form re-embeds ``normalize_text`` (a
    full ``\\s+`` regexp pass) ~12× and ``split`` ~9× per row, and Spark
    performs no common-subexpression elimination inside a Filter
    condition — where consumers like ``clean_corpus`` put this whole
    expression after predicate pushdown. Measured on an 80k-doc corpus at
    32 partitions: 7.3 s naive vs 0.47 s let-bound (the naive form also
    parallelizes badly — 32 threads bought only 3.5× — while this form
    scales linearly)."""
    raw = _c(col)
    norm = normalize_text(raw)

    def _with_norm(nm: Column) -> Column:
        # One split / one length / one stopword regexp pass per row, bound
        # into a struct so every term references the computed value.
        alternation = "|".join(re.escape(w) for w in STOPWORDS_EN)
        stats = F.struct(
            nm.alias("nm"),
            F.size(F.split(nm, " ")).alias("ns"),  # 1 for empty norm
            F.length(nm).alias("ln"),
            F.regexp_count(
                F.concat(F.lit(" "), nm, F.lit(" ")),
                F.lit(f"(?<= )(?:{alternation})(?= )"),
            ).alias("hits"),
        )

        def _score(s: Column) -> Column:
            n = F.when(s.nm == "", F.lit(0)).otherwise(s.ns)  # token_count
            nd = n.cast("double")
            length_term = F.least(nd / F.lit(100.0), F.lit(1.0))
            ratio = F.when(n == 0, F.lit(0.0)).otherwise(
                s.hits.cast("double") / nd
            )
            stop_term = F.least(ratio * F.lit(4.0), F.lit(1.0))
            n_chars = F.length(raw)
            n_punct = F.length(F.regexp_replace(raw, r"[A-Za-z0-9\s]", ""))
            punct_term = F.lit(1.0) - F.least(
                F.when(n_chars == 0, F.lit(0.0)).otherwise(
                    n_punct.cast("double") / n_chars.cast("double")
                )
                * F.lit(4.0),
                F.lit(1.0),
            )
            # mean_word_length: ns (no empty guard) is the divisor, exactly
            # as the component function computes it.
            total = (s.ln - (s.ns - F.lit(1))).cast("double")
            mwl = F.when(s.ns == 0, F.lit(0.0)).otherwise(
                total / s.ns.cast("double")
            )
            word_term = F.when(
                (mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)
            ).otherwise(F.lit(0.5))
            return (
                F.lit(0.4) * length_term
                + F.lit(0.3) * stop_term
                + F.lit(0.15) * punct_term
                + F.lit(0.15) * word_term
            )

        return F.element_at(F.transform(F.array(stats), _score), 1)

    score = F.element_at(F.transform(F.array(norm), _with_norm), 1)
    # NULL text must score NULL: ``least`` SKIPS null arguments (it returns
    # the least non-null value), so without the guard a null doc scores a
    # healthy 0.775 and sails through quality floors (caught by the pandas
    # differential test).
    return F.when(raw.isNull(), F.lit(None).cast("double")).otherwise(score)


def lang_id(col) -> Column:
    """Stopword-lexicon language ID: score every language, pick the argmax
    (priority order breaks ties; 'und' when nothing matches)."""
    hits = {lang: lexicon_hits(col, lex) for lang, lex in LANG_LEXICONS.items()}
    best = F.lit("und")
    best_score = F.lit(0)
    # Process in reverse priority with >= so the earliest language in
    # LANG_PRIORITY (processed last) wins ties; all-zero scores stay 'und'.
    for lang in reversed(LANG_PRIORITY):
        cond = (hits[lang] > 0) & (hits[lang] >= best_score)
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, hits[lang]).otherwise(best_score)
    return best


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The classic normalize→hash content fingerprint; md5 keeps it
    cross-engine verifiable.)"""
    return F.md5(normalize_text(col))


def shingles(col, k: int = 3) -> Column:
    """Word k-shingles of the normalized text (empty array when fewer than
    ``k`` tokens).

    The token array is let-bound via a single-element ``transform`` so the
    tokenize (regexp + split) runs once per row. Referencing the tokenize
    expression directly inside the per-shingle lambda would re-evaluate it
    for every shingle — O(tokens²) regexp work per row (measured ~10× slower
    on the documents table).
    """
    return F.flatten(
        F.transform(
            F.array(whitespace_tokens(col)),
            lambda toks: F.when(
                F.size(toks) < k, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
                )
            ),
        )
    )


def repetition_stats(df: "DataFrame", text_col: str, id_col: str) -> "DataFrame":
    """Gopher-style repetition signals (Rae et al. 2021, table A1-style
    filters): the within-document repetition measures used to drop
    boilerplate- and spam-heavy web pages before training.

    Output, one row per input doc:
      * ``n_lines``         — non-empty line count
      * ``dup_line_frac``   — fraction of non-empty lines that are copies
                              of an earlier line (0.0 for line-less docs)
      * ``top_bigram_frac`` — occurrences of the most frequent word bigram
                              over total bigram count (0.0 when < 2 tokens)

    Line stats are pure array expressions on the scan (no shuffle). The
    bigram mode is computed by explode → two-level aggregation rather than
    a per-row quadratic array scan: a 100-TB corpus has pathological docs
    (megabyte spam pages) whose distinct×total array walk would stall a
    task, while explode+count keys the work on (doc, bigram) and
    partial-aggregates map-side. Docs with no bigrams re-enter via left
    join with a 0.0 default."""
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
    base = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.when(F.size(lines) == 0, F.lit(0.0))
        .otherwise(
            (F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
            / F.size(lines).cast("double")
        )
        .alias("dup_line_frac"),
    )
    bg = df.select(F.col(id_col), F.explode(shingles(F.col(text_col), 2)).alias("bg"))
    top = (
        bg.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_bigram_frac"
            )
        )
    )
    return base.join(top, id_col, "left").select(
        F.col(id_col),
        "n_lines",
        "dup_line_frac",
        F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias("top_bigram_frac"),
    )


def term_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus term statistics: per normalized whitespace token, total
    occurrences (``tf``) and document frequency (``df``) — the vocabulary
    / IDF-table builder.

    One explode + one aggregation: ``df`` is counted with
    ``count(DISTINCT doc)`` inside the same groupBy as ``tf``, so the
    corpus shuffles once on the term. Blank docs contribute nothing. At
    100 TB the shuffle payload is (term, id) pairs; partial aggregation
    collapses per-partition repeats of hot terms map-side."""
    toks = F.when(
        normalize_text(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(whitespace_tokens(F.col(text_col)))
    pairs = df.select(F.col(id_col), F.explode(toks).alias("term"))
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct(id_col).alias("df"),
    )


def top_terms(df: DataFrame, text_col: str, id_col: str, k: int = 100) -> DataFrame:
    """Top-``k`` vocabulary terms by total frequency, ties broken by term
    text (deterministic). Plans as TakeOrderedAndProject over the
    term_stats aggregate — per-partition top-k, driver merge of k rows
    per partition, never a global sort."""
    return (
        term_stats(df, text_col, id_col)
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard pre-tokenization step for context-window-bounded training
    and retrieval corpora.

    Chunks start every ``stride = chunk_size - overlap`` tokens; a doc
    with ``n <= chunk_size`` tokens yields one chunk, longer docs yield
    ``ceil((n - overlap) / stride)`` (integer arithmetic — no float
    boundary). Blank docs yield nothing.

    Scale: tokenize → ``posexplode`` over the start sequence →
    ``slice``/``array_join``, all JVM codegen expressions; no shuffle at
    all — chunking is embarrassingly parallel per input partition, and
    the output carries (id, chunk_id) so downstream dedup/pack steps can
    re-key however they need.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = whitespace_tokens(F.col(text_col))
    base = (
        df.select(F.col(id_col), toks.alias("toks"))
        .filter(normalize_text(F.col(text_col)) != "")
        .withColumn("n", F.size("toks"))
    )
    n_chunks = F.when(F.col("n") <= chunk_size, F.lit(1)).otherwise(
        F.expr(f"(n - {overlap} + {stride - 1}) div {stride}")
    )
    return base.select(
        F.col(id_col),
        F.col("n"),
        F.col("toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_s"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.lit(chunk_size), F.col("n") - F.col("chunk_id") * stride)
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, chunk_size), " "
        ).alias("chunk_text"),
    )


def bm25_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 keyword ranking of documents against ``query``; top-``k``
    (score desc, id asc) with columns ``(id, score)``.

    The classic probabilistic idf: ``ln(1 + (N - df + 0.5)/(df + 0.5))``.
    Per-term partial scores are computed as doubles from integer inputs
    (tf, dl, df, N) — bit-identical across engines — then decimal-cast
    before the per-doc SUM so summation order can't move the rounded
    score or the top-k cut.

    Scale: one corpus scan computes doc lengths; corpus stats (N, total
    length) are a 1-row broadcast, per-term document frequencies a
    ``len(query)``-row broadcast. The only shuffle is the per-(doc,term)
    tf aggregate over exploded QUERY TERMS ONLY (the isin filter prunes
    the explode before it shuffles), then TakeOrderedAndProject for the
    top-k — never a global sort.
    """
    terms = _query_terms(query)
    docs = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("toks")
    ).filter(normalize_text(F.col(text_col)) != "").withColumn(
        "dl", F.size("toks")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        docs.select(F.col(id_col), F.col("dl"), F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    return _bm25_rank(tf, df_t, stats, id_col, k1, b, k)


def _adjacent_word_pairs(df: DataFrame, toks_col: str) -> DataFrame:
    """Explode a tokenized frame (carrying ``__L`` = array length) into
    adjacent ``(w1, w2)`` bigram rows — the ONE copy of the pair idiom
    shared by PMI mining and the Kneser-Ney trainer, whose SQL oracles
    both replay exactly this layout (a fork would break one gate while
    the other stayed green, hiding the divergence)."""
    return (
        df.filter(F.col("__L") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, __L - 1),"
                    f" s -> struct({toks_col}[s - 1] AS w1,"
                    f" {toks_col}[s] AS w2))"
                )
            ).alias("p")
        )
        .select("p.*")
    )


def _query_terms(query: str) -> list[str]:
    terms = sorted(set(t for t in re.split(r"\s+", query.lower().strip()) if t))
    if not terms:
        raise ValueError("query has no terms")
    return terms


def _bm25_rank(tf, df_t, stats, id_col, k1, b, k):
    """The ONE copy of the BM25 scoring arithmetic (idf, saturation,
    decimal-exact per-doc sum, (score desc, id asc) top-k) shared by
    the inline and index-served paths — the output-identity contract
    between them (and the shared gate oracle) depends on these staying
    bit-identical, so they must not fork."""
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    part = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(part.cast("decimal(30,10)")).alias("_s"))
        .orderBy(F.col("_s").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col), F.round(F.col("_s"), 6).cast("double").alias("score")
        )
    )


def tfidf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 1000,
    normalize: bool = False,
) -> DataFrame:
    """Sparse TF-IDF features in long format ``(id, term, tfidf)`` over
    the top-``vocab_size`` vocabulary — the classic bag-of-words
    featurizer feeding classifiers/clustering.

    Smoothed idf (``ln((N+1)/(df+1)) + 1``, sklearn convention) computed
    from integer corpus stats, so weights are bit-identical across
    engines. With ``normalize=True`` rows are L2-unit per document; the
    norm's sum-of-squares is decimal-cast so summation order can't move
    it.

    Scale: the vocabulary (``vocab_size`` rows + the 1-row doc count) is
    built once and broadcast; per-doc tf is the only real shuffle —
    (id, term) pairs pruned to vocabulary terms map-side. Long format IS
    the scalable representation: a dense 1M-wide vector column would be
    ~8 MB/row, while long rows stay proportional to nnz and feed
    groupBy/pivot/ML assemblers downstream.
    """
    toks = F.when(
        normalize_text(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(whitespace_tokens(F.col(text_col)))
    pairs = df.select(F.col(id_col), F.explode(toks).alias("term"))
    n_docs = df.select(
        F.count(F.when(normalize_text(F.col(text_col)) != "", 1)).alias("n_docs")
    )
    vocab = (
        pairs.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df_t"))
        .orderBy(F.col("df_t").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    tf = pairs.join(F.broadcast(vocab), "term").groupBy(id_col, "term", "df_t").agg(
        F.count(F.lit(1)).alias("tf")
    )
    idf = (
        F.log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0)) + 1.0
    )
    w = tf.crossJoin(F.broadcast(n_docs)).select(
        F.col(id_col), F.col("term"), (F.col("tf") * idf).alias("w")
    )
    if not normalize:
        return w.select(
            id_col, "term", F.round("w", 6).cast("double").alias("tfidf")
        )
    norms = w.groupBy(F.col(id_col).alias("_nid")).agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(30,10)"))).alias(
            "_norm"
        )
    )
    return w.join(norms, F.col(id_col) == F.col("_nid")).select(
        id_col,
        "term",
        F.round(F.col("w") / F.col("_norm"), 6).cast("double").alias("tfidf"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 32768,
) -> DataFrame:
    """Frequency-ranked vocabulary ``(term, token_id)`` with ids 1..k
    (0 is reserved for unknown): ``term_stats`` top-``vocab_size`` by
    (tf desc, term asc) — a total order, so ids are deterministic.

    The rank window runs over the ALREADY-LIMITED k-row frame (top-k via
    TakeOrderedAndProject first), so the single-partition window touches
    ``vocab_size`` rows, never the corpus. ``vocab_size`` itself is the
    only way to unbound that window, so it is capped (round-7): real
    vocabularies are 32k-256k entries; a request past 5M is almost
    certainly a units mistake and raises rather than sorting millions of
    rows on one partition."""
    if vocab_size > 5_000_000:
        raise ValueError(
            f"vocab_size={vocab_size} exceeds the 5M bound of the "
            "single-partition rank window; shard the vocabulary or use "
            "term_stats directly"
        )
    top = (
        term_stats(df, text_col, id_col)
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("term").asc())
    return top.select(
        "term", F.row_number().over(w).cast("long").alias("token_id")
    )


def tokenize_ids(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame | None = None,
    vocab_size: int = 32768,
) -> DataFrame:
    """Encode documents as vocabulary token ids, long format
    ``(id, pos, token_id)`` — the bridge from raw text to
    ``sequence_pack``-able integer sequences. Out-of-vocabulary tokens
    map to 0.

    Long format IS the distributed representation: each row is
    independent, re-keyable, and the (term → id) map is a broadcast
    lookup join — the corpus explodes once and never carries strings
    past this point (downstream shuffles move longs, ~10× narrower than
    the text)."""
    if vocab is None:
        vocab = build_vocab(df, text_col, id_col, vocab_size)
    toks = F.when(
        normalize_text(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(whitespace_tokens(F.col(text_col)))
    pairs = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "term")
    )
    return (
        pairs.join(F.broadcast(vocab), "term", "left")
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("pos"),
            F.coalesce(F.col("token_id"), F.lit(0)).cast("long").alias("token_id"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document unigram language-model score — the CCNet-style
    "perplexity filter" signal, self-trained on the corpus itself: every
    token scores ``log10(count(token) / total_tokens)``, and a document's
    ``logprob_sum`` / ``n_tokens`` is its mean token log-probability
    (outlier-low = gibberish / unseen-vocabulary docs; outlier-high =
    degenerate repetition of common words).

    Returns ``(id, n_tokens, logprob_sum)`` for non-blank documents.
    Each term is rounded to 6 places BEFORE the per-doc sum, and the sum
    accumulates in exact decimal — so summation order cannot move the
    result and a SQL oracle reproduces it bit-for-bit (an engine-ulp
    difference inside ``log10`` itself would have to land within 5e-7 of
    a rounding boundary to matter).

    Scale: token counts are one partial-aggregated groupBy (the unigram
    table is vocabulary-sized); the table broadcasts into the scoring
    join by default — pass ``broadcast_vocab=False`` for open-vocabulary
    corpora where it outgrows executor memory (plain hash join, AQE
    handles the skewed head tokens).
    """
    toks = F.when(
        normalize_text(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(whitespace_tokens(F.col(text_col)))
    pairs = df.select(F.col(id_col), F.explode(toks).alias("term"))
    # The vocabulary table has two consumers (the N total and the scored
    # broadcast) — unpinned, each re-ran the corpus explode+aggregate.
    # Vocabulary-sized at any corpus scale. (Pinning the corpus-sized
    # `pairs` frame instead measured slower — the block write outweighs
    # one tokenize.)
    counts = pin(pairs.groupBy("term").agg(F.count(F.lit(1)).alias("ct")))
    total = counts.agg(F.sum("ct").alias("tot"))
    scored = counts.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log10(F.col("ct") / F.col("tot")), 6)
        .cast("decimal(20,6)")
        .alias("lp"),
    )
    if broadcast_vocab:
        scored = F.broadcast(scored)
    return (
        pairs.join(scored, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp").cast("double").alias("logprob_sum"),
        )
    )


def bm25_search_many(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Batch BM25: top-``k`` documents for EVERY query in a query table —
    the retrieval shape of eval-suite scoring and hard-negative mining,
    where running :func:`bm25_search` per query would re-scan the corpus
    |queries| times.

    Returns ``(query_id, id, score)``; ties cut by id ascending, scores
    decimal-summed from integer inputs like the single-query op, so the
    per-query ranking is engine-exact.

    Scale: ONE corpus scan builds doc lengths; a second builds the pruned
    tf table — the explode is semi-joined against the distinct query-term
    set (broadcast: query tables are human-sized) BEFORE its shuffle, so
    tf volume tracks matched terms, not the corpus vocabulary. Scoring
    joins tf to the (query, term) pairs map-side (broadcast again) and
    the per-query top-k is a qid-partitioned window — no global sort.
    """
    from pyspark.sql import Window

    q_terms = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.explode(whitespace_tokens(F.col(query_text_col))).alias("term"),
    ).distinct()
    term_set = q_terms.select("term").distinct()

    docs = (
        df.select(F.col(id_col), whitespace_tokens(F.col(text_col)).alias("toks"))
        .filter(normalize_text(F.col(text_col)) != "")
        .withColumn("dl", F.size("toks"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        docs.select(F.col(id_col), F.col("dl"), F.explode("toks").alias("term"))
        .join(F.broadcast(term_set), "term", "left_semi")
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    part = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(q_terms), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("__qid", id_col)
        .agg(F.sum(part.cast("decimal(30,10)")).alias("_s"))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("_s").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col),
            F.round(F.col("_s"), 6).cast("double").alias("score"),
        )
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
    min_freq: int = 2,
    max_word_types: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge training (Sennrich et al. 2016, word-level
    variant): learn ``n_merges`` symbol merges from corpus statistics —
    the step that turns ``tokenize_ids``'s whitespace vocabulary into a
    real subword tokenizer.

    Returns the ordered merge list ``[(left, right), ...]``; feed it to
    :func:`bpe_encode` to tokenize. Deterministic: merge choice is
    (count desc, pair lexicographic asc) — a total order.

    Scale shape (the standard design): the ONE data-sized step is the
    word-frequency aggregation (single scan, partial-agg'd groupBy); the
    merge loop then iterates on the word-TYPE table, which is
    vocabulary-sized (``max_word_types`` guards the driver collect —
    1M types × ~40 B ≈ 40 MB; raise it or pre-truncate the corpus's long
    tail with ``min_freq`` for bigger type inventories). The corpus is
    never rescanned, so the loop costs the same at 100 TB as at 100 MB.
    """
    wf_rows = (
        df.select(F.explode(whitespace_tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_freq)
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(max_word_types)
        .collect()
    )
    # word -> (symbol tuple, freq); '</w>' marks word end per the paper
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["w"]) + ("</w>",): r["n"] for r in wf_rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < max(min_freq, 2):
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a :func:`train_bpe` merge list: long-format
    ``(id, pos, piece)`` subword tokenization. The merge table is tiny
    and broadcasts into an Arrow-batched kernel; encoding is
    embarrassingly parallel per document (no shuffle — the output
    carries (id, pos) for downstream packing)."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(ranks)

    @F.pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        rk = bc.value

        def enc_word(word: str) -> list[str]:
            syms = list(word) + ["</w>"]
            while len(syms) > 1:
                pairs = [
                    (rk.get((a, b)), i)
                    for i, (a, b) in enumerate(zip(syms, syms[1:]))
                    if (a, b) in rk
                ]
                if not pairs:
                    break
                r, i = min(pairs)
                syms[i : i + 2] = [syms[i] + syms[i + 1]]
            return syms

        out = []
        for t in texts:
            t = " ".join((t or "").lower().split())
            pieces: list[str] = []
            for w in t.split(" "):
                if w:
                    pieces.extend(enc_word(w))
            out.append(pieces)
        return pd.Series(out)

    from .partitioning import ensure_min_partitions

    base = ensure_min_partitions(df).select(
        # asNondeterministic: posexplode's Generate pushes its implicit
        # size()>0 filter below the projection, duplicating the encode
        # kernel (two ArrowEvalPython nodes — the corpus BPE-encoded
        # twice; guide §4.4 pattern, same fix as the sketch kernels).
        # The kernel is pure, so results are unchanged.
        F.col(id_col),
        encode.asNondeterministic()(F.col(text_col)).alias("__p"),
    )
    return base.select(
        F.col(id_col),
        F.posexplode("__p").alias("pos", "piece"),
    ).withColumn("pos", F.col("pos").cast("long"))


def ngram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document n-gram language-model score, self-trained on the
    corpus: every position ``i >= n`` scores
    ``log10(c(w_{i-n+1..i}) / c(w_{i-n+1..i-1} as prefix))`` — the
    conditional-transition companion to :func:`unigram_logprob`
    (catches word-salad whose unigram stats look normal but whose
    transitions are improbable).

    Returns ``(id, n_grams, logprob_sum)`` for docs with at least ``n``
    tokens. Same exactness contract: per-term log10 rounded to 6 places,
    then an exact decimal per-doc sum.

    Scale: gram and prefix tables are one partial-aggregated groupBy each
    over md5 digests (32-char shuffle payload, never text); both
    broadcast into the scoring joins by default (``broadcast_vocab=False``
    for open vocabularies falls back to hash joins under AQE).
    """
    if n < 2:
        raise ValueError("use unigram_logprob for n=1")
    toks = whitespace_tokens(F.col(text_col))
    base = (
        df.filter(normalize_text(F.col(text_col)) != "")
        .select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__L", F.size("__toks"))
        .filter(F.col("__L") >= n)
    )
    grams = base.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(1), F.col("__L") - (n - 1))).alias(
            "__p", "__s"
        ),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.md5(
            F.array_join(F.slice(F.col("__toks"), F.col("__s"), n), " ")
        ).alias("__g"),
        F.md5(
            F.array_join(F.slice(F.col("__toks"), F.col("__s"), n - 1), " ")
        ).alias("__c"),
    )
    # Three consumers (both count tables + the scoring join) each re-ran
    # the tokenize+posexplode+digest scan — pin the positions frame
    # (~70 B/token digests, the per-position feature table a 100-TB run
    # would checkpoint; pinning the two count tables instead measured
    # slower).
    grams = pin(grams)
    cnt_g = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__cg"))
    cnt_c = grams.groupBy("__c").agg(F.count(F.lit(1)).alias("__cc"))
    if broadcast_vocab:
        cnt_g, cnt_c = F.broadcast(cnt_g), F.broadcast(cnt_c)
    return (
        grams.join(cnt_g, "__g")
        .join(cnt_c, "__c")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.round(
                    F.log10(F.col("__cg") / F.col("__cc")), 6
                ).cast("decimal(20,6)")
            )
            .cast("double")
            .alias("logprob_sum"),
        )
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document Shannon entropy over whitespace tokens — the
    lexical-diversity quality signal (low entropy = degenerate
    repetition / keyword stuffing; it complements ``repetition_stats``,
    which needs an explicit n-gram to fire).

    Returns ``(id, n_tokens, n_types, entropy)`` for non-blank docs,
    with ``entropy = log2(n) - sum(c*log2 c)/n`` in bits. Each type's
    ``c*log2(c)`` term is rounded to 8 places and decimal-summed before
    the final (order-free) formula, so a SQL oracle reproduces the value
    bit-for-bit under the same op order.

    Scale: one explode + one ``(id, token)`` groupBy with map-side
    partial aggregation; the second per-doc aggregation reuses the same
    hash partitioning on ``id`` prefixes under AQE. Token text never
    survives past the first aggregation.
    """
    toks = F.when(
        normalize_text(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(whitespace_tokens(F.col(text_col)))
    counts = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(
            F.round(F.col("c") * F.log2("c"), 8).cast("decimal(30,8)")
        ).alias("__clogc"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_types",
        F.round(
            F.log2("n_tokens") - F.col("__clogc").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
    )


def dsir_weights(
    train: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 65_536,
    smoothing: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) over
    hashed n-gram features: score every raw/train document by how much
    more likely its (unigram + bigram) bucket counts are under the
    TARGET distribution than under the raw distribution,

        logw(doc) = sum_b count_doc(b) * (log10 p_target(b) - log10 p_raw(b)),

    with add-``smoothing`` estimates over ``buckets`` hashed buckets.
    High-``logw`` docs look like the target corpus; resampling train
    data by ``exp(logw)`` (or taking top-k) yields the DSIR selection.
    Returns ``(id, n_grams, dsir_logw)`` for non-blank training docs.

    Engine-exact: buckets come from the cross-engine ``md5_long`` hash;
    each bucket's log-ratio is rounded to 8 places, multiplied by the
    integer count and decimal-summed, so summation order can't move the
    result and the DuckDB oracle replays it bit-for-bit.

    Scale shape — the reason DSIR works at 100 TB: the feature space is
    a FIXED ``buckets``-row table regardless of corpus size. Each corpus
    is scanned once (explode → per-(doc,bucket) partial-agg'd counts);
    the global bucket tables aggregate those counts (second tiny
    shuffle), join into one ≤``buckets``-row ratio table that BROADCASTS
    back onto the per-doc counts. No shuffle ever carries gram text —
    only 8-byte bucket ids and counts.
    """
    from .hashing import md5_long

    def grams(d: DataFrame) -> DataFrame:
        uni = whitespace_tokens(F.col(text_col))
        both = F.when(
            normalize_text(F.col(text_col)) == "",
            F.array().cast("array<string>"),
        ).otherwise(F.concat(uni, shingles(F.col(text_col), 2)))
        return d.select(
            F.col(id_col), F.explode(both).alias("g")
        ).select(id_col, (md5_long(F.col("g")) % buckets).alias("b"))

    # doc_counts feeds BOTH the global raw table and the final per-doc
    # join; without a pin Spark re-runs the tokenize+shingle explode over
    # the whole train corpus for each consumer (5 corpus scans measured).
    # The pinned frame is (id, bucket, count) — ~20 B/row regardless
    # of document size — the classic feature table a 100-TB DSIR run
    # would checkpoint anyway. Pinned without a size gate: skipping the
    # pin still costs 2 extra corpus explodes at any size.
    doc_counts = pin(
        grams(train).groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("c"))
    )
    # The two global bucket tables are ≤``buckets`` rows each but are
    # read twice (totals + ratio) — pin them so the target corpus is
    # scanned exactly once.
    raw_counts = pin(doc_counts.groupBy("b").agg(F.sum("c").alias("cr")))
    tgt_counts = pin(
        grams(target).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = raw_counts.agg(F.sum("cr").alias("tr")).crossJoin(
        tgt_counts.agg(F.sum("ct").alias("tt"))
    )
    ratio = (
        raw_counts.join(tgt_counts, "b", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                F.log10(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(smoothing))
                    / (F.col("tt") + F.lit(smoothing) * buckets)
                )
                - F.log10(
                    (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(smoothing))
                    / (F.col("tr") + F.lit(smoothing) * buckets)
                ),
                8,
            )
            .cast("decimal(20,8)")
            .alias("lr"),
        )
    )
    return (
        doc_counts.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            # DECIMAL(12,0) × DECIMAL(20,8) → DECIMAL(33,8): fits Spark's
            # 38-digit cap exactly; a wider count factor would trip the
            # silent precision-loss rescale and drift off the oracle.
            F.round(
                F.sum(F.col("c").cast("decimal(12,0)") * F.col("lr")), 6
            )
            .cast("double")
            .alias("dsir_logw"),
        )
    )


def zipf_fit(
    df: DataFrame, text_col: str, id_col: str, top_k: int = 500
) -> DataFrame:
    """Corpus Zipf power-law diagnostic: least-squares fit of
    ``log10(count) ~ slope * log10(rank) + intercept`` over the
    ``top_k`` most frequent terms (rank 1 = most frequent; ties broken
    by term text, a total order). A natural corpus sits near slope ≈ -1;
    template/boilerplate-dominated or synthetic corpora drift far off —
    a one-row health check before committing a crawl to training.

    Engine-exact: per-term ``log10(rank)`` / ``log10(count)`` and their
    products are rounded to 8 places BEFORE decimal summation, then the
    closed-form slope/intercept is computed on the five exact moments
    and rounded to 6 — summation order can't move the result, and a SQL
    oracle replays it bit-for-bit.

    Scale: term counting is one explode + one partial-agg'd shuffle;
    top-k plans as TakeOrderedAndProject (per-partition heads, driver
    merge — never a global sort); the rank window and the final moment
    aggregation run on the already-limited ``top_k``-row frame."""
    top = top_terms(df, text_col, id_col, k=top_k)
    w = Window.orderBy(F.col("tf").desc(), F.col("term").asc())
    ranked = top.select(
        F.round(F.log10(F.row_number().over(w).cast("double")), 8).alias("lx"),
        F.round(F.log10(F.col("tf").cast("double")), 8).alias("ly"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("lx").cast("decimal(30,8)")).alias("sx"),
        F.sum(F.col("ly").cast("decimal(30,8)")).alias("sy"),
        F.sum(
            F.round(F.col("lx") * F.col("ly"), 8).cast("decimal(30,8)")
        ).alias("sxy"),
        F.sum(
            F.round(F.col("lx") * F.col("lx"), 8).cast("decimal(30,8)")
        ).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "n_terms",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def compression_signals(
    df: DataFrame, text_col: str, id_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compressibility — the classic boilerplate/spam
    signal (highly repetitive text compresses far below natural prose;
    C4/Gopher-era pipelines threshold on it). Returns
    ``(id, n_bytes, n_zlib)``: UTF-8 byte length and the DEFLATE size at
    ``level``; the caller derives ratio = n_zlib / n_bytes (integers are
    emitted so comparisons stay exact).

    Arrow-batched ``mapInPandas`` over only (id, text): zlib is
    C-speed per row and the operator is embarrassingly parallel with no
    shuffle — the plan is scan → project → one Python stage. No SQL
    oracle exists for DEFLATE, so the gate grades rows-only; a pytest
    differential pins the values against direct ``zlib.compress``."""
    import zlib

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, n_bytes long, n_zlib long"

    def batches(it):
        for pdf in it:
            texts = pdf[text_col].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [len(b) for b in raw],
                    "n_zlib": [len(zlib.compress(b, level)) for b in raw],
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def corpus_report(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-call corpus health report, long format ``(metric, value)`` —
    the pre-training go/no-go summary a data engineer wants before
    committing a crawl: volume, vocabulary, duplication, blanks, mean
    quality, Zipf slope, and predicted-language mix.

    Rows: ``n_docs``, ``n_tokens``, ``n_types``, ``blank_frac``,
    ``dup_doc_frac`` (exact normalized-text dups), ``mean_quality``
    (decimal-exact mean of the 6-rounded quality score), ``zipf_slope``,
    and one ``lang:<l>`` fraction per predicted language. All values
    double; fractions rounded to 6.

    Scale: the per-doc feature frame (token count / blank flag /
    fingerprint / quality / lang-id — all codegen expressions, ~50 B/row)
    is computed in ONE scan and size-gate pinned for its two consumers
    (the global aggregate and the language distribution); vocabulary and
    the Zipf fit share the one explode+agg pass shape that
    ``term_stats`` documents. Everything reduces to one-row or
    #languages-row frames before any union."""
    from .partitioning import plan_size_bytes

    norm = normalize_text(F.col(text_col))
    base = df.select(
        token_count(text_col).alias("nt"),
        (norm == "").cast("long").alias("blank"),
        fingerprint(text_col).alias("fp"),
        F.round(quality_score(text_col), 6).alias("q"),
        lang_id(text_col).alias("pl"),
    )
    # Gate at 16 MB: an interleaved A/B at sf0.1 (0.57 MB corpus)
    # measured the pin SLOWER (1.37 vs 1.13 s) — the projection here is
    # scan-cheap and the pin is a materialization barrier between two
    # otherwise-concurrent aggregate subtrees.
    if (sz := plan_size_bytes(df)) is None or sz >= (16 << 20):
        base = pin(base)
    a = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.sum("blank").cast("long").alias("n_blank"),
        F.countDistinct("fp").alias("n_fp"),
        F.sum(F.col("q").cast("decimal(30,6)")).alias("sq"),
    )
    nd = F.col("n_docs").cast("double")
    scalars = a.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("n_docs").alias("metric"), nd.alias("value")
                ),
                F.struct(
                    F.lit("n_tokens").alias("metric"),
                    F.col("n_tokens").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("blank_frac").alias("metric"),
                    F.round(
                        F.col("n_blank").cast("double") / nd, 6
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("dup_doc_frac").alias("metric"),
                    F.round(
                        (F.col("n_docs") - F.col("n_fp")).cast("double") / nd,
                        6,
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("mean_quality").alias("metric"),
                    F.round(F.col("sq").cast("double") / nd, 6).alias("value"),
                ),
            )
        ).alias("kv")
    ).select("kv.*")
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        whitespace_tokens(F.col(text_col))
    )
    types = (
        df.select(F.explode(toks).alias("term"))
        .agg(F.countDistinct("term").alias("v"))
        .select(
            F.lit("n_types").alias("metric"),
            F.col("v").cast("double").alias("value"),
        )
    )
    zs = zipf_fit(df, text_col, id_col).select(
        F.lit("zipf_slope").alias("metric"), F.col("slope").alias("value")
    )
    langs = (
        base.groupBy("pl")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(a.select("n_docs")))
        .select(
            F.concat(F.lit("lang:"), F.col("pl")).alias("metric"),
            F.round(F.col("c").cast("double") / nd, 6).alias("value"),
        )
    )
    return scalars.unionAll(types).unionAll(zs).unionAll(langs)


def source_quality_report(
    df: DataFrame, text_col: str, source_col: str
) -> DataFrame:
    """Per-source corpus quality rollup — :func:`corpus_report`'s
    grouped sibling and the table a mixture designer reads before
    setting ``mix_to_weights``: for every source, volume, blank and
    WITHIN-SOURCE exact-duplicate fractions, and decimal-exact mean
    quality. Returns ``(source, n_docs, n_tokens, blank_frac,
    dup_doc_frac, mean_quality)``.

    One scan computes the per-doc features (token count / blank flag /
    fingerprint / 6-rounded quality — all codegen), then ONE
    groupBy(source) with a distinct-fingerprint count folds everything;
    the result is #sources rows. Fractions round to 6 with the same op
    order as the oracle."""
    norm = normalize_text(F.col(text_col))
    base = df.select(
        F.col(source_col).alias("src"),
        token_count(text_col).alias("nt"),
        (norm == "").cast("long").alias("blank"),
        fingerprint(text_col).alias("fp"),
        F.round(quality_score(text_col), 6).alias("q"),
    )
    g = base.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.sum("blank").cast("long").alias("n_blank"),
        F.countDistinct("fp").alias("n_fp"),
        F.sum(F.col("q").cast("decimal(30,6)")).alias("sq"),
    )
    nd = F.col("n_docs").cast("double")
    return g.select(
        F.col("src").alias(source_col),
        "n_docs",
        "n_tokens",
        F.round(F.col("n_blank").cast("double") / nd, 6).alias("blank_frac"),
        F.round(
            (F.col("n_docs") - F.col("n_fp")).cast("double") / nd, 6
        ).alias("dup_doc_frac"),
        F.round(F.col("sq").cast("double") / nd, 6).alias("mean_quality"),
    )


def quality_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style quality bucketing: rank every document by
    ``score_col`` WITHIN its group (per language, per source — or
    globally when ``group_col`` is None) and label it by which
    percent-rank band it falls in — the classic head/middle/tail split
    on LM perplexity that decides what gets trained on, what gets
    sampled down, and what gets dropped.

    Bands use ``percent_rank()`` (pure integer rank arithmetic,
    ``(rank-1)/(n-1)``), NOT interpolated quantile thresholds: an
    interpolated cut point frequently lands exactly on a data value at
    small group sizes, where engine rounding decides the side; percent
    ranks are exact in both engines, ties share a rank (hence a
    bucket), and the result is order-independent. Ascending scores:
    with perplexity as the score, ``head`` = lowest perplexity.

    Adds ``bucket``. Scale shape: one shuffle on the group key with an
    in-partition sort (the unavoidable cost of a per-group global
    ranking); everything else is scan-side. For a groupless global
    ranking the window is single-task — use a group key at corpus
    scale (that is also the semantics CCNet uses: per-language).
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly one more label than cuts")
    if list(cuts) != sorted(cuts) or not all(0.0 < c < 1.0 for c in cuts):
        raise ValueError(f"cuts must be strictly increasing in (0,1): {cuts}")
    part = [group_col] if group_col else []
    w = Window.partitionBy(*part).orderBy(F.col(score_col).asc())
    pr = F.percent_rank().over(w)
    expr = F.lit(labels[-1])
    for cut, label in zip(reversed(cuts), reversed(labels[:-1])):
        expr = F.when(pr < F.lit(float(cut)), F.lit(label)).otherwise(expr)
    return df.withColumn("bucket", expr)


def gopher_rules(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: int = 3,
    max_mwl: int = 10,
) -> DataFrame:
    """The Gopher quality-filter rule bundle (Rae et al. 2021, the
    heuristic suite most big-corpus pipelines start from): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio (# / ellipsis)
    ≤ 1/10, < 90% of lines bullet-led, ≤ 30% of lines ellipsis-ended,
    ≥ 80% of words containing an alphabetic character, and ≥ 2 distinct
    members of the Gopher stopword octet present. Adds one boolean per
    rule (``r_*``) plus ``gopher_keep`` (AND of all) — keep the flags,
    not just the verdict, so per-rule drop attribution is one groupBy.

    Every ratio rule is evaluated in INTEGER cross-multiplied form
    (``10 * n_symbols <= n_words`` instead of a float division), so
    there is no float boundary anywhere and a SQL oracle is exact by
    construction. Mean word length uses the arithmetic identity
    total_chars = length(norm) - (n_words - 1) — no per-token array.

    Scale shape: one codegen'd scan projection (regexp_count passes +
    one array_intersect on the whitespace tokens), zero shuffle.
    """
    txt = F.col(text_col)
    norm = normalize_text(txt)
    n_words = token_count(txt)
    total_chars = F.length(norm) - (n_words - F.lit(1))
    n_symbols = F.regexp_count(txt, F.lit(r"#|\.\.\.|…"))
    n_lines = F.regexp_count(txt, F.lit("\n")) + F.lit(1)
    n_bullet = F.regexp_count(txt, F.lit(r"(?m)^[ \t]*[-*•]"))
    n_ellipsis = F.regexp_count(txt, F.lit(r"(?m)(\.\.\.|…)[ \t]*$"))
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    n_alpha = F.regexp_count(padded, F.lit(r"(?<= )[^ ]*[A-Za-z][^ ]*(?= )"))
    octet = ["the", "be", "to", "of", "and", "that", "have", "with"]
    n_stop = F.size(
        F.array_intersect(
            F.split(norm, " "), F.array(*[F.lit(w) for w in octet])
        )
    )
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        # min_mwl <= total/n <= max_mwl, cross-multiplied (n_words > 0)
        "r_word_length": (n_words > 0)
        & (total_chars >= F.lit(min_mwl) * n_words)
        & (total_chars <= F.lit(max_mwl) * n_words),
        "r_symbol_ratio": F.lit(10) * n_symbols <= n_words,
        "r_bullet_lines": F.lit(10) * n_bullet < F.lit(9) * n_lines,
        "r_ellipsis_lines": F.lit(10) * n_ellipsis <= F.lit(3) * n_lines,
        "r_alpha_words": F.lit(5) * n_alpha >= F.lit(4) * n_words,
        "r_stopwords": n_stop >= 2,
    }
    out = df.withColumn("n_words", n_words.cast("long"))
    keep = None
    for name, expr in rules.items():
        out = out.withColumn(name, expr)
        keep = expr if keep is None else (keep & expr)
    return out.withColumn("gopher_keep", keep)


def _sb_tokens(df: DataFrame, text_col: str, *extra) -> DataFrame:
    """Whitespace tokens with blank docs as empty arrays (the shared
    Stupid Backoff tokenization contract for train AND score sides)."""
    t = F.when(
        normalize_text(F.col(text_col)) == "",
        F.array().cast("array<string>"),
    ).otherwise(whitespace_tokens(F.col(text_col)))
    return df.select(*extra, t.alias("__t"))


def _sb_fused_grams(train: DataFrame, text_col: str) -> DataFrame:
    """The UN-pinned fused (level, key, count) gram table — all three
    levels in one tokenize pass + one partial-aggregated shuffle.
    Factored out of :func:`stupid_backoff_train` so plan pins can
    assert on the real pre-checkpoint construction (pushed train
    filters, digest keys)."""
    tr = _sb_tokens(train, text_col)

    def gram_keys(n):
        # md5 digests of the n-grams, in expression space (level ≥ 2).
        return F.when(
            F.size("__t") < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.md5(F.array_join(F.slice("__t", i + 1, n), " ")),
            )
        )

    def tag(arr, lvl):
        return F.transform(
            arr, lambda k: F.struct(F.lit(lvl).alias("l"), k.alias("k"))
        )

    return (
        tr.select(
            F.explode(
                F.concat(
                    tag(F.col("__t"), 1),
                    tag(gram_keys(2), 2),
                    tag(gram_keys(3), 3),
                )
            ).alias("g")
        )
        .select(F.col("g.l").alias("l"), F.col("g.k").alias("k"))
        .groupBy("l", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def stupid_backoff_train(
    train: DataFrame, text_col: str
) -> dict[str, DataFrame]:
    """Train the Stupid Backoff gram tables ONCE over a corpus and
    return them as plain DataFrames — ``{"uni": (w, c1), "bi": (bh,
    c2), "tri": (th, c3)}`` — the frozen-LM artifact. Each frame is
    parquet-writable, so the production shape is: train on the
    reference corpus, persist, then score any number of candidate
    corpora against the FIXED tables with :func:`stupid_backoff_score`
    — the flat scale axis (scoring grows with the scored corpus only;
    the LM side never re-aggregates). Bi/tri grams are keyed by md5
    digests of the gram text, so grams never shuffle (or persist) as
    raw strings.

    All three levels are counted in ONE tokenize pass + ONE partial-
    aggregated shuffle keyed on (level, key) — same bytes as the three
    per-level shuffles it replaces, two fewer corpus scans — and the
    fused table is pinned: the scorer consumes uni 3× (two join keys +
    the N total) and bi 2×, and without a pin Spark re-runs the whole
    train scan→tokenize→aggregate subtree per consumer (6 corpus
    passes measured at sf0.1). The pinned frame is the (level, key,
    count) model artifact a production run would persist to parquet —
    vocabulary/gram-type-bounded, never corpus-sized.
    """
    # (Locally the pin hides the train-side pushed filter from the FINAL
    # printed plan — tests/test_plan_quality.py checks that pushdown on
    # _sb_fused_grams' own plan, the real construction path.)
    fused = pin(_sb_fused_grams(train, text_col))
    uni = fused.filter(F.col("l") == 1).select(
        F.col("k").alias("w"), F.col("c").alias("c1")
    )
    bi = fused.filter(F.col("l") == 2).select(
        F.col("k").alias("bh"), F.col("c").alias("c2")
    )
    tri = fused.filter(F.col("l") == 3).select(
        F.col("k").alias("th"), F.col("c").alias("c3")
    )
    return {"uni": uni, "bi": bi, "tri": tri}


def stupid_backoff_logprob(
    train: DataFrame,
    score: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid Backoff trigram LM scoring (Brants et al. 2007) — the
    n-gram scoring rule DESIGNED for distributed corpora: no discounting
    mass to normalize, just relative frequencies with a fixed backoff
    penalty, which is why the original paper could train it in
    MapReduce. Scores every ``score`` document against the ``train``
    corpus: token i scores ``c3/c2`` on its trigram when seen, else
    ``alpha * c2/c1`` on its bigram, else ``alpha^2 * c1/N`` on its
    unigram — with shorter maximum contexts (the first two tokens of a
    document) starting at their natural level without penalty, and OOV
    tokens scored as singletons (count 1) at the unigram level. This is
    the CCNet-shaped "perplexity filter" signal with an actual trained
    LM behind it (``unigram_logprob`` is its 1-gram degenerate).

    Returns ``(id, n_tokens, n_oov, logprob_sum)`` for non-blank docs;
    ``logprob_sum / n_tokens`` is the mean token log10-score. Each term
    is rounded to 6 places before an exact-decimal per-doc sum, so
    summation order cannot move the result and a SQL oracle replays it.

    Scale shape: the three gram tables are partial-aggregated groupBys
    over the train scan, keyed by md5 digests of the gram text (grams
    never shuffle as raw strings); scoring explodes positions once and
    LEFT-joins the five (table, key) pairs digest-to-digest — linear in
    corpus tokens, vocabulary-bounded tables, no broadcast requirement
    (AQE may still choose one when a table is small). At 100 TB,
    pre-bucket the gram tables on their digest to co-locate the joins.
    Self-scoring (``train is score``) grows BOTH the positions and the
    gram tables with the corpus; the flat axis is a FROZEN LM — train
    once with :func:`stupid_backoff_train`, persist the tables, and
    score through :func:`stupid_backoff_score`.
    """
    return stupid_backoff_score(
        stupid_backoff_train(train, text_col),
        score,
        text_col,
        id_col,
        alpha=alpha,
    )


def stupid_backoff_score(
    lm: dict[str, DataFrame],
    score: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 0.4,
) -> DataFrame:
    """Score a corpus against a FROZEN Stupid Backoff LM — ``lm`` is
    :func:`stupid_backoff_train`'s table dict (possibly re-read from
    parquet). Semantics identical to :func:`stupid_backoff_logprob`;
    the total token count ``N`` derives from the unigram table, so the
    artifact is self-contained."""
    a = float(alpha)
    uni, bi, tri = lm["uni"], lm["bi"], lm["tri"]
    total = uni.agg(F.sum("c1").cast("double").alias("N"))

    # Positions carry their own (w, w-1, w-2) context straight from the
    # token array — scan-side, no per-doc window shuffle. concat_ws
    # skips NULL context slots, and the CASE below never consults a
    # digest above the position's maximum level, so the short-context
    # digests are never compared against a mismatched gram class
    # (train gram strings always contain their separator spaces).
    pos = (
        _sb_tokens(score, text_col, F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("__t") == 0,
                    F.array().cast(
                        "array<struct<i:int,w:string,w1:string,w2:string>>"
                    ),
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(0), F.size("__t") - 1),
                        lambda i: F.struct(
                            i.cast("int").alias("i"),
                            F.element_at("__t", i + 1).alias("w"),
                            F.when(
                                i >= 1, F.element_at("__t", i)
                            ).alias("w1"),
                            F.when(
                                i >= 2, F.element_at("__t", i - 1)
                            ).alias("w2"),
                        ),
                    )
                )
            ).alias("p"),
        )
        .select(
            F.col(id_col),
            F.col("p.i").alias("i"),
            F.col("p.w").alias("w"),
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
        .withColumn("__th", F.md5(F.concat_ws(" ", "w2", "w1", "w")))
        .withColumn("__tch_b", F.md5(F.concat_ws(" ", "w2", "w1")))
        .withColumn("__bh", F.md5(F.concat_ws(" ", "w1", "w")))
    )
    j = (
        pos.join(tri.withColumnRenamed("th", "__th"), "__th", "left")
        .join(
            bi.select(F.col("bh").alias("__tch_b"), F.col("c2").alias("c2a")),
            "__tch_b",
            "left",
        )
        .join(
            bi.select(F.col("bh").alias("__bh"), F.col("c2").alias("c2b")),
            "__bh",
            "left",
        )
        .join(
            uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a")),
            "w1",
            "left",
        )
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(total))
    )
    c1f = F.coalesce(F.col("c1"), F.lit(1)).cast("double")
    lp = (
        F.when(
            (F.col("i") >= 2) & F.col("c3").isNotNull(),
            F.log10(F.col("c3") / F.col("c2a")),
        )
        .when(
            (F.col("i") >= 2) & F.col("c2b").isNotNull(),
            F.log10((F.lit(a) * F.col("c2b")) / F.col("c1a")),
        )
        .when(
            F.col("i") >= 2,
            F.log10((F.lit(a) * F.lit(a) * c1f) / F.col("N")),
        )
        .when(
            (F.col("i") == 1) & F.col("c2b").isNotNull(),
            F.log10(F.col("c2b") / F.col("c1a")),
        )
        .when(F.col("i") == 1, F.log10((F.lit(a) * c1f) / F.col("N")))
        .otherwise(F.log10(c1f / F.col("N")))
    )
    return (
        j.select(
            F.col(id_col),
            F.col("c1").isNull().cast("long").alias("__oov"),
            F.round(lp, 6).cast("decimal(20,6)").alias("__lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__oov").cast("long").alias("n_oov"),
            F.sum("__lp").cast("double").alias("logprob_sum"),
        )
    )


def c4_rules(
    df: DataFrame,
    text_col: str,
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, §2.2) — the other
    canonical rule bundle next to Gopher: line-level filtering plus
    page-level verdict flags. A line is KEPT only if it ends in a
    terminal punctuation mark (``. ! ? "`` or a closing curly quote),
    has at least ``min_line_words`` whitespace words, and does not
    contain the word "javascript" (case-insensitive). The page verdict
    ``c4_keep`` then requires ≥ ``min_sentences`` sentence-terminal
    marks in the KEPT text, no "lorem ipsum", and no ``{`` anywhere in
    the original page (the paper's code-page proxy).

    Adds ``clean_text`` (the kept lines re-joined with ``\\n``),
    ``n_lines`` / ``n_lines_kept`` / ``n_sentences`` counters and the
    per-rule page flags (``r_lorem``, ``r_brace``, ``r_sentences``) so
    drop attribution is one groupBy — same contract as `gopher_rules`.

    Scale shape: one scan projection, zero shuffle. The line filter is
    a higher-order ``filter`` over the split array (interpreted, but
    per-row bounded); every counter is an integer, so the SQL oracle is
    exact by construction.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")

    def line_kept(l):
        lt = F.trim(l)
        norm = F.trim(F.regexp_replace(l, r"\s+", " "))
        n_w = F.when(norm == "", F.lit(0)).otherwise(
            F.size(F.split(norm, " "))
        )
        return (
            lt.rlike('[.!?"”]$')
            & (n_w >= F.lit(min_line_words))
            & ~F.lower(lt).contains("javascript")
        )

    kept = F.filter(lines, line_kept)
    clean = F.array_join(kept, "\n")
    n_sent = F.regexp_count(clean, F.lit(r"[.!?]"))
    r_lorem = ~F.lower(txt).contains("lorem ipsum")
    r_brace = ~txt.contains("{")
    r_sent = n_sent >= F.lit(min_sentences)
    return (
        df.withColumn("clean_text", clean)
        .withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_lines_kept", F.size(kept).cast("long"))
        .withColumn("n_sentences", n_sent.cast("long"))
        .withColumn("r_lorem", r_lorem)
        .withColumn("r_brace", r_brace)
        .withColumn("r_sentences", r_sent)
        .withColumn("c4_keep", r_sent & r_lorem & r_brace)
    )


def tokenizer_fertility(
    df: DataFrame, text_col: str, group_col: str | None = None
) -> DataFrame:
    """Tokenizer fertility / compression report, optionally per group
    (typically the language column): UTF-8 bytes, whitespace words and
    BPE-ish subword tokens (`regex_token_count`) are integer-summed,
    then ``fertility`` = subwords per word and ``bytes_per_token`` =
    bytes per subword (round-6 ratios of exact integers). Fertility is
    THE signal multilingual pipelines use to detect languages a
    tokenizer serves badly (high fertility → more compute per byte of
    signal) and to set per-language sampling budgets.

    Scale shape: all three counters ride the scan projection
    (regexp_count — no token arrays built); one partial-agg'd groupBy
    on ``group_col`` (or a global single-row agg), shuffling only the
    three partial sums per group.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    feats = df.select(
        *([F.col(group_col)] if group_col else []),
        F.octet_length(txt).alias("__b"),
        token_count(txt).alias("__w"),
        regex_token_count(txt).alias("__t"),
    )
    gb = feats.groupBy(group_col) if group_col else feats.groupBy()
    agg = gb.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__b").cast("long").alias("n_bytes"),
        F.sum("__w").cast("long").alias("n_words"),
        F.sum("__t").cast("long").alias("n_subwords"),
    )
    return agg.select(
        *([group_col] if group_col else []),
        "n_docs",
        "n_bytes",
        "n_words",
        "n_subwords",
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("n_subwords") / F.col("n_words"), 6),
        ).alias("fertility"),
        F.when(
            F.col("n_subwords") > 0,
            F.round(F.col("n_bytes") / F.col("n_subwords"), 6),
        ).alias("bytes_per_token"),
    )


def vocab_growth(
    df: DataFrame, text_col: str, id_col: str, levels: int = 8
) -> DataFrame:
    """Heaps-law vocabulary growth report: how fast the distinct-token
    vocabulary grows as the corpus grows, measured on ``levels``
    geometrically-doubling deterministic sub-corpora (md5-bucketed by
    doc id, so "the first 1/128th" is the same set in any engine and at
    any parallelism), plus the fitted Heaps exponent ``beta`` and
    ``log10_k`` (V ≈ k·N^beta, OLS in log-log space). A corpus whose
    beta collapses between snapshots has stopped contributing new
    vocabulary — the cheap first-order signal for data-mixing budgets.

    Returns one row per level: ``level``, ``bucket_lt`` (the md5-bucket
    ceiling defining the prefix), ``n_docs``, ``n_tokens``, ``n_types``
    (exact integers) and the corpus-level ``heaps_beta`` /
    ``heaps_log10_k`` (round-6, same on every row).

    Scale shape: doc-level counters fold into ONE conditional-sum agg
    pass (no per-level rescan); the vocabulary side is one explode +
    groupBy on the token digest computing each type's FIRST bucket
    (min), then one conditional-sum agg — a type counts toward every
    prefix at or beyond its first appearance, which is exactly
    cumulative-distinct semantics without any cumulative scan. Token
    text never shuffles (md5 digests); the fit runs on the
    ``levels``-row frame.
    """
    from .hashing import md5_long
    from .sampling import RATE_DENOM

    bucket = md5_long(
        F.concat_ws(":", F.lit("vg"), F.col(id_col).cast("string"))
    ) % F.lit(RATE_DENOM)
    cuts = [RATE_DENOM // (2 ** (levels - 1 - i)) for i in range(levels)]

    docs = df.select(
        bucket.alias("__bk"), token_count(F.col(text_col)).alias("__n")
    )
    doc_aggs = []
    for i, c in enumerate(cuts):
        hit = F.col("__bk") < c
        doc_aggs.append(
            F.sum(hit.cast("long")).cast("long").alias(f"d{i}")
        )
        doc_aggs.append(
            F.sum(F.when(hit, F.col("__n")).otherwise(0))
            .cast("long")
            .alias(f"t{i}")
        )
    drow = docs.agg(*doc_aggs)

    toks = F.when(
        normalize_text(F.col(text_col)) == "",
        F.array().cast("array<string>"),
    ).otherwise(whitespace_tokens(F.col(text_col)))
    first_bk = (
        df.select(bucket.alias("__bk"), F.explode(toks).alias("w"))
        .select("__bk", F.md5("w").alias("h"))
        .groupBy("h")
        .agg(F.min("__bk").alias("fb"))
    )
    vrow = first_bk.agg(
        *[
            F.sum((F.col("fb") < c).cast("long")).cast("long").alias(f"v{i}")
            for i, c in enumerate(cuts)
        ]
    )

    stack_args = ", ".join(
        f"{i}, CAST({cuts[i]} AS BIGINT), d{i}, t{i}, v{i}"
        for i in range(levels)
    )
    # Eager pin: the levels-row frame has TWO consumers (the output
    # rows and the OLS fit) — without the pin each branch re-derives
    # both corpus passes (4 scans instead of 2). The frame is `levels`
    # rows, so materializing it is free.
    pts = pin(
        drow.crossJoin(vrow).selectExpr(
            f"stack({levels}, {stack_args}) AS "
            "(level, bucket_lt, n_docs, n_tokens, n_types)"
        ),
        eager=True,
    )

    ok = (F.col("n_tokens") > 0) & (F.col("n_types") > 0)
    # Round-8 log points + decimal sums: the OLS moments are exact and
    # order-independent, so the fit is identical at any parallelism and
    # in any engine (the ratio arithmetic below is then pure double on
    # identical inputs).
    x = F.round(F.log10(F.col("n_tokens").cast("double")), 8)
    y = F.round(F.log10(F.col("n_types").cast("double")), 8)
    fit = pts.filter(ok).agg(
        F.count(F.lit(1)).cast("double").alias("fn"),
        F.sum(x.cast("decimal(20,8)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(20,8)")).cast("double").alias("sy"),
        F.sum(F.round(x * y, 10).cast("decimal(30,10)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(x * x, 10).cast("decimal(30,10)"))
        .cast("double")
        .alias("sxx"),
    )
    denom = F.col("fn") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = F.when(
        denom != 0.0,
        (F.col("fn") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom,
    )
    # + 0.0 normalizes IEEE negative zero (a saturated-vocabulary corpus
    # fits slope ~ -1e-12, which rounds to -0.0 in some engines).
    fit = fit.select(
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        (
            F.round((F.col("sy") - beta * F.col("sx")) / F.col("fn"), 6)
            + F.lit(0.0)
        ).alias("heaps_log10_k"),
    )
    return pts.crossJoin(F.broadcast(fit))


def hash_embedding(
    df: DataFrame, text_col: str, id_col: str, dim: int = 64
) -> DataFrame:
    """Feature-hashing (hashing-trick) document embeddings: every token
    lands in ``md5(token) % dim`` with a ±1 sign hash (Weinberger et al.
    2009 — the sign kills the collision bias), counts accumulate per
    bucket, and the vector is L2-normalized (round-6). This is the
    model-free text→vector bridge: its output feeds `cosine_topk`,
    `embedding_clusters`, `centroid_filter` and the ANN family without
    any external model, and it is fully deterministic, so a SQL oracle
    replays it.

    Returns ``(id, embedding array<double>)`` for every input row —
    blank docs get the zero vector.

    Scale shape: one explode + a partial-agg'd groupBy on (id, bucket)
    — shuffles carry (id, int bucket, long count), never token text —
    then one groupBy(id) assembling the map + the exact integer sum of
    squares; the dense vector materializes scan-side via
    ``transform(sequence(...))``. Linear in corpus tokens; ``dim``
    never touches the shuffle volume.
    """
    from .hashing import md5_long

    toks = F.when(
        normalize_text(F.col(text_col)) == "",
        F.array().cast("array<string>"),
    ).otherwise(whitespace_tokens(F.col(text_col)))
    w = df.select(F.col(id_col), F.explode(toks).alias("w"))
    sign = F.when(
        md5_long(F.concat(F.lit("sign:"), F.col("w"))) % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    sparse = (
        w.select(
            id_col,
            (md5_long(F.col("w")) % F.lit(dim)).cast("int").alias("b"),
            sign.alias("s"),
        )
        .groupBy(id_col, "b")
        .agg(F.sum("s").cast("long").alias("v"))
    )
    packed = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("v")))
        ).alias("m"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("ss"),
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            F.col("ss") > 0,
            F.round(
                F.coalesce(F.element_at(F.col("m"), i), F.lit(0)).cast(
                    "double"
                )
                / F.sqrt(F.col("ss")),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    return (
        df.select(id_col)
        .join(packed, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.when(F.col("ss").isNotNull(), emb), zero
            ).alias("embedding"),
        )
    )


def unicode_normalize(
    df: DataFrame, text_col: str, id_col: str, form: str = "NFKC"
) -> DataFrame:
    """Unicode cleanup pass — the very first stage of a crawl pipeline:
    ``unicodedata.normalize(form)`` (NFKC folds full-width forms,
    ligatures, compatibility chars), curly quotes/dashes unified to
    ASCII, zero-width characters removed, and C0 controls stripped
    (keeping ``\\n`` and ``\\t``). Returns ``(id, text, n_changed)``
    where ``n_changed`` flags rows the pass actually touched — the
    audit counter is one groupBy away.

    Arrow-batched ``mapInPandas`` over only (id, text): stdlib C-speed
    per row, embarrassingly parallel, no shuffle. Oracle-backed in the
    gate: the non-NFKC stages replay exactly in SQL, and NFKC is the
    identity on the pure-ASCII gate corpus (precondition pinned by
    test); a pytest differential additionally pins the NFKC path
    against direct ``unicodedata`` on non-ASCII inputs.
    """
    import unicodedata

    trans = str.maketrans(
        {
            "‘": "'", "’": "'", "“": '"', "”": '"',
            "–": "-", "—": "-", "−": "-",
            " ": " ",
            "​": None, "‌": None, "‍": None,
            "﻿": None,
        }
    )
    ctrl = {c: None for c in range(32) if chr(c) not in "\n\t"}

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {text_col} string, n_changed int"

    def batches(it):
        for pdf in it:
            src = pdf[text_col].fillna("")
            cleaned = [
                unicodedata.normalize(form, t).translate(trans).translate(ctrl)
                for t in src
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    text_col: cleaned,
                    "n_changed": [
                        int(a != b) for a, b in zip(src, cleaned)
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 100,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Top-``top_k`` bigram collocations by pointwise mutual
    information: ``pmi = log10(p(w1,w2) / (p(w1) p(w2)))`` with unigram
    probabilities over all tokens and the joint over all adjacent
    pairs (Church & Hanks 1990). The phrase-mining signal a tokenizer/
    vocab-construction pass wants ("new york", "et al") and a cheap
    boilerplate detector (absurdly high-PMI pairs are templates).

    ``min_count`` (>= 1) floors the joint count first — PMI famously
    explodes on hapax pairs — then rows order by (pmi desc, w1, w2)
    for a deterministic top-k. PMI is rounded to 6 places BEFORE ranking so
    both engines rank identical keys (the repo-wide round-then-compare
    contract).

    Scale shape: one partial-agg'd groupBy per table (pair counts keyed
    on the two words, unigram counts on one); the two probability
    lookups broadcast by default (vocab-sized, corpus-independent) —
    ``broadcast_vocab=False`` for open vocabularies falls back to AQE
    hash joins. The final top-k is a TakeOrdered, never a global sort.

    The two count tables are pinned (vocab-sized; the corpus is never
    pinned). Run inside a
    :func:`~krnel_graph_spark.functions.partitioning.pin_scope` to
    release them once the top-k has materialized, as the OpSpec path
    does; otherwise they live until the session drops them.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    toks = whitespace_tokens(F.col(text_col))
    base = (
        df.filter(normalize_text(F.col(text_col)) != "")
        .select(toks.alias("__toks"))
        .withColumn("__L", F.size("__toks"))
    )
    # Both count tables feed multiple branches (lookups + totals): pin
    # them so the corpus explode+groupBy runs ONCE per table instead of
    # once per consumer.
    uni = pin(
        base.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs_all = pin(
        _adjacent_word_pairs(base, "__toks")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    pairs = pairs_all.filter(F.col("n_pair") >= int(min_count))
    # Totals fold out of the count tables (vocab-sized aggregates), so
    # the corpus is scanned once per explode — never for a scalar.
    n_uni = uni.select(F.sum("c").alias("__n1"))
    n_pairs = pairs_all.select(F.sum("n_pair").alias("__n2"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    if broadcast_vocab:
        u1, u2 = F.broadcast(u1), F.broadcast(u2)
    scored = (
        pairs.join(u1, "w1").join(u2, "w2")
        # 1-row scalar totals: a broadcast-nested-loop join with no key,
        # the repo-wide idiom for corpus-level constants.
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log10(
                    F.col("n_pair").cast("double")
                    * F.col("__n1").cast("double")
                    * F.col("__n1").cast("double")
                    / (
                        F.col("__n2").cast("double")
                        * F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(int(top_k))


def kneser_ney_logprob(
    train: DataFrame,
    score: DataFrame,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated bigram Kneser-Ney LM scoring (Kneser & Ney 1995;
    the smoothing KenLM implements and CCNet's perplexity filter
    actually runs) — the absolute-discounting companion to
    :func:`stupid_backoff_logprob`: instead of a fixed backoff penalty,
    probability mass ``D`` is discounted from every seen bigram and
    redistributed through the CONTINUATION distribution (how many
    distinct contexts a word completes, not how often it occurs — the
    "San Francisco" correction: 'Francisco' is frequent but only ever
    continues 'San', so its weight as a novel continuation is tiny).

    Per token at position i:
    ``P(w|w1) = max(c(w1,w)-D, 0)/c(w1.) + (D*N1+(w1,.)/c(w1.)) * Pcont(w)``
    when ``w1`` was seen as a context, else ``Pcont(w)`` (document
    starts and unseen contexts back off to the continuation level),
    where ``Pcont(w) = max(N1+(.,w)-D, 0)/B + (D*Vcont/B) * (1/V)`` —
    the continuation level itself discounted and interpolated with the
    uniform floor over ``V`` = train vocabulary + 1 (the OOV bucket),
    so every token scores a strictly positive probability.
    ``B`` = distinct bigram types, ``Vcont`` = words seen as a
    continuation, ``N1+`` are distinct-neighbor counts.

    Returns ``(id, n_tokens, n_oov, logprob_sum)`` for non-blank docs;
    each term is log10, rounded to 6 places, then an exact decimal
    per-doc sum (the repo-wide order-free contract; a SQL oracle
    replays every count and the same left-associated arithmetic).

    Scale shape: the bigram/context/continuation tables are
    partial-agg'd groupBys over ONE train scan, keyed by md5 digests
    (grams never shuffle as raw text); B/Vcont/V are 1-row aggregates
    crossJoined as broadcast scalars; scoring explodes positions once
    and LEFT-joins three digest-keyed tables. Self-scoring grows both
    axes; freeze the tables for the flat-axis path exactly like
    ``stupid_backoff_train``/``score``.
    """
    return kneser_ney_score(
        kneser_ney_train(train, text_col),
        score,
        text_col,
        id_col,
        discount=discount,
    )


def kneser_ney_train(train: DataFrame, text_col: str) -> dict[str, DataFrame]:
    """Build the persistable Kneser-Ney LM artifact — four plain
    parquet-writable frames of raw integer counts (the discount is a
    SCORE-time knob, so one trained artifact serves any ``discount``):

    * ``big``: ``(w1, w2, c12)`` bigram type counts;
    * ``ctx``: ``(w1, c1, n1fwd)`` context totals + distinct
      continuations;
    * ``back``: ``(w2, n1back)`` distinct left-context counts;
    * ``scalars``: 1-row ``(B, Vc, V)`` — bigram types, continuation
      vocabulary, unigram vocabulary + 1 (the OOV bucket).

    The production shape: train once on the reference corpus, persist,
    and :func:`kneser_ney_score` any ingest stream against it — the
    same split as ``stupid_backoff_train``/``score``.

    Since mid-r14 a rename adapter over the order-generic trainer at
    ``order=2`` (the :func:`kneser_ney3_train` move): one corpus scan
    instead of two, identical frame values (the generic order-2 output
    was pinned row-identical to this family's exporter before the
    swap). Release the pinned tables via every ``_pinned_*`` key (or
    ``spark.catalog.clearCache()``)."""
    from .ngram_lm import kneser_ney_ngram_train

    g = kneser_ney_ngram_train(train, text_col, order=2)
    out = {
        "big": g["top"].select(
            "w1", "w2", F.col("c").alias("c12")
        ),
        "ctx": g["ctx2"].select(
            "w1", F.col("tot").alias("c1"), F.col("n1f").alias("n1fwd")
        ),
        "back": g["back"].select(
            F.col("w1").alias("w2"), F.col("cc").alias("n1back")
        ),
        "scalars": g["scalars"].select("B", "Vc", "V"),
    }
    out.update({k: v for k, v in g.items() if k.startswith("_pinned_")})
    return out


def kneser_ney_score(
    lm: dict[str, DataFrame],
    score: DataFrame,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Score a corpus against a FROZEN Kneser-Ney artifact — ``lm`` is
    :func:`kneser_ney_train`'s frame dict (possibly re-read from
    parquet). Semantics identical to :func:`kneser_ney_logprob`; the
    count tables are joined digest-to-digest (digests derived from the
    vocab-bounded tables at plan time, raw grams never shuffle)."""
    D = float(discount)
    if not (0.0 < D < 1.0):
        raise ValueError("discount must be in (0, 1)")
    for key in ("big", "ctx", "back", "scalars"):
        if key not in lm:
            raise ValueError(f"lm missing frame {key!r} — not a kneser_ney_train artifact")

    big, ctx, back = lm["big"], lm["ctx"], lm["back"]
    scalars = lm["scalars"].select(
        F.col("B").alias("__B"), F.col("Vc").alias("__Vc"), F.col("V").alias("__V")
    )

    # Digest-keyed join tables: raw grams never shuffle.
    big_d = big.select(
        F.md5(F.concat_ws(" ", "w1", "w2")).alias("__gd"), "c12"
    )
    ctx_d = ctx.select(F.md5("w1").alias("__cd"), "c1", "n1fwd")
    back_d = back.select(F.md5("w2").alias("__wd"), "n1back")

    pos = (
        score.filter(normalize_text(F.col(text_col)) != "")
        .select(
            F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__t")
        )
        .withColumn("__L", F.size("__t"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, __L),"
                    " s -> struct(__t[s - 1] AS w,"
                    " IF(s >= 2, __t[s - 2], NULL) AS w1))"
                )
            ).alias("p"),
        )
        .select(
            F.col(id_col),
            F.md5(F.concat_ws(" ", "p.w1", "p.w")).alias("__gd"),
            F.md5("p.w1").alias("__cd"),
            F.md5("p.w").alias("__wd"),
            F.col("p.w1").isNotNull().alias("__has_ctx"),
        )
    )
    joined = (
        pos.join(big_d, "__gd", "left")
        .join(ctx_d, "__cd", "left")
        .join(back_d, "__wd", "left")
        .crossJoin(F.broadcast(scalars))
    )
    nb = F.coalesce(F.col("n1back"), F.lit(0)).cast("double")
    Bd = F.col("__B").cast("double")
    unif = F.lit(1.0) / F.col("__V").cast("double")
    pcont = F.when(
        F.col("__B") > 0,
        F.greatest(nb - F.lit(D), F.lit(0.0)) / Bd
        + (F.lit(D) * F.col("__Vc").cast("double") / Bd) * unif,
    ).otherwise(unif)
    c1d = F.col("c1").cast("double")
    p = F.when(
        F.col("__has_ctx") & F.col("c1").isNotNull(),
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - F.lit(D),
            F.lit(0.0),
        )
        / c1d
        + (F.lit(D) * F.col("n1fwd").cast("double") / c1d) * pcont,
    ).otherwise(pcont)
    return (
        joined.select(
            F.col(id_col),
            F.round(F.log10(p), 6).cast("decimal(20,6)").alias("__term"),
            (F.col("n1back").isNull()).cast("int").alias("__oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__oov").cast("long").alias("n_oov"),
            F.sum("__term").cast("double").alias("logprob_sum"),
        )
    )


def kneser_ney3_logprob(
    train: DataFrame,
    score: DataFrame,
    text_col: str,
    id_col: str,
    discount: "float | str" = 0.75,
    min_count: int = 1,
) -> DataFrame:
    """Interpolated TRIGRAM Kneser-Ney scoring — the order-3 model
    KenLM-grade perplexity filtering (CCNet) actually ships. Same
    artifact philosophy as the bigram :func:`kneser_ney_logprob`
    (discount-free integer count tables, one trained artifact serves
    any ``discount``), one more interpolation level:

    ``P3(w|uv) = max(c(uvw)−D,0)/c(uv·) + D·N1+(uv·)/c(uv·) · P2c(w|v)``
    when context ``(u,v)`` was seen, else ``P2c(w|v)``;
    ``P2c(w|v) = max(N1+(·vw)−D,0)/N1+(·v·) + D·N1f(v)/N1+(·v·) · Pc(w)``
    — the CONTINUATION bigram level (distinct-left-context counts
    derived from the trigram type table, so each level's discounted
    mass matches its backoff weight), else ``Pc(w)``; ``Pc`` is the
    same bigram-table continuation distribution the order-2 model
    bottoms out in. Document positions 1 and 2 score at the levels
    their shortened context supports (``Pc`` / ``P2c``).

    ``min_count`` prunes trigram types with ``c(uvw) < min_count``
    from the lookup table while keeping context totals and backoff
    weights at their UNPRUNED values — pruned grams fall through to
    the (already-discounted) backoff term, the KenLM pruning shape
    that bounds the dominant artifact on a 100-TB corpus without
    touching lower-order tables.

    Returns ``(id, n_tokens, n_oov, logprob_sum)`` — the
    :func:`kneser_ney_logprob` contract (log10 terms, round-6, exact
    decimal per-doc sum)."""
    return kneser_ney3_score(
        kneser_ney3_train(train, text_col, min_count=min_count),
        score,
        text_col,
        id_col,
        discount=discount,
    )


def kneser_ney3_train(
    train: DataFrame, text_col: str, min_count: int = 1
) -> dict[str, DataFrame]:
    """Build the persistable trigram Kneser-Ney artifact — six plain
    parquet-writable integer-count frames (discount stays a score-time
    knob):

    * ``tri``: ``(u, v, w, c3)`` trigram type counts (pruned to
      ``c3 >= min_count``; all derived stats below are computed BEFORE
      pruning so backoff weights stay consistent);
    * ``tctx``: ``(u, v, c_uv, n1f_uv)`` trigram-context totals;
    * ``mid``: ``(v, w, n1mid)`` distinct left contexts per bigram —
      the continuation counts of the middle level;
    * ``vstats``: ``(v, m_ctx, n1f_mid)`` middle-level normalizers
      (``N1+(·v·)`` and its type count);
    * ``back``: ``(w2, n1back)`` / ``scalars``: ``(B, Vc, V)`` — the
      bigram-table continuation floor, shared with the order-2 model.

    Scale shape (since mid-r14): a rename adapter over the order-
    generic trainer (:func:`~krnel_graph_spark.functions.ngram_lm.
    kneser_ney_ngram_train` at ``order=3``) — ONE corpus scan explodes
    every gram order (the dedicated trainer paid three), and all
    continuation/context levels reduce in one fused shuffle each. The
    frame VALUES are unchanged (the generic trainer's order-3 output
    was pinned row-identical to this family's before the swap, and
    the family's DuckDB count-recursion oracles are implementation-
    independent); only the pinned handles changed names — release via
    every ``_pinned_*`` key. The kn3 ARPA exporter remains its own
    hand-written builder, so the generic-vs-kn3 exporter differential
    (tests/test_ngram_lm.py) still crosses two implementations."""
    from .ngram_lm import kneser_ney_ngram_train

    g = kneser_ney_ngram_train(train, text_col, order=3, min_count=min_count)
    out = {
        "tri": g["top"].select(
            F.col("w1").alias("u"), F.col("w2").alias("v"),
            F.col("w3").alias("w"), F.col("c").alias("c3"),
        ),
        "tctx": g["ctx3"].select(
            F.col("w1").alias("u"), F.col("w2").alias("v"),
            F.col("tot").alias("c_uv"), F.col("n1f").alias("n1f_uv"),
            F.col("cls1").alias("nn1"), F.col("cls2").alias("nn2"),
            F.col("cls3p").alias("nn3p"),
        ),
        "mid": g["cont2"].select(
            F.col("w1").alias("v"), F.col("w2").alias("w"),
            F.col("cc").alias("n1mid"),
        ),
        "vstats": g["ctx2"].select(
            F.col("w1").alias("v"), F.col("tot").alias("m_ctx"),
            F.col("n1f").alias("n1f_mid"), F.col("cls1").alias("mm1"),
            F.col("cls2").alias("mm2"), F.col("cls3p").alias("mm3p"),
        ),
        "back": g["back"].select(
            F.col("w1").alias("w2"), F.col("cc").alias("n1back")
        ),
        "scalars": g["scalars"].select("B", "Vc", "V"),
        "coc": g["coc"].select(
            *[F.col(f"l3_{k}").alias(f"t{k}") for k in (1, 2, 3, 4)],
            *[F.col(f"l2_{k}").alias(f"m{k}") for k in (1, 2, 3, 4)],
            "b1", "b2", "b3", "b4", "btot",
        ),
    }
    out.update({k: v for k, v in g.items() if k.startswith("_pinned_")})
    return out


def _mkn3_discounts(row, prefix, base):
    """Chen & Goodman closed-form discounts from a level's
    count-of-counts, clamped to [0, k]; degenerate levels (needed
    t_k = 0) fall back to the single ``base`` discount. Computed
    DRIVER-side from the collected 1-row coc frame (bounded, KB) —
    embedding the discounts as literals keeps the per-position
    expression tree fixed-mode-sized (a column-expression version
    measured 3.5× the whole query at ×40: every D subtree was
    re-evaluated inside each interpolation level). Python float64
    arithmetic is the same IEEE ops in the same order the SQL
    oracle replays. Returns raw floats; callers wrap in F.lit where a
    column is needed. Shared by :func:`kneser_ney3_score` and the ARPA
    exporter."""
    # an empty train corpus leaves NULL sums in the coc aggregate
    # row — treat as zero counts so every level falls back to the
    # base discount instead of raising on float(None)
    t = [float(row[f"{prefix}{k}"] or 0) for k in (1, 2, 3, 4)]
    out = []
    for k in (1, 2, 3):
        if t[0] > 0 and (k == 1 or t[k - 1] > 0):
            y = t[0] / (t[0] + 2.0 * t[1])
            d = k - (k + 1) * y * t[k] / t[k - 1]
            out.append(max(0.0, min(d, float(k))))
        else:
            out.append(base)
    return out


def kneser_ney3_score(
    lm: dict[str, DataFrame],
    score: DataFrame,
    text_col: str,
    id_col: str,
    discount: "float | str" = 0.75,
    base_discount: float = 0.75,
) -> DataFrame:
    """Score a corpus against a FROZEN trigram Kneser-Ney artifact
    (:func:`kneser_ney3_train`'s frame dict, possibly re-read from
    parquet). One positions explode, five digest-keyed LEFT joins
    (trigram, trigram-context, mid-continuation, middle normalizer,
    unigram continuation) + the broadcast 1-row scalars — raw grams
    never shuffle.

    ``discount="modified"`` switches the trigram and mid levels to
    MODIFIED Kneser-Ney (Chen & Goodman 1998 — KenLM's default): three
    per-level discounts D1/D2/D3+ chosen by count class and estimated
    in closed form from the artifact's own count-of-counts
    (``Y = t1/(t1+2·t2)``, ``Dk = k − (k+1)·Y·t(k+1)/tk``, clamped to
    ``[0, k]``; a level whose needed tk is zero falls back to
    ``base_discount``). The backoff weight becomes
    ``(D1·n1 + D2·n2 + D3·n3+)/total`` over the context's count-class
    type counts. Since r13 the bottom continuation floor gets
    per-class discounts too (Chen & Goodman apply them at every
    order): its single global context makes the class counts scalars,
    so the whole backoff mass is one literal; pre-r13 artifacts whose
    ``coc`` frame predates the back-level count-of-counts fall back to
    the single ``base_discount`` there. All of it evaluates from the
    same discount-free artifact — switching smoothing is a score-time
    flag, never a retrain."""
    modified = discount == "modified"
    if modified:
        D = float(base_discount)
    else:
        D = float(discount)
    if not (0.0 < D < 1.0):
        raise ValueError("discount must be in (0, 1)")
    needed = ("tri", "tctx", "mid", "vstats", "back", "scalars") + (
        ("coc",) if modified else ()
    )
    for key in needed:
        if key not in lm:
            raise ValueError(
                f"lm missing frame {key!r} — not a kneser_ney3_train artifact"
            )

    scalars = lm["scalars"].select(
        F.col("B").alias("__B"), F.col("Vc").alias("__Vc"), F.col("V").alias("__V")
    )
    tri_d = lm["tri"].select(
        F.md5(F.concat_ws(" ", "u", "v", "w")).alias("__td"), "c3"
    )
    tctx_cols = ["c_uv", "n1f_uv"] + (
        ["nn1", "nn2", "nn3p"] if modified else []
    )
    tctx_d = lm["tctx"].select(
        F.md5(F.concat_ws(" ", "u", "v")).alias("__ud"), *tctx_cols
    )
    mid_d = lm["mid"].select(
        F.md5(F.concat_ws(" ", "v", "w")).alias("__md"), "n1mid"
    )
    vstats_cols = ["m_ctx", "n1f_mid"] + (
        ["mm1", "mm2", "mm3p"] if modified else []
    )
    vstats_d = lm["vstats"].select(
        F.md5("v").alias("__vd"), *vstats_cols
    )
    back_d = lm["back"].select(F.md5("w2").alias("__wd"), "n1back")

    pos = (
        score.filter(normalize_text(F.col(text_col)) != "")
        .select(
            F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__t")
        )
        .withColumn("__L", F.size("__t"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, __L),"
                    " s -> struct(__t[s - 1] AS w,"
                    " IF(s >= 2, __t[s - 2], NULL) AS v,"
                    " IF(s >= 3, __t[s - 3], NULL) AS u))"
                )
            ).alias("p"),
        )
        .select(
            F.col(id_col),
            F.md5(F.concat_ws(" ", "p.u", "p.v", "p.w")).alias("__td"),
            F.md5(F.concat_ws(" ", "p.u", "p.v")).alias("__ud"),
            F.md5(F.concat_ws(" ", "p.v", "p.w")).alias("__md"),
            F.md5("p.v").alias("__vd"),
            F.md5("p.w").alias("__wd"),
            F.col("p.v").isNotNull().alias("__has_v"),
            F.col("p.u").isNotNull().alias("__has_u"),
        )
    )
    joined = (
        pos.join(tri_d, "__td", "left")
        .join(tctx_d, "__ud", "left")
        .join(mid_d, "__md", "left")
        .join(vstats_d, "__vd", "left")
        .join(back_d, "__wd", "left")
        .crossJoin(F.broadcast(scalars))
    )
    def _mkn_discounts(row, prefix):
        return _mkn3_discounts(row, prefix, D)

    nb = F.coalesce(F.col("n1back"), F.lit(0)).cast("double")
    Bd = F.col("__B").cast("double")
    unif = F.lit(1.0) / F.col("__V").cast("double")
    coc_row = lm["coc"].collect()[0] if modified else None
    if modified and "b1" in lm["coc"].columns:
        # r13: per-class discounts at the BOTTOM continuation level too
        # (Chen & Goodman apply them at every order; r12 kept the single
        # base discount here). The level's context is the one global
        # empty context, so its class type counts (how many unigram
        # continuation types occur once / twice / 3+) are scalars from
        # the same bounded coc row, and the backoff mass
        # (D1·b1 + D2·b2 + D3+·b3p) folds into ONE literal.
        d1b, d2b, d3b = _mkn_discounts(coc_row, "b")
        b1 = float(coc_row["b1"] or 0)
        b2 = float(coc_row["b2"] or 0)
        b3p = float(coc_row["btot"] or 0) - b1 - b2
        gamma_b = d1b * b1 + d2b * b2 + d3b * b3p
        db = (
            F.when(F.col("n1back") == 1, F.lit(d1b))
            .when(F.col("n1back") == 2, F.lit(d2b))
            .otherwise(F.lit(d3b))
        )
        pcont = F.when(
            F.col("__B") > 0,
            F.greatest(nb - db, F.lit(0.0)) / Bd
            + (F.lit(gamma_b) / Bd) * unif,
        ).otherwise(unif)
    else:
        # single-discount floor: the non-modified path, and the
        # documented fallback for pre-r13 persisted artifacts whose coc
        # frame predates the back-level count-of-counts
        pcont = F.when(
            F.col("__B") > 0,
            F.greatest(nb - F.lit(D), F.lit(0.0)) / Bd
            + (F.lit(D) * F.col("__Vc").cast("double") / Bd) * unif,
        ).otherwise(unif)
    mctx_d_ = F.col("m_ctx").cast("double")
    cuv_d = F.col("c_uv").cast("double")
    if modified:
        d1m, d2m, d3m = [F.lit(v) for v in _mkn_discounts(coc_row, "m")]
        n1mid_d = F.coalesce(F.col("n1mid"), F.lit(0)).cast("double")
        dm = (
            F.when(F.col("n1mid") == 1, d1m)
            .when(F.col("n1mid") == 2, d2m)
            .otherwise(d3m)
        )
        gamma_m = (
            d1m * F.col("mm1").cast("double")
            + d2m * F.col("mm2").cast("double")
            + d3m * F.col("mm3p").cast("double")
        )
        p2 = F.when(
            F.col("__has_v") & F.col("m_ctx").isNotNull(),
            F.greatest(n1mid_d - dm, F.lit(0.0)) / mctx_d_
            + (gamma_m / mctx_d_) * pcont,
        ).otherwise(pcont)
        d1t, d2t, d3t = [F.lit(v) for v in _mkn_discounts(coc_row, "t")]
        c3_d = F.coalesce(F.col("c3"), F.lit(0)).cast("double")
        dt = (
            F.when(F.col("c3") == 1, d1t)
            .when(F.col("c3") == 2, d2t)
            .otherwise(d3t)
        )
        gamma_t = (
            d1t * F.col("nn1").cast("double")
            + d2t * F.col("nn2").cast("double")
            + d3t * F.col("nn3p").cast("double")
        )
        p3 = F.when(
            F.col("__has_u") & F.col("c_uv").isNotNull(),
            F.greatest(c3_d - dt, F.lit(0.0)) / cuv_d
            + (gamma_t / cuv_d) * p2,
        ).otherwise(p2)
    else:
        p2 = F.when(
            F.col("__has_v") & F.col("m_ctx").isNotNull(),
            F.greatest(
                F.coalesce(F.col("n1mid"), F.lit(0)).cast("double") - F.lit(D),
                F.lit(0.0),
            )
            / mctx_d_
            + (F.lit(D) * F.col("n1f_mid").cast("double") / mctx_d_) * pcont,
        ).otherwise(pcont)
        p3 = F.when(
            F.col("__has_u") & F.col("c_uv").isNotNull(),
            F.greatest(
                F.coalesce(F.col("c3"), F.lit(0)).cast("double") - F.lit(D),
                F.lit(0.0),
            )
            / cuv_d
            + (F.lit(D) * F.col("n1f_uv").cast("double") / cuv_d) * p2,
        ).otherwise(p2)
    return (
        joined.select(
            F.col(id_col),
            F.round(F.log10(p3), 6).cast("decimal(20,6)").alias("__term"),
            (F.col("n1back").isNull()).cast("int").alias("__oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__oov").cast("long").alias("n_oov"),
            F.sum("__term").cast("double").alias("logprob_sum"),
        )
    )


def bm25_index(df: DataFrame, text_col: str, id_col: str) -> dict[str, DataFrame]:
    """Build the persistable BM25 index artifact — the sparse-retrieval
    twin of ``minhash_index`` (dedup) and ``ann_index`` (dense ANN):
    tokenize and invert the corpus ONCE, persist three plain
    parquet-writable frames, and serve every later query from the index
    without touching the text again.

    * ``postings``: ``(id, dl, term, tf)`` — the inverted index,
      denormalized with the doc length so scoring needs no extra join.
      At 100 TB, write it partitioned/sorted by ``term`` so a query's
      ``isin`` filter becomes parquet predicate pushdown over a few
      row groups instead of a full postings scan.
    * ``term_df``: ``(term, df_t)`` — per-term document frequencies,
      vocab-sized.
    * ``stats``: 1-row ``(n_docs, total_len)`` — includes docs sharing
      no term with any query, exactly like the inline scan.

    :func:`bm25_search_index` over these frames is output-IDENTICAL to
    :func:`bm25_search` over the original corpus (same oracle; pinned
    by a parquet-roundtrip test)."""
    docs = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("toks")
    ).filter(normalize_text(F.col(text_col)) != "").withColumn(
        "dl", F.size("toks")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    postings = (
        docs.select(F.col(id_col), F.col("dl"), F.explode("toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    term_df = postings.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df_t")
    )
    return {"postings": postings, "term_df": term_df, "stats": stats}


def bm25_search_index(
    index: dict[str, DataFrame],
    id_col: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 top-``k`` served from a prebuilt :func:`bm25_index` — the
    recurring query-service cost is a term-filtered postings read +
    two broadcast joins + the decimal-exact per-doc sum; the corpus
    text is never re-tokenized. Identical scoring arithmetic (and
    output) to :func:`bm25_search` — both paths score through the
    single shared :func:`_bm25_rank` kernel, so they cannot fork."""
    terms = _query_terms(query)
    for key in ("postings", "term_df", "stats"):
        if key not in index:
            raise ValueError(f"index missing frame {key!r} — not a bm25_index")
    tf = index["postings"].filter(F.col("term").isin(terms))
    df_t = index["term_df"].filter(F.col("term").isin(terms))
    return _bm25_rank(tf, df_t, index["stats"], id_col, k1, b, k)


_BM25_FRAMES = ("postings", "term_df", "stats")
_KN3_FRAMES = ("tri", "tctx", "mid", "vstats", "back", "scalars", "coc")


def _index_save(frames, keys, path, mode, cluster=None):
    for key in keys:
        df = frames[key]
        if cluster and key in cluster:
            # Cluster the corpus-sized frame by its filter key so a
            # keyed read touches few parquet row groups (min/max stats
            # prune the rest) — NOT partitionBy, which would explode a
            # vocab-sized key into a directory per value.
            df = df.repartition(*cluster[key]).sortWithinPartitions(
                *cluster[key]
            )
        df.write.mode(mode).parquet(f"{path}/{key}")


def _index_load(spark, keys, path, caller):
    from pyspark.errors import AnalysisException

    out = {}
    for key in keys:
        try:
            out[key] = spark.read.parquet(f"{path}/{key}")
        except AnalysisException as exc:
            # Path missing / not parquet — an artifact-SHAPE problem,
            # so say so. Genuine I/O, permission, or filesystem errors
            # (Py4J/IOException) propagate untouched: labelling those
            # "not an artifact" would send the operator down the wrong
            # debugging path.
            raise ValueError(
                f"{caller}: cannot read frame {key!r} under {path!r} — "
                f"not a {caller.replace('_load', '')} artifact ({exc})"
            ) from exc
    return out


def bm25_index_save(
    idx: dict[str, DataFrame], path: str, mode: str = "overwrite"
) -> None:
    """Persist a :func:`bm25_index` artifact with the layout the scale
    story promises: ``postings`` CLUSTERED by term (repartition +
    sort-within-partitions — parquet row-group min/max stats then prune
    a term-filtered query read down to a few row groups; deliberately
    not ``partitionBy``, which would create a directory per vocabulary
    term), ``term_df``/``stats`` plain. Load with
    :func:`bm25_index_load`."""
    for key in _BM25_FRAMES:
        if key not in idx:
            raise ValueError(f"index missing frame {key!r} — not a bm25_index")
    _index_save(
        idx, _BM25_FRAMES, path, mode, cluster={"postings": ("term",)}
    )


def bm25_index_load(spark, path: str) -> dict[str, DataFrame]:
    """Read a persisted :func:`bm25_index` artifact back into the frame
    dict :func:`bm25_search_index` / :func:`bm25_index_merge` consume;
    missing or unreadable frames fail loudly with the frame name."""
    out = _index_load(spark, _BM25_FRAMES, path, "bm25_index_load")
    for key, col in (("postings", "term"), ("term_df", "df_t"),
                     ("stats", "n_docs")):
        if col not in out[key].columns:
            raise ValueError(
                f"bm25_index_load: frame {key!r} lacks column {col!r} — "
                "not a bm25_index artifact"
            )
    return out


def kneser_ney3_save(
    lm: dict[str, DataFrame], path: str, mode: str = "overwrite"
) -> None:
    """Persist a :func:`kneser_ney3_train` artifact (seven frames; the
    trigram lookup clustered by its leading context word)."""
    _index_save(lm, _KN3_FRAMES, path, mode, cluster={"tri": ("u",)})


def kneser_ney3_load(spark, path: str) -> dict[str, DataFrame]:
    return _index_load(spark, _KN3_FRAMES, path, "kneser_ney3_load")


def bm25_index_merge(
    a: dict[str, DataFrame],
    b: dict[str, DataFrame],
    validate: bool = True,
) -> dict[str, DataFrame]:
    """Merge two :func:`bm25_index` artifacts (disjoint doc sets) into
    one — the day-N ingest step: index ONLY the new documents, merge
    with the persisted corpus index, and the old corpus text is never
    re-tokenized. Pure frame arithmetic:

    * ``postings``: union (doc sets are disjoint, so no combining);
    * ``term_df``: summed per term (full-outer via union+groupBy);
    * ``stats``: element-wise sum of the two 1-row frames.

    ``merge(index(A), index(B)) == index(A union B)`` exactly (pinned
    by test), so searches over the merged artifact match a from-scratch
    rebuild row-for-row.

    Disjointness is an input CONTRACT the arithmetic depends on — an
    overlapping merge would duplicate postings and double-count
    df_t/n_docs/total_len, corrupting scores silently. ``validate=True``
    (default) runs one eager semi-join over the two postings id sets
    (digest-width shuffle, stops at the first hit) and raises on
    overlap; pipelines that guarantee disjointness structurally (e.g.
    date-partitioned ingest) can pass ``validate=False`` to skip the
    job."""
    for key in ("postings", "term_df", "stats"):
        for side in (a, b):
            if key not in side:
                raise ValueError(f"index missing frame {key!r} — not a bm25_index")
    if validate:
        id_cols = [
            c for c in a["postings"].columns if c not in ("dl", "term", "tf")
        ]
        if len(id_cols) != 1:
            raise ValueError(
                f"cannot infer postings id column from {a['postings'].columns}"
            )
        id_col = id_cols[0]
        clash = (
            a["postings"].select(id_col).distinct()
            .join(b["postings"].select(id_col).distinct(), id_col, "left_semi")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                "bm25_index_merge: doc sets overlap (e.g. "
                f"{id_col}={clash[0][0]!r}); merging would double-count "
                "postings/df_t/n_docs — dedup the ingest batch first or "
                "pass validate=False only if overlap is impossible"
            )
    postings = a["postings"].unionByName(b["postings"])
    term_df = (
        a["term_df"].unionByName(b["term_df"])
        .groupBy("term")
        .agg(F.sum("df_t").cast("long").alias("df_t"))
    )
    stats = (
        a["stats"].unionByName(b["stats"])
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
    )
    return {"postings": postings, "term_df": term_df, "stats": stats}
