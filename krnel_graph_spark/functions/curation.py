"""Corpus-curation operators for LLM training-data pipelines.

The post-dedup, pre-tokenization stages: per-group caps (domain balancing),
PII redaction, URL/domain analytics, and deterministic sequence packing.
All pure Spark SQL expressions / single-window plans — no UDFs — so they
run at scan throughput and mirror 1:1 into ANSI SQL for oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import pin


def group_cap(
    df: DataFrame,
    key_cols: str | list[str],
    n: int,
    order_by: str | list[str],
) -> DataFrame:
    """Keep at most ``n`` rows per key — the corpus-balancing primitive
    ("at most N documents per domain/source").

    Deterministic: rows within a key are ranked by ``order_by`` (ties
    broken by the full ordering given, so pass a unique column last). One
    shuffle on the key; the filter runs inside the window stage, so the
    output never materializes more than the window buffers. At 100 TB the
    shuffle is unavoidable (capping is a per-key global decision); skewed
    hot keys stay bounded because only ``n`` rows per key survive the
    stage — AQE handles the read-side skew of the shuffle itself.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


# PII patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookbehind, ASCII classes only.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
}
# Application order matters (SSN before phone: a bare NNN-NN-NNNN must not
# be half-eaten by the phone pattern). Dict order IS the contract.
assert list(PII_PATTERNS) == ["email", "phone", "ipv4", "ssn"]


def pii_scrub(col, kinds: tuple[str, ...] = ("email", "ssn", "phone", "ipv4")) -> Column:
    """Redact common PII shapes with typed placeholder tokens.

    A chain of ``regexp_replace`` — JVM-side, codegen'd, one pass per
    pattern over the already-in-memory string. Patterns are deliberately
    engine-portable (same matches in Java regex and RE2) so SQL oracles can
    replay them verbatim. Applied in the order given; the default order
    scrubs SSNs before phones so ``123-45-6789`` becomes ``<SSN>`` rather
    than a mangled ``<PHONE>`` suffix."""
    out = F.col(col) if isinstance(col, str) else col
    for kind in kinds:
        pattern, token = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, token)
    return out


_DOMAIN_RE = r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/:?#\s]+)"


def url_domain(col) -> Column:
    """Registrable host part of a URL (scheme optional), lowercased.
    Regex-based (identical under RE2) rather than ``parse_url`` so oracles
    can reproduce it; empty string for non-URL input."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, _DOMAIN_RE, 1))


def domain_stats(df: DataFrame, url_col: str) -> DataFrame:
    """Per-domain page counts — the crawl-analytics staple. One hash
    aggregation; at 100 TB, partial aggregation happens map-side so the
    shuffle carries one row per (partition, domain)."""
    return (
        df.select(url_domain(url_col).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").alias("n_pages"))
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    broadcast_test: bool = True,
) -> DataFrame:
    """Train/test contamination check: flag every training document that
    shares at least one word ``n``-gram with a held-out evaluation set —
    the GPT-3/PaLM-style 13-gram decontamination sweep, with ``n``
    configurable.

    Returns ``(id_col, n_hits)`` for contaminated training docs, where
    ``n_hits`` counts the DISTINCT overlapping n-grams. Dropping (or
    auditing) the flagged docs is a left_anti join the caller composes.

    Scale shape: both sides shingle at scan (single pass, let-bound token
    array — see ``text.shingles``), then join on the md5 digest of the
    n-gram, so the shuffle carries fixed-width 32-char keys instead of
    raw n-gram strings. The test side collapses to its distinct gram set
    first; eval suites are tiny next to a 100-TB corpus, so it broadcasts
    by default (``broadcast_test=False`` for giant held-out sets falls
    back to a hash join). md5, not xxhash64, so ANSI-SQL oracles can
    replay the digest byte-for-byte."""
    from .text import shingles

    test_grams = (
        test.select(F.explode(shingles(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    if broadcast_test:
        test_grams = F.broadcast(test_grams)
    train_grams = (
        train.select(F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("g"))
        .select(id_col, F.md5("g").alias("gh"))
        .distinct()
    )
    return (
        train_grams.join(test_grams, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level deduplication — the CCNet/CC-MAIN
    preprocessing step: split every document on ``sep``, drop every
    repeated paragraph except its FIRST occurrence (ordered by
    ``(id, paragraph index)``), and reassemble the survivors in original
    order. Kills boilerplate (nav bars, cookie banners, license headers)
    that document-level dedup can't see because the surrounding text
    differs.

    Returns ``(id_col, text, n_paras, n_kept)`` for documents with at
    least one surviving paragraph (a document that was ALL boilerplate
    is dropped, matching CCNet). ``n_paras`` counts original paragraphs.

    Scale shape: paragraphs explode scan-side with their position; the
    shuffle carries ``(md5 digest, id, idx)`` — 32-char keys, never
    paragraph text. The keeper per digest is ``min(struct(id, idx))``
    via groupBy (partial map-side combine, so a billion-fold boilerplate
    paragraph arrives at the reducer as per-partition minima — no skewed
    window). Survivors re-join on digest; reassembly is one groupBy(id)
    with an in-group array sort. md5, not xxhash64, so the ANSI-SQL
    oracle replays digests byte-for-byte.

    ``sep`` is treated as a LITERAL separator (escaped before the regex
    split, so ``"."``/``"|"`` work), and EMPTY paragraphs are exempt
    from corpus-wide dedup — blank lines are document structure, not
    boilerplate, and collapsing every blank line in the corpus onto the
    first one would mangle reassembly."""
    import re as _re

    pat = _re.escape(sep)
    paras = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), pat)).alias("__np"),
        F.posexplode(F.split(F.col(text_col), pat)).alias("__idx", "__para"),
    ).withColumn("__h", F.md5("__para"))
    keepers = (
        paras.filter(F.col("__para") != "")
        .groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col("__idx"))).alias("__first"))
    )
    kept = paras.join(keepers, "__h", "left").filter(
        (F.col("__para") == "")
        | (
            (F.col("__first")[id_col] == F.col(id_col))
            & (F.col("__first.__idx") == F.col("__idx"))
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__idx", "__para"))
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("text"),
            F.first("__np").cast("long").alias("n_paras"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    )


def sequence_pack(
    df: DataFrame,
    order_by: str,
    token_col: Column | str,
    budget: int,
    partition_by: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    (offset packing): documents are laid out in ``order_by`` order and cut
    into packs every ``budget`` tokens — ``pack_id = floor(tokens_before /
    budget)``, where ``tokens_before`` is the running token total of all
    previous documents.

    Semantics (deliberately the *offset* formulation, not greedy
    first-fit): a document straddling a boundary belongs to the pack its
    FIRST token falls in, so a pack may exceed ``budget`` by at most one
    document's tail; downstream token-level packing handles the overflow.
    Greedy reset-at-boundary packing is inherently sequential (each cut
    depends on the last) and cannot be expressed as one window pass —
    offset packing gives deterministic, single-shuffle packing with
    identical results in any engine, which is what a 100-TB run and a SQL
    oracle both need.

    With ``partition_by`` (the scale path), packing is independent per
    partition key (e.g. per source shard) and the window never funnels the
    corpus through one task; without it, the global ordering is exact but
    single-task — fine for result-set-sized frames only.

    Output: input columns + ``n_tokens``, ``pack_id``.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    part = [partition_by] if partition_by else []
    w = (
        Window.partitionBy(*part)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return df.withColumn("n_tokens", tok.cast("long")).withColumn(
        "pack_id", F.floor(before / F.lit(budget))
    )


# URL canonicalization: the pattern set is deliberately regex-only (no
# parse_url) so a DuckDB/ANSI oracle replays it byte-for-byte.
_SCHEME_HOST_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)(.*)$"
_TRACKING_RE = r"[?&](utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*"


def canonical_url(col) -> Column:
    """Canonical form of a URL for URL-level dedup — the cheap first pass
    every crawl pipeline runs before any content hashing: lowercase the
    scheme+host, strip a leading ``www.``, drop the fragment, drop
    tracking query params (``utm_*``, ``fbclid``, ``gclid``, ``ref``),
    then tidy separators (re-anchor the first surviving param on ``?``,
    drop dangling ``?``/``&`` and trailing slashes).

    Pure codegen expression chain (regex extract/replace) — runs in the
    scan projection, and each pattern has an exact DuckDB twin (the
    engine-vs-oracle gate pins the semantics). URLs without a scheme
    pass through the host-lowering step unchanged rather than being
    mangled.
    """
    u = col if isinstance(col, Column) else F.col(col)
    u = F.regexp_replace(u, r"#.*$", "")                 # fragment
    head = F.regexp_extract(u, _SCHEME_HOST_RE, 1)
    tail = F.regexp_extract(u, _SCHEME_HOST_RE, 2)
    u = F.when(head != "", F.concat(F.lower(head), tail)).otherwise(u)
    u = F.regexp_replace(u, r"^(https?://)www\.", r"$1")  # www.
    u = F.regexp_replace(u, _TRACKING_RE, "")             # tracking params
    u = F.regexp_replace(u, r"^([^?]*)&", r"$1?")         # re-anchor ? once
    u = F.regexp_replace(u, r"[?&]+$", "")                # dangling sep
    u = F.regexp_replace(u, r"/+$", "")                   # trailing slash
    return u


def dedup_by_url(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per canonical URL. Same window-free
    aggregate + semi-join shape as ``drop_exact_dups`` — the shuffle
    carries (canonical-url, id), and both sides stay partitioned on the
    same key. Null URLs are all kept (no URL evidence = no dedup)."""
    canon = canonical_url(F.col(url_col)).alias("__curl")
    keepers = (
        df.select(F.col(id_col), canon)
        .filter(F.col("__curl").isNotNull())
        .groupBy("__curl")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi").unionByName(
        df.filter(F.col(url_col).isNull())
    )


def ngram_coverage(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-eval-doc contamination coverage — :func:`decontaminate` run in
    the other direction: for every held-out document, how many of its
    DISTINCT word ``n``-grams occur anywhere in the training corpus.
    Returns ``(id, n_grams, n_hit)`` for eval docs with at least ``n``
    tokens; integers, so ``n_hit / n_grams`` is the auditor's coverage
    fraction and the gate hash stays exact. A benchmark whose docs sit
    near coverage 1.0 is already memorized by the corpus.

    Scale shape: both corpora shingle at scan and collapse to md5 digests
    (32-char fixed-width shuffle keys, never raw n-grams); the train side
    reduces to its distinct gram set with map-side partial aggregation,
    the (small) eval side joins against it, and both per-doc counts are
    one more partial-agg'd groupBy. The train gram table never reaches
    the driver."""
    from .text import shingles

    train_grams = (
        train.select(F.explode(shingles(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    test_grams = (
        test.select(
            F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("g")
        )
        .select(id_col, F.md5("g").alias("gh"))
        .distinct()
    )
    hits = (
        test_grams.join(train_grams, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    totals = test_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    return totals.join(hits, id_col, "left").select(
        F.col(id_col),
        "n_grams",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
    )


def blocklist_annotate(
    df: DataFrame,
    text_col: str,
    terms: list[str],
) -> DataFrame:
    """Blocklist screening — the NSFW/bad-words/compliance filter stage
    of a crawl pipeline. Adds ``matched`` (the sorted list of blocklist
    terms whose lowercase form occurs as a substring of the lowercased
    text) and ``blocked`` (any match). Filtering is the caller's
    ``.filter(~F.col("blocked"))``; keeping the annotation makes the
    drop auditable (per-term incidence is one groupBy away).

    Scale shape: the blocklist is human-sized, so it rides into the
    scan as a LITERAL array and the whole operator is one codegen'd
    projection — ``filter(array<terms>, t -> contains(text, t))`` —
    zero shuffle, zero Python, pushdown-transparent. Matching is plain
    case-insensitive substring (no word boundaries): that is the
    standard first-pass trade-off, and the exact SQL twin
    (``list_filter`` + ``contains``) replays it byte-for-byte.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    low = sorted({t.lower() for t in terms})
    txt = F.lower(F.col(text_col))
    matched = F.filter(
        F.array(*[F.lit(t) for t in low]), lambda t: txt.contains(t)
    )
    return df.withColumn("matched", matched).withColumn(
        "blocked", F.size("matched") > 0
    )


def pii_report(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group PII incidence report over the :data:`PII_PATTERNS`
    families (email/phone/ipv4/ssn) — the audit that decides whether a
    source needs :func:`pii_scrub` before release. Returns one row per
    group: ``n_docs``, per-kind document counts (``docs_<kind>``: docs
    with ≥1 match) and total match counts (``hits_<kind>``), plus
    ``docs_any_pii``.

    Scale shape: ``regexp_count`` per pattern in the scan projection
    (JVM regex, codegen), then ONE partial-aggregated groupBy on the
    group key — integer counts only, so the DuckDB oracle
    (``len(regexp_extract_all(...))``) is exact; the patterns are
    already engine-portable by construction (see PII_PATTERNS).
    """
    proj = [F.col(group_col)]
    for kind, (pattern, _tok) in PII_PATTERNS.items():
        proj.append(
            F.regexp_count(F.col(text_col), F.lit(pattern)).alias(f"__c_{kind}")
        )
    per_doc = df.select(*proj)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    any_expr = None
    for kind in PII_PATTERNS:
        c = F.col(f"__c_{kind}")
        aggs.append(
            F.sum((c > 0).cast("long")).cast("long").alias(f"docs_{kind}")
        )
        aggs.append(F.sum(c).cast("long").alias(f"hits_{kind}"))
        any_expr = (c > 0) if any_expr is None else (any_expr | (c > 0))
    aggs.append(F.sum(any_expr.cast("long")).cast("long").alias("docs_any_pii"))
    return per_doc.groupBy(group_col).agg(*aggs)


def leakage_safe_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    test_fraction: float = 0.1,
    seed: int = 0,
) -> DataFrame:
    """Train/test split that can never leak a duplicated document across
    the boundary: the split key is the md5 FINGERPRINT of the
    whitespace-normalized lowercased text (the same canonical form the
    exact-dedup stage uses), so every copy of the same content — however
    many times the crawl re-collected it — lands on the same side.
    Plain per-row hash splits put ~2·dup_rate·f·(1-f) of duplicated
    content astride the boundary, silently inflating eval scores.

    Adds ``split`` ('train' | 'test'). Pure scan-side expression chain
    (normalize → md5 → bucket threshold): no shuffle, no join, no
    grouping — the fingerprint IS the group key, so group-atomicity
    costs nothing. Near-dup-atomic splits compose the same rule with
    ``connected_components`` over a minhash pair graph (use the
    component id as the split key).
    """
    from .hashing import md5_long
    from .sampling import RATE_DENOM
    from .text import normalize_text

    if not (0.0 <= test_fraction <= 1.0):
        raise ValueError("test_fraction must be in [0, 1]")
    fp = F.md5(normalize_text(F.col(text_col)))
    bucket = md5_long(F.concat_ws(":", F.lit(str(seed)), fp)) % F.lit(RATE_DENOM)
    thr = int(round(test_fraction * RATE_DENOM))
    return df.withColumn(
        "split", F.when(bucket < F.lit(thr), F.lit("test")).otherwise(F.lit("train"))
    )


def packing_report(
    df: DataFrame,
    order_by: str,
    token_col: Column | str,
    budget: int,
    partition_by: str | None = None,
) -> DataFrame:
    """Packing-efficiency audit for :func:`sequence_pack`: runs the same
    offset packing, then reports per partition key (one global row when
    ``partition_by`` is None): ``n_docs``, ``n_packs``, ``n_tokens``,
    ``capacity`` (= n_packs × budget), ``fill_rate`` (tokens/capacity,
    round 6) and ``oversize_packs`` (packs whose assigned tokens exceed
    the budget — the straddle overflow the offset formulation allows).
    The number that matters for training cost: fill_rate is the fraction
    of attention FLOPs spent on real tokens at this budget/ordering.

    Scale shape: sequence_pack's single window pass, then two
    partial-aggregated groupBys (pack level → partition level); all
    integer arithmetic except the final round-6 ratio, so the oracle
    composes sequence_pack's window CTE exactly.
    """
    packed = sequence_pack(df, order_by, token_col, budget, partition_by)
    part = [partition_by] if partition_by else []
    per_pack = packed.groupBy(*part, "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("__docs"),
        F.sum("n_tokens").cast("long").alias("__tok"),
    )
    grp = per_pack.groupBy(*part) if part else per_pack.groupBy()
    return grp.agg(
        F.sum("__docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        (F.count(F.lit(1)) * F.lit(budget)).cast("long").alias("capacity"),
        F.round(
            F.sum("__tok") / (F.count(F.lit(1)) * F.lit(budget)), 6
        ).alias("fill_rate"),
        F.sum((F.col("__tok") > F.lit(budget)).cast("long"))
        .cast("long")
        .alias("oversize_packs"),
    )


def corpus_divergence(a: DataFrame, b: DataFrame, text_col: str) -> DataFrame:
    """Unigram distribution divergence between two corpora — the drift
    detector a training-data pipeline runs when a new crawl snapshot or
    source lands: Jensen-Shannon divergence (log2: 0 = identical
    distributions, 1 = disjoint support) plus total-variation distance
    over the whitespace-token unigram distributions, with type/token
    tallies for both sides. JS is symmetric and finite without any
    smoothing (a term with p=0 contributes only through q against the
    mixture m=(p+q)/2), which is exactly why it is the corpus-drift
    metric of choice over raw KL.

    Returns ONE row: ``n_tokens_a/b``, ``n_types_a/b``,
    ``n_types_shared``, ``js_bits``, ``tv_dist``. Every per-type term is
    rounded to 12 places and summed as DECIMAL(38,12), so summation
    order cannot move the result and a SQL oracle replays it bit-exact.

    Scale shape: each side is one explode + one partial-agg'd groupBy
    keyed by the md5 digest of the token (raw token text never
    shuffles); the two vocab-bounded count tables meet in one full-outer
    digest join; the totals ride in as broadcast one-row frames. Linear
    in corpus tokens, no driver materialization.
    """
    from .text import normalize_text, whitespace_tokens

    def counts(df, cname):
        toks = F.when(
            normalize_text(F.col(text_col)) == "",
            F.array().cast("array<string>"),
        ).otherwise(whitespace_tokens(F.col(text_col)))
        return (
            df.select(F.explode(toks).alias("w"))
            .select(F.md5("w").alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias(cname))
        )

    # The joined digest frame has TWO consumers (the totals and the
    # final divergence agg); pin it so each corpus is scanned exactly
    # ONCE — the frame is vocabulary-bounded (~50 B/type), the classic
    # count table a 100-TB run would checkpoint anyway.
    j0 = pin(counts(a, "ca").join(counts(b, "cb"), "h", "full_outer"))
    totals = F.broadcast(
        j0.agg(
            F.sum("ca").cast("double").alias("na"),
            F.sum("cb").cast("double").alias("nb"),
        )
    )
    j = j0.crossJoin(totals)
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    m = (F.coalesce(p, F.lit(0.0)) + F.coalesce(q, F.lit(0.0))) / F.lit(2.0)
    js_term = F.coalesce(
        F.lit(0.5) * p * F.log2(p / m), F.lit(0.0)
    ) + F.coalesce(F.lit(0.5) * q * F.log2(q / m), F.lit(0.0))
    tv_term = F.lit(0.5) * F.abs(
        F.coalesce(p, F.lit(0.0)) - F.coalesce(q, F.lit(0.0))
    )
    dec = "decimal(38,12)"
    return j.agg(
        F.sum(F.col("ca")).cast("long").alias("n_tokens_a"),
        F.sum(F.col("cb")).cast("long").alias("n_tokens_b"),
        F.count(F.col("ca")).cast("long").alias("n_types_a"),
        F.count(F.col("cb")).cast("long").alias("n_types_b"),
        F.sum(
            (F.col("ca").isNotNull() & F.col("cb").isNotNull()).cast("long")
        ).alias("n_types_shared"),
        F.sum(F.round(js_term, 12).cast(dec)).cast("double").alias("js_bits"),
        F.sum(F.round(tv_term, 12).cast(dec))
        .cast("double")
        .alias("tv_dist"),
    )


def k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity risk report over a set of quasi-identifier columns
    (Sweeney 2002): rows sharing one combination of quasi-identifier
    values form an equivalence class; any class smaller than ``k`` is a
    re-identification risk. Returns the class-size histogram —
    ``(class_size, n_classes, n_rows, at_risk)`` — so both the risk
    mass (``sum(n_rows) where at_risk``) and the anonymity level
    (``min(class_size)``) read off one tiny frame. The compliance
    sibling of `pii_report`: that one finds explicit identifiers, this
    one measures how identifying the "harmless" columns are together.

    Scale shape: one partial-agg'd groupBy on the quasi columns + a
    second on the class size — the histogram is at most
    #distinct-sizes rows, nothing reaches the driver.
    """
    sizes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    return (
        sizes.groupBy("class_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes"))
            .cast("long")
            .alias("n_rows"),
            (F.col("class_size") < k).alias("at_risk"),
        )
    )


def schema_drift(
    old: DataFrame, new: DataFrame, approx: bool = False
) -> DataFrame:
    """Schema + profile drift report between two snapshots of a table:
    one row per column with ``status`` (added / removed / common), the
    engine types, and for common columns the null counts and
    distinct-value counts on both sides — the check a pipeline runs
    when a new crawl/vendor drop lands, BEFORE any query breaks on a
    silently-retyped or suddenly-null column.

    ``approx=False`` (default) uses exact ``count_distinct``
    (oracle-exact, but each distinct column rides an Expand — the agg
    pass re-emits every row once per counted column). ``approx=True``
    swaps in ``approx_count_distinct`` (HyperLogLog++, rsd 5%): null
    counters stay exact, NDVs become estimates, and the Expand
    disappears — one streaming-sketch pass per side regardless of the
    column count. That is the 100-TB mode; drift detection compares
    magnitudes, not exact cardinalities.

    Scale shape: ONE aggregation pass per side computing every
    column's null/distinct counters together (no per-column rescan);
    the long-format report assembles from the two one-row frames.
    """

    def profile(df, cols):
        ndv = F.approx_count_distinct if approx else F.count_distinct
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
        for c in cols:
            aggs.append(
                F.sum(F.col(c).isNull().cast("long"))
                .cast("long")
                .alias(f"__null_{c}")
            )
            aggs.append(ndv(F.col(c)).cast("long").alias(f"__ndv_{c}"))
        return df.agg(*aggs)

    old_types = {f.name: f.dataType.simpleString() for f in old.schema}
    new_types = {f.name: f.dataType.simpleString() for f in new.schema}
    common = [c for c in old_types if c in new_types]
    po = profile(old, common)
    pn = profile(new, common)
    one = po.crossJoin(pn.select(
        F.col("__n").alias("__n_new"),
        *[F.col(f"__null_{c}").alias(f"__null_new_{c}") for c in common],
        *[F.col(f"__ndv_{c}").alias(f"__ndv_new_{c}") for c in common],
    ))
    rows = []
    for c in sorted(set(old_types) | set(new_types)):
        if c in old_types and c in new_types:
            status = "common"
        elif c in old_types:
            status = "removed"
        else:
            status = "added"
        lit = lambda v: f"'{v}'" if v is not None else "CAST(NULL AS STRING)"
        to = old_types.get(c)
        tn = new_types.get(c)
        if status == "common":
            rows.append(
                f"('{c}', '{status}', {lit(to)}, {lit(tn)}, "
                f"__null_{c}, __null_new_{c}, __ndv_{c}, __ndv_new_{c})"
            )
        else:
            rows.append(
                f"('{c}', '{status}', {lit(to)}, {lit(tn)}, "
                "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), "
                "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"
            )
    n = len(rows)
    flat = ", ".join(r[1:-1] for r in rows)
    return one.selectExpr(
        f"stack({n}, {flat}) AS (col_name, status, type_old, type_new, "
        "n_null_old, n_null_new, ndv_old, ndv_new)"
    )


def span_corruption(
    df: DataFrame,
    text_col: str,
    id_col: str,
    noise_density: float = 0.15,
    mean_span: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Deterministic T5-style denoising spans: for every document, the
    set of token spans a span-corruption pretraining objective masks
    (Raffel et al. 2020 §3.1.4's noise_density / mean_span knobs) — the
    data-prep step that turns a packed corpus into masked-LM training
    pairs. True T5 samples spans with an RNG; this is the deterministic
    chunked variant: the token stream is cut into fixed chunks of
    ``floor(mean_span / noise_density)`` tokens and each chunk masks ONE
    ``mean_span``-token span at a hash-chosen offset
    (``md5('{seed}:{id}:{chunk}') % (chunk - mean_span + 1)``) — exact
    density by construction, spans never overlap, and the whole layout
    is a pure function of (id, length, knobs), so shard order, retries,
    and engines all agree (an RNG-based layout would make training data
    non-reproducible across re-runs — the property this variant exists
    to fix). A trailing partial chunk masks a span under the same rule
    when it still fits one, else nothing.

    Returns long format ``(id, span_id, start, length)`` — 0-based
    token offsets, ``span_id`` counting chunks — ready to drive sentinel
    insertion or target extraction; docs shorter than ``mean_span``
    emit no rows.

    Scale shape: ONE codegen'd scan projection — tokenize, a
    ``transform`` over the chunk-index sequence computing each chunk's
    hash offset, one ``posexplode`` — zero shuffles, embarrassingly
    parallel, no Python. The token count is LET-BOUND via the
    single-element ``transform`` idiom (the ``quality_score`` fix,
    r15): the naive form re-embedded the normalize+split tokenize
    ~18× per row inside the Generate's inferred ``size(..)>0 AND
    isnotnull(..)`` guard alone (the whole spans expression is
    substituted into the pushed-down Filter, and Spark runs no CSE
    inside filter conditions) — see plans/r15/span_corruption_*.txt.
    Values are bit-identical: the bound value feeds the same integer
    arithmetic.
    """
    if not 0.0 < noise_density <= 1.0:
        raise ValueError(f"noise_density must be in (0, 1], got {noise_density}")
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1, got {mean_span}")
    chunk = int(mean_span / noise_density)
    if chunk < mean_span:
        chunk = mean_span
    from .hashing import md5_long

    def _spans_of(nn):
        """The full spans array as a function of the BOUND token count
        ``nn`` — every reference below reads the lambda variable, so the
        expensive tokenize evaluates once per expression site."""
        n_chunks = F.floor(nn / F.lit(chunk)).cast("int")
        tail = nn - n_chunks * F.lit(chunk)
        # one span per full chunk + one for a tail that still fits one
        total = n_chunks + F.when(
            tail >= mean_span, F.lit(1)
        ).otherwise(F.lit(0))

        def offset(c):
            # chunk c's usable offset range: full chunks have
            # chunk - mean_span + 1 slots; the tail chunk has
            # tail - mean_span + 1
            slots = F.when(
                c < n_chunks, F.lit(chunk - mean_span + 1)
            ).otherwise(tail - F.lit(mean_span) + 1)
            h = md5_long(
                F.concat_ws(
                    ":",
                    F.lit(str(seed)),
                    F.col(id_col).cast("string"),
                    c.cast("string"),
                )
            )
            return F.pmod(h, slots)

        spans = F.transform(
            F.sequence(F.lit(0), total - 1),
            lambda c: F.struct(
                c.alias("span_id"),
                (c * F.lit(chunk) + offset(c)).cast("long").alias("start"),
                F.lit(mean_span).cast("long").alias("length"),
            ),
        )
        return F.when(total > 0, spans).otherwise(
            F.array().cast(
                "array<struct<span_id:int,start:long,length:long>>"
            )
        )

    from .text import normalize_text

    # token_count with the normalized text ALSO let-bound (it embeds the
    # normalize pass twice: the blank test and the split) — same values
    n_bound = F.element_at(
        F.transform(
            F.array(normalize_text(F.col(text_col))),
            lambda nm: F.when(nm == "", F.lit(0)).otherwise(
                F.size(F.split(nm, " "))
            ),
        ),
        1,
    )
    spans_bound = F.element_at(F.transform(F.array(n_bound), _spans_of), 1)
    base = df.select(F.col(id_col), spans_bound.alias("__spans"))
    return base.select(
        id_col, F.explode("__spans").alias("__s")
    ).select(
        id_col,
        F.col("__s.span_id").cast("int").alias("span_id"),
        F.col("__s.start").alias("start"),
        F.col("__s.length").alias("length"),
    )


def span_corruption_text(
    df: DataFrame,
    text_col: str,
    id_col: str,
    noise_density: float = 0.15,
    mean_span: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Materialize :func:`span_corruption`'s layout into actual T5
    training pairs: ``inputs`` is the document with each masked span
    replaced by its ``<extra_id_k>`` sentinel, ``targets`` is the
    sentinel-delimited concatenation of the masked spans plus the
    closing ``<extra_id_n>`` (Raffel et al. 2020 fig. 2's format).
    Layout determinism is inherited — the same (id, length, knobs)
    always yields the same pair, so resumed/re-sharded runs train on
    identical examples.

    Docs with no span (shorter than ``mean_span``) pass through with
    ``inputs = normalized text`` and ``targets = '<extra_id_0>'`` (an
    empty denoising target), keeping the op row-aligned.

    Scale shape: the whole pair construction is ONE codegen'd scan
    projection — the span layout expression, a position-indexed
    transform emitting token/sentinel/nothing, and two array_joins.
    Zero shuffles, no Python.
    """
    if not 0.0 < noise_density <= 1.0:
        raise ValueError(f"noise_density must be in (0, 1], got {noise_density}")
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1, got {mean_span}")
    chunk = int(mean_span / noise_density)
    if chunk < mean_span:
        chunk = mean_span
    from .hashing import md5_long
    from .text import whitespace_tokens

    toks = whitespace_tokens(F.col(text_col))
    n = F.when(
        (F.size(toks) == 1) & (F.element_at(toks, 1) == ""), F.lit(0)
    ).otherwise(F.size(toks))
    n_chunks = F.floor(n / F.lit(chunk)).cast("int")
    tail = n - n_chunks * F.lit(chunk)
    total = n_chunks + F.when(tail >= mean_span, F.lit(1)).otherwise(F.lit(0))

    def offset(c):
        slots = F.when(
            c < n_chunks, F.lit(chunk - mean_span + 1)
        ).otherwise(tail - F.lit(mean_span) + 1)
        h = md5_long(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                F.col(id_col).cast("string"),
                c.cast("string"),
            )
        )
        return F.pmod(h, slots)

    starts = F.when(total > 0, F.transform(
        F.sequence(F.lit(0), total - 1),
        lambda c: (c * F.lit(chunk) + offset(c)).cast("long"),
    )).otherwise(F.array().cast("array<long>"))

    base = df.select(
        F.col(id_col),
        toks.alias("__t"),
        n.alias("__n"),
        starts.alias("__st"),
    )
    pos = F.sequence(F.lit(0), F.col("__n") - 1)
    span_of = lambda p: F.array_position(  # noqa: E731  1-based; 0 = none
        F.col("__st"),
        # the span containing p starts at the unique start in
        # (p - mean_span, p]; filter+element_at finds it (spans are
        # disjoint so at most one matches)
        F.element_at(
            F.filter(
                F.col("__st"),
                lambda s: (p >= s) & (p < s + F.lit(mean_span)),
            ),
            1,
        ),
    )
    inputs_arr = F.when(F.col("__n") > 0, F.transform(
        pos,
        lambda p: F.when(
            F.exists(F.col("__st"), lambda s: p == s),
            F.concat(
                F.lit("<extra_id_"),
                (span_of(p) - 1).cast("string"),
                F.lit(">"),
            ),
        ).otherwise(
            F.when(
                F.exists(
                    F.col("__st"),
                    lambda s: (p > s) & (p < s + F.lit(mean_span)),
                ),
                F.lit(None).cast("string"),
            ).otherwise(F.element_at(F.col("__t"), p.cast("int") + 1))
        ),
    )).otherwise(F.array().cast("array<string>"))
    targets_arr = F.transform(
        F.col("__st"),
        lambda s: F.concat(
            F.lit("<extra_id_"),
            (F.array_position(F.col("__st"), s) - 1).cast("string"),
            F.lit("> "),
            F.array_join(
                F.slice(F.col("__t"), s.cast("int") + 1, mean_span), " "
            ),
        ),
    )
    closing = F.concat(
        F.lit("<extra_id_"), F.size("__st").cast("string"), F.lit(">")
    )
    return base.select(
        id_col,
        F.array_join(F.filter(inputs_arr, lambda x: x.isNotNull()), " ").alias(
            "inputs"
        ),
        F.concat(
            F.when(
                F.size("__st") > 0,
                F.concat(F.array_join(targets_arr, " "), F.lit(" ")),
            ).otherwise(F.lit("")),
            closing,
        ).alias("targets"),
    )
