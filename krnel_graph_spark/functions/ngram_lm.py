"""Order-generic interpolated Kneser-Ney training (orders 2-8) — the
trainer side of the order-5 portability story.

r13 made :func:`~krnel_graph_spark.functions.arpa.arpa_score` /
``arpa_load`` consume any-order ARPA models (real CCNet-style
perplexity filters ship order-5 KenLM models); this module lets the
engine BUILD them too: ``kneser_ney_ngram_train(df, col, order=5)``
generalizes the :func:`~krnel_graph_spark.functions.text.
kneser_ney3_train` count-table recursion (its trigram path is the
template; see text.py:2259), and ``kneser_ney_ngram_arpa_rows``
generalizes the ARPA encoding in ``functions/arpa.py`` — so scoring,
file export (``_write_arpa``) and import (``arpa_load``) all reuse the
order-generic consumer machinery unchanged.

Reference parity note: the reference engine (krnel-graph) has no n-gram
LM; this is beyond-reference training-data-pipeline surface following
the PUBLIC Chen & Goodman 1998 formulation.

Model structure (interpolated KN, single score-time discount ``D``):

* level ``N`` (top) uses RAW n-gram counts ``c``;
* every lower level ``k`` uses CONTINUATION counts ``cc_k(g) =
  |{w0 : c_raw(w0 · g) > 0}|`` — distinct left extensions in the raw
  ``(k+1)``-gram TYPE table (each level's continuation counts derive
  from the RAW types one order up, per Chen & Goodman — NOT from the
  level-above's continuation types);
* ``P_k(w | ctx) = max(cnt_k - D, 0) / tot_k(ctx)
  + (D · n1f_k(ctx) / tot_k(ctx)) · P_{k-1}(w | ctx')``, unseen
  contexts falling through with coefficient 1;
* ``P_1`` is the uniform-interpolated bottom continuation shared with
  the order-2/3 trainers (``B``/``Vc``/``V`` scalars).

Scale shape: ONE corpus scan explodes every gram order at once
(k=1..N from the same token array — the dedicated kn2/kn3 trainers
paid one scan per order until they became rename adapters over this
one, mid-r14); the single ``groupBy(k, w1..wN)`` reduces to a type table that
every later frame derives from, so the pinned type table is one frame,
not two. All derived frames are type-table-bounded (the MODEL, never the
corpus); the rows builder is broadcast-scalar + type-table joins with
no corpus scan at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import pin

__all__ = [
    "kneser_ney_ngram_train",
    "kneser_ney_ngram_arpa_rows",
    "kneser_ney_ngram_export_arpa",
    "kneser_ney_ngram_save",
    "kneser_ney_ngram_load",
]



# gram-string surgery over the canonical `__g` column (space-joined
# whitespace tokens — non-empty, no embedded spaces, so both are exact
# word-tuple operations for every gram of >= 2 words); lazy because
# F.expr needs an active session
def _drop_first():
    return F.expr("substring(__g, instr(__g, ' ') + 1)")


def _drop_last():
    return F.expr(
        "substring(__g, 1, length(__g) - instr(reverse(__g), ' '))"
    )


_CTX_STATS = ("tot", "n1f", "cls1", "cls2", "cls3p")


def _coc_top(top_all: DataFrame, n: int) -> DataFrame:
    """Top-level count-of-counts (types seen exactly k times, k=1..4)
    — one aggregate pass over the raw N-gram type table."""
    c = F.col("c")
    return top_all.agg(
        *[
            F.sum((c == k).cast("long")).alias(f"l{n}_{k}")
            for k in (1, 2, 3, 4)
        ]
    )


def kneser_ney_ngram_train(
    train: DataFrame, text_col: str, order: int = 5, min_count: int = 1
) -> dict[str, DataFrame]:
    """Build the persistable order-``N`` interpolated Kneser-Ney
    artifact — plain parquet-writable integer-count frames (the
    discount stays a score-time knob, the kn3 contract):

    * ``top``: ``(w1..wN, c)`` raw N-gram type counts, pruned to
      ``c >= min_count`` (all derived stats below are computed BEFORE
      pruning so backoff weights stay consistent — the kn3 rule);
    * ``cont{k}`` (2 <= k < N): ``(w1..wk, cc)`` continuation counts —
      distinct left extensions in the raw (k+1)-gram type table;
    * ``ctx{k}`` (2 <= k <= N): ``(w1..w{k-1}, tot, n1f, cls1, cls2,
      cls3p)`` — level-k context totals, distinct-continuation type
      counts, and count-class type counts (the modified-KN rows
      builder's per-class backoff masses, kn3's nn*/mm* columns);
    * ``back``: ``(w1, cc)`` / ``scalars``: ``(B, Vc, V, order)`` —
      the bottom continuation floor, structurally identical to the
      order-2/3 trainers'.

    Pinning (all frames are type-table-bounded and multi-consumer in
    the rows builder — ctx_j feeds section j-1's bow plus every section
    >= j's interpolation chain): the frames pinned through
    :func:`~krnel_graph_spark.functions.partitioning.pin` are
    ``_pinned_counts`` (the one combined type table), ``_pinned_cont``
    (ALL continuation levels + the ``back`` floor, reduced in one
    shuffle), and ``_pinned_ctx`` (all lower ctx levels, one shuffle)
    — the per-level ``cont{k}``/``ctx{k}``/``back`` entries are narrow
    filters over them, plus the separately pinned ``ctx{N}``
    (``_pinned_ctxn``). Train inside a
    :func:`~krnel_graph_spark.functions.partitioning.pin_scope` to
    release them once the model has been consumed; on a local master
    the ContextCleaner reclaims them anyway, and an ``unpersist()`` on
    the ``_pinned_*`` handles is always legal.
    """
    from .text import normalize_text, whitespace_tokens

    if order < 2 or order > 8:
        raise ValueError(f"order must be in 2..8, got {order}")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    from .partitioning import ensure_min_partitions

    n = order
    # the all-orders gram explode is the corpus-heavy projection and
    # runs on the SCAN's partitioning — a single-split table serializes
    # it onto one task (r14: measured ~1.2 s single-threaded at sf0.1);
    # round-robin up to session parallelism first, no-op at scale
    tt = (
        ensure_min_partitions(
            train.filter(normalize_text(F.col(text_col)) != "")
        )
        .select(whitespace_tokens(F.col(text_col)).alias("__t"))
    )
    # one scan: every gram order k=1..N as a (k, gram-STRING) pair.
    # r14 opt: the type table is keyed on the space-joined gram string,
    # not n word columns — whitespace tokens are non-empty and contain
    # no spaces, so the join is injective and groupBy/join on ONE
    # string is equivalent to the word-tuple form while shuffling
    # narrower rows and hashing/comparing one key (the word-column
    # views below split lazily, model-bounded work).
    gram_arrays = [
        F.expr(
            f"CASE WHEN size(__t) >= {k} THEN"
            f" transform(sequence(1, size(__t) - {k} + 1),"
            f" i -> struct({k} AS k, concat_ws(' ', slice(__t, i, {k}))"
            f" AS g))"
            f" ELSE CAST(array() AS ARRAY<STRUCT<k: INT, g: STRING>>)"
            f" END"
        )
        for k in range(1, n + 1)
    ]
    counts = (
        tt.select(F.explode(F.flatten(F.array(*gram_arrays))).alias("gg"))
        .select(F.col("gg.k").alias("k"), F.col("gg.g").alias("__g"))
        .groupBy("k", "__g")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )

    def _cls(cnt):
        return [
            F.sum((cnt == 1).cast("long")).alias("cls1"),
            F.sum((cnt == 2).cast("long")).alias("cls2"),
            F.sum((cnt >= 3).cast("long")).alias("cls3p"),
        ]

    def _wsplit(frame, k, keep):
        """Word-column view of a gram-string frame: w1..wk + stats."""
        ws = F.split(F.col("__g"), " ")
        return frame.select(
            *[F.get(ws, i).alias(f"w{i + 1}") for i in range(k)],
            *keep,
        )

    out: dict[str, DataFrame] = {}
    top_all = counts.filter(F.col("k") == n).select("__g", "c")
    out["top"] = _wsplit(
        top_all.filter(F.col("c") >= F.lit(int(min_count)))
        if min_count > 1
        else top_all,
        n,
        [F.col("c")],
    )
    # continuation levels: cc_k derives from the RAW (k+1)-gram types.
    # ALL levels reduce in ONE shuffle: dropping the first word is one
    # string operation whatever k is, so the per-level groupBys fuse
    # into a single (lvl, suffix-string) aggregation over the pinned
    # type table — lvl 1 IS the bottom `back` frame, lvl k (2 <= k < n)
    # is cont_k.
    cont_all = (
        counts.filter(F.col("k") >= 2)
        .groupBy((F.col("k") - 1).alias("lvl"), _drop_first().alias("__g"))
        .agg(F.count(F.lit(1)).alias("cc"))
        .transform(pin)
    )
    for k in range(2, n):
        out[f"cont{k}"] = _wsplit(
            cont_all.filter(F.col("lvl") == k), k, [F.col("cc")]
        )
    back_g = cont_all.filter(F.col("lvl") == 1).select("__g", "cc")
    out["back"] = back_g.select(F.col("__g").alias("w1"), "cc")
    # every cont/ctx frame is multi-consumer in the ARPA rows builder
    # (ctx_j feeds section j-1's bow plus every section >= j's
    # interpolation chain — up to N references each) and all are
    # type-table-bounded (the MODEL, never the corpus).
    # r14 stage-5 NOTE: folding ctx_N into the lvl-keyed ctx aggregation
    # (union top_all into cont_all's groupBy — one shuffle instead of
    # two) was implemented and measured NEUTRAL-to-WORSE in interleaved
    # same-session A/Bs (kneser_ney5 6.56→6.94, kneser_ney 1.63→1.77,
    # others ±2%): the two aggregations already run as parallel map
    # stages over the same pinned type table, while the fused form
    # serializes them behind one wider exchange. Kept the two-shuffle
    # form — outputs were proven multiset-identical, so this is purely
    # a performance call.
    ctxn_g = (
        top_all.groupBy(_drop_last().alias("__g"))
        .agg(
            F.sum("c").alias("tot"),
            F.count(F.lit(1)).alias("n1f"),
            *_cls(F.col("c")),
        )
        .transform(pin)
    )
    out[f"ctx{n}"] = _wsplit(
        ctxn_g, n - 1, [F.col(c) for c in _CTX_STATS]
    )
    out["_pinned_ctxn"] = ctxn_g
    # lower ctx levels likewise fuse into one shuffle: a lvl-k cont
    # row's context is its first k-1 words — drop the LAST word of the
    # suffix string — one (lvl, context-string) groupBy over the pinned
    # cont_all covers ctx_2..ctx_{n-1}
    if n > 2:
        ctx_all = (
            cont_all.filter(F.col("lvl") >= 2)
            .groupBy("lvl", _drop_last().alias("__g"))
            .agg(
                F.sum("cc").alias("tot"),
                F.count(F.lit(1)).alias("n1f"),
                *_cls(F.col("cc")),
            )
            .transform(pin)
        )
        out["_pinned_ctx"] = ctx_all
        for k in range(2, n):
            out[f"ctx{k}"] = _wsplit(
                ctx_all.filter(F.col("lvl") == k),
                k - 1,
                [F.col(c) for c in _CTX_STATS],
            )
    out["_pinned_cont"] = cont_all
    # B (raw bigram types) and V (raw unigram types + 1) come from ONE
    # conditional-aggregation pass over the pinned type table instead of
    # two separate count jobs; Vc is one pass over the pinned cont table
    # (r14 opt: 3 aggregate passes -> 2, same values).
    out["scalars"] = (
        counts.agg(
            # coalesce: an EMPTY type table (empty corpus) leaves sum()
            # NULL where the old count() forms yielded 0 — keep 0/1
            F.coalesce(
                F.sum((F.col("k") == 2).cast("long")), F.lit(0)
            ).alias("B"),
            (
                F.coalesce(
                    F.sum((F.col("k") == 1).cast("long")), F.lit(0)
                )
                + 1
            ).alias("V"),
        )
        .crossJoin(
            cont_all.filter(F.col("lvl") == 1).agg(
                F.count(F.lit(1)).alias("Vc")
            )
        )
        .select("B", "Vc", "V", F.lit(int(n)).alias("order"))
    )

    # per-level global count-of-counts (types seen exactly k times,
    # k=1..4) — the Chen & Goodman statistics ``discount="modified"``
    # estimates per-class D1/D2/D3+ from at rows-build time; one
    # bounded 1-row frame, the kn3 coc pattern order-generic. ``btot``
    # rides along so the bottom level's 3+ class count is derivable
    # from the same collect.
    # r14 opt: every lower level (cont_2..cont_{n-1} AND the back floor)
    # is a filter of the one pinned cont table, so their count-of-counts
    # fuse into ONE conditional-aggregation pass over it (was one
    # aggregate job per level + a crossJoin ladder); the top level stays
    # its own pass over the pinned type table. Level-empty cells come out
    # 0 instead of NULL — every consumer reads them through `or 0`.
    lvl, cc = F.col("lvl"), F.col("cc")
    cont_coc_cols = [
        F.sum(((lvl == j) & (cc == k)).cast("long")).alias(f"l{j}_{k}")
        for j in range(2, n)
        for k in (1, 2, 3, 4)
    ] + [
        F.sum(((lvl == 1) & (cc == k)).cast("long")).alias(f"b{k}")
        for k in (1, 2, 3, 4)
    ] + [
        F.coalesce(
            F.sum((lvl == 1).cast("long")), F.lit(0)
        ).alias("btot")
    ]
    coc = _coc_top(top_all, n).crossJoin(cont_all.agg(*cont_coc_cols))
    out["coc"] = coc
    out["_pinned_counts"] = counts
    return out


def _ngram_order(lm: "dict[str, DataFrame]") -> int:
    for key in ("top", "back", "scalars"):
        if key not in lm:
            raise ValueError(
                f"lm missing frame {key!r} — not a kneser_ney_ngram_train "
                "artifact"
            )
    # The order is the height of the ctx{k} frame ladder — a pure dict
    # inspection (r14 opt: the old form collect()ed the scalars frame,
    # one whole Spark job per rows build just to read a structural int;
    # kneser_ney_ngram_load still validates the ladder against the
    # PERSISTED order column, so a truncated snapshot fails there).
    n = 2
    while f"ctx{n + 1}" in lm:
        n += 1
    top_words = [
        c for c in lm["top"].columns if c.startswith("w") and c[1:].isdigit()
    ]
    if len(top_words) != n:
        raise ValueError(
            f"lm frame ladder implies order {n} but the top table carries "
            f"{len(top_words)} word columns — truncated or mixed artifact"
        )
    for k in range(2, n + 1):
        if f"ctx{k}" not in lm or (k < n and f"cont{k}" not in lm):
            raise ValueError(
                f"lm missing level-{k} frame — not an order-{n} artifact"
            )
    return n


def kneser_ney_ngram_arpa_rows(
    lm: "dict[str, DataFrame]",
    discount: "float | str" = 0.75,
    base_discount: float = 0.75,
    prune: "tuple[int, ...] | None" = None,
) -> DataFrame:
    """The order-N artifact as ARPA rows ``(order, w1..wN, log10_p,
    log10_bow)`` — the frame :func:`~krnel_graph_spark.functions.arpa.
    arpa_score` scores with and ``_write_arpa`` files. Order-generic
    twin of :func:`~krnel_graph_spark.functions.arpa.
    kneser_ney3_arpa_rows` (same encoding identity: stored probs are
    the full interpolated ``P_k``, backoff weights are the
    interpolation coefficients ``gamma``, ARPA prefix-closure holds —
    every listed k-gram's context is listed so its bow is reachable);
    at ``order=3`` the output is row-for-row identical to the kn3
    exporter (pinned in tests/test_ngram_lm.py).

    ``discount="modified"`` bakes Chen & Goodman per-class discounts
    (D1/D2/D3+ per level, estimated in closed form from the artifact's
    own per-level count-of-counts, incl. the scalar-context bottom
    level) into the emitted probabilities and weights — the kn3
    exporter's contract, order-generic; at ``order=3`` the modified
    output is likewise row-identical to the kn3 exporter's (pinned).
    Degenerate levels fall back to ``base_discount``.

    ``prune`` adds PER-LEVEL count-threshold pruning (KenLM ``lmplz
    --prune``'s shape): a tuple of ``order - 1`` non-negative ints,
    thresholds for levels ``2..N`` — a level-k gram whose count
    (raw count at the top, continuation count below) is ``<=`` its
    threshold is dropped from section k's LISTING, except that
    contexts of surviving higher-order grams stay (ARPA prefix
    closure, computed by a top-down kept-set recursion; unigrams are
    never pruned, KenLM's rule). Semantics deviation, documented like
    the ``min_count`` one: stats and backoff weights stay UNPRUNED (no
    lmplz-style renormalization), so kept rows are bit-identical to
    the unpruned export and a pruned gram falls through to the
    already-discounted backoff — never a better score (pinned by
    test). ``min_count`` composes: it pre-prunes the top table at
    train time, ``prune`` further thins the listings at export time.

    Every section is a type-table-bounded frame. Levels CHAIN instead
    of every section re-joining the whole lower-level stat ladder:
    level j's frame (its grams + the full interpolated ``P_j``) joins
    its own count/context stats plus the previous level frame on the
    gram suffix — 3 model-bounded joins per level, each ``P_j``
    computed once and reused by section j and level j+1 (measured 27%
    off the inline-chain form at sf0.1), no corpus scan anywhere.
    """
    from .text import _mkn3_discounts

    modified = discount == "modified"
    D = float(base_discount) if modified else float(discount)
    if not (0.0 < D < 1.0):
        raise ValueError("discount must be in (0, 1)")
    n = _ngram_order(lm)
    if prune is not None:
        prune = tuple(int(t) for t in prune)
        if len(prune) != n - 1:
            raise ValueError(
                f"prune needs {n - 1} thresholds (levels 2..{n}), "
                f"got {len(prune)}"
            )
        if any(t < 0 for t in prune):
            raise ValueError("prune thresholds must be >= 0")
        if not any(prune):
            prune = None
    if modified and "coc" not in lm:
        raise ValueError(
            "lm missing frame 'coc' — discount='modified' needs the "
            "count-of-counts frame kneser_ney_ngram_train emits"
        )
    scalars = lm["scalars"].select(
        F.col("B").alias("__B"),
        F.col("Vc").alias("__Vc"),
        F.col("V").alias("__V"),
    )
    if modified:
        coc_row = lm["coc"].collect()[0]
        # per-level (D1, D2, D3+), driver-side literals (the kn3
        # lesson: a column-expression D re-evaluates per subtree)
        dd = {j: _mkn3_discounts(coc_row, f"l{j}_", D) for j in range(2, n + 1)}
        d1b, d2b, d3b = _mkn3_discounts(coc_row, "b", D)
        b1 = float(coc_row["b1"] or 0)
        b2 = float(coc_row["b2"] or 0)
        b3p = float(coc_row["btot"] or 0) - b1 - b2
        gamma_b = d1b * b1 + d2b * b2 + d3b * b3p

    def pcont(nb_col):
        nb = F.coalesce(nb_col, F.lit(0)).cast("double")
        Bd = F.col("__B").cast("double")
        unif = F.lit(1.0) / F.col("__V").cast("double")
        if modified:
            db = (
                F.when(nb_col == 1, F.lit(d1b))
                .when(nb_col == 2, F.lit(d2b))
                .otherwise(F.lit(d3b))
            )
            return F.when(
                F.col("__B") > 0,
                F.greatest(nb - db, F.lit(0.0)) / Bd
                + (F.lit(gamma_b) / Bd) * unif,
            ).otherwise(unif)
        return F.when(
            F.col("__B") > 0,
            F.greatest(nb - F.lit(D), F.lit(0.0)) / Bd
            + (F.lit(D) * F.col("__Vc").cast("double") / Bd) * unif,
        ).otherwise(unif)

    def gamma_level(j):
        """Interpolation coefficient of level j over its context's
        stats columns (one level per frame, plain names)."""
        tot = F.col("__tot").cast("double")
        if modified:
            d1, d2, d3 = dd[j]
            return (
                F.lit(d1) * F.col("__cls1").cast("double")
                + F.lit(d2) * F.col("__cls2").cast("double")
                + F.lit(d3) * F.col("__cls3p").cast("double")
            ) / tot
        return F.lit(D) * F.col("__n1f").cast("double") / tot

    def gkey(frame, k, *keep):
        """Gram-string key view of a w-column frame — the inverse of
        the trainer's split views (space-join over whitespace tokens
        is injective), so every join below is a SINGLE-string equi-
        join whatever the level (r14 opt: narrower shuffles, one
        hash/compare per row instead of k)."""
        return frame.select(
            F.concat_ws(
                " ", *[F.col(f"w{i}") for i in range(1, k + 1)]
            ).alias("__g"),
            *keep,
        )

    def level_frame(j, prev):
        """``(__g, __p)`` with ``__p`` = the full interpolated ``P_j``
        for every gram section j lists — level-j events plus
        level-(j+1) contexts (ARPA prefix closure). Levels CHAIN:
        instead of every section re-joining the whole lower-level stat
        ladder (2k+1 joins per section), level j joins its OWN stats
        plus the PREVIOUS level frame on the gram's suffix — each
        ``P_j`` is computed once and reused by section j and level j+1
        (every suffix is listed one level down by the closure).
        r14 opt: the listing used to be a union + distinct + left-join
        back onto the event counts; both inputs are groupBy outputs
        (unique keys), so ONE full-outer join produces the identical
        key set with ``__cc`` riding along — one shuffle and one join
        fewer per level, and the top level (already the event table
        itself) drops the listing pass outright. Same doubles, same
        association order as the inline chain — the kn3 row-identity
        pins hold through this restructuring.

        Section-1 listing identity (kn3's `words` union, order-
        generic): any NON-INITIAL position of any gram is the second
        word of some bigram (= back), and any INITIAL position of any
        listed gram is an initial position of a raw-N gram (= the
        UNPRUNED ctx_N keys' w1; a word whose every top gram was
        min_count-pruned still backs lower grams off)."""
        if j == 1:
            initials = (
                lm[f"ctx{n}"].select(F.col("w1").alias("__g")).distinct()
            )
            base = lm["back"].select(
                F.col("w1").alias("__g"), F.col("cc").alias("n1back")
            ).join(initials, "__g", "full_outer")
            return (
                base.crossJoin(F.broadcast(scalars))
                .select("__g", pcont(F.col("n1back")).alias("__p"))
            )
        src = lm["top"] if j == n else lm[f"cont{j}"]
        cnt_col = "c" if j == n else "cc"
        ev = gkey(src, j, F.col(cnt_col).alias("__cc"))
        bow_stats = []
        if j < n:
            # r14 opt: the listing join and section j's bow join hit the
            # SAME frame on the SAME key (ctx_{j+1} keyed as a j-gram) —
            # carry the bow stats through the listing join so the section
            # becomes a pure projection (one model-bounded join + exchange
            # fewer per section).
            bow_stats = [F.col(f"__b{c}") for c in _CTX_STATS]
            base = ev.join(
                gkey(
                    lm[f"ctx{j + 1}"],
                    j,
                    *[
                        F.col(c).alias(f"__b{c}")
                        for c in _CTX_STATS
                    ],
                ),
                "__g",
                "full_outer",
            )
        else:
            base = ev
        ctx = lm[f"ctx{j}"].select(
            F.concat_ws(
                " ", *[F.col(f"w{i}") for i in range(1, j)]
            ).alias("__c"),
            F.col("tot").alias("__tot"),
            F.col("n1f").alias("__n1f"),
            F.col("cls1").alias("__cls1"),
            F.col("cls2").alias("__cls2"),
            F.col("cls3p").alias("__cls3p"),
        )
        sfx = prev.select(
            F.col("__g").alias("__s"), F.col("__p").alias("__pp")
        )
        base = (
            base.withColumn("__c", _drop_last())
            .withColumn("__s", _drop_first())
            .join(ctx, "__c", "left")
            .join(sfx, "__s", "left")
        )
        tot = F.col("__tot").cast("double")
        cnt = F.coalesce(F.col("__cc"), F.lit(0)).cast("double")
        if modified:
            d1, d2, d3 = dd[j]
            dj = (
                F.when(F.col("__cc") == 1, F.lit(d1))
                .when(F.col("__cc") == 2, F.lit(d2))
                .otherwise(F.lit(d3))
            )
        else:
            dj = F.lit(D)
        core = (
            F.greatest(cnt - dj, F.lit(0.0)) / tot
            + gamma_level(j) * F.col("__pp")
        )
        pj = F.when(F.col("__tot").isNotNull(), core).otherwise(
            F.col("__pp")
        )
        return base.select("__g", pj.alias("__p"), *bow_stats)

    from .arpa import _log10_bow

    def section(k, frame):
        """Section k's ARPA values off its level frame, still keyed by
        the gram string (the prune semi-join and the word-column split
        happen in ``finalize``): the bow stats (gamma_{k+1} from
        ctx_{k+1}, coefficient 1 when unlisted) arrive pre-joined on
        the level frame for 1 < k < n (the listing join carries them —
        same frame, same key), so only section 1 still joins; then the
        final round-6 log10 projection."""
        if k < n:
            if k == 1:
                # the level-1 frame is built from back ∪ initials, not
                # a ctx listing join — the bow stats join stays here
                bowctx = lm["ctx2"].select(
                    F.col("w1").alias("__g"),
                    *[
                        F.col(c).alias(f"__b{c}")
                        for c in _CTX_STATS
                    ],
                )
                frame = frame.join(bowctx, "__g", "left")
            if modified:
                d1, d2, d3 = dd[k + 1]
                mass = (
                    F.lit(d1) * F.col("__bcls1").cast("double")
                    + F.lit(d2) * F.col("__bcls2").cast("double")
                    + F.lit(d3) * F.col("__bcls3p").cast("double")
                )
            else:
                mass = F.lit(D) * F.col("__bn1f").cast("double")
            bow = F.when(
                F.col("__btot").isNotNull(),
                mass / F.col("__btot").cast("double"),
            ).otherwise(F.lit(1.0))
        else:
            bow = None
        return frame.select(
            "__g",
            F.round(F.log10(F.col("__p")), 6).alias("log10_p"),
            (
                _log10_bow(bow)
                if bow is not None
                else F.lit(None).cast("double")
            ).alias("log10_bow"),
        )

    def finalize(k, sec):
        """Split the gram string back into the public w1..wN columns —
        one model-bounded projection per section."""
        ws = F.split(F.col("__g"), " ")
        return sec.select(
            F.lit(k).cast("int").alias("order"),
            *[F.get(ws, i).alias(f"w{i + 1}") for i in range(k)],
            *[
                F.lit(None).cast("string").alias(f"w{i}")
                for i in range(k + 1, n + 1)
            ],
            "log10_p",
            "log10_bow",
        )

    unk = scalars.select(
        F.lit(1).cast("int").alias("order"),
        F.lit("<unk>").alias("w1"),
        *[F.lit(None).cast("string").alias(f"w{i}") for i in range(2, n + 1)],
        F.round(F.log10(pcont(F.lit(None))), 6).alias("log10_p"),
        _log10_bow(F.lit(1.0)).alias("log10_bow"),
    )
    # each level frame feeds TWO consumers (its section + the next
    # level's suffix join): pin it so it materializes once on first use;
    # the frames are model-bounded
    frames = {}
    prev = None
    for j in range(1, n + 1):
        prev = pin(level_frame(j, prev))
        frames[j] = prev

    # per-level pruning: top-down kept-set recursion. kept_k = level-k
    # events above their threshold ∪ prefixes of kept_{k+1} (prefix
    # closure); each set is model-bounded and ⊆ the section's own
    # listing, so the semi-join only ever thins. Values are untouched
    # — kept rows are bit-identical to the unpruned export.
    kept: dict[int, DataFrame] = {}
    if prune is not None:
        for k in range(n, 1, -1):
            t = prune[k - 2]
            src = lm["top"] if k == n else lm[f"cont{k}"]
            cnt_col = "c" if k == n else "cc"
            ev = gkey(src.filter(F.col(cnt_col) > F.lit(t)), k)
            if k < n:
                ev = ev.unionByName(
                    kept[k + 1].select(_drop_last().alias("__g"))
                )
            # no distinct(): the left-semi consumer dedups by nature,
            # and each level's set feeds only joins — a distinct here
            # would add one shuffle per level for nothing.
            # each kept_k with k > 2 has TWO consumers (section k's
            # semi-join AND kept_{k-1}'s union leg), so an unpinned
            # chain re-derives kept_{k+1}'s whole union tree per
            # consumer — kept_N recomputed n-1 times; a pin materializes
            # each model-bounded set once. kept[2] is the recursion base
            # with a single consumer (section 2's semi-join; no kept_1
            # exists — unigrams are never pruned), so it is not pinned.
            kept[k] = pin(ev) if k > 2 else ev

    out = finalize(1, section(1, frames[1])).unionByName(unk)
    for k in range(2, n + 1):
        sec = section(k, frames[k])
        if prune is not None:
            # per-section semi join (a single fused join over the
            # unioned sections measured 20% WORSE — the union blocks
            # AQE from broadcasting each section's small kept side)
            sec = sec.join(kept[k], "__g", "left_semi")
        out = out.unionByName(finalize(k, sec))
    return out


def kneser_ney_ngram_export_arpa(
    lm: "dict[str, DataFrame]",
    path: str,
    discount: "float | str" = 0.75,
    base_discount: float = 0.75,
    prune: "tuple[int, ...] | None" = None,
) -> None:
    """Write an order-N artifact as a standard ``.arpa`` file any
    KenLM-consuming pipeline reads (the order-generic ``_write_arpa``
    sink; ``path`` is driver-local — one text file, single-writer).
    ``discount="modified"`` bakes the per-class discounts in (an ARPA
    file is discount-baked by nature — export once per smoothing);
    ``prune`` thins the listings per level (see
    :func:`kneser_ney_ngram_arpa_rows` — header counts reflect the
    pruned sections)."""
    from .arpa import _write_arpa

    _write_arpa(
        kneser_ney_ngram_arpa_rows(
            lm, discount=discount, base_discount=base_discount,
            prune=prune,
        ),
        path,
        _ngram_order(lm),
    )


def _frame_keys(n: int) -> "tuple[str, ...]":
    return (
        ("top", f"ctx{n}")
        + tuple(
            name
            for k in range(2, n)
            for name in (f"cont{k}", f"ctx{k}")
        )
        + ("back", "scalars", "coc")
    )


def kneser_ney_ngram_save(
    lm: "dict[str, DataFrame]", path: str, mode: str = "overwrite"
) -> None:
    """Persist an order-N artifact (the index save/load family's
    layout contract): the top lookup table clustered by its leading
    context word — a context-filtered read prunes to a few parquet row
    groups via min/max stats — every other frame as plain parquet.
    Train once, persist, rebuild rows/exports from the loaded frames
    without re-scanning the corpus."""
    from .text import _index_save

    _index_save(
        lm, _frame_keys(_ngram_order(lm)), path, mode,
        cluster={"top": ("w1",)},
    )


def kneser_ney_ngram_load(spark, path: str) -> dict[str, DataFrame]:
    """Load a :func:`kneser_ney_ngram_save` artifact — the order is
    read from the persisted scalars frame first, then the order's full
    frame set loads with the family's loud shape validation (a
    truncated snapshot fails HERE, not as a wrong score later)."""
    from .text import _index_load

    scal = _index_load(spark, ("scalars",), path, "kneser_ney_ngram_load")[
        "scalars"
    ]
    if "order" not in scal.columns:
        raise ValueError(
            "kneser_ney_ngram_load: scalars frame carries no 'order' "
            "column — not a kneser_ney_ngram_save artifact"
        )
    n = int(scal.select("order").limit(1).collect()[0][0])
    if not (2 <= n <= 8):
        raise ValueError(
            f"kneser_ney_ngram_load: persisted order {n} outside 2..8"
        )
    return _index_load(spark, _frame_keys(n), path, "kneser_ney_ngram_load")
