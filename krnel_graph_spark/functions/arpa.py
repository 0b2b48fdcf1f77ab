"""ARPA export for the Kneser-Ney artifacts — the portability story.

The engine's LM artifacts (:func:`~krnel_graph_spark.functions.text.
kneser_ney_train` / ``kneser_ney3_train``) are parquet frame dicts —
great inside this engine, opaque to everything else. The ARPA backoff
format is the lingua franca of n-gram LMs (KenLM, SRILM, kenlm-python
perplexity filtering pipelines all consume it), so an exporter makes a
Spark-trained model portable to every KenLM-consuming pipeline.

Reference parity note: the reference engine (krnel-graph) has no n-gram
LM at all — this whole family is beyond-reference training-data-pipeline
surface; the exporter follows the PUBLIC format (Chen & Goodman 1998;
the KenLM docs' interpolated-KN-in-ARPA encoding), not any internal
system.

Encoding (the standard interpolated-KN-in-backoff-form identity):

* each listed n-gram stores its FULL interpolated probability
  ``log10 P(w | context)`` — exactly what the engine's score path
  computes for a seen n-gram;
* each listed non-highest-order n-gram stores its backoff weight
  ``log10 γ(context)`` — the engine's interpolation coefficient — so a
  consumer's backoff lookup ``γ(context) · P(w | shorter context)``
  reproduces the engine's unseen-gram arithmetic exactly;
* a context the engine never saw gets no (or a zero) backoff weight:
  backoff coefficient 1, matching the engine's "unseen context falls
  through to the lower level with coefficient 1" branch;
* words the model only ever treats as OOV fold into ``<unk>`` (the
  engine's ``V = vocab + 1`` uniform slot).

The faithfulness contract is tested differentially: an independent
ARPA-backoff evaluator over the exported rows reproduces
``kneser_ney(3)_score``'s per-document logprob sums (tests/test_arpa.py).

Scale shape: every section is a vocab/type-table-bounded DataFrame (the
MODEL, not the corpus) built from broadcast-scalar + type-table joins —
no corpus scan at all. The single-file ``.arpa`` writer streams sections
through ``toLocalIterator`` (bounded driver memory; a one-file text
format is inherently a single-writer sink).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import pin, pin_scope

__all__ = [
    "kneser_ney_arpa_rows",
    "kneser_ney3_arpa_rows",
    "kneser_ney_export_arpa",
    "kneser_ney3_export_arpa",
    "arpa_load",
    "arpa_score",
    "arpa_filter",
]

# rows per createDataFrame batch in arpa_load (patchable in tests to
# exercise the multi-flush path on small files)
_LOAD_BATCH_ROWS = 500_000

# log10(0) stand-in for a zero backoff weight (a modified-KN discount
# clamped to 0 can zero a context's whole backoff mass) — the KenLM/
# SRILM "-99" convention.
_LOG10_ZERO = -99.0


def _log10_bow(bow_col):
    """round-6 log10 of a backoff weight, with the -99 convention for
    zero mass (log10(0) would be NULL/-inf in Spark)."""
    return F.when(
        bow_col > 0, F.round(F.log10(bow_col), 6)
    ).otherwise(F.lit(_LOG10_ZERO))


def _scalars(lm):
    return lm["scalars"].select(
        F.col("B").alias("__B"),
        F.col("Vc").alias("__Vc"),
        F.col("V").alias("__V"),
    )


def _row_select(order, w1, w2, w3, log10_p, log10_bow):
    return [
        F.lit(order).cast("int").alias("order"),
        w1.alias("w1"),
        (w2 if w2 is not None else F.lit(None).cast("string")).alias("w2"),
        (w3 if w3 is not None else F.lit(None).cast("string")).alias("w3"),
        log10_p.alias("log10_p"),
        (
            log10_bow
            if log10_bow is not None
            else F.lit(None).cast("double")
        ).alias("log10_bow"),
    ]


def kneser_ney_arpa_rows(
    lm: "dict[str, DataFrame]", discount: float = 0.75
) -> DataFrame:
    """The bigram Kneser-Ney artifact as ARPA rows — ``(order, w1, w2,
    w3, log10_p, log10_bow)``, ``w3`` always null for an order-2 model,
    ``log10_bow`` null on the highest order.

    Faithful to :func:`~krnel_graph_spark.functions.text.
    kneser_ney_score` by construction: 1-gram probs are the
    continuation distribution ``Pc(w)`` (uniform-interpolated, so the
    section sums to 1 with ``<unk>``), 1-gram backoff weights are the
    contexts' interpolation coefficients ``D·N1+(w·)/c(w·)``, and
    2-gram probs are the full interpolated ``P(w2|w1)`` — an ARPA
    consumer's stored-else-``bow·P(w2)`` lookup reproduces the engine's
    seen/unseen branches exactly (differentially tested). Words the
    model only ever saw in positions that left no bigram counts score
    as OOV in the engine and are likewise folded into ``<unk>`` here.
    """
    D = float(discount)
    if not (0.0 < D < 1.0):
        raise ValueError("discount must be in (0, 1)")
    for key in ("big", "ctx", "back", "scalars"):
        if key not in lm:
            raise ValueError(
                f"lm missing frame {key!r} — not a kneser_ney_train artifact"
            )
    big, ctx, back = lm["big"], lm["ctx"], lm["back"]
    scalars = _scalars(lm)

    def pcont(nb_col):
        nb = F.coalesce(nb_col, F.lit(0)).cast("double")
        Bd = F.col("__B").cast("double")
        unif = F.lit(1.0) / F.col("__V").cast("double")
        return F.when(
            F.col("__B") > 0,
            F.greatest(nb - F.lit(D), F.lit(0.0)) / Bd
            + (F.lit(D) * F.col("__Vc").cast("double") / Bd) * unif,
        ).otherwise(unif)

    words = (
        big.select(F.col("w1").alias("w"))
        .unionByName(big.select(F.col("w2").alias("w")))
        .distinct()
    )
    uni_base = (
        words.join(back.withColumnRenamed("w2", "w"), "w", "left")
        .join(ctx.withColumnRenamed("w1", "w"), "w", "left")
        .crossJoin(F.broadcast(scalars))
    )
    c1d = F.col("c1").cast("double")
    bow1 = F.when(
        F.col("c1").isNotNull(),
        F.lit(D) * F.col("n1fwd").cast("double") / c1d,
    ).otherwise(F.lit(1.0))
    uni = uni_base.select(
        *_row_select(
            1, F.col("w"), None, None,
            F.round(F.log10(pcont(F.col("n1back"))), 6),
            _log10_bow(bow1),
        )
    )
    unk = scalars.select(
        *_row_select(
            1, F.lit("<unk>"), None, None,
            F.round(F.log10(pcont(F.lit(None))), 6),
            _log10_bow(F.lit(1.0)),
        )
    )
    bi_base = (
        big.join(ctx, "w1")
        .join(back, "w2", "left")
        .crossJoin(F.broadcast(scalars))
    )
    p2 = (
        F.greatest(F.col("c12").cast("double") - F.lit(D), F.lit(0.0)) / c1d
        + (F.lit(D) * F.col("n1fwd").cast("double") / c1d)
        * pcont(F.col("n1back"))
    )
    bi = bi_base.select(
        *_row_select(
            2, F.col("w1"), F.col("w2"), None,
            F.round(F.log10(p2), 6), None,
        )
    )
    return uni.unionByName(unk).unionByName(bi)


def kneser_ney3_arpa_rows(
    lm: "dict[str, DataFrame]",
    discount: "float | str" = 0.75,
    base_discount: float = 0.75,
) -> DataFrame:
    """The trigram Kneser-Ney artifact as ARPA rows — same row schema
    as :func:`kneser_ney_arpa_rows` with a populated ``w3`` on order 3.

    Sections (each a type-table-bounded frame, no corpus scan):

    * 1-grams: every word any listed n-gram mentions, prob =
      the bottom continuation ``Pc(w)``, bow = the mid level's
      interpolation coefficient ``γ2(w)`` (1 for words never seen as a
      mid context);
    * 2-grams: mid-level EVENTS ``(v, w)`` ∪ trigram CONTEXTS
      ``(u, v)`` (ARPA requires every listed trigram's prefix to be
      listed so its bow is reachable), prob = the interpolated
      continuation-bigram ``P2c(w|v)``, bow = ``γ3(u, v)``;
    * 3-grams: the (possibly ``min_count``-pruned) trigram lookup
      table, prob = full interpolated ``P3(w|u, v)`` — pruned grams are
      simply unlisted, so a consumer backs off through the UNPRUNED
      weights, exactly the engine's pruning semantics.

    ``discount="modified"`` bakes the Chen & Goodman per-class
    discounts (all three levels since r13, incl. the scalar-context
    bottom level) into the emitted probabilities and weights — an ARPA
    file is discount-baked by nature, so the score-time-knob property
    ends at export; export once per smoothing you want to ship. A
    zero-mass backoff (a clamped-to-0 discount over an all-hapax
    context class) is written as the conventional ``-99``.
    """
    from .text import _mkn3_discounts

    modified = discount == "modified"
    D = float(base_discount) if modified else float(discount)
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
    tri, tctx, mid = lm["tri"], lm["tctx"], lm["mid"]
    vstats, back = lm["vstats"], lm["back"]
    scalars = _scalars(lm)

    if modified:
        coc_row = lm["coc"].collect()[0]
        d1m, d2m, d3m = _mkn3_discounts(coc_row, "m", D)
        d1t, d2t, d3t = _mkn3_discounts(coc_row, "t", D)
        has_b = "b1" in lm["coc"].columns
        if has_b:
            d1b, d2b, d3b = _mkn3_discounts(coc_row, "b", D)
            b1 = float(coc_row["b1"] or 0)
            b2 = float(coc_row["b2"] or 0)
            b3p = float(coc_row["btot"] or 0) - b1 - b2
            gamma_b = d1b * b1 + d2b * b2 + d3b * b3p

    def pcont(nb_col):
        nb = F.coalesce(nb_col, F.lit(0)).cast("double")
        Bd = F.col("__B").cast("double")
        unif = F.lit(1.0) / F.col("__V").cast("double")
        if modified and has_b:
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

    mctx_d = F.col("m_ctx").cast("double")

    def gamma2():
        """mid level's backoff mass / m_ctx — the 1-gram bow."""
        if modified:
            return (
                F.lit(d1m) * F.col("mm1").cast("double")
                + F.lit(d2m) * F.col("mm2").cast("double")
                + F.lit(d3m) * F.col("mm3p").cast("double")
            ) / mctx_d
        return F.lit(D) * F.col("n1f_mid").cast("double") / mctx_d

    def p2_expr(pcont_col):
        n1mid0 = F.coalesce(F.col("n1mid"), F.lit(0)).cast("double")
        if modified:
            dm = (
                F.when(F.col("n1mid") == 1, F.lit(d1m))
                .when(F.col("n1mid") == 2, F.lit(d2m))
                .otherwise(F.lit(d3m))
            )
            core = (
                F.greatest(n1mid0 - dm, F.lit(0.0)) / mctx_d
                + gamma2() * pcont_col
            )
        else:
            core = (
                F.greatest(n1mid0 - F.lit(D), F.lit(0.0)) / mctx_d
                + gamma2() * pcont_col
            )
        return F.when(F.col("m_ctx").isNotNull(), core).otherwise(pcont_col)

    cuv_d = F.col("c_uv").cast("double")

    def gamma3():
        if modified:
            return (
                F.lit(d1t) * F.col("nn1").cast("double")
                + F.lit(d2t) * F.col("nn2").cast("double")
                + F.lit(d3t) * F.col("nn3p").cast("double")
            ) / cuv_d
        return F.lit(D) * F.col("n1f_uv").cast("double") / cuv_d

    tctx_cols = ["c_uv", "n1f_uv"] + (["nn1", "nn2", "nn3p"] if modified else [])
    vstats_cols = ["m_ctx", "n1f_mid"] + (
        ["mm1", "mm2", "mm3p"] if modified else []
    )
    tctx_s = tctx.select("u", "v", *tctx_cols)
    vstats_s = vstats.select("v", *vstats_cols)

    # ---- 1-grams: every word a listed n-gram mentions -----------------
    words = (
        tctx.select(F.col("u").alias("w"))
        .unionByName(tctx.select(F.col("v").alias("w")))
        .unionByName(mid.select(F.col("v").alias("w")))
        .unionByName(mid.select(F.col("w").alias("w")))
        .unionByName(back.select(F.col("w2").alias("w")))
        .distinct()
    )
    uni_base = (
        words.join(back.withColumnRenamed("w2", "w"), "w", "left")
        .join(vstats_s.withColumnRenamed("v", "w"), "w", "left")
        .crossJoin(F.broadcast(scalars))
    )
    bow1 = F.when(F.col("m_ctx").isNotNull(), gamma2()).otherwise(F.lit(1.0))
    uni = uni_base.select(
        *_row_select(
            1, F.col("w"), None, None,
            F.round(F.log10(pcont(F.col("n1back"))), 6),
            _log10_bow(bow1),
        )
    )
    unk = scalars.select(
        *_row_select(
            1, F.lit("<unk>"), None, None,
            F.round(F.log10(pcont(F.lit(None))), 6),
            _log10_bow(F.lit(1.0)),
        )
    )

    # ---- 2-grams: mid EVENTS ∪ trigram CONTEXTS ------------------------
    pairs = (
        mid.select(F.col("v").alias("a"), F.col("w").alias("b"))
        .unionByName(tctx.select(F.col("u").alias("a"), F.col("v").alias("b")))
        .distinct()
    )
    bi_base = (
        pairs.join(
            mid.select(
                F.col("v").alias("a"), F.col("w").alias("b"), "n1mid"
            ),
            ["a", "b"],
            "left",
        )
        .join(vstats_s.withColumnRenamed("v", "a"), "a", "left")
        .join(back.withColumnRenamed("w2", "b"), "b", "left")
        .join(
            tctx_s.withColumnRenamed("u", "a").withColumnRenamed("v", "b"),
            ["a", "b"],
            "left",
        )
        .crossJoin(F.broadcast(scalars))
    )
    bow2 = F.when(F.col("c_uv").isNotNull(), gamma3()).otherwise(F.lit(1.0))
    bi = bi_base.select(
        *_row_select(
            2, F.col("a"), F.col("b"), None,
            F.round(F.log10(p2_expr(pcont(F.col("n1back")))), 6),
            _log10_bow(bow2),
        )
    )

    # ---- 3-grams: the (pruned) trigram lookup table --------------------
    tg_base = (
        tri.join(tctx_s, ["u", "v"])
        .join(mid, ["v", "w"], "left")
        .join(vstats_s, "v", "left")
        .join(back.withColumnRenamed("w2", "w"), "w", "left")
        .crossJoin(F.broadcast(scalars))
    )
    c3d = F.coalesce(F.col("c3"), F.lit(0)).cast("double")
    if modified:
        dt = (
            F.when(F.col("c3") == 1, F.lit(d1t))
            .when(F.col("c3") == 2, F.lit(d2t))
            .otherwise(F.lit(d3t))
        )
        p3 = (
            F.greatest(c3d - dt, F.lit(0.0)) / cuv_d
            + gamma3() * p2_expr(pcont(F.col("n1back")))
        )
    else:
        p3 = (
            F.greatest(c3d - F.lit(D), F.lit(0.0)) / cuv_d
            + gamma3() * p2_expr(pcont(F.col("n1back")))
        )
    tg = tg_base.select(
        *_row_select(
            3, F.col("u"), F.col("v"), F.col("w"),
            F.round(F.log10(p3), 6), None,
        )
    )
    return uni.unionByName(unk).unionByName(bi).unionByName(tg)


def _word_cols(df: DataFrame) -> "list[str]":
    """``w1..wN`` columns of a rows frame, numeric order."""
    ks = sorted(
        int(c[1:]) for c in df.columns if c[0] == "w" and c[1:].isdigit()
    )
    return [f"w{k}" for k in ks]


def _require_word_cols(mo: int, wcols: "list[str]") -> None:
    if mo > len(wcols):
        raise ValueError(
            f"arpa_score: max_order={mo} needs word columns w1..w{mo}; "
            f"rows frame carries {wcols}"
        )


def _write_arpa(rows: DataFrame, path: str, max_order: int) -> None:
    """Stream ARPA rows into one ``.arpa`` text file — header counts,
    per-order sections sorted by words, ``\\end\\`` trailer. Order-
    generic: writes whatever ``w1..wN`` columns the rows frame carries.
    Sections stream through ``toLocalIterator`` (bounded driver memory;
    the format is a single text file, inherently single-writer).
    Backoff weights are written for every non-highest-order entry
    (0.0 when the context carries none — the explicit form every
    consumer accepts; a null bow, legal on :func:`arpa_load`-ed rows,
    writes as 0.0 too).

    The writer runs ``1 + max_order`` separate actions (header counts
    plus one sorted stream per section), so the rows frame is pinned
    here eagerly — without it a frame straight off the exporter
    re-derives the whole model-join DAG per section (the same
    repeated-lineage cost :func:`arpa_score` pins against) — and
    released when the file is written."""
    with pin_scope():
        rows = pin(rows, eager=True)
        wcols = _word_cols(rows)
        counts = {
            r["order"]: r["n"]
            for r in rows.groupBy("order")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        with open(path, "w", encoding="utf-8") as f:
            f.write("\\data\\\n")
            for o in range(1, max_order + 1):
                f.write(f"ngram {o}={counts.get(o, 0)}\n")
            for o in range(1, max_order + 1):
                f.write(f"\n\\{o}-grams:\n")
                section = (
                    rows.filter(F.col("order") == o).orderBy(*wcols)
                )
                for r in section.toLocalIterator():
                    gram = " ".join(
                        w
                        for w in (r[c] for c in wcols)
                        if w is not None
                    )
                    line = f"{r['log10_p']:.6f}\t{gram}"
                    if o < max_order:
                        bow = r["log10_bow"]
                        line += f"\t{0.0 if bow is None else bow:.6f}"
                    f.write(line + "\n")
            f.write("\n\\end\\\n")


def kneser_ney_export_arpa(
    lm: "dict[str, DataFrame]", path: str, discount: float = 0.75
) -> None:
    """Write a :func:`~krnel_graph_spark.functions.text.
    kneser_ney_train` artifact as a standard order-2 ``.arpa`` file
    (KenLM/SRILM-consumable). ``path`` is a driver-local file path —
    the format is one text file, so this is a driver-streamed sink."""
    _write_arpa(kneser_ney_arpa_rows(lm, discount=discount), path, 2)


def kneser_ney3_export_arpa(
    lm: "dict[str, DataFrame]",
    path: str,
    discount: "float | str" = 0.75,
    base_discount: float = 0.75,
) -> None:
    """Order-3 twin of :func:`kneser_ney_export_arpa`; supports
    ``discount="modified"`` (the discounts are baked into the file)."""
    _write_arpa(
        kneser_ney3_arpa_rows(
            lm, discount=discount, base_discount=base_discount
        ),
        path,
        3,
    )


def _rows_schema(n_words: int):
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [StructField("order", IntegerType(), False)]
        + [
            StructField(f"w{k}", StringType(), True)
            for k in range(1, n_words + 1)
        ]
        + [
            StructField("log10_p", DoubleType(), True),
            StructField("log10_bow", DoubleType(), True),
        ]
    )


def arpa_load(spark, path: str) -> DataFrame:
    """Parse a driver-local ``.arpa`` file of ANY order back into the
    rows frame :func:`arpa_score` consumes — ``(order, w1..wN,
    log10_p, log10_bow)`` — so a model built by ANYTHING that writes
    ARPA (KenLM's ``lmplz``, SRILM — real perplexity-filter pipelines
    ship order-5 KenLM models) can drive :func:`arpa_score` over a
    100-TB corpus in this engine. The frame always carries at least
    ``w1..w3`` (the exporters' fixed shape), plus ``w4..wN`` when the
    file lists higher orders. Roundtrip identity is exact and pinned:
    ``arpa_load(export(rows)) == rows`` as a row multiset (round-6
    values survive the ``%.6f`` print/parse bit-for-bit).

    The parse is a driver-side stream (the ARPA section structure is
    stateful — a space-separated file is ambiguous without knowing the
    current section, so a distributed line parse would be wrong for
    valid files), batched into the session 500k rows at a time:
    bounded by the MODEL size, never the corpus. For a multi-GB model,
    import once and persist the frame to parquet. The row width is
    taken from the ``\\data\\`` header when present (the normal case)
    and widened on the fly otherwise (``unionByName`` with null fill)."""
    frames = []
    batch: list = []
    section = None
    n_words = 3  # minimum row width: the exporters' fixed shape

    def flush():
        if batch:
            # copy before clear: createDataFrame's local-data conversion
            # is eager today, but holding a reference to a list we then
            # mutate would be a silent data-loss trap if that ever lazified
            frames.append(
                spark.createDataFrame(list(batch), _rows_schema(n_words))
            )
            batch.clear()

    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if line.startswith("\\") and line.endswith("-grams:"):
                section = int(line[1:].split("-")[0])
                if section > n_words:
                    # header-less file listing a higher order than any
                    # row so far: flush the narrower batch, widen
                    flush()
                    n_words = section
                continue
            if line.startswith("\\"):  # \data\ or \end\
                section = None
                continue
            if section is None:  # header 'ngram N=...' lines
                if line.startswith("ngram ") and "=" in line:
                    try:
                        n_words = max(
                            n_words, int(line[6:].split("=")[0])
                        )
                    except ValueError:
                        pass
                continue
            fields = line.split()
            if len(fields) == section + 2:
                bow = float(fields[-1])
                words = fields[1:-1]
            elif len(fields) == section + 1:
                bow = None
                words = fields[1:]
            else:
                raise ValueError(
                    f"arpa_load: malformed {section}-gram line "
                    f"({len(fields)} fields): {line[:80]!r}"
                )
            batch.append(
                (section,)
                + tuple(
                    words[k] if section >= k + 1 else None
                    for k in range(n_words)
                )
                + (float(fields[0]), bow)
            )
            if len(batch) >= _LOAD_BATCH_ROWS:
                flush()
    flush()
    if not frames:
        raise ValueError(f"arpa_load: no n-gram entries found in {path!r}")
    out = frames[0]
    for extra in frames[1:]:
        out = out.unionByName(extra, allowMissingColumns=True)
    cols = (
        ["order"]
        + [f"w{k}" for k in range(1, n_words + 1)]
        + ["log10_p", "log10_bow"]
    )
    return out.select(*cols)


# Vocabulary count above which the OOV rewrite falls back to the
# join+reassembly path instead of a driver-broadcast set. KenLM itself
# holds the full model vocabulary in memory in every scoring process,
# so a model small enough to serve with KenLM is small enough to
# broadcast; the gate only guards the degenerate huge-vocab case.
_UNK_VOCAB_BROADCAST_MAX = 4_000_000


def _rewrite_oov(rows: DataFrame, toks: DataFrame, id_col: str) -> DataFrame:
    """KenLM-faithful OOV rewrite of ``(id, token-array)``: tokens
    absent from the model's 1-gram section become ``<unk>``; adds the
    per-doc rewritten-token count as ``__oovn``.

    MAP-SIDE by default (guide §3.2/§8: broadcast the small side,
    never shuffle the payload): the 1-gram vocabulary is MODEL-bounded
    — collected once from the checkpointed rows frame, broadcast as a
    Python set, and applied in one Arrow-batched pass over the token
    arrays. The previous formulation exploded the corpus to
    ``(id, pos, token)``, left-joined the vocab digests, and
    re-assembled every document through a ``collect_list`` shuffle +
    ``array_sort`` — a full corpus shuffle that measured +2.5 s over
    the identical markers-only query at sf0.1 (arpa_score_unk 5.7 vs
    arpa_score_o5 3.2). Membership is plain string equality, exactly
    the oracle's replay (the old path compared md5 digests — equal
    modulo md5 collisions).

    A vocabulary above ``_UNK_VOCAB_BROADCAST_MAX``
    (4M words — beyond KenLM's own serving envelope) falls
    back to the join+reassembly path, so the operator never collects
    an unbounded side."""
    vocab_rows = rows.filter(F.col("order") == 1).select("w1")
    max_bc = _UNK_VOCAB_BROADCAST_MAX
    # ONE bounded collect decides the gate AND supplies the vocabulary
    # (r15, verdict note: the count()+collect() pair was two driver jobs
    # where one suffices): limit(max_bc + 1) caps what the driver ever
    # holds, and a result longer than max_bc means the vocabulary is
    # over the gate — fall through to the join path.
    probe = vocab_rows.limit(max_bc + 1).collect()
    if len(probe) <= max_bc:
        vset = {r[0] for r in probe}
        bc = toks.sparkSession.sparkContext.broadcast(vset)

        # asNondeterministic: both struct fields are projected out below
        # and ProjectCollapse would otherwise inline (and so evaluate)
        # the kernel once per field (the guide §4.4 duplication); the
        # rewrite is pure, results unchanged.
        @F.pandas_udf("toks array<string>, n_oov long")
        def _rw(tt: pd.Series) -> pd.DataFrame:
            vs = bc.value
            out_t, out_n = [], []
            for arr in tt:
                ws = list(arr)
                n = 0
                for i, w in enumerate(ws):
                    if w not in vs:
                        ws[i] = "<unk>"
                        n += 1
                out_t.append(ws)
                out_n.append(n)
            return pd.DataFrame({"toks": out_t, "n_oov": out_n})

        return toks.select(
            F.col(id_col), _rw.asNondeterministic()(F.col("__t")).alias("__rw")
        ).select(
            F.col(id_col),
            F.col("__rw.toks").alias("__t"),
            F.col("__rw.n_oov").alias("__oovn"),
        )

    vocab = rows.filter(F.col("order") == 1).select(
        F.md5("w1").alias("__wd0"), F.lit(1).alias("__inv")
    )
    return (
        toks.select(
            F.col(id_col),
            F.posexplode("__t").alias("__s", "__w"),
        )
        .withColumn("__wd0", F.md5("__w"))
        .join(vocab, "__wd0", "left")
        .select(
            F.col(id_col),
            F.col("__s"),
            F.when(F.col("__inv").isNotNull(), F.col("__w"))
            .otherwise(F.lit("<unk>"))
            .alias("__wm"),
            F.col("__inv").isNull().cast("int").alias("__ov"),
        )
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("__s", "__wm")).alias("__sw"),
            F.sum("__ov").cast("long").alias("__oovn"),
        )
        .select(
            F.col(id_col),
            F.expr("transform(array_sort(__sw), x -> x.__wm)").alias("__t"),
            F.col("__oovn"),
        )
    )


def arpa_score(
    rows: DataFrame,
    score: DataFrame,
    text_col: str,
    id_col: str,
    max_order: int | None = None,
    bos: bool = False,
    eos: bool = False,
    oov_mode: str = "keep",
) -> DataFrame:
    """Score a corpus against ANY ARPA backoff model — the generic
    consumer side of the portability story: perplexity-filter an ingest
    stream with a model KenLM built (via :func:`arpa_load` — incl. the
    order-5 models real CCNet-style pipelines ship), or with this
    engine's own exports. Returns ``(id, n_tokens, n_oov,
    logprob_sum)`` — the :func:`~krnel_graph_spark.functions.text.
    kneser_ney_score` contract (log10 terms, round-6, exact decimal
    per-doc sum); ``n_oov`` counts tokens absent from the 1-gram
    section (they score as ``<unk>``, which the model must list —
    KenLM always does).

    Order-generic backoff chain, pure column expressions over
    digest-keyed LEFT joins (the kneser_ney3_score shape — raw grams
    never shuffle): stored N-gram hit → its log-prob; miss →
    ``bow(context) + [score at order N-1]`` in log domain, recursively
    down to the unigram, with unlisted contexts contributing bow 0
    (coefficient 1) exactly per the format. A position whose history
    is shorter than ``N-1`` scores at the order its context supports
    (null gram digests never match, null bows coalesce to 0 — the
    fall-through IS the shortened-context rule).

    ``bos``/``eos`` implement the KenLM ``<s>``/``</s>`` sentence-
    marker convention: ``<s>`` is prepended as CONTEXT only (never
    scored, never counted in ``n_tokens``), ``</s>`` is appended and
    scored as a real token (KenLM's perplexity denominator is
    ``len(words) + 1`` for exactly this reason). Default off — the
    engine's own KN trainers are marker-free, and the differential
    pins against them hold in the default mode.

    ``oov_mode`` controls unlisted-token handling:

    * ``"keep"`` (default): an unlisted token scores as ``<unk>`` but
      keeps its surface form inside gram/context digests, so grams
      containing it never match and an unlisted CONTEXT word
      contributes backoff 0. Deviation from KenLM (documented): KenLM
      rewrites the token to ``<unk>`` first, so ``<unk>``-containing
      n-grams can match and ``<unk>``'s own bow applies. Identical for
      this engine's exports (its ``<unk>`` carries bow 1 and no
      ``<unk>`` n-grams), different on external models where they do.
    * ``"unk"``: KenLM-faithful — tokens absent from the 1-gram
      section are rewritten to ``<unk>`` before grams are built (one
      extra corpus shuffle: token explode → vocab-digest join →
      per-doc reassembly; the vocab side is model-bounded). ``n_oov``
      counts the rewritten corpus tokens (markers excluded).

    Scale shape: the model tables are vocab/type-bounded join sides;
    the corpus does one positions explode + ``2·N−1`` digest joins
    (N prob + N−1 bow) + one per-doc aggregate. ``rows`` feeds every
    lookup table plus the <unk> probe, so it is pinned here eagerly
    (:func:`~krnel_graph_spark.functions.partitioning.pin`): without
    it, a rows frame with an expensive lineage — e.g. straight from
    the exporter — re-derives the whole model per join branch
    (measured 2× the gate query at sf0.01); on a local master the
    checkpoint also TRUNCATES that lineage so the final query plan is
    the joins, not N copies of the model build. Call inside a
    :func:`~krnel_graph_spark.functions.partitioning.pin_scope` to
    release the pin explicitly in a long-lived session. The bounded
    probe below executes immediately anyway, so eagerness costs
    nothing extra."""
    if oov_mode not in ("keep", "unk"):
        raise ValueError(f"arpa_score: unknown oov_mode {oov_mode!r}")
    wcols = _word_cols(rows)
    if not wcols:  # the probe below reads w1
        _require_word_cols(max_order or 1, wcols)
    rows = pin(rows, eager=True)
    # ONE aggregate job answers both model probes: the listed orders
    # and <unk>'s log-prob. ``min`` over the (at most one) <unk> row is
    # deterministic even on a model that listed a 1-gram twice.
    probe_row = rows.agg(
        F.collect_set("order").alias("orders"),
        F.min(
            F.when(
                (F.col("order") == 1) & (F.col("w1") == "<unk>"),
                F.col("log10_p"),
            )
        ).alias("unk_lp"),
    ).collect()[0]
    orders = list(probe_row["orders"])
    mo = max_order if max_order is not None else max(orders)
    if mo < 1 or mo > max(orders):
        raise ValueError(
            f"arpa_score: max_order={mo} but the model lists orders "
            f"1..{max(orders)}"
        )
    _require_word_cols(mo, wcols)
    if probe_row["unk_lp"] is None:
        raise ValueError(
            "arpa_score: model lists no <unk> 1-gram — OOV tokens would "
            "be unscorable (KenLM/SRILM models always include it)"
        )
    unk_lp = float(probe_row["unk_lp"])

    # per-order lookup tables: prob keyed on the gram digest, backoff
    # weight keyed on the same digest used as a CONTEXT
    prob, bow = {}, {}
    for k in range(1, mo + 1):
        digest = F.md5(F.concat_ws(" ", *wcols[:k]))
        sec = rows.filter(F.col("order") == k)
        prob[k] = sec.select(
            digest.alias(f"__d{k}"), F.col("log10_p").alias(f"__lp{k}")
        )
        if k < mo:
            bow[k] = sec.select(
                digest.alias(f"__c{k}"),
                F.col("log10_bow").alias(f"__lbow{k}"),
            )

    from .partitioning import ensure_min_partitions
    from .text import normalize_text, whitespace_tokens

    # the per-position digest projection and the whole broadcast-join
    # backoff chain inherit the SCAN's partitioning — a single-split
    # corpus would run the entire score side on one task; round-robin
    # up to session parallelism first (no-op at scale)
    toks = ensure_min_partitions(
        score.filter(normalize_text(F.col(text_col)) != "")
    ).select(F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__t"))
    extras: list = []
    if oov_mode == "unk":
        toks = _rewrite_oov(rows, toks, id_col)
        extras = [F.col("__oovn")]
    if bos:
        toks = toks.withColumn(
            "__t", F.concat(F.array(F.lit("<s>")), F.col("__t"))
        )
    if eos:
        toks = toks.withColumn(
            "__t", F.concat(F.col("__t"), F.array(F.lit("</s>")))
        )
    start = 2 if bos else 1

    # per-position struct: dK = digest of the K-gram ending here (null
    # when the history is shorter), cK = digest of the length-K context
    fields = []
    for k in range(1, mo + 1):
        words = ", ".join(f"__t[s - {j}]" for j in range(k, 0, -1))
        fields.append(
            f"IF(s >= {k}, md5(concat_ws(' ', {words})), NULL) AS d{k}"
        )
    for k in range(1, mo):
        words = ", ".join(f"__t[s - {j}]" for j in range(k + 1, 1, -1))
        fields.append(
            f"IF(s >= {k + 1}, md5(concat_ws(' ', {words})), NULL) AS c{k}"
        )
    pos = (
        toks.withColumn("__L", F.size("__t"))
        .select(
            F.col(id_col),
            *extras,
            F.explode(
                F.expr(
                    f"transform(sequence({start}, __L),"
                    f" s -> struct({', '.join(fields)}))"
                )
            ).alias("p"),
        )
        .select(
            F.col(id_col),
            *extras,
            *[F.col(f"p.d{k}").alias(f"__d{k}") for k in range(1, mo + 1)],
            *[F.col(f"p.c{k}").alias(f"__c{k}") for k in range(1, mo)],
        )
    )
    joined = pos
    for k in range(1, mo + 1):
        joined = joined.join(prob[k], f"__d{k}", "left")
    for k in range(1, mo):
        joined = joined.join(bow[k], f"__c{k}", "left")

    # the backoff chain, bottom-up: stored k-gram hit → its log-prob;
    # miss → bow(length k-1 context, 0 if unlisted/absent) + chain(k-1)
    term = F.coalesce(F.col("__lp1"), F.lit(unk_lp))
    for k in range(2, mo + 1):
        term = F.when(
            F.col(f"__lp{k}").isNotNull(), F.col(f"__lp{k}")
        ).otherwise(
            F.coalesce(F.col(f"__lbow{k - 1}"), F.lit(0.0)) + term
        )
    n_oov_agg = (
        F.first("__oovn").alias("n_oov")
        if oov_mode == "unk"
        else F.sum("__oov").cast("long").alias("n_oov")
    )
    return (
        joined.select(
            F.col(id_col),
            *extras,
            F.round(term, 6).cast("decimal(20,6)").alias("__term"),
            (F.col("__lp1").isNull()).cast("int").alias("__oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            n_oov_agg,
            F.sum("__term").cast("double").alias("logprob_sum"),
        )
    )


def arpa_filter(
    rows: DataFrame,
    corpus: DataFrame,
    text_col: str,
    keep: "tuple[str, ...]" = ("<s>", "</s>", "<unk>"),
) -> DataFrame:
    """Vocabulary-filter a backoff model to a target corpus — the
    KenLM ``filter`` tool (``filter union`` mode) re-expressed as two
    model-bounded joins: keep exactly the n-grams whose words ALL
    appear in the corpus vocabulary (the ``keep`` markers always
    count as in-vocabulary, KenLM's special-casing of ``<s>``/
    ``</s>``/``<unk>``).

    The KenLM filter guarantee holds and is pinned by test: scoring
    any text drawn from the filter corpus's vocabulary (with or
    without markers, any ``oov_mode``) against the filtered model is
    IDENTICAL to scoring it against the full model — every gram or
    context such a query can digest consists of corpus-vocabulary
    words, so a row the filter dropped could never have matched.
    Prefix- and suffix-closure survive filtering for the same reason:
    a kept gram's sub-grams contain a subset of its words.

    Why it exists: perplexity-filter models are trained on web-scale
    corpora but SERVED against narrower domains — a filtered model is
    often 10-100x smaller (the Zipf tail of a web vocabulary is
    almost all of the n-gram table), which matters when every scoring
    join ships the model to executors. Filter once, save the frame,
    serve the small model.

    Scale shape: one corpus scan (token explode -> distinct digests,
    vocabulary-bounded), then gram-word explode over the MODEL (rows x
    order words), one left-anti join against the vocabulary to find
    offending grams, one left-anti join back onto ``rows`` keyed on
    the gram digest. No driver-side collect anywhere; the output is a
    plain rows frame for :func:`arpa_score`, ``_write_arpa``, or
    parquet.
    """
    from .text import normalize_text, whitespace_tokens

    # rows feeds TWO consumers (the word explode and the final
    # anti-join) — the pin materializes an expensive lineage (e.g.
    # straight from an exporter) once instead of per branch
    rows = pin(rows)
    wcols = _word_cols(rows)
    spark = rows.sparkSession
    vocab = (
        corpus.filter(normalize_text(F.col(text_col)) != "")
        .select(F.explode(whitespace_tokens(F.col(text_col))).alias("__w"))
        .unionByName(
            spark.createDataFrame([(k,) for k in keep], "__w string")
        )
        .select(F.md5("__w").alias("__wd"))
        .distinct()
    )
    gram_digest = F.md5(F.concat_ws(" ", *wcols))
    offending = (
        rows.select(
            gram_digest.alias("__gd"),
            F.explode(F.array_compact(F.array(*wcols))).alias("__w"),
        )
        .select("__gd", F.md5("__w").alias("__wd"))
        .join(vocab, "__wd", "left_anti")
        .select("__gd")
        .distinct()
    )
    return (
        rows.withColumn("__gd", gram_digest)
        .join(offending, "__gd", "left_anti")
        .drop("__gd")
    )
