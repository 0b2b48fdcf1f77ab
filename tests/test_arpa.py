"""ARPA export (r13): an independent ARPA-backoff evaluator over the
exported rows must reproduce kneser_ney(3)_score's per-document logprob
sums — the proof that the stored-prob + backoff-weight encoding is
faithful to the engine's interpolated arithmetic — plus file-writer
roundtrip and validation pins."""

from __future__ import annotations

import decimal
import math

import pytest

TEXTS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "the cat sat on the log again"),
    (3, "a new cat and a new dog"),
    (4, "zebra quark the cat"),
    (5, "the the the the"),
    (6, ""),
    (7, "single"),
    (8, "two words"),
]


def _toks(t):
    n = " ".join((t or "").lower().split())
    return n.split(" ") if n else None


class _ArpaEval:
    """Plain ARPA backoff lookup over exported rows — the consumer's
    arithmetic (stored prob if listed, else backoff-weight chain),
    nothing engine-specific."""

    def __init__(self, rows):
        self.p = {1: {}, 2: {}, 3: {}}
        self.bow = {1: {}, 2: {}}
        for r in rows:
            gram = tuple(w for w in (r["w1"], r["w2"], r["w3"]) if w is not None)
            o = r["order"]
            self.p[o][gram] = 10.0 ** r["log10_p"]
            if r["log10_bow"] is not None and o < 3:
                self.bow[o][gram] = 10.0 ** r["log10_bow"]

    def p1(self, w):
        return self.p[1].get((w,), self.p[1][("<unk>",)])

    def p2(self, v, w):
        if (v, w) in self.p[2]:
            return self.p[2][(v, w)]
        return self.bow[1].get((v,), 1.0) * self.p1(w)

    def p3(self, u, v, w):
        if (u, v, w) in self.p[3]:
            return self.p[3][(u, v, w)]
        return self.bow[2].get((u, v), 1.0) * self.p2(v, w)

    def doc_logprob(self, toks, max_order):
        total = decimal.Decimal(0)
        for j, w in enumerate(toks):
            if max_order == 3:
                if j >= 2:
                    p = self.p3(toks[j - 2], toks[j - 1], w)
                elif j == 1:
                    p = self.p2(toks[j - 1], w)
                else:
                    p = self.p1(w)
            else:
                p = self.p2(toks[j - 1], w) if j >= 1 else self.p1(w)
            # round-6 per-term like the engine, exact-decimal sum
            total += decimal.Decimal(str(math.log10(p))).quantize(
                decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP
            )
        return float(total)


def _docs_df(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


@pytest.mark.parametrize("discount", [0.75, "modified"])
def test_kn3_arpa_reproduces_engine_scores(spark, discount):
    from krnel_graph_spark.functions.arpa import kneser_ney3_arpa_rows
    from krnel_graph_spark.functions.text import (
        kneser_ney3_score,
        kneser_ney3_train,
    )

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    rows = kneser_ney3_arpa_rows(lm, discount=discount).collect()
    ev = _ArpaEval(rows)
    got = {
        r.doc_id: r.logprob_sum
        for r in kneser_ney3_score(
            lm, df, "text", "doc_id", discount=discount
        ).collect()
    }
    for i, t in TEXTS:
        ts = _toks(t)
        if not ts:
            assert i not in got
            continue
        want = ev.doc_logprob(ts, max_order=3)
        # per-term drift <= a few 1e-6 (engine rounds log10(p) once;
        # the consumer multiplies two round-6 components on backoff)
        assert got[i] == pytest.approx(want, abs=3e-5 * len(ts)), (i, t)


def test_kn3_arpa_pruned_backs_off_through_unpruned_weights(spark):
    from krnel_graph_spark.functions.arpa import kneser_ney3_arpa_rows
    from krnel_graph_spark.functions.text import (
        kneser_ney3_score,
        kneser_ney3_train,
    )

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text", min_count=2)
    rows = kneser_ney3_arpa_rows(lm).collect()
    # pruning bites: fewer 3-gram entries than 2-gram contexts+events
    n3 = sum(1 for r in rows if r["order"] == 3)
    lm_full = kneser_ney3_train(df, "text")
    n3_full = sum(
        1
        for r in kneser_ney3_arpa_rows(lm_full).collect()
        if r["order"] == 3
    )
    assert 0 < n3 < n3_full
    ev = _ArpaEval(rows)
    got = {
        r.doc_id: r.logprob_sum
        for r in kneser_ney3_score(lm, df, "text", "doc_id").collect()
    }
    for i, t in TEXTS:
        ts = _toks(t)
        if not ts:
            continue
        want = ev.doc_logprob(ts, max_order=3)
        assert got[i] == pytest.approx(want, abs=3e-5 * len(ts)), (i, t)


def test_kn_bigram_arpa_reproduces_engine_scores(spark):
    from krnel_graph_spark.functions.arpa import kneser_ney_arpa_rows
    from krnel_graph_spark.functions.text import (
        kneser_ney_score,
        kneser_ney_train,
    )

    df = _docs_df(spark)
    lm = kneser_ney_train(df, "text")
    rows = kneser_ney_arpa_rows(lm).collect()
    ev = _ArpaEval(rows)
    got = {
        r.doc_id: r.logprob_sum
        for r in kneser_ney_score(lm, df, "text", "doc_id").collect()
    }
    for i, t in TEXTS:
        ts = _toks(t)
        if not ts:
            continue
        want = ev.doc_logprob(ts, max_order=2)
        assert got[i] == pytest.approx(want, abs=3e-5 * len(ts)), (i, t)


def test_arpa_unigram_section_sums_to_one(spark):
    """Pc is uniform-interpolated, so the 1-gram section (vocab +
    <unk>) must sum to ~1 — the standard ARPA sanity every consumer
    checks first. (Stranded words that left no bigram counts score as
    <unk> in the engine and are deliberately unlisted; their mass IS
    the <unk>/uniform slot's.)"""
    from krnel_graph_spark.functions.arpa import kneser_ney3_arpa_rows
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    rows = kneser_ney3_arpa_rows(lm).collect()
    uni = [r for r in rows if r["order"] == 1]
    # V counts vocab+1; listed words may be fewer (stranded words fold
    # into the uniform slot), so the listed sum is <= 1 and the gap is
    # exactly the stranded words' uniform shares.
    s = sum(10.0 ** r["log10_p"] for r in uni)
    assert 0.9 < s <= 1.0 + 1e-6
    assert any(r["w1"] == "<unk>" for r in uni)


def test_arpa_file_roundtrip(spark, tmp_path):
    from krnel_graph_spark.functions.arpa import (
        kneser_ney3_arpa_rows,
        kneser_ney3_export_arpa,
    )
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    path = str(tmp_path / "model.arpa")
    kneser_ney3_export_arpa(lm, path)
    text = open(path, encoding="utf-8").read()
    assert text.startswith("\\data\\\n")
    assert text.rstrip().endswith("\\end\\")
    rows = kneser_ney3_arpa_rows(lm).collect()
    want_counts = {o: sum(1 for r in rows if r["order"] == o) for o in (1, 2, 3)}
    for o in (1, 2, 3):
        assert f"ngram {o}={want_counts[o]}" in text
    # every section line parses back: logp \t gram [\t bow]
    section = None
    seen = {1: 0, 2: 0, 3: 0}
    for line in text.splitlines():
        if line.endswith("-grams:"):
            section = int(line[1])
            continue
        if not line or line.startswith("\\") or section is None:
            continue
        parts = line.split("\t")
        float(parts[0])
        words = parts[1].split(" ")
        assert len(words) == section
        if section < 3:
            assert len(parts) == 3
            float(parts[2])
        else:
            assert len(parts) == 2
        seen[section] += 1
    assert seen == want_counts


def test_arpa_rows_validation(spark):
    from krnel_graph_spark.functions.arpa import (
        kneser_ney3_arpa_rows,
        kneser_ney_arpa_rows,
    )
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    with pytest.raises(ValueError, match="missing frame"):
        kneser_ney3_arpa_rows({k: v for k, v in lm.items() if k != "mid"})
    with pytest.raises(ValueError, match="not a kneser_ney_train"):
        kneser_ney_arpa_rows(lm)  # wrong artifact family
    with pytest.raises(ValueError, match="discount"):
        kneser_ney3_arpa_rows(lm, discount=1.5)


def test_arpa_load_roundtrips_export_exactly(spark, tmp_path):
    """load(export(rows)) == rows as a row multiset, bit-for-bit: the
    round-6 doubles survive the %.6f print/parse."""
    from krnel_graph_spark.functions.arpa import (
        arpa_load,
        kneser_ney3_arpa_rows,
        kneser_ney3_export_arpa,
    )
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    path = str(tmp_path / "rt.arpa")
    kneser_ney3_export_arpa(lm, path)
    want = kneser_ney3_arpa_rows(lm)
    got = arpa_load(spark, path)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_arpa_score_matches_native_scorers(spark):
    """The generic ARPA scorer over the engine's own export reproduces
    the native KN scorers — order 3 AND order 2 — within the round-6
    backoff-composition drift (the evaluator-test bound)."""
    from krnel_graph_spark.functions.arpa import (
        arpa_score,
        kneser_ney3_arpa_rows,
        kneser_ney_arpa_rows,
    )
    from krnel_graph_spark.functions.text import (
        kneser_ney3_score,
        kneser_ney3_train,
        kneser_ney_score,
        kneser_ney_train,
    )

    df = _docs_df(spark)
    lm3 = kneser_ney3_train(df, "text")
    got3 = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            kneser_ney3_arpa_rows(lm3), df, "text", "doc_id"
        ).collect()
    }
    want3 = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in kneser_ney3_score(lm3, df, "text", "doc_id").collect()
    }
    assert set(got3) == set(want3)
    for i in want3:
        assert got3[i][0] == want3[i][0]
        # OOV notions differ by design: the native scorer counts
        # zero-continuation-evidence words (n1back null — they SCORE as
        # <unk> even when listed as context words), the ARPA consumer
        # counts truly-unlisted unigrams. Consumer OOV is therefore a
        # subset; the PROBABILITIES still agree (a listed
        # zero-evidence word's p1 equals the <unk> value).
        assert got3[i][1] <= want3[i][1], i
        assert got3[i][2] == pytest.approx(
            want3[i][2], abs=3e-5 * want3[i][0]
        ), i
    # the subset relation is non-vacuous on this corpus: doc 4's
    # "zebra" is context-listed but continuation-free
    assert got3[4][1] < want3[4][1]

    lm2 = kneser_ney_train(df, "text")
    got2 = {
        r.doc_id: r.logprob_sum
        for r in arpa_score(
            kneser_ney_arpa_rows(lm2), df, "text", "doc_id"
        ).collect()
    }
    want2 = {
        r.doc_id: (r.n_tokens, r.logprob_sum)
        for r in kneser_ney_score(lm2, df, "text", "doc_id").collect()
    }
    for i in want2:
        assert got2[i] == pytest.approx(
            want2[i][1], abs=3e-5 * want2[i][0]
        ), i


def test_arpa_score_validation(spark):
    from krnel_graph_spark.functions.arpa import (
        arpa_score,
        kneser_ney3_arpa_rows,
    )
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    rows = kneser_ney3_arpa_rows(kneser_ney3_train(df, "text"))
    no_unk = rows.filter(
        ~((rows["order"] == 1) & (rows["w1"] == "<unk>"))
    )
    with pytest.raises(ValueError, match="<unk>"):
        arpa_score(no_unk, df, "text", "doc_id")
    with pytest.raises(ValueError, match="max_order"):
        arpa_score(rows, df, "text", "doc_id", max_order=5)


def test_arpa_score_rejects_rows_without_word_columns(spark):
    """The word columns are checked before the model probe, which reads
    ``w1``: a rows frame without them gets the friendly ValueError, not
    an AnalysisException from the probe aggregate."""
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = spark.createDataFrame(
        [(1, -1.0, 0.0)], "order int, log10_p double, log10_bow double"
    )
    with pytest.raises(ValueError, match="rows frame carries"):
        arpa_score(rows, _docs_df(spark), "text", "doc_id")


def test_arpa_load_rejects_malformed(spark, tmp_path):
    from krnel_graph_spark.functions.arpa import arpa_load

    bad = tmp_path / "bad.arpa"
    bad.write_text(
        "\\data\\\nngram 1=1\n\n\\1-grams:\n-1.0\tthe\textra\tfield\n\\end\\\n"
    )
    with pytest.raises(ValueError, match="malformed"):
        arpa_load(spark, str(bad))
    empty = tmp_path / "empty.arpa"
    empty.write_text("\\data\\\n\\end\\\n")
    with pytest.raises(ValueError, match="no n-gram"):
        arpa_load(spark, str(empty))


def test_arpa_load_multi_batch_flush(spark, tmp_path, monkeypatch):
    """The batched createDataFrame path (big-model imports) loses no
    rows across flushes — exercised by shrinking the batch size below
    the model's row count."""
    from krnel_graph_spark.functions import arpa as arpa_mod
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    path = str(tmp_path / "mb.arpa")
    arpa_mod.kneser_ney3_export_arpa(lm, path)
    want = arpa_mod.kneser_ney3_arpa_rows(lm)
    monkeypatch.setattr(arpa_mod, "_LOAD_BATCH_ROWS", 7)
    got = arpa_mod.arpa_load(spark, path)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_arpa_full_loop_file_scoring_identical(spark, tmp_path):
    """The complete portability loop — export to a .arpa FILE, load it
    back, score — produces byte-identical results to scoring the
    in-memory rows (round-6 values survive the print/parse, so the
    file is a lossless transport, not an approximation)."""
    from krnel_graph_spark.functions.arpa import (
        arpa_load,
        arpa_score,
        kneser_ney3_arpa_rows,
        kneser_ney3_export_arpa,
    )
    from krnel_graph_spark.functions.text import kneser_ney3_train

    df = _docs_df(spark)
    lm = kneser_ney3_train(df, "text")
    rows = kneser_ney3_arpa_rows(lm, discount="modified")
    path = str(tmp_path / "loop.arpa")
    kneser_ney3_export_arpa(lm, path, discount="modified")
    via_mem = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(rows, df, "text", "doc_id").collect()
    }
    via_file = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            arpa_load(spark, path), df, "text", "doc_id"
        ).collect()
    }
    assert via_mem == via_file


# --------------------------------------------------------------------- #
# order-generic consumer (r14): order-5 models, <s>/</s> markers,       #
# KenLM-faithful OOV→<unk> rewriting                                    #
# --------------------------------------------------------------------- #

# a hand-written order-5 ARPA model (the shape a KenLM lmplz order-5
# perplexity-filter model has): <unk> with a NONZERO bow and a listed
# <unk>-containing bigram (exercises the oov_mode difference), <s>/</s>
# entries, and full backoff weights on every non-highest order.
_ARPA5 = """\\data\\
ngram 1=6
ngram 2=5
ngram 3=2
ngram 4=2
ngram 5=1

\\1-grams:
-5.000000\t<unk>\t-0.301030
-99.000000\t<s>\t-0.500000
-1.000000\t</s>\t0.000000
-0.700000\ta\t-0.200000
-0.800000\tb\t-0.250000
-0.900000\tc\t-0.300000

\\2-grams:
-0.500000\ta b\t-0.100000
-0.400000\tb c\t-0.150000
-0.600000\t<s> a\t-0.120000
-0.450000\tc </s>\t-0.050000
-0.350000\t<unk> b\t-0.180000

\\3-grams:
-0.300000\ta b c\t-0.080000
-0.250000\t<s> a b\t-0.090000

\\4-grams:
-0.200000\ta b c </s>\t-0.040000
-0.150000\t<s> a b c\t-0.060000

\\5-grams:
-0.100000\t<s> a b c </s>

\\end\\
"""

_SCORE_DOCS = [
    (0, "a b c"),
    (1, "a b x c"),  # x is OOV
    (2, "b"),
    (3, "x b"),  # OOV in context position: <unk> b IS listed
]


class _EvalN:
    """Order-generic ARPA backoff evaluator in the log10 domain — the
    exact association order the engine's column chain uses, so the
    comparison is bit-tight, with optional KenLM conventions."""

    def __init__(self, rows, mo):
        self.mo = mo
        self.p, self.bow = {}, {}
        for r in rows:
            d = r.asDict()
            gram = tuple(
                d[f"w{k}"]
                for k in range(1, 99)
                if f"w{k}" in d and d[f"w{k}"] is not None
            )
            self.p[gram] = d["log10_p"]
            if d["log10_bow"] is not None:
                self.bow[gram] = d["log10_bow"]

    def term(self, ctx, w):
        def chain(k):
            if k == 1:
                return self.p.get((w,), self.p[("<unk>",)])
            if len(ctx) < k - 1:
                return chain(k - 1)
            c = tuple(ctx[-(k - 1):])
            if c + (w,) in self.p:
                return self.p[c + (w,)]
            return self.bow.get(c, 0.0) + chain(k - 1)

        return chain(self.mo)

    def doc(self, toks, bos=False, eos=False, unk_map=False):
        n_oov = 0
        if unk_map:
            mapped = []
            for w in toks:
                if (w,) in self.p:
                    mapped.append(w)
                else:
                    mapped.append("<unk>")
                    n_oov += 1
            toks = mapped
        if bos:
            toks = ["<s>"] + toks
        if eos:
            toks = toks + ["</s>"]
        total = decimal.Decimal(0)
        start = 1 if bos else 0
        for j in range(start, len(toks)):
            t = self.term(toks[max(0, j - self.mo + 1):j], toks[j])
            if not unk_map and (toks[j],) not in self.p:
                n_oov += 1
            total += decimal.Decimal(str(t)).quantize(
                decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP
            )
        return len(toks) - start, n_oov, float(total)


def _load5(spark, tmp_path):
    from krnel_graph_spark.functions.arpa import arpa_load

    path = tmp_path / "o5.arpa"
    path.write_text(_ARPA5, encoding="utf-8")
    return arpa_load(spark, str(path))


def test_arpa_load_order5_widens_schema(spark, tmp_path):
    rows = _load5(spark, tmp_path)
    assert [c for c in rows.columns if c.startswith("w")] == [
        "w1", "w2", "w3", "w4", "w5",
    ]
    got = {r["order"]: 0 for r in rows.collect()}
    for r in rows.collect():
        got[r["order"]] += 1
    assert got == {1: 6, 2: 5, 3: 2, 4: 2, 5: 1}
    five = rows.filter(rows["order"] == 5).collect()[0]
    assert (five.w1, five.w2, five.w3, five.w4, five.w5) == (
        "<s>", "a", "b", "c", "</s>",
    )
    assert five.log10_bow is None


def test_arpa_score_order5_matches_hand_chain(spark, tmp_path):
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = _load5(spark, tmp_path)
    docs = spark.createDataFrame(_SCORE_DOCS, "doc_id long, text string")
    ev = _EvalN(rows.collect(), 5)
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(rows, docs, "text", "doc_id").collect()
    }
    for i, t in _SCORE_DOCS:
        assert got[i] == pytest.approx(ev.doc(_toks(t)), abs=1e-9), (i, t)
    # the order-5 chain is live via the 4-gram on doc 0's last
    # position: a b c scores p1(a) + p2(b|a) + p3(c|a b)
    assert got[0][2] == pytest.approx(-0.7 + -0.5 + -0.3, abs=1e-9)


def test_arpa_score_order5_truncates_at_max_order(spark, tmp_path):
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = _load5(spark, tmp_path)
    docs = spark.createDataFrame(_SCORE_DOCS, "doc_id long, text string")
    ev = _EvalN(rows.collect(), 3)
    got = {
        r.doc_id: r.logprob_sum
        for r in arpa_score(
            rows, docs, "text", "doc_id", max_order=3
        ).collect()
    }
    for i, t in _SCORE_DOCS:
        assert got[i] == pytest.approx(ev.doc(_toks(t))[2], abs=1e-9)
    with pytest.raises(ValueError, match="max_order"):
        arpa_score(rows, docs, "text", "doc_id", max_order=7)


def test_arpa_order5_file_roundtrip(spark, tmp_path):
    """load → re-export → load is an exact multiset identity at order 5
    (the writer is order-generic too)."""
    from krnel_graph_spark.functions.arpa import _write_arpa, arpa_load

    rows = _load5(spark, tmp_path)
    path2 = str(tmp_path / "o5_rt.arpa")
    _write_arpa(rows, path2, 5)
    again = arpa_load(spark, path2)
    assert again.exceptAll(rows).count() == 0
    assert rows.exceptAll(again).count() == 0


def test_arpa_score_bos_eos_markers(spark, tmp_path):
    """bos/eos implements the KenLM convention: <s> is context-only
    (unscored, uncounted), </s> is scored; n_tokens = len + 1."""
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = _load5(spark, tmp_path)
    docs = spark.createDataFrame(_SCORE_DOCS, "doc_id long, text string")
    ev = _EvalN(rows.collect(), 5)
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            rows, docs, "text", "doc_id", bos=True, eos=True
        ).collect()
    }
    for i, t in _SCORE_DOCS:
        want = ev.doc(_toks(t), bos=True, eos=True)
        assert got[i] == pytest.approx(want, abs=1e-9), (i, t)
        assert got[i][0] == len(_toks(t)) + 1
    # marker scoring is live: "a b c" + markers walks <s> a → <s> a b →
    # <s> a b c → the full 5-gram <s> a b c </s>
    assert got[0][2] == pytest.approx(
        -0.6 + -0.25 + -0.15 + -0.1, abs=1e-9
    )


def test_arpa_score_oov_unk_mode_is_kenlm_faithful(spark, tmp_path):
    """oov_mode='unk' rewrites unlisted tokens to <unk> BEFORE grams
    are built, so <unk>-containing n-grams match and <unk>'s own bow
    applies — KenLM's semantics on external models; the default 'keep'
    mode deviates exactly where documented."""
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = _load5(spark, tmp_path)
    docs = spark.createDataFrame(_SCORE_DOCS, "doc_id long, text string")
    ev = _EvalN(rows.collect(), 5)
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            rows, docs, "text", "doc_id", oov_mode="unk"
        ).collect()
    }
    for i, t in _SCORE_DOCS:
        want = ev.doc(_toks(t), unk_map=True)
        assert got[i] == pytest.approx(want, abs=1e-9), (i, t)
    # the difference is non-vacuous on this model: "x b" hits the
    # listed "<unk> b" bigram in unk mode (-0.35) but backs off through
    # a dead context in keep mode (bow 0 + p1(b) = -0.8)
    keep = {
        r.doc_id: r.logprob_sum
        for r in arpa_score(rows, docs, "text", "doc_id").collect()
    }
    assert got[3][2] != pytest.approx(keep[3], abs=1e-6)
    assert got[3][2] == pytest.approx(-5.0 + -0.35, abs=1e-9)
    assert keep[3] == pytest.approx(-5.0 + -0.8, abs=1e-9)
    # n_oov still counts the REWRITTEN corpus tokens
    assert got[1][1] == 1 and got[3][1] == 1 and got[0][1] == 0
    with pytest.raises(ValueError, match="oov_mode"):
        arpa_score(rows, docs, "text", "doc_id", oov_mode="wat")


def test_arpa_oov_rewrite_join_fallback_identical(spark, tmp_path, monkeypatch):
    """The OOV rewrite's two implementations — the default map-side
    broadcast-set pass and the huge-vocab join+reassembly fallback
    (forced here by setting ``_UNK_VOCAB_BROADCAST_MAX`` to 0) — produce
    identical rows, markers on and off (r14 optimization guard)."""
    from krnel_graph_spark.functions import arpa as arpa_mod
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = _load5(spark, tmp_path)
    docs = spark.createDataFrame(_SCORE_DOCS, "doc_id long, text string")

    def run():
        out = {}
        for bos, eos in ((False, False), (True, True)):
            for r in arpa_score(
                rows, docs, "text", "doc_id",
                bos=bos, eos=eos, oov_mode="unk",
            ).collect():
                out[(bos, r.doc_id)] = (r.n_tokens, r.n_oov, r.logprob_sum)
        return out

    fast = run()
    monkeypatch.setattr(arpa_mod, "_UNK_VOCAB_BROADCAST_MAX", 0)
    assert run() == fast


def test_arpa_score_combined_markers_and_unk(spark, tmp_path):
    """The FULL KenLM configuration — bos/eos AND oov_mode='unk'
    together (kenlm.Model.score defaults on an external model). The
    ordering is the semantics: rewrite first, markers after, so
    <s>/</s> are NEVER rewritten to <unk> even when the model omits
    them, and n_oov counts corpus tokens only."""
    from krnel_graph_spark.functions.arpa import arpa_score

    rows = _load5(spark, tmp_path)
    docs = spark.createDataFrame(_SCORE_DOCS, "doc_id long, text string")
    ev = _EvalN(rows.collect(), 5)
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            rows, docs, "text", "doc_id",
            bos=True, eos=True, oov_mode="unk",
        ).collect()
    }
    for i, t in _SCORE_DOCS:
        want = ev.doc(_toks(t), bos=True, eos=True, unk_map=True)
        assert got[i] == pytest.approx(want, abs=1e-9), (i, t)
        assert got[i][0] == len(_toks(t)) + 1

    # markers survive on a model whose VOCABULARY does not list them:
    # drop the <s>/</s> 1-gram entries (keeping the higher-order grams
    # so the model stays order 5 — arpa_score derives its effective
    # order from the listed sections), so a rewrite-after-markers bug
    # would map the markers to <unk> and silently match <unk>-grams;
    # the correct ordering scores them as unlisted surface tokens
    from pyspark.sql import functions as F

    bare = rows.filter(
        (F.col("order") > 1) | ~F.col("w1").isin("<s>", "</s>")
    )
    ev_bare = _EvalN(bare.collect(), 5)
    got_bare = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            bare, docs, "text", "doc_id",
            bos=True, eos=True, oov_mode="unk",
        ).collect()
    }
    for i, t in _SCORE_DOCS:
        want = ev_bare.doc(_toks(t), bos=True, eos=True, unk_map=True)
        assert got_bare[i] == pytest.approx(want, abs=1e-9), (i, t)


def test_write_arpa_null_bow_writes_zero(spark, tmp_path):
    """A loaded model whose lower-order grams omitted their bow (legal
    ARPA) re-exports with the explicit 0.0 form instead of raising."""
    from krnel_graph_spark.functions.arpa import _write_arpa, arpa_load

    src = tmp_path / "nobow.arpa"
    src.write_text(
        "\\data\\\nngram 1=2\nngram 2=1\n\n\\1-grams:\n"
        "-5.000000\t<unk>\n-0.500000\ta\t-0.200000\n\n\\2-grams:\n"
        "-0.300000\ta a\n\n\\end\\\n",
        encoding="utf-8",
    )
    rows = arpa_load(spark, str(src))
    out = str(tmp_path / "rt.arpa")
    _write_arpa(rows, out, 2)
    text = open(out, encoding="utf-8").read()
    assert "-5.000000\t<unk>\t0.000000" in text
    again = arpa_load(spark, out)
    # the omitted bow becomes an explicit 0.0 — semantically identical
    assert again.filter(
        (again["order"] == 1) & (again["w1"] == "<unk>")
    ).collect()[0]["log10_bow"] == 0.0


# --------------------------------------------------------------------- #
# arpa_filter — the KenLM `filter` tool (r14)                            #
# --------------------------------------------------------------------- #


def test_arpa_filter_drops_out_of_vocab_grams(spark, tmp_path):
    """Keep exactly the n-grams whose words all appear in the filter
    corpus's vocabulary; <s>/</s>/<unk> always count as in-vocab."""
    from krnel_graph_spark.functions.arpa import arpa_filter

    rows = _load5(spark, tmp_path)
    corpus = spark.createDataFrame(
        [(0, "a b"), (1, "b a")], "doc_id long, text string"
    )
    got = arpa_filter(rows, corpus, "text").collect()
    kept = {
        tuple(w for w in (r.w1, r.w2, r.w3, r.w4, r.w5) if w is not None)
        for r in got
    }
    # "c" is out of vocabulary: every gram containing it is gone;
    # markers and <unk> survive although the corpus never mentions them
    assert ("a", "b") in kept and ("<s>", "a") in kept
    assert ("<unk>", "b") in kept and ("<unk>",) in kept
    assert ("<s>",) in kept and ("</s>",) in kept
    assert not any("c" in g for g in kept)
    # subset of the full model, nothing mutated
    full = {
        (
            r.order,
            r.w1, r.w2, r.w3, r.w4, r.w5,
            r.log10_p, r.log10_bow,
        )
        for r in rows.collect()
    }
    assert all(
        (
            r.order, r.w1, r.w2, r.w3, r.w4, r.w5, r.log10_p, r.log10_bow,
        )
        in full
        for r in got
    )
    # prefix closure survives: every kept k>1 gram's context is kept
    for g in kept:
        if len(g) > 1:
            assert g[:-1] in kept, g


def test_arpa_filter_score_identity_on_corpus_vocab(spark, tmp_path):
    """The KenLM filter guarantee: any text drawn from the filter
    corpus's vocabulary scores IDENTICALLY against the filtered and
    the full model — in every mode combination."""
    from krnel_graph_spark.functions.arpa import arpa_filter, arpa_score

    rows = _load5(spark, tmp_path)
    corpus = spark.createDataFrame(
        [(0, "a b c"), (1, "c b")], "doc_id long, text string"
    )
    small = arpa_filter(rows, corpus, "text")
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "c a b"), (2, "b"), (3, "a c c b a")],
        "doc_id long, text string",
    )
    for kw in (
        {},
        {"bos": True, "eos": True},
        {"oov_mode": "unk"},
        {"bos": True, "eos": True, "oov_mode": "unk"},
    ):
        want = sorted(
            map(tuple, arpa_score(rows, docs, "text", "doc_id", **kw).collect())
        )
        got = sorted(
            map(tuple, arpa_score(small, docs, "text", "doc_id", **kw).collect())
        )
        assert got == want, kw


def test_arpa_filter_roundtrips_through_file(spark, tmp_path):
    """A filtered frame is a valid standalone model: write_arpa with
    recomputed header counts, load back, exact row identity."""
    from krnel_graph_spark.functions.arpa import (
        _write_arpa,
        arpa_filter,
        arpa_load,
    )

    rows = _load5(spark, tmp_path)
    corpus = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    small = arpa_filter(rows, corpus, "text")
    out = tmp_path / "small.arpa"
    _write_arpa(small, str(out), 5)
    back = arpa_load(spark, str(out))
    assert back.exceptAll(small).count() == 0
    assert small.exceptAll(back).count() == 0
