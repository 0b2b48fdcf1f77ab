"""OpSpec wrappers for the scale surface: fluent API, memoization,
rehydration, and row-id semantics (the contracts that make dedup/chunking
first-class citizens of the content-addressed engine)."""

import pandas as pd
import pytest

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_fluent_dedup_matches_function(lazy_runner, spark):
    from krnel_graph_spark.functions.dedup import drop_exact_dups

    ds = lazy_runner.from_parquet(DOCS)
    op = ds.drop_exact_dups("text")
    got = lazy_runner.to_pandas(op)

    raw = spark.read.parquet(DOCS)
    want_n = drop_exact_dups(raw, "text", "doc_id").count()
    assert len(got) == want_n <= raw.count()
    # survivors keep their original row ids — positional ops still work
    ids = lazy_runner.to_pandas(op.assign_row_id())
    assert len(ids) == want_n


def test_text_stats_enrichment_alignment(lazy_runner):
    ds = lazy_runner.from_parquet(DOCS)
    enriched = ds.text_stats("text")
    pdf = lazy_runner.to_pandas(enriched)
    base = lazy_runner.to_pandas(ds)
    assert len(pdf) == len(base)
    for col in ("n_tok", "n_tok_bpe", "stop_r", "punct_r", "mwl", "quality"):
        assert col in pdf.columns
    # row-aligned: doc_id order identical to the parent export
    assert (pdf["doc_id"].to_numpy() == base["doc_id"].to_numpy()).all()


def test_chunk_docs_ids_deterministic(lazy_runner):
    ds = lazy_runner.from_parquet(DOCS)
    chunks = ds.take(50).chunk_docs("text", chunk_size=16, overlap=4)
    a = lazy_runner.to_pandas(chunks)
    b = lazy_runner.to_pandas(chunks)
    pd.testing.assert_frame_equal(a, b)
    assert {"src_row_id", "chunk_id", "chunk_text"} <= set(a.columns)
    assert a["chunk_id"].max() >= 1  # some doc actually fanned out


def test_dedup_memoized_and_rehydrates(runner):
    ds = runner.from_parquet(DOCS)
    op = ds.take(200).drop_near_dups("text", num_perm=16, bands=4)
    first = runner.to_pandas(op)

    from krnel_graph_spark import SparkRunner
    from krnel_graph_spark.operators.scale_ops import DropNearDupsOp

    fresh = SparkRunner(spark=runner.spark, store_path=runner.store.root_path
                        if hasattr(runner.store, "root_path") else str(runner.store.root))

    # Prove the memoization DIRECTLY (not via wall-clock, which is
    # flaky on loaded machines — the test_skyline_memoized pattern):
    # shadow the dedup implementation with one that raises; a store hit
    # must satisfy the op without ever dispatching to the LSH pipeline.
    def _must_not_run(r, o):
        raise AssertionError("store hit expected — LSH dedup impl re-ran")

    fresh._impl_table = {
        **type(fresh)._impl_table, DropNearDupsOp: _must_not_run
    }
    second = fresh.to_pandas(op)
    pd.testing.assert_frame_equal(first, second)

    # rehydration: the op graph rebuilds from the store by uuid alone
    rebuilt = fresh.uuid_to_op(op.uuid)
    assert type(rebuilt).__name__ == "DropNearDupsOp"
    assert rebuilt.uuid == op.uuid


def test_pipeline_composition(lazy_runner):
    """The r6 point: reference-parity ops and scale ops compose in ONE
    graph — slice, dedup, enrich, chunk — all content-addressed."""
    ds = lazy_runner.from_parquet(DOCS)
    pipe = (
        ds.take(100)
        .drop_exact_dups("text")
        .text_stats("text")
        .chunk_docs("text", chunk_size=32, overlap=8)
    )
    pdf = lazy_runner.to_pandas(pipe)
    assert len(pdf) > 0
    # chunking projects down to (src_row_id, chunk_id, n_tokens, chunk_text)
    # by contract; the enrichment stage exposes quality before the fan-out.
    assert {"chunk_text", "src_row_id", "chunk_id"} <= set(pdf.columns)
    enriched = lazy_runner.to_pandas(
        ds.take(100).drop_exact_dups("text").text_stats("text")
    )
    assert "quality" in enriched.columns
    # identity is stable: same structure -> same uuid
    again = (
        lazy_runner.from_parquet(DOCS)
        .take(100)
        .drop_exact_dups("text")
        .text_stats("text")
        .chunk_docs("text", chunk_size=32, overlap=8)
    )
    assert again.uuid == pipe.uuid
    # ...and parameter changes move it
    other = (
        lazy_runner.from_parquet(DOCS)
        .take(100)
        .drop_exact_dups("text")
        .text_stats("text")
        .chunk_docs("text", chunk_size=64, overlap=8)
    )
    assert other.uuid != pipe.uuid


def test_hash_sample_deterministic_and_pushed(lazy_runner):
    ds = lazy_runner.from_parquet(DOCS)
    s = ds.hash_sample(0.25, seed=3)
    a = lazy_runner.to_pandas(s)
    b = lazy_runner.to_pandas(s)
    pd.testing.assert_frame_equal(a, b)
    n_all = len(lazy_runner.to_pandas(ds))
    assert 0 < len(a) < n_all
    assert abs(len(a) / n_all - 0.25) < 0.1
    # different seed -> different (deterministic) subset
    c = lazy_runner.to_pandas(ds.hash_sample(0.25, seed=4))
    assert not a["doc_id"].equals(c["doc_id"])
    # composes with the rest of the fluent surface
    piped = lazy_runner.to_pandas(s.drop_exact_dups("text").text_stats("text"))
    assert "quality" in piped.columns and len(piped) <= len(a)


def test_decontaminate_against_two_parent(lazy_runner, spark):
    train = lazy_runner.from_parquet(DOCS).take(300)
    test_set = lazy_runner.from_parquet(DOCS).take(40, offset=100)
    clean = train.decontaminate_against(test_set, "text", ngram=8)
    pdf = lazy_runner.to_pandas(clean)
    n_train = len(lazy_runner.to_pandas(train))
    # docs 100-139 are in both slices -> they must be flagged and dropped
    assert len(pdf) <= n_train - 40
    # two-parent identity: changing EITHER side moves the uuid
    other_test = lazy_runner.from_parquet(DOCS).take(40, offset=200)
    assert (
        train.decontaminate_against(other_test, "text", ngram=8).uuid
        != clean.uuid
    )
    assert (
        train.take(200).decontaminate_against(test_set, "text", ngram=8).uuid
        != clean.uuid
    )


def test_ann_topk_fluent(lazy_runner, spark):
    emb = lazy_runner.from_parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.take(5)
    out = lazy_runner.to_pandas(
        emb.ann_topk(queries, "embedding", "vec_id", k=7)
    )
    assert set(out.columns) >= {"query_id", "doc_id", "cosine", "rank"}
    assert (out.groupby("query_id").size() == 7).all()
    assert len(out["query_id"].unique()) == 5
    # dense (query, rank)-ordered ids -> deterministic export order
    again = lazy_runner.to_pandas(emb.ann_topk(queries, "embedding", "vec_id", k=7))
    pd.testing.assert_frame_equal(out, again)
    # matches the direct function call
    from krnel_graph_spark.functions.similarity import cosine_topk

    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    direct = (
        cosine_topk(raw, raw.orderBy("vec_id").limit(5), "embedding", "vec_id", k=7)
        .orderBy("query_id", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        out[["query_id", "doc_id", "cosine", "rank"]], direct
    )


def test_stratified_and_mix_ops(lazy_runner, spark):
    ds = lazy_runner.from_parquet(DOCS)
    base = lazy_runner.to_pandas(ds)
    langs = base["lang"].value_counts().to_dict()
    top2 = sorted(langs, key=langs.get, reverse=True)[:2]

    frac = {top2[0]: 0.5, top2[1]: 1.0}
    s = lazy_runner.to_pandas(ds.stratified_sample("lang", frac))
    got = s["lang"].value_counts().to_dict()
    assert set(got) <= set(top2)  # default_fraction=0 drops the rest
    assert got.get(top2[1], 0) == langs[top2[1]]  # fraction 1.0 keeps all
    assert 0 < got.get(top2[0], 0) < langs[top2[0]]
    # deterministic across runs
    pd.testing.assert_frame_equal(
        s, lazy_runner.to_pandas(ds.stratified_sample("lang", frac))
    )

    mixed = lazy_runner.to_pandas(ds.mix_to_weights("lang", {top2[0]: 3, top2[1]: 1}))
    got_m = mixed["lang"].value_counts().to_dict()
    assert set(got_m) <= set(top2)
    # proportions approximately 3:1 (Bernoulli wobble allowed)
    ratio = got_m[top2[0]] / max(1, got_m[top2[1]])
    assert 1.8 < ratio < 4.5, got_m
    # uuid sensitivity on the weights dict
    assert (
        ds.mix_to_weights("lang", {top2[0]: 3, top2[1]: 1}).uuid
        != ds.mix_to_weights("lang", {top2[0]: 2, top2[1]: 1}).uuid
    )


def test_pii_scrub_and_group_cap_ops(lazy_runner, spark):
    import numpy as np

    ds = lazy_runner.from_parquet(DOCS)
    scrubbed = lazy_runner.to_pandas(ds.pii_scrub("text"))
    base = lazy_runner.to_pandas(ds)
    assert len(scrubbed) == len(base)
    assert list(scrubbed.columns) == list(base.columns)  # in-place rewrite
    # inline dataset with planted PII proves the redaction path
    inline = lazy_runner.from_inline_dataset(
        {"t": ["mail me at a@b.com", "ssn 123-45-6789", "clean"]}
    )
    out = lazy_runner.to_pandas(inline.pii_scrub("t"))["t"].tolist()
    assert out[0] == "mail me at <EMAIL>"
    assert "<SSN>" in out[1]
    assert out[2] == "clean"

    capped = lazy_runner.to_pandas(ds.group_cap("lang", 5, "doc_id"))
    counts = capped["lang"].value_counts()
    assert (counts <= 5).all()
    # deterministic and uuid-sensitive
    again = lazy_runner.to_pandas(ds.group_cap("lang", 5, "doc_id"))
    assert np.array_equal(
        capped["doc_id"].to_numpy(), again["doc_id"].to_numpy()
    )
    assert ds.group_cap("lang", 5, "doc_id").uuid != ds.group_cap(
        "lang", 6, "doc_id"
    ).uuid


def test_full_fluent_pretraining_pipeline(lazy_runner):
    """The complete curation chain as ONE content-addressed graph:
    sample -> dedup -> decontaminate -> scrub -> cap -> enrich -> chunk
    -> pack. Every stage is a memoizable op; pack ids respect the token
    budget in expectation."""
    docs = lazy_runner.from_parquet(DOCS)
    heldout = docs.take(30, offset=400)
    pipe = (
        docs.hash_sample(0.8, seed=1)
        .drop_exact_dups("text")
        .decontaminate_against(heldout, "text", ngram=8)
        .pii_scrub("text")
        .group_cap("lang", 200, "doc_id")
        .text_stats("text")
        .chunk_docs("text", chunk_size=64, overlap=8)
        .sequence_pack("__row_id", "n_tokens", budget=256)
    )
    pdf = lazy_runner.to_pandas(pipe)
    assert len(pdf) > 0
    assert {"pack_id", "n_tokens", "chunk_text"} <= set(pdf.columns)
    # offset packing: cumulative tokens of pack k start below (k+1)*budget
    tot = pdf.sort_values(["src_row_id", "chunk_id"])
    csum = tot["n_tokens"].cumsum() - tot["n_tokens"]
    assert ((csum // 256) == tot["pack_id"]).all()
    # stable identity end-to-end
    assert pipe.uuid == (
        docs.hash_sample(0.8, seed=1)
        .drop_exact_dups("text")
        .decontaminate_against(heldout, "text", ngram=8)
        .pii_scrub("text")
        .group_cap("lang", 200, "doc_id")
        .text_stats("text")
        .chunk_docs("text", chunk_size=64, overlap=8)
        .sequence_pack("__row_id", "n_tokens", budget=256)
    ).uuid


def test_token_entropy_op_row_aligned(lazy_runner):
    ds = lazy_runner.from_parquet(DOCS)
    pdf = lazy_runner.to_pandas(ds.token_entropy("text"))
    base = lazy_runner.to_pandas(ds)
    assert len(pdf) == len(base)
    assert {"n_tokens", "n_types", "entropy"} <= set(pdf.columns)
    assert (pdf["doc_id"].to_numpy() == base["doc_id"].to_numpy()).all()
    # real corpus has no blank docs -> fully populated
    assert pdf["entropy"].notna().all()


def test_paragraph_dedup_op_filters_and_rewrites(lazy_runner, spark):
    import pyspark.sql.functions as F

    # Synthesize paragraph structure: shared banner + unique body.
    src = spark.read.parquet(DOCS).limit(50).select(
        "doc_id",
        F.concat_ws("\n", F.lit("BANNER"), "text").alias("text"),
        "lang",
    )
    path = "/tmp/para_op_src.parquet"
    src.write.mode("overwrite").parquet(path)
    ds = lazy_runner.from_parquet(path)
    out = lazy_runner.to_pandas(ds.paragraph_dedup("text"))
    assert {"text", "n_paras", "n_kept", "lang", "doc_id"} <= set(out.columns)
    # exactly one survivor still holds the banner paragraph
    assert int(out["text"].str.contains("BANNER").sum()) == 1
    assert (out["n_paras"] == 2).all()
    # uuid is sensitive to the separator parameter
    assert ds.paragraph_dedup("text").uuid != ds.paragraph_dedup(
        "text", sep="\r\n"
    ).uuid


def test_dsir_weights_op_two_parent(lazy_runner):
    raw = lazy_runner.from_parquet(DOCS).take(200)
    target = lazy_runner.from_parquet(DOCS).take(50, offset=300)
    scored = raw.dsir_weights(target, "text", buckets=4096)
    pdf = lazy_runner.to_pandas(scored)
    assert len(pdf) == 200
    assert {"n_grams", "dsir_logw"} <= set(pdf.columns)
    assert pdf["dsir_logw"].notna().all()
    # two-parent identity: either side moves the uuid
    other = lazy_runner.from_parquet(DOCS).take(50, offset=100)
    assert raw.dsir_weights(other, "text", buckets=4096).uuid != scored.uuid
    assert (
        raw.take(100).dsir_weights(target, "text", buckets=4096).uuid
        != scored.uuid
    )
    # and to the bucket count
    assert raw.dsir_weights(target, "text", buckets=2048).uuid != scored.uuid


def test_compression_signals_op_row_aligned(lazy_runner):
    import zlib

    ds = lazy_runner.from_parquet(DOCS).take(40)
    pdf = lazy_runner.to_pandas(ds.compression_signals("text"))
    assert len(pdf) == 40
    assert {"n_bytes", "n_zlib"} <= set(pdf.columns)
    r = pdf.iloc[0]
    raw = r["text"].encode("utf-8")
    assert (r["n_bytes"], r["n_zlib"]) == (len(raw), len(zlib.compress(raw, 6)))
    # level is part of the identity
    assert ds.compression_signals("text").uuid != ds.compression_signals(
        "text", level=9
    ).uuid


def test_ngram_coverage_op_two_parent(lazy_runner):
    corpus = lazy_runner.from_parquet(DOCS).take(300)
    evals = lazy_runner.from_parquet(DOCS).take(30, offset=100)
    scored = evals.ngram_coverage(corpus, "text", ngram=8)
    pdf = lazy_runner.to_pandas(scored)
    assert len(pdf) == 30
    # the eval slice is inside the corpus slice -> full coverage
    ok = pdf.dropna(subset=["n_grams"])
    assert (ok["n_hit"] == ok["n_grams"]).all() and len(ok) > 0
    # two-parent identity
    other = lazy_runner.from_parquet(DOCS).take(30, offset=400)
    assert evals.ngram_coverage(other, "text", ngram=8).uuid != scored.uuid
    assert evals.ngram_coverage(corpus, "text", ngram=5).uuid != scored.uuid


def test_cdc_dedup_op_row_aligned(lazy_runner):
    ds = lazy_runner.from_parquet(DOCS)
    pdf = lazy_runner.to_pandas(ds.cdc_dedup("text"))
    base = lazy_runner.to_pandas(ds)
    assert len(pdf) == len(base)
    assert {
        "n_chunks", "n_dup_chunks", "n_tokens", "dup_token_fraction"
    } <= set(pdf.columns)
    assert (pdf["doc_id"].to_numpy() == base["doc_id"].to_numpy()).all()
    assert (pdf["n_dup_chunks"] <= pdf["n_chunks"]).all()
    assert pdf["dup_token_fraction"].between(0, 1).all()
    # uuid sensitive to the cut parameters
    assert ds.cdc_dedup("text").uuid == ds.cdc_dedup("text").uuid
    assert ds.cdc_dedup("text").uuid != ds.cdc_dedup("text", modulus=32).uuid


def test_skyline_memoized_and_rehydrates(runner):
    """r11 twins inherit the full content-address contract: store hit
    skips the two-phase prune, and the op graph rebuilds by uuid."""
    ds = runner.from_parquet(DOCS)
    op = ds.skyline_select({"n_chars": "max"})
    first = runner.to_pandas(op)

    from krnel_graph_spark import SparkRunner
    from krnel_graph_spark.operators.scale_ops import SkylineSelectOp

    fresh = SparkRunner(
        spark=runner.spark,
        store_path=runner.store.root_path
        if hasattr(runner.store, "root_path")
        else str(runner.store.root),
    )

    # Prove the memoization DIRECTLY (not via wall-clock, which is
    # flaky on loaded machines): shadow the skyline implementation on
    # this runner instance with one that raises — a store hit must
    # satisfy the op without ever dispatching to it.
    def _must_not_run(r, o):
        raise AssertionError("store hit expected — skyline impl re-ran")

    fresh._impl_table = {
        **type(fresh)._impl_table, SkylineSelectOp: _must_not_run
    }
    second = fresh.to_pandas(op)
    pd.testing.assert_frame_equal(first, second)
    rebuilt = fresh.uuid_to_op(op.uuid)
    assert type(rebuilt).__name__ == "SkylineSelectOp"
    assert rebuilt.uuid == op.uuid
    # criteria dict participates in the content address
    assert op.uuid != ds.skyline_select({"n_chars": "min"}).uuid


def test_kneser_ney_two_parent_rehydrates(runner):
    ds = runner.from_parquet(DOCS)
    train = ds.take(100)
    op = ds.take(200).kneser_ney_score(train, "text")
    pdf = runner.to_pandas(op)
    assert {"n_tokens", "n_oov", "logprob_sum"} <= set(pdf.columns)

    from krnel_graph_spark import SparkRunner

    fresh = SparkRunner(
        spark=runner.spark,
        store_path=runner.store.root_path
        if hasattr(runner.store, "root_path")
        else str(runner.store.root),
    )
    rebuilt = fresh.uuid_to_op(op.uuid)
    assert type(rebuilt).__name__ == "KneserNeyScoreOp"
    assert rebuilt.uuid == op.uuid
    # both parents content-address the result
    assert op.uuid != ds.take(200).kneser_ney_score(ds.take(150), "text").uuid


EMB = DOCS.replace("documents.parquet", "embeddings.parquet")


def _docs(r):
    return r.from_parquet(DOCS).take(60)


def _calibration(r):
    scores = [round((i * 37 % 100) / 100, 2) for i in range(40)]
    data = {"score": scores, "label": [int(s > 0.4) for s in scores]}
    return r.from_inline_dataset(data).calibration_bins("score", "label", bins=5)


def _ann(r):
    emb = r.from_parquet(EMB).take(20)
    return emb.ann_topk(emb.take(3), "embedding", "vec_id", k=2)


# Every scale op, by the row shape of its result (see runners/scale_impl.py).
_SCALE_OPS = {
    "drop_exact_dups": ("subset", lambda r: _docs(r).drop_exact_dups("text")),
    "drop_near_dups": (
        "subset", lambda r: _docs(r).drop_near_dups("text", num_perm=16, bands=4)
    ),
    "hash_sample": ("subset", lambda r: _docs(r).hash_sample(0.5, seed=1)),
    "decontaminate_against": (
        "subset",
        lambda r: _docs(r).decontaminate_against(
            r.from_parquet(DOCS).take(10), "text", ngram=8
        ),
    ),
    "stratified_sample": (
        "subset", lambda r: _docs(r).stratified_sample("lang", {"en": 0.5, "fr": 1.0})
    ),
    "mix_to_weights": (
        "subset", lambda r: _docs(r).mix_to_weights("lang", {"en": 2, "fr": 1})
    ),
    "group_cap": ("subset", lambda r: _docs(r).group_cap("lang", 5, "doc_id")),
    "paragraph_dedup": ("subset", lambda r: _docs(r).paragraph_dedup("text")),
    "skyline_select": ("subset", lambda r: _docs(r).skyline_select({"n_chars": "max"})),
    "text_stats": ("enrichment", lambda r: _docs(r).text_stats("text")),
    "pii_scrub": ("enrichment", lambda r: _docs(r).pii_scrub("text")),
    "sequence_pack": (
        "enrichment",
        lambda r: _docs(r).text_stats("text").sequence_pack(
            "__row_id", "n_tok", budget=256
        ),
    ),
    "cdc_dedup": ("enrichment", lambda r: _docs(r).cdc_dedup("text")),
    "span_corruption": ("enrichment", lambda r: _docs(r).span_corruption("text")),
    "dedup_weights": (
        "enrichment", lambda r: _docs(r).dedup_weights("text", num_perm=16, bands=4)
    ),
    "gopher_rules": ("enrichment", lambda r: _docs(r).gopher_rules("text")),
    "c4_rules": ("enrichment", lambda r: _docs(r).c4_rules("text")),
    "token_entropy": ("enrichment", lambda r: _docs(r).token_entropy("text")),
    "dsir_weights": (
        "enrichment",
        lambda r: _docs(r).dsir_weights(r.from_parquet(DOCS).take(20), "text", buckets=4096),
    ),
    "compression_signals": ("enrichment", lambda r: _docs(r).compression_signals("text")),
    "ngram_coverage": (
        "enrichment",
        lambda r: _docs(r).ngram_coverage(r.from_parquet(DOCS).take(20), "text"),
    ),
    "kneser_ney_score": (
        "enrichment",
        lambda r: _docs(r).kneser_ney_score(r.from_parquet(DOCS).take(20), "text"),
    ),
    "kneser_ney3_score": (
        "enrichment",
        lambda r: _docs(r).kneser_ney3_score(r.from_parquet(DOCS).take(20), "text"),
    ),
    "ann_topk": ("fresh", _ann),
    "winnow_pairs": ("fresh", lambda r: _docs(r).winnow_pairs("text", min_shared=1)),
    "calibration_bins": ("fresh", _calibration),
    "pmi_collocations": (
        "fresh", lambda r: _docs(r).pmi_collocations("text", min_count=2, top_k=20)
    ),
    "chunk_docs": ("fan-out", lambda r: _docs(r).chunk_docs("text", chunk_size=16, overlap=4)),
}

# One op per shape also checks that a store hit plans like its compute.
_STORE_CHECKED = {"text_stats", "drop_exact_dups", "calibration_bins"}


@pytest.fixture(scope="module")
def module_runner(spark):
    from krnel_graph_spark import SparkRunner

    return SparkRunner(spark=spark)


def test_every_scale_op_is_in_the_row_contract(module_runner):
    from krnel_graph_spark.operators import scale_ops
    from krnel_graph_spark.types import DatasetType

    covered = {type(build(module_runner)) for _, build in _SCALE_OPS.values()}
    defined = {
        cls for cls in vars(scale_ops).values()
        if isinstance(cls, type) and issubclass(cls, DatasetType)
        and cls.__module__ == scale_ops.__name__
    }
    assert covered == defined


def _row_ids(runner, op) -> list:
    df = runner.dataframe(op, keep_row_id=True).select("__row_id")
    return sorted(row[0] for row in df.collect())


@pytest.mark.parametrize("name", sorted(_SCALE_OPS))
def test_scale_op_row_contract(module_runner, spark, tmp_path, name):
    """Each scale op's plan tells the truth about its rows:

    * a slice by row position equals the same slice of the full export
      (a wrong ``dense`` claim picks the wrong rows);
    * an enrichment keeps every input row id and the input's density, a
      subset keeps original ids and is not dense, and a fresh-id table
      has ids exactly 0..n-1;
    * for one op of each shape, a store hit from a fresh runner plans
      the same facts as the compute that wrote it, and exports the same.
    """
    from krnel_graph_spark import SparkRunner

    shape, build = _SCALE_OPS[name]
    r = module_runner
    op = build(r)
    full = r.dataframe(op, keep_row_id=True).orderBy("__row_id").toPandas()
    ids = full.pop("__row_id").tolist()
    sliced = r.to_pandas(op.take(3, offset=1))
    pd.testing.assert_frame_equal(sliced, full.iloc[1:4].reset_index(drop=True))

    dense = r.dataset_plan(op).dense
    if shape == "enrichment":
        assert ids == _row_ids(r, op.dataset)
        assert dense == r.dataset_plan(op.dataset).dense
    elif shape == "subset":
        assert set(ids) <= set(_row_ids(r, op.dataset)) and not dense
    elif shape == "fresh":
        assert ids == list(range(len(full))) and dense

    if name in _STORE_CHECKED:
        store = str(tmp_path / "store")
        writer = SparkRunner(spark=spark, store_path=store)
        computed = writer.dataset_plan(op)
        hit = SparkRunner(spark=spark, store_path=store)
        assert hit.store.is_done(op.uuid)
        assert hit.dataset_plan(op).dense == computed.dense == dense
        pd.testing.assert_frame_equal(hit.to_pandas(op), full)
