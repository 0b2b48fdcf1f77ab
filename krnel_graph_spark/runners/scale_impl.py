"""Lowerings of the scale-surface ops (``operators/scale_ops.py``).

Each op's result has one of four row shapes, and each shape decides its
row facts (``plan.py``) in one way:

- **subset** (dedup, samples, caps, decontamination, skyline): the
  surviving rows keep their ORIGINAL ids, like ``MaskRowsOp``; not dense;
- **enrichment** (text stats, rule bundles, per-row signals): every input
  row is kept with its id and density, and new columns are appended,
  either as expressions over the parent or by :func:`_join_back`;
- **fresh-id table** (top-k, pair and bin tables, bounded by contract):
  new dense ids 0..n-1 in a deterministic order (:func:`_fresh_ids`);
- **fan-out** (chunking): a deterministic new id per output row,
  ``parent_id * 2^20 + chunk_id``; not dense.

The implementations register on ``SparkRunner`` when this module is
imported, which ``spark_runner.py`` does at its end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import pin, pin_scope
from ..operators.scale_ops import (
    AnnTopKOp,
    C4RulesOp,
    CalibrationBinsOp,
    CdcChunkDedupOp,
    ChunkDocumentsOp,
    CompressionSignalsOp,
    DecontaminateAgainstOp,
    DedupWeightsOp,
    DropExactDupsOp,
    DropNearDupsOp,
    DsirWeightsOp,
    GopherRulesOp,
    GroupCapOp,
    HashSampleOp,
    KneserNey3ScoreOp,
    KneserNeyScoreOp,
    MixToWeightsOp,
    NgramCoverageOp,
    ParagraphDedupOp,
    PiiScrubOp,
    PmiCollocationsOp,
    SequencePackOp,
    SkylineSelectOp,
    SpanCorruptionOp,
    StratifiedSampleOp,
    TextStatsOp,
    TokenEntropyOp,
    WinnowPairsOp,
)
from .plan import ROW_ID, DatasetPlan
from .spark_runner import SparkRunner


def _fresh_ids(df: DataFrame, *order) -> DatasetPlan:
    """A new table: fresh dense row ids 0..n-1 in ``order``. The global
    window runs in one task, so only for results bounded by contract
    (top-k, pair and bin tables)."""
    w = Window.orderBy(*order)
    out = df.select((F.row_number().over(w) - 1).cast("long").alias(ROW_ID), "*")
    return DatasetPlan(df=out, dense=True)


def _join_back(ds: DatasetPlan, per_row: DataFrame, how: str = "inner") -> DatasetPlan:
    """An enrichment: ``per_row``'s columns, keyed on ``__row_id``, joined
    back onto ``ds``'s columns. The rows, their ids and density stay
    ``ds``'s, so ``per_row`` must report every input row for an inner
    join; a left join keeps rows without a report, with nulls."""
    return DatasetPlan(df=ds.df.join(per_row, ROW_ID, how), dense=ds.dense)


@SparkRunner.implementation
def drop_exact_dups_op(runner: SparkRunner, op: DropExactDupsOp) -> DatasetPlan:
    """Scale-surface dedup as a memoized op: keep the min-row-id row per
    normalized-text fingerprint (``functions/dedup.py:drop_exact_dups``
    keyed on the engine row id — "first occurrence wins", positionally).
    Survivors keep their ORIGINAL ids, like a mask (dense=False)."""
    from ..functions.dedup import drop_exact_dups as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(ds.df, op.text_column, ROW_ID)
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def drop_near_dups_op(runner: SparkRunner, op: DropNearDupsOp) -> DatasetPlan:
    """MinHash-LSH near-dedup as a memoized op (the expensive pipeline
    step content-addressing exists for). Survivors keep original ids."""
    from ..functions.dedup import drop_near_dups as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df,
        op.text_column,
        ROW_ID,
        num_perm=op.num_perm,
        bands=op.bands,
        shingle_k=op.shingle_k,
        jaccard_threshold=op.jaccard_threshold,
        keep_by=op.keep_by,
    )
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def text_stats_op(runner: SparkRunner, op: TextStatsOp) -> DatasetPlan:
    """Row-aligned text-quality enrichment: appends n_tok / n_tok_bpe /
    stop_r / punct_r / mwl / quality as pure codegen expressions fused
    into the parent plan; ids and density are preserved."""
    from ..functions import text as tx

    ds = runner.dataset_plan(op.dataset)
    c = op.text_column
    out = ds.df.select(
        "*",
        tx.token_count(c).alias("n_tok"),
        tx.regex_token_count(c).alias("n_tok_bpe"),
        F.round(tx.stopword_ratio(c), 6).alias("stop_r"),
        F.round(tx.punct_ratio(c), 6).alias("punct_r"),
        F.round(tx.mean_word_length(c), 6).alias("mwl"),
        F.round(tx.quality_score(c), 6).alias("quality"),
    )
    return DatasetPlan(df=out, dense=ds.dense)


@SparkRunner.implementation
def chunk_documents_op(runner: SparkRunner, op: ChunkDocumentsOp) -> DatasetPlan:
    """Zero-shuffle chunk fan-out. New deterministic row ids:
    ``parent_id * 2^20 + chunk_id`` (1M chunks/doc bound, asserted), so
    exports reproduce without a global sort; the parent id rides along as
    ``src_row_id`` for joins back to the document."""
    from ..functions.text import chunk_documents as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(ds.df, op.text_column, ROW_ID, op.chunk_size, op.overlap)
    out = out.withColumnRenamed(ROW_ID, "src_row_id").select(
        (
            F.col("src_row_id") * F.lit(1 << 20)
            + F.when(
                F.col("chunk_id") < (1 << 20), F.col("chunk_id")
            ).otherwise(
                F.raise_error(
                    F.lit("chunk_documents op: > 2^20 chunks in one document")
                )
            )
        ).alias(ROW_ID),
        "*",
    )
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def hash_sample_op(runner: SparkRunner, op: HashSampleOp) -> DatasetPlan:
    """Deterministic Bernoulli sample on the row-id hash: a scan-side
    filter that pushes down, keeps original ids (dense=False), and picks
    identical rows under any partitioning or engine."""
    from ..functions.sampling import hash_sample as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(ds.df, ROW_ID, op.fraction, seed=op.seed)
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def decontaminate_against_op(
    runner: SparkRunner, op: DecontaminateAgainstOp
) -> DatasetPlan:
    """Two-parent decontamination: digest-join the train shingles against
    the eval set's distinct gram digests, drop flagged rows via
    left_anti. Survivors keep original ids (dense=False)."""
    from ..functions.curation import decontaminate as _impl

    train = runner.dataset_plan(op.dataset)
    test = runner.dataset_plan(op.against)
    flagged = _impl(
        train.df,
        test.df.select(F.col(op.against_column).alias(op.text_column)),
        op.text_column,
        ROW_ID,
        n=op.ngram,
    ).select(ROW_ID)
    out = train.df.join(flagged, ROW_ID, "left_anti")
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def ann_topk_op(runner: SparkRunner, op: AnnTopKOp) -> DatasetPlan:
    """Two-parent exact cosine top-k (queries broadcast). Fresh dense row
    ids in (query, rank) order — legal because the result is bounded by
    contract (|queries| x k), the same contract as the rrf/top-k frames."""
    from ..functions.similarity import cosine_topk as _impl

    corpus = runner.dataset_plan(op.dataset)
    queries = runner.dataset_plan(op.queries)
    out = _impl(
        corpus.df.select(op.id_column, op.vector_column),
        queries.df.select(op.id_column, op.vector_column),
        op.vector_column,
        op.id_column,
        k=op.k,
    )
    return _fresh_ids(out, "query_id", "rank")


@SparkRunner.implementation
def stratified_sample_op(
    runner: SparkRunner, op: StratifiedSampleOp
) -> DatasetPlan:
    """Per-stratum md5-bucket downsampling keyed on the row id — one
    scan-side predicate, survivors keep original ids."""
    from ..functions.sampling import stratified_sample as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df, op.strata_column, dict(op.fractions), ROW_ID,
        seed=op.seed, default_fraction=op.default_fraction,
    )
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def mix_to_weights_op(runner: SparkRunner, op: MixToWeightsOp) -> DatasetPlan:
    """Integer-exact corpus mixing: one stratum-count agg (collects
    #strata rows — human-sized), then the stratified-sample predicate."""
    from ..functions.sampling import mix_to_weights as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(ds.df, op.strata_column, dict(op.weights), ROW_ID, seed=op.seed)
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def pii_scrub_op(runner: SparkRunner, op: PiiScrubOp) -> DatasetPlan:
    """Row-aligned PII redaction of ``text_column`` in place; ids and
    density preserved (an enrichment-style rewrite, not a filter)."""
    from ..functions.curation import pii_scrub as _impl

    ds = runner.dataset_plan(op.dataset)
    out = ds.df.withColumn(
        op.text_column, _impl(op.text_column, tuple(op.kinds))
    )
    return DatasetPlan(df=out, dense=ds.dense)


@SparkRunner.implementation
def group_cap_op(runner: SparkRunner, op: GroupCapOp) -> DatasetPlan:
    """Deterministic per-key cap: the engine row id rides as the final
    tiebreaker so the kept set is unique; survivors keep original ids."""
    from ..functions.curation import group_cap as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df, list(op.key_columns), op.n, list(op.order_by) + [ROW_ID]
    )
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def sequence_pack_op(runner: SparkRunner, op: SequencePackOp) -> DatasetPlan:
    """Offset packing as a row-aligned enrichment (adds n_tokens +
    pack_id); ids and density preserved. partition_by is the scale path —
    without it the global-order window is single-task (result-set frames
    only, same contract as the function)."""
    from ..functions.curation import sequence_pack as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df, op.order_by, op.token_column, op.budget,
        partition_by=op.partition_by,
    )
    return DatasetPlan(df=out, dense=ds.dense)


@SparkRunner.implementation
def paragraph_dedup_op(runner: SparkRunner, op: ParagraphDedupOp) -> DatasetPlan:
    """Corpus-wide paragraph dedup keyed on the engine row id: the
    deduped text replaces ``text_column`` (with n_paras/n_kept appended),
    non-text parent columns ride along via a row-id equi-join, and docs
    whose every paragraph was boilerplate disappear (dense=False)."""
    from ..functions.curation import paragraph_dedup as _impl

    ds = runner.dataset_plan(op.dataset)
    deduped = _impl(
        ds.df.select(ROW_ID, op.text_column), op.text_column, ROW_ID,
        sep=op.sep,
    ).withColumnRenamed("text", op.text_column)
    out = ds.df.drop(op.text_column).join(deduped, ROW_ID)
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def cdc_chunk_dedup_op(runner: SparkRunner, op: CdcChunkDedupOp) -> DatasetPlan:
    """CDC dedup-signal enrichment keyed on the engine row id: the
    per-row chunk/dup counters join back onto the parent's columns;
    every input row reports (blank docs as zeros), so ids and density
    are preserved."""
    from ..functions.dedup import cdc_chunk_dedup as _impl

    ds = runner.dataset_plan(op.dataset)
    rep = _impl(
        ds.df.select(ROW_ID, op.text_column),
        op.text_column,
        ROW_ID,
        window=op.window,
        modulus=op.modulus,
    )
    return _join_back(ds, rep)


@SparkRunner.implementation
def winnow_pairs_op(runner: SparkRunner, op: WinnowPairsOp) -> DatasetPlan:
    """Winnowing pair mining keyed on the engine row id; the result is
    a bounded pair table, so fresh dense row ids in (doc_a, doc_b)
    order (the AnnTopKOp contract)."""
    from ..functions.dedup import winnow_pairs as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df.select(ROW_ID, op.text_column),
        op.text_column,
        ROW_ID,
        k=op.k,
        w=op.w,
        min_shared=op.min_shared,
        max_doc_freq=op.max_doc_freq,
    )
    return _fresh_ids(out, "doc_a", "doc_b")


@SparkRunner.implementation
def span_corruption_op(runner: SparkRunner, op: SpanCorruptionOp) -> DatasetPlan:
    """T5 denoising-pair enrichment keyed on the engine row id: the
    (inputs, targets) columns join back onto the parent's columns;
    every input row reports, so ids and density are preserved."""
    from ..functions.curation import span_corruption_text as _impl

    ds = runner.dataset_plan(op.dataset)
    rep = _impl(
        ds.df.select(ROW_ID, op.text_column),
        op.text_column,
        ROW_ID,
        noise_density=op.noise_density,
        mean_span=op.mean_span,
        seed=op.seed,
    )
    return _join_back(ds, rep)


@SparkRunner.implementation
def dedup_weights_op(runner: SparkRunner, op: DedupWeightsOp) -> DatasetPlan:
    """Soft-dedup enrichment keyed on the engine row id: the
    (cluster_size, weight) table — pair-graph-sized, broadcast — joins
    back onto the parent's columns; every input row reports (singletons
    weight 1.0), so ids and density are preserved."""
    from ..functions.dedup import dedup_weights as _impl

    ds = runner.dataset_plan(op.dataset)
    rep = _impl(
        ds.df.select(ROW_ID, op.text_column),
        op.text_column,
        ROW_ID,
        num_perm=op.num_perm,
        bands=op.bands,
        jaccard_threshold=op.jaccard_threshold,
        mode=op.mode,
    )
    return _join_back(ds, rep)


@SparkRunner.implementation
def gopher_rules_op(runner: SparkRunner, op: GopherRulesOp) -> DatasetPlan:
    """Gopher rule-bundle enrichment: one codegen projection appended in
    place — no join, ids and density preserved."""
    from ..functions.text import gopher_rules as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df, op.text_column,
        min_words=op.min_words, max_words=op.max_words,
        min_mwl=op.min_mwl, max_mwl=op.max_mwl,
    )
    return DatasetPlan(df=out, dense=ds.dense)


@SparkRunner.implementation
def c4_rules_op(runner: SparkRunner, op: C4RulesOp) -> DatasetPlan:
    """C4 cleaning enrichment: one codegen projection appended in place
    (clean_text + counters + verdict) — no join, ids and density
    preserved."""
    from ..functions.text import c4_rules as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(
        ds.df, op.text_column,
        min_line_words=op.min_line_words, min_sentences=op.min_sentences,
    )
    return DatasetPlan(df=out, dense=ds.dense)


@SparkRunner.implementation
def token_entropy_op(runner: SparkRunner, op: TokenEntropyOp) -> DatasetPlan:
    """Lexical-diversity enrichment: n_tokens/n_types/entropy left-joined
    back on the row id so blank docs survive with nulls — ids and density
    preserved."""
    from ..functions.text import token_entropy as _impl

    ds = runner.dataset_plan(op.dataset)
    stats = _impl(ds.df.select(ROW_ID, op.text_column), op.text_column, ROW_ID)
    return _join_back(ds, stats, "left")


@SparkRunner.implementation
def dsir_weights_op(runner: SparkRunner, op: DsirWeightsOp) -> DatasetPlan:
    """Two-parent DSIR enrichment: raw corpus scored against the target
    parent's hashed-n-gram distribution; n_grams/dsir_logw left-joined
    back on the row id (blank docs null). Both parents content-address
    the result."""
    from ..functions.text import dsir_weights as _impl

    raw = runner.dataset_plan(op.dataset)
    target = runner.dataset_plan(op.target)
    weights = _impl(
        raw.df.select(ROW_ID, op.text_column),
        target.df.select(
            ROW_ID, F.col(op.target_column).alias(op.text_column)
        ),
        op.text_column,
        ROW_ID,
        buckets=op.buckets,
        smoothing=op.smoothing,
    )
    return _join_back(raw, weights, "left")


@SparkRunner.implementation
def compression_signals_op(
    runner: SparkRunner, op: CompressionSignalsOp
) -> DatasetPlan:
    """zlib-compressibility enrichment: n_bytes/n_zlib from the single
    Arrow stage, left-joined back on the row id — ids and density
    preserved."""
    from ..functions.text import compression_signals as _impl

    ds = runner.dataset_plan(op.dataset)
    stats = _impl(
        ds.df.select(ROW_ID, op.text_column), op.text_column, ROW_ID,
        level=op.level,
    )
    return _join_back(ds, stats, "left")


@SparkRunner.implementation
def ngram_coverage_op(runner: SparkRunner, op: NgramCoverageOp) -> DatasetPlan:
    """Two-parent contamination-coverage enrichment: this dataset is the
    eval suite, ``corpus`` the training side; n_grams/n_hit left-joined
    back on the row id (nulls for rows with < n tokens)."""
    from ..functions.curation import ngram_coverage as _impl

    ds = runner.dataset_plan(op.dataset)
    corpus = runner.dataset_plan(op.corpus)
    cov = _impl(
        corpus.df.select(F.col(op.corpus_column).alias(op.text_column)),
        ds.df.select(ROW_ID, op.text_column),
        op.text_column,
        ROW_ID,
        n=op.ngram,
    )
    return _join_back(ds, cov, "left")


@SparkRunner.implementation
def skyline_select_op(runner: SparkRunner, op: SkylineSelectOp) -> DatasetPlan:
    """Pareto-frontier selection as a memoized op: survivors keep their
    ORIGINAL row ids (mask semantics, dense=False). The frontier is a
    partition-invariant row SET (sampling.py:skyline_select), so the
    content-addressed result reproduces on any layout or retry."""
    from ..functions.sampling import skyline_select as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(ds.df, dict(op.criteria), chunk=op.chunk)
    return DatasetPlan(df=out, dense=False)


@SparkRunner.implementation
def calibration_bins_op(
    runner: SparkRunner, op: CalibrationBinsOp
) -> DatasetPlan:
    """Reliability-curve aggregate: a bounded ``bins``-row table, fresh
    dense row ids in bin order (the bounded-aggregate contract)."""
    from ..functions.metrics import calibration_bins as _impl

    ds = runner.dataset_plan(op.dataset)
    out = _impl(ds.df, op.score_column, op.label_column, bins=op.bins)
    return _fresh_ids(out, "bin")


@SparkRunner.implementation
def pmi_collocations_op(
    runner: SparkRunner, op: PmiCollocationsOp
) -> DatasetPlan:
    """PMI collocation mining: a bounded top-k table, fresh dense row
    ids in the deterministic (pmi desc, w1, w2) rank order.

    The result is top_k rows by construction, so the op path pins it
    eagerly (executor-side, no driver round-trip) inside a
    ``pin_scope`` that releases the two vocab-sized count tables on
    exit, on the error path too — repeated PmiCollocationsOp runs over
    different corpora in one long-lived session do not accumulate
    cached tables."""
    from ..functions.text import pmi_collocations as _impl

    ds = runner.dataset_plan(op.dataset)
    with pin_scope() as scope:
        scored = _impl(
            ds.df, op.text_column, min_count=op.min_count, top_k=op.top_k
        )
        scored = scope.keep(pin(scored, eager=True))
    return _fresh_ids(scored, F.col("pmi").desc(), "w1", "w2")


@SparkRunner.implementation
def kneser_ney_score_op(
    runner: SparkRunner, op: KneserNeyScoreOp
) -> DatasetPlan:
    """Two-parent Kneser-Ney enrichment: this dataset scored against the
    train parent's count tables; n_tokens/n_oov/logprob_sum left-joined
    back on the row id (blank docs null). Both parents content-address
    the result.

    The op path eagerly pins the NARROW scores frame (4 columns per
    doc) inside a ``pin_scope`` that releases the trainer's vocab²-sized
    count tables on exit, on the error path too — repeated LM ops over
    different corpora in one session must not accumulate cached
    tables."""
    from ..functions.text import kneser_ney_score as _score
    from ..functions.text import kneser_ney_train as _train

    ds = runner.dataset_plan(op.dataset)
    train = runner.dataset_plan(op.train)
    with pin_scope() as scope:
        lm = _train(
            train.df.select(
                ROW_ID, F.col(op.train_column).alias(op.text_column)
            ),
            op.text_column,
        )
        scores = _score(
            lm, ds.df.select(ROW_ID, op.text_column),
            op.text_column, ROW_ID, discount=op.discount,
        )
        scores = scope.keep(pin(scores, eager=True))
    return _join_back(ds, scores, "left")


@SparkRunner.implementation
def kneser_ney3_score_op(
    runner: SparkRunner, op: KneserNey3ScoreOp
) -> DatasetPlan:
    """Trigram twin of kneser_ney_score_op: same two-parent enrichment
    contract, order-3 count tables with optional hapax pruning; same
    pin-then-release scope."""
    from ..functions.text import kneser_ney3_score as _score
    from ..functions.text import kneser_ney3_train as _train

    ds = runner.dataset_plan(op.dataset)
    train = runner.dataset_plan(op.train)
    with pin_scope() as scope:
        lm = _train(
            train.df.select(
                ROW_ID, F.col(op.train_column).alias(op.text_column)
            ),
            op.text_column,
            min_count=op.min_count,
        )
        scores = _score(
            lm, ds.df.select(ROW_ID, op.text_column),
            op.text_column, ROW_ID,
            discount="modified" if op.smoothing == "modified" else op.discount,
            base_discount=op.discount,
        )
        scores = scope.keep(pin(scores, eager=True))
    return _join_back(ds, scores, "left")
