"""OpSpec wrappers for the scale surface — dedup, text stats, chunking.

The reference's OpSpec layer (content-addressed, memoized, rehydratable —
``SURVEY.md §1.6/§4.1``) and this repo's beyond-reference scale functions
(``functions/``) meet here: the most pipeline-shaped scale operations get
dataset-level ops so they compose with the fluent API and inherit the
result store for free. A corpus dedup that took an hour is exactly the
kind of result content-addressed memoization exists for.

This module only declares the ops. Their lowerings, and with them the
row-id semantics of each result, live in ``runners/scale_impl.py``: a
subset (dedup, samples) keeps the surviving rows' ORIGINAL ids, like
``MaskRowsOp``; a row-aligned enrichment (text stats) keeps every input
row, its id and density; a bounded table (top-k, pairs, bins) gets fresh
dense ids; a fan-out (chunking) derives a deterministic new id from
``parent_id * 2^20 + chunk_id``. The facts a plan records are described
in ``runners/plan.py``; ``tests/test_scale_ops.py`` checks them for
every op here.
"""

from __future__ import annotations

from typing import Annotated, Dict, List, Optional, Tuple

from ..plans.op_spec import ExcludeFromUUID
from ..types import DatasetType


class DropExactDupsOp(DatasetType):
    """Keep one row (min row id — the FIRST occurrence, positionally) per
    normalized-text fingerprint of ``text_column``. Lowering:
    ``functions/dedup.py:drop_exact_dups`` keyed on the engine row id."""

    dataset: DatasetType
    text_column: str


class DropNearDupsOp(DatasetType):
    """Remove MinHash-LSH near-duplicates of ``text_column``; keeps the
    min-row-id representative per verified pair-graph component (or the
    best ``keep_by`` member). Lowering: ``dedup.py:drop_near_dups``."""

    dataset: DatasetType
    text_column: str
    num_perm: int = 32
    bands: int = 8
    shingle_k: int = 3
    jaccard_threshold: float = 0.5
    keep_by: Optional[str] = None


class TextStatsOp(DatasetType):
    """Append the text-quality stat columns (``n_tok``, ``n_tok_bpe``,
    ``stop_r``, ``punct_r``, ``mwl``, ``quality``) for ``text_column`` —
    row-aligned enrichment, pure codegen expressions."""

    dataset: DatasetType
    text_column: str


class ChunkDocumentsOp(DatasetType):
    """Explode ``text_column`` into overlapping token-window chunks
    (``chunk_id``, ``n_tokens``, ``chunk`` + ``src_row_id``). Lowering:
    ``text.py:chunk_documents`` — zero-shuffle fan-out."""

    dataset: DatasetType
    text_column: str
    chunk_size: int = 32
    overlap: int = 8


class HashSampleOp(DatasetType):
    """Deterministic Bernoulli sample keyed on the engine row id: a pure
    scan-side filter (no shuffle, no RNG state) that selects the SAME rows
    on any partitioning. Lowering: ``sampling.py:hash_sample``."""

    dataset: DatasetType
    fraction: float
    seed: int = 0


class DecontaminateAgainstOp(DatasetType):
    """Drop training rows sharing any word n-gram with a held-out
    evaluation dataset (GPT-3-style 13-gram sweep; n configurable) — a
    TWO-PARENT op: both datasets are content-addressed inputs, so the
    result re-materializes when EITHER corpus changes. Survivors keep
    their original row ids. Lowering: ``curation.py:decontaminate`` +
    left_anti."""

    dataset: DatasetType
    against: DatasetType
    text_column: str
    against_column: str
    ngram: int = 8


class AnnTopKOp(DatasetType):
    """Exact cosine top-k of ``queries`` against this dataset's vector
    column (two-parent op). Output rows are ``(query_id, doc_id, cosine,
    rank)`` with fresh dense row ids in (query, rank) order — a bounded
    result set by contract (|queries| × k). Lowering:
    ``similarity.py:cosine_topk``."""

    dataset: DatasetType
    queries: DatasetType
    vector_column: str
    id_column: str
    k: int = 10


class StratifiedSampleOp(DatasetType):
    """Per-stratum deterministic downsampling (keep fraction f_s of each
    stratum via the row-id md5-bucket rule — sampleBy semantics without
    RNG nondeterminism). Lowering: ``sampling.py:stratified_sample``."""

    dataset: DatasetType
    strata_column: str
    fractions: Dict[str, float]
    seed: int = 0
    default_fraction: float = 0.0


class MixToWeightsOp(DatasetType):
    """Rebalance to target mixture proportions ("70% web / 20% code /
    10% books") — downsampling-only, integer-exact rate arithmetic, the
    largest corpus achievable at the requested mix. Lowering:
    ``sampling.py:mix_to_weights``."""

    dataset: DatasetType
    strata_column: str
    weights: Dict[str, int]
    seed: int = 0


class PiiScrubOp(DatasetType):
    """Redact common PII shapes (email/ssn/phone/ipv4 by default) in
    ``text_column`` with typed placeholder tokens — row-aligned rewrite,
    a chain of codegen'd regexp_replace. Lowering:
    ``curation.py:pii_scrub``."""

    dataset: DatasetType
    text_column: str
    kinds: Tuple[str, ...] = ("email", "ssn", "phone", "ipv4")


class GroupCapOp(DatasetType):
    """Keep at most ``n`` rows per key ("≤ N docs per domain") ranked by
    ``order_by`` — deterministic corpus balancing. Survivors keep their
    original row ids. Lowering: ``curation.py:group_cap`` with the row id
    appended as the unique tiebreaker."""

    dataset: DatasetType
    key_columns: List[str]
    n: int
    order_by: List[str]


class ParagraphDedupOp(DatasetType):
    """CCNet-style corpus-wide paragraph dedup of ``text_column``: every
    repeated paragraph is dropped except its first (row id, paragraph
    index) occurrence; survivors' text is reassembled in original order
    with ``n_paras``/``n_kept`` appended. Rows whose every paragraph was
    boilerplate are dropped (dense=False); survivors keep original ids.
    Lowering: ``curation.py:paragraph_dedup`` keyed on the row id, joined
    back to the parent's non-text columns."""

    dataset: DatasetType
    text_column: str
    sep: str = "\n"


class TokenEntropyOp(DatasetType):
    """Row-aligned lexical-diversity enrichment: appends ``n_tokens`` /
    ``n_types`` / ``entropy`` (Shannon bits over whitespace tokens) for
    ``text_column``; blank docs get nulls. Lowering:
    ``text.py:token_entropy`` left-joined back on the row id."""

    dataset: DatasetType
    text_column: str


class DsirWeightsOp(DatasetType):
    """DSIR importance weights (Xie et al. 2023) — a TWO-PARENT op: this
    dataset is the raw corpus, ``target`` the distribution to match; both
    are part of the result's content address. Appends ``n_grams`` /
    ``dsir_logw`` (nulls for blank docs). Lowering:
    ``text.py:dsir_weights`` left-joined back on the row id."""

    dataset: DatasetType
    target: DatasetType
    text_column: str
    target_column: str
    buckets: int = 65_536
    smoothing: float = 1.0


class CompressionSignalsOp(DatasetType):
    """Row-aligned zlib-compressibility enrichment: appends ``n_bytes``
    / ``n_zlib`` for ``text_column`` (one Arrow stage, no shuffle).
    Lowering: ``text.py:compression_signals`` left-joined on the row id."""

    dataset: DatasetType
    text_column: str
    level: int = 6


class NgramCoverageOp(DatasetType):
    """Contamination-coverage enrichment of an EVAL dataset against a
    training corpus — a TWO-PARENT op: appends ``n_grams`` / ``n_hit``
    (distinct word n-grams of each eval row found anywhere in ``corpus``;
    nulls for rows with < n tokens). Both parents content-address the
    result. Lowering: ``curation.py:ngram_coverage`` left-joined on the
    row id."""

    dataset: DatasetType
    corpus: DatasetType
    text_column: str
    corpus_column: str
    ngram: int = 8


class GopherRulesOp(DatasetType):
    """Row-aligned Gopher quality-rule enrichment: appends ``n_words``,
    the seven ``r_*`` rule booleans and ``gopher_keep`` for
    ``text_column`` — one codegen scan projection, ids and density
    preserved. Lowering: ``text.py:gopher_rules``."""

    dataset: DatasetType
    text_column: str
    min_words: int = 50
    max_words: int = 100_000
    min_mwl: int = 3
    max_mwl: int = 10


class C4RulesOp(DatasetType):
    """Row-aligned C4 cleaning enrichment: appends ``clean_text`` (the
    kept lines), the line/sentence counters and the page-level flags +
    ``c4_keep`` verdict for ``text_column`` — one codegen scan
    projection, ids and density preserved. Lowering:
    ``text.py:c4_rules``."""

    dataset: DatasetType
    text_column: str
    min_line_words: int = 5
    min_sentences: int = 3


class SequencePackOp(DatasetType):
    """Assign rows to fixed-token-budget training sequences by offset
    packing in ``order_by`` order (per ``partition_by`` shard when set —
    the scale path). Adds ``n_tokens`` + ``pack_id``; row-aligned (every
    input row keeps its id). Lowering: ``curation.py:sequence_pack``."""

    dataset: DatasetType
    order_by: str
    token_column: str
    budget: int
    partition_by: Optional[str] = None


class WinnowPairsOp(DatasetType):
    """Plagiarism-style candidate pairs from shared winnowing (MOSS)
    fingerprints of ``text_column``: ``(doc_a, doc_b, n_shared)`` keyed
    on the engine row id, pairs sharing >= ``min_shared`` selected
    fingerprints; ``max_doc_freq`` drops boilerplate-hot fingerprints
    before the join. Lowering: ``dedup.py:winnow_pairs`` — a bounded
    pair table with fresh dense row ids (the AnnTopKOp contract)."""

    dataset: DatasetType
    text_column: str
    k: int = 4
    w: int = 4
    min_shared: int = 2
    max_doc_freq: Optional[int] = None


class SpanCorruptionOp(DatasetType):
    """Row-aligned T5 denoising-pair enrichment: appends ``inputs``
    (document with masked spans replaced by ``<extra_id_k>`` sentinels)
    and ``targets`` (sentinel-delimited masked spans + closing
    sentinel) for ``text_column``, under the deterministic chunked
    layout (exact noise density, non-overlapping, a pure function of
    (row, length, knobs)). Lowering: ``curation.py:span_corruption_text``
    keyed on the row id — one codegen projection, ids and density
    preserved (span-less docs get an empty denoising target)."""

    dataset: DatasetType
    text_column: str
    noise_density: float = 0.15
    mean_span: int = 3
    seed: int = 0


class DedupWeightsOp(DatasetType):
    """Row-aligned SOFT-dedup enrichment: appends ``cluster_size`` and
    ``weight`` (``1/|near-dup cluster|``, or ``1/sqrt`` with
    ``mode="sqrt"``) for ``text_column`` — every row keeps its id and a
    sampling weight instead of being dropped; singletons get weight 1.
    Lowering: ``dedup.py:dedup_weights`` keyed on the row id (banded
    MinHash-LSH pairs -> distributed CC on the pair graph -> one
    broadcast join back), joined onto the parent's columns."""

    dataset: DatasetType
    text_column: str
    num_perm: int = 32
    bands: int = 8
    jaccard_threshold: float = 0.5
    mode: str = "inverse"


class CdcChunkDedupOp(DatasetType):
    """Row-aligned content-defined-chunking dedup signal: appends
    ``n_chunks`` / ``n_dup_chunks`` / ``n_tokens`` /
    ``dup_token_fraction`` for ``text_column`` — the fraction of the
    row's tokens living in chunks duplicated ANYWHERE in the corpus
    (Rabin/LBFS rolling-digest cut points, shift-robust). Lowering:
    ``dedup.py:cdc_chunk_dedup`` keyed on the row id, joined back to
    the parent's columns; ids and density preserved (every input row
    reports, blank docs as zeros)."""

    dataset: DatasetType
    text_column: str
    window: int = 4
    modulus: int = 64


class SkylineSelectOp(DatasetType):
    """Pareto-frontier (skyline) selection: keep exactly the rows not
    dominated on ``criteria`` (column -> 'max' | 'min') — the
    multi-objective data-selection primitive. Lowering:
    ``sampling.py:skyline_select`` (two-phase distributed prune);
    survivors keep their ORIGINAL row ids, like a mask (dense=False).
    The frontier is a partition-invariant row set, so the
    content-addressed result reproduces under any cluster layout.
    ``chunk`` is a purely physical knob (output is chunk-invariant by
    construction — pinned by test), so it is excluded from the
    content address: retuning it reuses the memoized result."""

    dataset: DatasetType
    criteria: Dict[str, str]
    chunk: Annotated[int, ExcludeFromUUID()] = 2048


class CalibrationBinsOp(DatasetType):
    """Reliability-curve table for a [0,1] scorer: per equal-width bin,
    count / positives / mean score / positive fraction / |gap| (the
    per-bin ECE term). Lowering: ``metrics.py:calibration_bins`` — a
    bounded ``bins``-row aggregate, fresh dense row ids in bin order."""

    dataset: DatasetType
    score_column: str
    label_column: str
    bins: int = 10


class PmiCollocationsOp(DatasetType):
    """Top-``top_k`` bigram collocations of ``text_column`` by round-6
    PMI with a ``min_count`` hapax floor (Church & Hanks). Lowering:
    ``text.py:pmi_collocations``; the result is a bounded top-k table,
    fresh dense row ids in (pmi desc, w1, w2) rank order."""

    dataset: DatasetType
    text_column: str
    min_count: int = 5
    top_k: int = 100


class KneserNeyScoreOp(DatasetType):
    """Interpolated bigram Kneser-Ney LM score — a TWO-PARENT op: this
    dataset is scored against the ``train`` parent's count tables; both
    content-address the result. Appends ``n_tokens`` / ``n_oov`` /
    ``logprob_sum`` (nulls for blank docs). Lowering:
    ``text.py:kneser_ney_logprob`` left-joined back on the row id."""

    dataset: DatasetType
    train: DatasetType
    text_column: str
    train_column: str
    discount: float = 0.75


class KneserNey3ScoreOp(DatasetType):
    """TRIGRAM interpolated Kneser-Ney LM score (order-3 KenLM shape,
    optional count pruning) — same two-parent contract and output
    columns as :class:`KneserNeyScoreOp`. A separate class (not an
    ``order`` field on the bigram op) so existing bigram UUIDs keep
    their content address. Lowering: ``text.py:kneser_ney3_logprob``
    left-joined back on the row id."""

    dataset: DatasetType
    train: DatasetType
    text_column: str
    train_column: str
    discount: float = 0.75
    min_count: int = 1
    smoothing: str = "fixed"  # "fixed" | "modified" (Chen-Goodman)
