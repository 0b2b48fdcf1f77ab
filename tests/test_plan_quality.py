"""Plan-quality regression tests: pin the physical-plan properties that
make the headline operators 100-TB-safe, so a refactor that silently
introduces a row-Python UDF, drops a broadcast, or loses filter pushdown
fails CI instead of only showing up in a bench regression."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def _plan(spark, entry, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan):
    return len(re.findall(r"\bExchange (?:hash|range|Single)", plan))


def _reads_pins_only(plan, n):
    """At least ``n`` consumers read pinned frames (a local pin is a
    checkpoint, scanned as ExistingRDD) and no source file is
    re-scanned behind them."""
    return plan.count("Scan ExistingRDD") >= n and "FileScan" not in plan


def test_no_row_python_udfs_in_headline(spark, entry):
    """Row-at-a-time Python (BatchEvalPython) is banned from every
    headline query — Arrow-batched (ArrowEvalPython/MapInPandas) only."""
    import bench

    for name in bench.HEADLINE:
        assert "BatchEvalPython" not in _plan(spark, entry, name), name


def test_chunk_docs_is_shuffle_free(spark, entry):
    assert _exchanges(_plan(spark, entry, "chunk_docs")) == 0


def test_broadcast_join_region_broadcasts(spark, entry):
    plan = _plan(spark, entry, "broadcast_join_region")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_selective_agg_pushes_filters(spark, entry):
    plan = _plan(spark, entry, "selective_agg_q6")
    assert re.search(r"PushedFilters: \[[^\]]", plan)


def test_tpch_shapes_prefer_broadcast_dims(spark, entry):
    """The new TPC-H shapes must keep their dims broadcast (q9) and their
    single-fact-shuffle structure (q21 <= 5 exchanges incl. window)."""
    q9 = _plan(spark, entry, "product_profit_q9")
    assert q9.count("BroadcastHashJoin") >= 3
    assert _exchanges(_plan(spark, entry, "waiting_supplier_q21")) <= 5


def test_sort_topk_avoids_global_sort(spark, entry):
    assert "TakeOrderedAndProject" in _plan(spark, entry, "sort_topk")


def test_mix_corpus_is_scan_side_filter(spark, entry):
    """Corpus mixing must stay a pure scan-side filter: zero exchanges
    (the count-per-stratum agg runs eagerly at build time, not in the
    output plan)."""
    assert _exchanges(_plan(spark, entry, "mix_corpus")) == 0


def test_dup_windows_no_udf_and_reuses_persist(spark, entry):
    plan = _plan(spark, entry, "dup_windows")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the per-(doc,window) frame is pinned: both consumers must read
    # the pinned frame, not re-scan the parquet twice at runtime
    assert _reads_pins_only(plan, 2)


def test_canonical_urls_semi_join_broadcasts(spark, entry):
    plan = _plan(spark, entry, "canonical_urls")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_semantic_dedup_broadcast_antijoin(spark, entry):
    plan = _plan(spark, entry, "semantic_dedup")
    assert "FlatMapGroupsInPandas" in plan        # cluster-keyed dedup
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_histogram_price_single_agg_pass(spark, entry):
    plan = _plan(spark, entry, "histogram_price")
    # one shuffle for the count aggregation; bins frame joins broadcast
    assert _exchanges(plan) <= 1
    assert "BatchEvalPython" not in plan


def test_events_hopping_partial_aggregates(spark, entry):
    """The window Expand must feed a partial HashAggregate before the one
    shuffle (map-side combine on (window, type))."""
    plan = _plan(spark, entry, "events_hopping")
    assert _exchanges(plan) == 1
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_window_anomalies_broadcasts_stats(spark, entry):
    plan = _plan(spark, entry, "window_anomalies")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_bigram_logprob_digest_joins(spark, entry):
    plan = _plan(spark, entry, "bigram_logprob")
    # gram/prefix count tables broadcast into the scoring joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_single_join(spark, entry):
    plan = _plan(spark, entry, "snapshot_diff")
    # one full-outer join on the key; row hashes computed scan-side
    assert "FullOuter" in plan and plan.count("Join") >= 1
    assert "BatchEvalPython" not in plan


def test_ann_ivfpq_arrow_kernels_and_bounded_shuffles(spark, entry):
    """IVF-PQ: coarse assignment + ADC scoring are the only Python
    kernels, both Arrow-batched (MapInPandas), and the whole pipeline
    keeps at most 3 exchanges (codebooks ride broadcast joins)."""
    plan = _plan(spark, entry, "ann_ivfpq")
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 2
    assert _exchanges(plan) <= 3
    assert "CartesianProduct" not in plan


def test_image_dups_banded_join_no_cartesian(spark, entry):
    """Perceptual image near-dups must pair via the banded Hamming join —
    an equi-join on band keys — never an all-pairs product."""
    plan = _plan(spark, entry, "image_dups_q")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the band-key equi-join
    assert _exchanges(plan) <= 2


def test_video_dups_banded_join_and_checkpointed_frames(spark, entry):
    """Video near-dups: frame hashes are decoded once (eager pin ->
    ExistingRDD scans), the per-video signature table is pinned (the
    banding self-join would otherwise aggregate the frame set twice),
    candidates come from the LSH band equi-join, and nothing
    degenerates into a cross product."""
    plan = _plan(spark, entry, "video_dups_q")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _reads_pins_only(plan, 2)
    # both banding-join sides read the pinned signature table
    sig_reads = re.findall(r"Scan ExistingRDD\[doc_id#\d+L?,sig#", plan)
    assert len(sig_reads) >= 2
    # 6, not 5: under the cluster policy the signature pin's cached
    # subtree prints its own aggregate Exchange under the
    # InMemoryRelation definition.
    assert _exchanges(plan) <= 6


def test_k_core_rounds_are_checkpointed(spark, entry):
    """k-core's final plan must read the CHECKPOINTED peeled edge list
    (ExistingRDD), not the full re-derived lineage: without per-round
    localCheckpoint the plan would re-run every peel round's semi-joins
    (Join nodes + unbounded exchanges) on each downstream action."""
    plan = _plan(spark, entry, "k_core")
    assert "Scan ExistingRDD" in plan
    assert "Join" not in plan  # lineage of the peel rounds is cut
    assert _exchanges(plan) <= 2  # degree agg + final order only


def test_fluent_pipeline_lowering_adds_no_shuffles(spark, entry):
    """The OpSpec lowering of the fluent chain (sample -> dedup ->
    chunk -> ...) must not introduce shuffles the hand-written pipeline
    doesn't have: chunking stays shuffle-free, so the whole plan keeps
    <= 2 exchanges, all Python kernels Arrow-batched."""
    plan = _plan(spark, entry, "fluent_pipeline")
    assert "BatchEvalPython" not in plan
    assert _exchanges(plan) <= 2


def test_token_entropy_two_shuffles_no_udf(spark, entry):
    """Explode + two aggs must stay pure codegen: no Python anywhere,
    and exactly the two hash aggregation exchanges."""
    plan = _plan(spark, entry, "token_entropy")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _exchanges(plan) <= 2


def test_paragraph_dedup_no_cartesian(spark, entry):
    """The keeper join must be a hash/broadcast equi-join on the digest —
    never a cartesian — and reassembly stays UDF-free."""
    plan = _plan(spark, entry, "paragraph_dedup")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_weights_broadcast_ratio_and_persist(spark, entry):
    """The fixed-size bucket-ratio table must broadcast onto the per-doc
    counts (never a sort-merge join against the big side), and the two
    global bucket tables must come from the pinned frames."""
    plan = _plan(spark, entry, "dsir_weights")
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert _reads_pins_only(plan, 2)


def test_zipf_fit_topk_never_global_sorts_corpus(spark, entry):
    """Top-k must plan as TakeOrderedAndProject (per-partition heads);
    the single-partition rank window is legal only on the limited frame."""
    plan = _plan(spark, entry, "zipf_fit")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_coverage_digest_join_no_cartesian(spark, entry):
    plan = _plan(spark, entry, "ngram_coverage")
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_compression_signals_single_arrow_stage(spark, entry):
    """zlib runs in exactly one Arrow-batched Python stage over a
    2-column projection — no shuffle, no row-Python."""
    plan = _plan(spark, entry, "compression_signals")
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert _exchanges(plan) == 0


def test_corpus_report_persists_feature_frame_no_udf(spark, entry):
    """The per-doc feature frame must not be recomputed per branch at
    scale (size-gated persist; tiny test corpora may skip it) and the
    whole report stays UDF-free."""
    plan = _plan(spark, entry, "corpus_report")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_expect_rules_one_scan(spark, entry):
    """Six rules must fold into one scan + one aggregate — rules never
    add passes over the data."""
    plan = _plan(spark, entry, "expect_rules")
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_quarantine_scan_side_only(spark, entry):
    assert _exchanges(_plan(spark, entry, "quarantine")) == 0


def test_label_propagation_no_udf_no_cartesian(spark, entry):
    """Each LPA round is a hash join + two-level agg — never a cartesian
    or Python stage; rounds are checkpoint-pinned so the visible plan is
    one round deep, not n_iter-deep lineage."""
    plan = _plan(spark, entry, "label_propagation")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_layout_report_no_exchange(spark, entry):
    """Footer auditing parallelizes the FILE LIST — one Arrow stage per
    table, no shuffle, no data pages."""
    plan = _plan(spark, entry, "layout_report")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 3


def test_ewma_smooth_single_shuffle_fold(spark, entry):
    """The recurrence must be ONE user-keyed aggregate fold — no
    recursive join, no window chain, no Python."""
    plan = _plan(spark, entry, "ewma_smooth")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _exchanges(plan) <= 2  # pre-agg partial + final


def test_contrastive_triplets_single_gemm_pass(spark, entry):
    """Both consumers (positive + negative band) must read the pinned
    top-k frame — the GEMM never runs twice. r8: the pin is an eager
    localCheckpoint (ContextCleaner-reclaimed), not a session-leaking
    persist, so the consumers show as ExistingRDD scans."""
    plan = _plan(spark, entry, "contrastive_triplets")
    assert plan.count("Scan ExistingRDD") >= 2
    assert "CartesianProduct" not in plan


def test_source_quality_single_scan_group(spark, entry):
    """One scan, one grouped aggregate chain — no joins, no Python."""
    plan = _plan(spark, entry, "source_quality")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_fluent_lazy_lowering_pins_stage_boundaries(spark, entry):
    """Lazy-mode OpSpec lowering must not re-derive (and re-scan the
    source for) the whole upstream lineage per stage: non-ephemeral
    stage frames are localCheckpoint-pinned at the OpSpec boundary, so
    the final executed plan reads ONE checkpointed frame. r7's plan had
    29 FileScans / 29 shuffles for this 4-stage chain (each stage's
    row-id join-back references its parent twice -> O(2^k) lineage)."""
    plan = _plan(spark, entry, "fluent_quality")
    scans = plan.count("Scan parquet") + plan.count("FileScan")
    assert scans <= 8, f"lazy lowering re-scans the source: {scans} scans"
    assert plan.count("Scan ExistingRDD") >= 1
    assert _exchanges(plan) <= 2  # final orderBy only


def test_ewma_sorts_each_user_once(spark, entry):
    """The per-user event array is sorted ONCE (a single array_sort in
    the agg's result projection); the fold references the bound sorted
    column rather than re-deriving the sort per reference (r7 verdict
    watch item)."""
    df = entry.queries()["ewma_smooth"](spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("array_sort") == 1


def test_temperature_mixture_scan_side_filter(spark, entry):
    """After the driver-side #strata rate computation, the kept-row
    selection is a pure scan-side md5-bucket filter: no shuffle, no
    join, no Python in the returned plan."""
    plan = _plan(spark, entry, "temperature_mixture")
    assert _exchanges(plan) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocklist_zero_shuffle_projection(spark, entry):
    """The blocklist rides as a literal array into one codegen'd scan
    projection — zero exchanges, zero Python."""
    plan = _plan(spark, entry, "blocklist")
    assert _exchanges(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_report_single_agg_pass(spark, entry):
    """regexp_count in the scan projection, then ONE partial-aggregated
    groupBy on the source key."""
    plan = _plan(spark, entry, "pii_report")
    assert _exchanges(plan) <= 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle
    assert "BatchEvalPython" not in plan


def test_leakage_safe_split_zero_shuffle(spark, entry):
    """Fingerprint + bucket threshold is a scan-side expression chain."""
    plan = _plan(spark, entry, "leakage_safe_split")
    assert _exchanges(plan) == 0
    assert "Join" not in plan


def test_packing_report_bounded_exchanges(spark, entry):
    """sequence_pack's per-source window + two partial-agg groupBys —
    and nothing else. No cartesian, no Python."""
    plan = _plan(spark, entry, "packing_report")
    assert _exchanges(plan) <= 3
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_buckets_one_window_shuffle(spark, entry):
    """One exchange on the group key for the per-group ranking window."""
    plan = _plan(spark, entry, "quality_buckets")
    assert _exchanges(plan) <= 1
    assert "percent_rank" in plan or "Window" in plan


def test_gopher_rules_zero_shuffle_projection(spark, entry):
    """The whole rule bundle is one codegen'd scan projection: regexp
    counts + an array_intersect, zero exchanges, zero Python."""
    plan = _plan(spark, entry, "gopher_rules")
    assert _exchanges(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stupid_backoff_no_window_no_python(spark, entry):
    """Scoring positions carry their own context from the token array —
    scan-side, not via a per-doc lag window; gram tables are
    partial-aggregated; nothing degenerates into a cross product."""
    plan = _plan(spark, entry, "stupid_backoff")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan.lower()


def test_c4_rules_zero_shuffle_projection(spark, entry):
    """The whole C4 bundle (line filter + page flags) is one scan
    projection: zero exchanges, zero Python."""
    plan = _plan(spark, entry, "c4_rules")
    assert _exchanges(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tokenizer_fertility_single_agg_pass(spark, entry):
    """All three counters ride one scan; one partial-agg'd groupBy on
    the language key (= one exchange), no token arrays, no Python."""
    plan = _plan(spark, entry, "tokenizer_fertility")
    assert _exchanges(plan) <= 1
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_divergence_digest_join_broadcast_totals(spark, entry):
    """Two digest-keyed count tables meet in one full-outer join; the
    totals ride in as broadcast one-row frames — no cartesian blowup,
    no Python, no window."""
    plan = _plan(spark, entry, "corpus_divergence")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    # the joined digest frame is pinned: both consumers (totals +
    # final agg) must read the pin, not re-scan the corpora
    assert _reads_pins_only(plan, 2)


def test_vocab_growth_no_per_level_rescan(spark, entry):
    """Doc counters fold into ONE conditional-sum pass and the
    vocabulary side is one groupBy — the 8 levels must NOT multiply
    source scans (<= 2 file scans: doc pass + token pass)."""
    plan = _plan(spark, entry, "vocab_growth")
    assert plan.count("Scan parquet") <= 2
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_centroid_filter_broadcast_centroid_scoring_scan(spark, entry):
    """The #dims-row centroid broadcasts into the scoring scan: the
    corpus side must carry zero extra exchange beyond the reference
    side's posexplode agg, and scoring stays JVM-side."""
    plan = _plan(spark, entry, "centroid_filter")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_embedding_compact_shuffles(spark, entry):
    """Shuffles carry (id, int bucket, long count) — token text must
    never shuffle; dense assembly is scan-side transform(sequence),
    no Python anywhere."""
    plan = _plan(spark, entry, "hash_embedding")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_dedup_report_banded_never_all_pairs(spark, entry):
    """The pair graph stays banded (LSH join, no cartesian) and the
    histogram is a two-level agg over the component frame."""
    plan = _plan(spark, entry, "dedup_report")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_random_projection_pure_projection(spark, entry):
    """The sign matrix embeds as plan literals: zero exchanges, zero
    Python, one scan."""
    plan = _plan(spark, entry, "random_projection")
    assert _exchanges(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_export_manifest_single_agg_pass(spark, entry):
    """One scan projection + one partial-agg'd groupBy on the int shard
    key — XOR/min/max/sum all combine map-side."""
    plan = _plan(spark, entry, "export_manifest")
    assert _exchanges(plan) <= 1
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_k_anonymity_two_level_agg(spark, entry):
    """Two partial-agg'd groupBys (classes, then histogram) — nothing
    else; no Python, no window."""
    plan = _plan(spark, entry, "k_anonymity")
    assert _exchanges(plan) <= 2
    assert "partial" in plan.lower()
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_schema_drift_one_pass_per_side(spark, entry):
    """Every column's null/distinct counters compute in ONE aggregation
    pass per snapshot — per-column rescans would show as extra scans."""
    plan = _plan(spark, entry, "schema_drift")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_perplexity_buckets_one_ranking_window(spark, entry):
    """The composed CCNet path keeps quality_buckets' shape: exactly one
    per-language ranking Window on top of the LM-score joins; no
    Python, no cartesian."""
    plan = _plan(spark, entry, "perplexity_buckets")
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_margin_pairs_broadcast_queries_one_window(spark, entry):
    """One cosine_topk pass (queries broadcast), one per-query ranking
    window, two-row pivot — the corpus side never shuffles vectors."""
    plan = _plan(spark, entry, "margin_pairs")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1
    # rank<=2 pushes into the sort as WindowGroupLimit: per-partition
    # top-2 instead of a full per-query sort — exactly the k-NN shape
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_margin_pairs_ann_rides_shortlist(spark, entry):
    """The candidates path must NOT plan the brute all-pairs join: the
    LSH shortlist's bucket-collision join feeds the same one-window
    top-2 pivot (WindowGroupLimit), with Arrow-batched signatures only."""
    plan = _plan(spark, entry, "margin_pairs_ann")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan
    # LSH signatures are Arrow-batched (one eval per side), never row-Python
    assert plan.count("ArrowEvalPython") <= 2


def test_stupid_backoff_fixed_filters_train_side_only(spark, entry):
    """Frozen-LM scoring: the train predicate reaches the gram-table
    scans as a pushed filter while the scored-position side scans the
    full corpus — and the whole pipeline stays digest-join-shaped (no
    window, no Python). Since r15 the pinned gram table is a non-eager
    localCheckpoint, so the train subtree no longer PRINTS in the final
    plan (it executes behind a Scan ExistingRDD); the pushdown is
    pinned on the real pre-checkpoint construction instead."""
    plan = _plan(spark, entry, "stupid_backoff_fixed")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*\]", plan)
    # gram tables arrive as the materialized-once pin, not a re-derived
    # train subtree per consumer
    assert "Scan ExistingRDD" in plan
    # the train predicate pushes into the gram-table construction itself
    from pyspark.sql import functions as F

    from krnel_graph_spark.functions.text import _sb_fused_grams

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fused_plan = (
        _sb_fused_grams(docs.filter(F.col("doc_id") % 5 == 0), "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "% 5" in fused_plan
    assert re.search(r"PushedFilters: \[[^\]]*doc_id[^\]]*\]", fused_plan)


def test_remove_dup_windows_no_token_shuffle(spark, entry):
    """Substring-dedup surgery: windows generate scan-side, the only
    shuffles carry digests/ids/span-arrays, token filtering is a
    codegen'd HOF — no Python anywhere, no Cartesian join."""
    plan = _plan(spark, entry, "remove_dup_windows")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # canonical pick + span grouping + rejoin: bounded exchange count
    assert _exchanges(plan) <= 6, _exchanges(plan)


def test_skyline_two_phase_shape(spark, entry):
    """Skyline: local prune + ONE single-partition global pass — the
    only exchange is the candidate repartition(1); both phases are
    Arrow-batched mapInPandas, never row-Python."""
    plan = _plan(spark, entry, "skyline_docs")
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 2
    assert _exchanges(plan) <= 1, _exchanges(plan)


def test_calibration_bins_single_agg_no_python(spark, entry):
    """Calibration: one partial-agg'd groupBy onto <=bins rows. The
    gate's percent_rank scorer adds its (documented) single-task
    window; the op itself contributes exactly one hash exchange and
    zero Python."""
    plan = _plan(spark, entry, "calibration_curve")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan
    assert _exchanges(plan) <= 2, _exchanges(plan)


def test_pmi_colloc_broadcast_lookups_no_cartesian(spark, entry):
    """PMI: unigram probability lookups broadcast (vocab-sized); the
    1-row totals ride broadcast nested loops; no Cartesian product, no
    Python, and the top-k is a TakeOrdered, not a global sort."""
    plan = _plan(spark, entry, "pmi_colloc")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_kneser_ney_digest_joins_no_python(spark, entry):
    """Kneser-Ney scoring: positions explode scan-side and LEFT-join
    the three digest-keyed count tables; scalars ride broadcast nested
    loops. No Python, no Cartesian, no window."""
    plan = _plan(spark, entry, "kneser_ney_fixed")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_kneser_ney3_digest_joins_no_python(spark, entry):
    """Trigram Kneser-Ney scoring: one positions explode, five
    digest-keyed LEFT joins, broadcast 1-row scalars — still zero
    Python, zero Cartesian, zero window at order 3. The modified
    (Chen-Goodman) variant must keep the same plan class: its six
    discounts are driver-collected literals, NOT extra joins."""
    for q in ("kneser_ney3_pruned", "kneser_ney3_modified"):
        plan = _plan(spark, entry, q)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan, q
        assert "Window" not in plan, q
        assert "BroadcastNestedLoopJoin" in plan, q


def test_minhash_append_banded_join_shape(spark, entry):
    """Appended-index dedup keeps the inline path's plan class: banded
    candidate join (never all-pairs Cartesian), signature UDFs only on
    the Arrow path, and one anti-join back to the new corpus."""
    plan = _plan(spark, entry, "minhash_append")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


def test_ann_retrain_bounded_scans(spark, entry):
    """The retrain gate runs TWO monitor probes (frozen + retrained)
    unioned; each keeps the recall_probe shape — broadcast probe
    queries, no Cartesian product anywhere, single-aggregate monitor
    rows. The model fits themselves are bounded driver-side collects
    (sample + Lloyd partials), invisible to this final-query plan."""
    plan = _plan(spark, entry, "ann_retrain")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast probe queries
    assert "HashAggregate" in plan
    assert "Union" in plan  # the two labeled monitor rows


def test_kn3_arpa_sections_are_model_sized(spark, entry):
    """The ARPA exporter joins type tables (vocab-bounded), never the
    corpus: no Cartesian product (the 1-row scalars ride a broadcast),
    the four sections union, and every n-gram probability is assembled
    from hash/broadcast joins over the count frames."""
    plan = _plan(spark, entry, "kn3_arpa")
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalars frame


def test_arpa_score_lookup_shape(spark, entry):
    """The generic ARPA scorer: positions explode + five digest-keyed
    LEFT joins against the CHECKPOINTED sections frame — no Cartesian
    product, and the eager localCheckpoint truncates the model-build
    lineage so the final plan reads the materialized rows (ExistingRDD
    scans), not five re-derivations of the model."""
    plan = _plan(spark, entry, "arpa_score")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # the checkpointed rows frame
    assert "HashAggregate" in plan
    # lineage truncation is the point: the KN count-table build (its
    # corpus tokenize scans) must NOT appear in the scoring plan
    assert plan.count("Scan parquet") <= 2  # the scored corpus only


def test_arpa_score_o5_lookup_shape(spark, entry):
    """The ORDER-5 consumer keeps the arpa_score plan class at nine
    joins (5 prob + 4 bow): positions explode over the marker-augmented
    token array, digest-keyed LEFT joins against the checkpointed rows
    frame, no Cartesian product, and the synthetic model build stays
    out of the scoring plan (the eager localCheckpoint truncation)."""
    plan = _plan(spark, entry, "arpa_score_o5")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # the checkpointed rows frame
    assert "HashAggregate" in plan
    # one corpus scan for scoring; the model-build lineage is truncated
    assert plan.count("Scan parquet") <= 2


def test_arpa_score_unk_rewrite_shape(spark, entry):
    """oov_mode='unk' rewrites tokens MAP-SIDE (r14): the model-bounded
    vocabulary broadcasts as a set into one Arrow-batched kernel — no
    token explode, no per-doc reassembly shuffle — before the same
    9-join chain: no Cartesian product, the checkpointed rows frame
    (ExistingRDD) is the only model source, exactly one Python stage,
    and the per-doc aggregate is the scorer's own."""
    plan = _plan(spark, entry, "arpa_score_unk")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert plan.count("Scan parquet") <= 2
    assert plan.count("ArrowEvalPython") == 1


def test_arpa_filter_is_two_model_bounded_joins(spark, entry):
    """arpa_filter: one corpus scan for the vocabulary, a word explode
    over the (checkpointed) model, and two hash anti-joins — no
    Cartesian product, no driver-side collect in the plan."""
    plan = _plan(spark, entry, "arpa_filter")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # the checkpointed rows frame is the model source on both branches
    assert "ExistingRDD" in plan
    assert plan.count("Scan parquet") <= 2


def test_kneser_ney5_pruned_adds_only_semi_joins(spark, entry):
    """The prune path adds kept-set semi-joins per section on top of
    the kn5 shape — still no Cartesian product, still corpus-scanned
    only through the pinned type table."""
    plan = _plan(spark, entry, "kneser_ney5_pruned")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    # r15: the pinned tables/level frames are non-eager localCheckpoints
    # — sections read materialized-once RDDs, not cache scans
    assert "Scan ExistingRDD" in plan
    assert "Union" in plan


def test_kneser_ney5_sections_are_model_sized(spark, entry):
    """The order-5 trainer + ARPA rows builder: every section joins
    type-table-bounded count frames (the MODEL), the 1-row scalars ride
    a broadcast, the five sections (+ <unk>) union, and the corpus
    appears only through the single combined gram explode feeding the
    checkpoint-pinned counts table (materialized-once RDD reuse,
    r15 — was a persist/InMemoryTableScan pin)."""
    plan = _plan(spark, entry, "kneser_ney5")
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalars frame
    assert "Scan ExistingRDD" in plan  # the pinned counts/cont/ctx


def test_kneser_ney5_modified_same_plan_class(spark, entry):
    """Modified discounts are baked in as LITERALS (driver-side
    closed-form from the bounded coc row — the kn3 lesson: a
    column-expression D re-evaluates per subtree): the plan class is
    identical to kneser_ney5's, just with class-count columns riding
    the same ctx joins. No Cartesian product, model-bounded sections,
    pinned-count reuse."""
    plan = _plan(spark, entry, "kneser_ney5_modified")
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Scan ExistingRDD" in plan  # ckpt-pinned tables (r15)


def test_minhash_ingest_lifecycle_shape(spark, entry):
    """save → load → append → dedup keeps the banded-join plan class
    end-to-end: the loaded index is a parquet artifact scan (not a
    re-signature of day 0), candidates come from the banded join
    (never all-pairs), matched docs leave via one anti-join."""
    plan = _plan(spark, entry, "minhash_ingest")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


def test_recall_probe_bounded_scans(spark, entry):
    """The index-health monitor costs one codes-frame scan + one
    float-corpus scan with broadcast probes: no Cartesian product, the
    exact side's query join is broadcast, and the final monitor row is
    a single aggregate (no global sort)."""
    plan = _plan(spark, entry, "recall_probe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast probe queries
    # per-query ranking is a window over broadcast-joined pairs; the
    # monitor aggregate itself is one HashAggregate pass
    assert "HashAggregate" in plan
