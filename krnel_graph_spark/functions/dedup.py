"""Deduplication for large-scale training-data pipelines.

Five strategies, all Spark-native:

* **exact**            — md5-of-normalized-text group-by (one shuffle on the
                         hash, not the text — tiny shuffle payload).
* **MinHash + LSH**    — shingle → k-permutation MinHash signature
                         (Arrow-batched numpy kernel, see ``kernels``) →
                         banding → bucket self-join. Candidate pairs are
                         verified with exact shingle-set Jaccard. The
                         standard near-dup pipeline (Broder '97; used by
                         C4/RefinedWeb-style cleanups).
* **SimHash**          — sign-of-weighted-bit-votes fingerprint; near-dups =
                         small Hamming distance (numpy kernel).
* **n-gram Jaccard**   — exact pairwise Jaccard over shingle sets (the
                         brute-force baseline the sketches approximate).
* **embedding cosine** — near-dup = cosine similarity above a threshold over
                         an embedding column.

Scale notes: MinHash/SimHash signatures are computed in one scan-side pass
(no shuffle); pair generation shuffles only (bucket-key, doc-id) tuples. The
brute-force variants exist as correctness baselines and for small candidate
sets — at 100 TB you run the LSH path.

Multi-consumer frames (signature tables, candidate pairs, shingle sets)
are pinned through :func:`~krnel_graph_spark.functions.partitioning.pin`,
most of them only above the source size where a pin pays for itself
(:data:`PIN_MIN_BYTES`). Consumers are lazy, so the pins are not released
here: locally the ContextCleaner reclaims them, and on a cluster a driver
running dedup over MANY corpora in one long session should call
``spark.catalog.clearCache()`` between corpora.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_long
from .kernels import minhash_sig_count_udf, norm_udf, shingle_set_udf
from .partitioning import ensure_min_partitions, pin, plan_size_bytes
from .text import fingerprint

# Source size from which pinning a multi-consumer derived frame pays:
# below it the pin's extra job and block write cost more than the second
# pass it saves (interleaved, the pin was neutral at 64 KB and ahead from
# ~600 KB up).
PIN_MIN_BYTES = 256 << 10


def _worth_pinning(src: DataFrame) -> bool:
    """Size gate for pins derived from ``src``; unknown sizes pin."""
    size = plan_size_bytes(src)
    return size is None or size >= PIN_MIN_BYTES

# ---------------------------------------------------------------------- #
# Exact                                                                    #
# ---------------------------------------------------------------------- #


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates (after normalization): one row per
    duplicated fingerprint with the member count and the keeper (min id)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def drop_exact_dups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint.
    Window-free formulation: an aggregate + semi-join keeps both sides
    shuffle-partitioned on the same key."""
    keepers = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------- #
# MinHash + LSH                                                            #
# ---------------------------------------------------------------------- #


def minhash_signature(text_col, num_perm: int = 32, shingle_k: int = 3) -> Column:
    """MinHash signature as ``array<bigint>`` (length ``num_perm``):
    shingle → md5-based 60-bit hash → k universal-hash permutations →
    minimum per permutation. Empty shingle sets get an all--1 sentinel
    signature (never collides with real ones).

    Computed by an Arrow-batched numpy kernel — see ``kernels`` for why the
    pure-SQL higher-order-function formulation does not parallelize (values
    are bit-identical; the DuckDB oracle still checks this column)."""
    from .kernels import minhash_signature_udf

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return minhash_signature_udf(num_perm, shingle_k)(c)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH with exact verification.

    Pipeline: signature (scan-side) → explode into ``bands`` band-keys →
    self-join on (band, band-signature) → distinct candidate pairs → exact
    shingle-set Jaccard verify. Shuffle volume is O(rows × bands) fixed-width
    tuples, not O(rows²); shingle arrays never enter the banding shuffle —
    they are joined back only for the (LSH-pruned) candidate pairs.
    """
    rows_per_band = num_perm // bands
    df = ensure_min_partitions(df)
    # asNondeterministic: the n_sh>0 filter below references the UDF's
    # output, and Catalyst pushes that filter BELOW the projection while
    # keeping the projection's own copy — the kernel then runs twice over
    # the corpus (2 ArrowEvalPython nodes; measured 1.13 s vs 0.45 s on the
    # sf0.1 signature base). Marking it non-deterministic forbids the
    # duplication (guide §4.4 pattern); the kernel is pure, so results are
    # unchanged.
    sc = minhash_sig_count_udf(num_perm, shingle_k).asNondeterministic()(
        F.col(text_col)
    )
    base = (
        df.select(F.col(id_col).alias("doc"), sc.alias("__sc"))
        .select("doc", F.col("__sc.sig").alias("sig"), F.col("__sc.n_sh").alias("n_sh"))
        .filter(F.col("n_sh") > 0)
    )
    # Both sides of the banding self-join consume this frame, and Spark
    # does not plan a ReusedExchange across the differently-aliased
    # branches — without pinning, the raw text is scanned and the
    # signature kernel run TWICE over the whole corpus (measured 2.5× on a
    # 200k-doc corpus). The pinned frame is narrow — id + num_perm longs
    # + a count, ~300 B/doc regardless of document size — the classic
    # "signature table" a 100-TB dedup pipeline would checkpoint anyway.
    # Size-gated: on a tens-of-KB corpus the pin costs more than the
    # second signature pass it saves.
    if _worth_pinning(df):
        base = pin(base)

    banded = base.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    # md5 of the joined band slice: engine-agnostic band key
                    # (F.hash is Spark-only murmur; oracles recompute this).
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_sig"),
                ),
            )
        ).alias("bk"),
    ).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.band_sig").alias("band_sig")
    )

    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Three consumers below (id-prune + two verify joins): pin so the
    # banding self-join runs once, not three times. Candidate pairs are
    # the LSH-pruned set — tiny relative to the corpus.
    candidates = pin(candidates)

    # Verification cost must scale with |candidates|, not |corpus|: semi-join
    # the corpus down to docs that appear in some candidate pair before
    # running the shingle UDF (AQE broadcasts the id list when small), so at
    # 100 TB the full text is never re-shingled or shuffled for docs LSH
    # already ruled out.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc"))
        .union(candidates.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    shingle_sets = (
        df.alias("src")
        .join(cand_ids.alias("c"), F.col(f"src.{id_col}") == F.col("c.doc"), "left_semi")
        .select(
            F.col(id_col).alias("doc"),
            shingle_set_udf(shingle_k)(F.col(text_col)).alias("sh"),
        )
    )
    # Two consumers (doc_a and doc_b joins): pin so the candidate docs
    # are re-shingled once, and the raw text scanned once, not twice —
    # this is the only remaining full-text touch after banding.
    shingle_sets = pin(shingle_sets)
    verified = candidates.join(
        shingle_sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        shingle_sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------- #
# SimHash                                                                  #
# ---------------------------------------------------------------------- #

_SIMHASH_BITS = 60  # md5_long yields 60-bit hashes


def simhash(text_col, bits: int = _SIMHASH_BITS) -> Column:
    """SimHash fingerprint: per-bit ±1 votes from each md5 token hash, sign
    of the vote sum becomes the output bit. Arrow-batched numpy kernel (see
    ``kernels`` for the HOF-contention rationale); bit-identical to the SQL
    formulation the DuckDB oracle runs."""
    from .kernels import simhash_udf

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return simhash_udf(bits)(c)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    band_bits: int = 15,
    bits: int = _SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the ``bits``-bit fingerprint into
    ``bits // band_bits`` chunks (pigeonhole: any pair within Hamming
    distance ``chunks - 1`` shares at least one exact chunk), self-join
    per chunk, verify exact Hamming distance. Keep ``max_hamming <
    bits // band_bits`` or the banding loses completeness."""
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("doc"), simhash(text_col, bits=bits).alias("sh")
    )
    return hash_band_pairs(
        base, "doc", "sh", max_hamming=max_hamming,
        band_bits=band_bits, bits=bits,
    )


def hash_band_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    band_bits: int,
    bits: int = _SIMHASH_BITS,
) -> DataFrame:
    """Pigeonhole band self-join over ANY precomputed ``bits``-bit hash
    column (SimHash, image dHash, …): chunk the hash into
    ``bits // band_bits`` bands, equi-join per band, verify exact Hamming
    distance. Completeness guard: ``max_hamming < bits // band_bits``.

    Scale: one hash shuffle per side keyed on (band, band value); shuffle
    payload is (id, 8-byte hash) — never the underlying content."""
    if bits % band_bits != 0:
        raise ValueError("band_bits must divide bits")
    if max_hamming >= bits // band_bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs more chunks: banding only "
            f"guarantees distance < {bits // band_bits}"
        )
    base = df.select(F.col(id_col).alias("doc"), F.col(hash_col).alias("sh"))
    # Both aliases of the band self-join rebuild this frame's subtree
    # (no exchange reuse), re-running the hash PRODUCER twice. Whether
    # that is worth a pin depends on the producer: decode-kernel
    # callers (image/audio near-dups) pin their fingerprint frame
    # before calling (A/B 1.02 vs 1.39 s); the codegen SimHash
    # expression is cheaper than the cache barrier (A/B 1.34 no-pin vs
    # 1.51 pinned), so no unconditional pin here.
    # Static per-chunk structs: shiftright takes a PYTHON int bit count
    # (a Column shift amount fails analysis), and the chunk count is a
    # compile-time constant anyway.
    n_chunks = bits // band_bits
    mask = (1 << band_bits) - 1
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("chunk"),
                F.shiftright(F.col("sh"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for b in range(n_chunks)
        ]
    )
    chunks = base.select(
        "doc", "sh", F.explode(chunk_structs).alias("ck")
    ).select("doc", "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.chunk_val").alias("chunk_val"))

    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------- #
# Brute-force baselines                                                    #
# ---------------------------------------------------------------------- #


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs shingle-set Jaccard above a threshold.

    Implemented as a shingle-inverted-index join (pairs must share ≥1
    shingle) with **co-occurrence counting**: |A∩B| is a groupBy-count over
    the shared-shingle join, and Jaccard = inter / (|A| + |B| − inter). Only
    (doc-id, shingle) tuples and counts move through shuffles — never the
    shingle arrays themselves (carrying arrays to an ``array_intersect``
    verify step was measured >50× slower). A length-ratio prune
    (min(|A|,|B|) ≥ t·max(|A|,|B|), a Jaccard upper bound) is pushed into
    the join. Still the exactness baseline, not the 100-TB path (that's
    :func:`minhash_lsh_pairs`)."""
    # asNondeterministic: stops the size(sh)>0 filter duplicating the
    # shingle kernel below itself (guide §4.4; see minhash_lsh_pairs).
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("doc"),
        shingle_set_udf(shingle_k).asNondeterministic()(F.col(text_col)).alias("sh"),
    ).filter(F.size("sh") > 0)
    inverted = base.select(
        "doc", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )
    # Both sides of the co-occurrence self-join rebuild the shingle-UDF
    # subtree (no ReusedExchange across aliases) — pin the exploded
    # index so the corpus is shingled once. Same size gate as the
    # minhash signature pin.
    if _worth_pinning(df):
        inverted = pin(inverted)
    l, r = inverted.alias("l"), inverted.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc") < F.col("r.doc"))
            & (
                F.least(F.col("l.n"), F.col("r.n"))
                >= F.lit(threshold) * F.greatest(F.col("l.n"), F.col("r.n"))
            ),
        )
        .groupBy(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            F.col("l.n").alias("n_a"),
            F.col("r.n").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    pair_budget: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram **containment**: ``C = |sh(A) ∩ sh(B)| /
    min(|sh(A)|, |sh(B)|)`` — 1.0 when the smaller document's shingle
    set is a subset of the larger's. Catches doc-in-doc duplication
    (a quoted article inside a wrapper page, boilerplate inclusion,
    partial copies) that symmetric Jaccard structurally misses: a short
    doc fully embedded in a long one has Jaccard ≈ |A|/|B| → 0 but
    containment exactly 1.

    Same inverted-index co-occurrence scaffold as
    :func:`ngram_jaccard_pairs` — only ``(doc, shingle)`` tuples and
    counts move through shuffles, never shingle arrays. Deliberately NO
    length-ratio prune: the tiny-doc-in-huge-doc case Jaccard's prune
    discards is exactly the target here, so the exact path is the
    all-shared-shingle-pairs baseline. The 100-TB path is
    ``candidates=``: pass a banded candidate frame ``(doc_a, doc_b)``
    (e.g. :func:`minhash_lsh_pairs` at a low threshold, whose banding
    recalls high-containment pairs sharing any band) and the verify
    join touches only candidate rows — pair-bounded, never all-pairs.

    ``pair_budget`` guards the exact path against co-occurrence blowup:
    a boilerplate shingle appearing in ``f`` documents contributes
    ``f·(f−1)/2`` join rows, so one hot shingle on a web-scale corpus
    can turn "exact baseline" into a runaway cartesian.

    .. warning:: ``pair_budget`` is EAGER: setting it runs a Spark job
       (full shingle scan + single-value collect) at DataFrame-
       **construction** time, and the ``ValueError`` is raised then —
       not at first action. Callers composing plans ahead of execution
       should either leave it ``None`` (the default keeps the operator
       fully lazy) or construct the frame where an immediate job is
       acceptable.

    When set, the pre-pass (driver receives ONE number) computes the
    exact co-occurrence row bound ``Σ_s f_s·(f_s−1)/2`` and raises
    ``ValueError`` if it exceeds the budget, telling the caller to pass
    ``candidates=``. It deliberately
    does NOT auto-route to MinHash banding: band-collision probability
    tracks *Jaccard*, which is structurally ≈0 for the
    tiny-doc-in-huge-doc pairs this operator exists to catch, so a
    silent approximate fallback would drop exactly the target pairs.
    Default ``None`` (no guard job) keeps the operator fully lazy.

    Returns ``(doc_a, doc_b, containment)`` with ``doc_a < doc_b`` and
    containment rounded to 6.
    """
    if candidates is None:
        # asNondeterministic: see minhash_lsh_pairs (filter-duplication).
        base = ensure_min_partitions(df).select(
            F.col(id_col).alias("doc"),
            shingle_set_udf(shingle_k).asNondeterministic()(F.col(text_col)).alias("sh"),
        ).filter(F.size("sh") > 0)
        inverted = base.select(
            "doc", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
        )
        # Pin the exploded index: the self-join below (and the optional
        # pair_budget pre-pass) otherwise re-run the shingle UDF per
        # consumer. Same gate as ngram_jaccard_pairs.
        if _worth_pinning(df):
            inverted = pin(inverted)
        if pair_budget is not None:
            bound = (
                inverted.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("f"))
                .agg(
                    F.sum(
                        F.col("f") * (F.col("f") - 1) / F.lit(2)
                    ).cast("long").alias("b")
                )
                .collect()[0]["b"]
            ) or 0
            if bound > pair_budget:
                raise ValueError(
                    f"containment_pairs exact path would generate "
                    f"{bound:,} co-occurrence join rows "
                    f"(pair_budget={pair_budget:,}); pass candidates= "
                    f"(a banded/blocked pair frame) to verify "
                    f"pair-bounded instead"
                )
        l, r = inverted.alias("l"), inverted.alias("r")
        inter = (
            l.join(
                r,
                (F.col("l.shingle") == F.col("r.shingle"))
                & (F.col("l.doc") < F.col("r.doc")),
            )
            .groupBy(
                F.col("l.doc").alias("doc_a"),
                F.col("r.doc").alias("doc_b"),
                F.col("l.n").alias("n_a"),
                F.col("r.n").alias("n_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
        cont = F.col("inter").cast("double") / F.least(
            F.col("n_a"), F.col("n_b")
        ).cast("double")
        return (
            inter.withColumn("containment", cont)
            .filter(F.col("containment") >= threshold)
            .select(
                "doc_a", "doc_b", F.round("containment", 6).alias("containment")
            )
        )
    # Pair-bounded verify (the 100-TB route), same idiom as the
    # minhash_lsh_pairs verify stage: semi-join the corpus down to docs
    # appearing in some candidate pair BEFORE the shingle UDF, pin the
    # (small, pair-bounded) shingle-set table so its two consumers
    # re-shingle once, then intersect arrays per candidate row — shingle
    # arrays ride only |pairs| join rows, never a corpus-wide shuffle.
    cand = (
        candidates.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    shingle_sets = (
        df.alias("src")
        .join(
            cand_ids.alias("c"),
            F.col(f"src.{id_col}") == F.col("c.doc"),
            "left_semi",
        )
        .select(
            F.col(id_col).alias("doc"),
            # asNondeterministic: see minhash_lsh_pairs (filter-duplication).
            shingle_set_udf(shingle_k).asNondeterministic()(F.col(text_col)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )
    # Two consumers (doc_a and doc_b joins); bounded candidate set.
    shingle_sets = pin(shingle_sets)
    verified = cand.join(
        shingle_sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        shingle_sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.least(
        F.size("sh_a"), F.size("sh_b")
    ).cast("double")
    return (
        verified.withColumn("containment", cont)
        # parity with the exact path, which can only ever emit pairs
        # sharing >= 1 shingle: a zero-overlap candidate is not a pair
        .filter((F.col("containment") >= threshold) & (F.col("containment") > 0))
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine similarity ≥ threshold.

    With ``planes`` given, candidates are restricted to random-hyperplane LSH
    bucket collisions (the scale path); without, it's the exact cross join
    baseline.

    Squared norms are computed once per vector scan-side (same index-order
    fold → bit-identical to folding per pair), so each pair costs a single
    dot-product fold instead of three."""
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("v"),
        norm_udf(F.col(vec_col)).alias("norm"),
    )
    if planes is not None:
        # Broadcast the plane matrix into a batch-GEMM bucket UDF rather
        # than embedding n_planes × dim literals in the plan (same
        # rationale and bit semantics as similarity.cosine_topk_lsh).
        pm_bc = df.sparkSession.sparkContext.broadcast(
            np.asarray(planes, dtype=np.float64)
        )

        @F.pandas_udf("long")
        def bucket_of(vecs: pd.Series) -> pd.Series:
            pm = pm_bc.value
            if len(vecs) == 0:
                return pd.Series([], dtype="int64")
            v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
            bits = (v @ pm.T >= 0).astype(np.int64)
            return pd.Series(bits @ (1 << np.arange(pm.shape[0])).astype(np.int64))

        base = base.withColumn("bucket", bucket_of(F.col("v")))
        l, r = base.alias("l"), base.alias("r")
        joined = l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
    else:
        l, r = base.alias("l"), base.alias("r")
        joined = l.join(r, F.col("l.doc") < F.col("r.doc"))
    # JVM fold, not the numpy kernel, for the per-pair dot product: the
    # kernel pays Arrow per-row array materialization on BOTH join sides,
    # measured 4× slower than the fold at 125k pairs (same conclusion as
    # similarity._pair_cosine). The kernel stays for scan-side norms, where
    # row volume is |corpus|, not |pairs|.
    from .vector import dot

    cos = dot(F.col("l.v"), F.col("r.v")) / (F.col("l.norm") * F.col("r.norm"))
    return joined.select(
        F.col("l.doc").alias("doc_a"),
        F.col("r.doc").alias("doc_b"),
        F.round(cos, 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def embedding_cosine_pairs_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_blocks: int | None = None,
    target_block_rows: int = 8192,
) -> DataFrame:
    """Exact all-pairs cosine near-dups via block matrix products — the
    scalable exact path (``embedding_cosine_pairs`` with ``planes`` is the
    approximate one; without, it is the per-pair-row baseline).

    Vectors are hashed into ``num_blocks`` blocks, blocks are gathered into
    single rows (executor-side ``collect_list``), block *pairs* are formed
    by a tiny self-join — B(B+1)/2 rows — and each task computes one
    ``L @ R.T`` dgemm, emitting only pairs at or above the threshold. Pair
    enumeration therefore never materializes as Spark rows: per-task work is
    one BLAS call over ~|corpus|/B-sized chunks, shuffle volume is
    O(B × corpus) vectors. Cosines are rounded to 6 places before
    thresholding, matching the per-pair formulation and the DuckDB oracle.

    ``num_blocks`` defaults to ``ceil(count / target_block_rows)`` (one
    cheap count job), so a gathered block stays ~target_block_rows vectors
    regardless of corpus size — callers no longer have to size B to dodge
    the 2 GB single-row / Arrow batch limits. Shrink ``target_block_rows``
    for very wide vectors (a block row holds rows × dim × 8 bytes). Exact
    all-pairs is inherently O(n²) compute; past ~10M vectors use the LSH /
    IVF approximate paths instead.
    """
    import math

    if num_blocks is None:
        n_rows = df.count()
        num_blocks = min(max(1, math.ceil(n_rows / target_block_rows)), 4096)

    base = df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("v")
    ).withColumn("bi", F.pmod(F.xxhash64(F.col("doc")), F.lit(num_blocks)))
    blocks = base.groupBy("bi").agg(
        F.collect_list(F.struct("doc", "v")).alias("rows")
    )
    pairs = (
        blocks.alias("l")
        .join(blocks.alias("r"), F.col("l.bi") <= F.col("r.bi"))
        .select(
            F.col("l.bi").alias("bi"),
            F.col("r.bi").alias("bj"),
            F.col("l.rows").alias("lrows"),
            F.col("r.rows").alias("rrows"),
        )
        # One dgemm per task: spread the B(B+1)/2 block pairs over the
        # cluster (the blocks join itself has only B rows).
        .repartition(num_blocks * (num_blocks + 1) // 2)
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"doc_a {id_type}, doc_b {id_type}, cosine double"

    def compute(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                same = row.bi == row.bj
                ldocs = np.array([x["doc"] for x in row.lrows])
                rdocs = ldocs if same else np.array([x["doc"] for x in row.rrows])
                L = np.array([x["v"] for x in row.lrows], dtype=np.float64)
                R = L if same else np.array([x["v"] for x in row.rrows], dtype=np.float64)
                ln = np.sqrt(np.einsum("ij,ij->i", L, L))
                rn = ln if same else np.sqrt(np.einsum("ij,ij->i", R, R))
                # Zero-norm guard: zero vectors get cosine 0 (below any
                # positive threshold) instead of a noisy divide-by-zero NaN.
                ln = np.where(ln == 0.0, 1.0, ln)
                rn = np.where(rn == 0.0, 1.0, rn)
                C = np.round((L @ R.T) / np.outer(ln, rn), 6)
                ii, jj = np.nonzero(C >= threshold)
                if same:  # upper triangle only, else each pair emits twice
                    m = ii < jj
                    ii, jj = ii[m], jj[m]
                da, db, cs = ldocs[ii], rdocs[jj], C[ii, jj]
                keep = da < db  # canonical orientation; drops self-pairs
                flip = db < da  # cross-block pairs may arrive either way
                yield pd.DataFrame(
                    {
                        "doc_a": np.concatenate([da[keep], db[flip]]),
                        "doc_b": np.concatenate([db[keep], da[flip]]),
                        "cosine": np.concatenate([cs[keep], cs[flip]]),
                    }
                )

    return pairs.mapInPandas(compute, schema=out_schema)


def drop_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    components: str = "driver",
    keep_by: str | None = None,
) -> DataFrame:
    """Remove near-duplicates: keep one representative per connected
    component of the verified MinHash-LSH pair graph — the min id by
    default, or with ``keep_by=<numeric column>`` the member with the
    LARGEST value of that column (ties -> min id): the RefinedWeb-style
    "keep the best page of the cluster" rule (longest / highest quality
    score), at the cost of one extra (id, value) lookup over the
    pair-graph nodes only — never the corpus.

    ``components="driver"`` (default): the pair list is orders of
    magnitude smaller than the corpus (it IS the point of LSH), so
    components are computed driver-side with union-find over the
    collected pairs — the standard pragmatic design. The removal set
    broadcasts back as a left_anti join, so the corpus is never
    collected.

    ``components="distributed"``: the pair graph never leaves the
    cluster — alternating large-star/small-star contraction
    (``functions/graph.py``) labels each node with its component min in
    O(log n) rounds. Use when the pair graph itself is too large for the
    driver (boilerplate-heavy web corpora where LSH still emits billions
    of true pairs); identical output, pair-graph-sized shuffles instead
    of a driver round-trip."""
    pair_df = minhash_lsh_pairs(
        df, text_col, id_col,
        num_perm=num_perm, bands=bands,
        shingle_k=shingle_k, jaccard_threshold=jaccard_threshold,
    ).select("doc_a", "doc_b")

    if components == "distributed":
        from .graph import connected_components

        comp = connected_components(pair_df, src="doc_a", dst="doc_b")
        if keep_by is None:
            removal_df = comp.filter(
                F.col("component") < F.col("node")
            ).select(F.col("node").alias(id_col))
        else:
            # keeper = max keep_by, tie -> min id, via one min_by over the
            # component (struct compare; negation needs a numeric column).
            vals = df.select(
                F.col(id_col).alias("node"), F.col(keep_by).alias("__kv")
            )
            labeled = comp.join(vals, "node")
            keepers = labeled.groupBy("component").agg(
                F.expr("min_by(node, struct(-__kv, node))").alias("__keep")
            )
            removal_df = (
                labeled.join(keepers, "component")
                .filter(F.col("node") != F.col("__keep"))
                .select(F.col("node").alias(id_col))
            )
        # Removal set ≤ pair-graph node count; broadcast is still right
        # for LSH-scale graphs, and AQE demotes it if the estimate blows.
        return df.join(F.broadcast(removal_df), id_col, "left_anti")
    if components != "driver":
        raise ValueError(f"components must be 'driver' or 'distributed': {components!r}")

    pairs = pair_df.collect()

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["doc_a"]), find(r["doc_b"])
        if a != b:
            # union by value: smaller id becomes the root = the keeper
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo

    if keep_by is None:
        removals = [x for x in parent if find(x) != x]
    else:
        # Fetch keep_by for pair-graph nodes only (semi-join prune, then a
        # node-count-bounded collect — same budget as the pair collect).
        nodes = set(parent)
        for x in list(parent):
            nodes.add(find(x))
        spark = df.sparkSession
        nodes_df = spark.createDataFrame(
            [(x,) for x in nodes],
            f"{id_col} {df.schema[id_col].dataType.simpleString()}",
        )
        vals = {
            r[id_col]: r[keep_by]
            for r in df.select(id_col, keep_by)
            .join(F.broadcast(nodes_df), id_col, "left_semi")
            .collect()
        }
        best: dict = {}
        for x in nodes:
            root = find(x)
            cand = (-vals[x], x) if vals[x] is not None else (float("inf"), x)
            if root not in best or cand < best[root]:
                best[root] = cand
        keepers = {b[1] for b in best.values()}
        removals = [x for x in nodes if x not in keepers]
    if not removals:
        return df
    spark = df.sparkSession
    removal_df = spark.createDataFrame(
        [(x,) for x in removals], f"{id_col} {df.schema[id_col].dataType.simpleString()}"
    )
    return df.join(F.broadcast(removal_df), id_col, "left_anti")


def dedup_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    mode: str = "inverse",
) -> DataFrame:
    """SOFT dedup: per-document sampling weight ``1 / |near-dup
    cluster|`` (``mode="inverse"``) or ``1 / sqrt(|cluster|)``
    (``mode="sqrt"``, the gentler downweighting) — the
    keep-everything-but-downweight alternative to
    :func:`drop_near_dups` that production LLM pipelines use when hard
    dropping loses too much signal: a cluster of n near-copies
    contributes ~one document's worth of expected training mass instead
    of n, while every variant stays samplable. Feed the weight column
    to ``weighted_sample`` / ``data_budget``.

    Returns ``(id, cluster_size, weight)`` for EVERY input row —
    singletons (docs in no verified pair) get ``cluster_size = 1``,
    ``weight = 1.0``; weights rounded to 6.

    Scale shape: MinHash-LSH pairs (banded, never all-pairs) →
    distributed connected components on the PAIR graph only (O(log n)
    contraction rounds over pair-graph-sized shuffles) → component-size
    aggregate → one join of the node-sized (id, size) table back onto
    the corpus scan. The join strategy is left to AQE: on a typical
    corpus the (id, size) table is tiny and AQE picks a broadcast
    (map-side, corpus never shuffles); on a boilerplate-heavy corpus
    whose cluster table approaches corpus size AQE falls back to a
    shuffle join instead of OOMing the driver — which is why the
    broadcast is NOT forced with an explicit hint here.
    """
    if mode not in ("inverse", "sqrt"):
        raise ValueError(f"mode must be 'inverse' or 'sqrt': {mode!r}")
    from .graph import connected_components

    pair_df = minhash_lsh_pairs(
        df, text_col, id_col,
        num_perm=num_perm, bands=bands,
        shingle_k=shingle_k, jaccard_threshold=jaccard_threshold,
    ).select("doc_a", "doc_b")
    comp = connected_components(pair_df, src="doc_a", dst="doc_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    node_sizes = comp.join(sizes, "component").select(
        F.col("node").alias(id_col), "cluster_size"
    )
    size = F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long")
    w = size.cast("double")
    if mode == "sqrt":
        w = F.sqrt(w)
    return df.select(id_col).join(
        node_sizes, id_col, "left"
    ).select(
        id_col,
        size.alias("cluster_size"),
        F.round(F.lit(1.0) / w, 6).alias("weight"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every token ``k``-gram, slide a
    window of ``w`` consecutive hashes, and keep the window's minimum
    (rightmost on ties), deduplicated. The selected set is a LOCAL
    fingerprint sample with the winnowing guarantee — any shared
    substring of at least ``w + k − 1`` tokens yields at least one
    shared fingerprint — the position-robust middle ground between
    exact window digests (:func:`duplicate_window_stats`, shift-fragile
    at matching granularity) and MinHash (document-global, no locality).

    Returns ``(id, pos, fp)`` — 0-based gram position and the 60-bit
    md5 gram hash. Docs with fewer than ``k`` tokens emit nothing; docs
    with fewer than ``w`` grams winnow a single window over all grams.

    Scale shape: one codegen'd scan projection — gram hashes, a
    transform over window starts picking each window's rightmost-min
    via the engine-portable ``array_position(reverse(win), min)``
    formulation, ``array_distinct``, one posexplode. Zero shuffles, no
    Python; ~``n/w`` fingerprints per document.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1 (got k={k}, w={w})")
    from .text import whitespace_tokens

    toks = whitespace_tokens(F.col(text_col))
    n = F.when(
        (F.size(toks) == 1) & (F.element_at(toks, 1) == ""), F.lit(0)
    ).otherwise(F.size(toks))
    base = ensure_min_partitions(df).select(
        F.col(id_col), toks.alias("__t"), n.alias("__n")
    )
    n_grams = F.col("__n") - F.lit(k) + 1  # grams at 0-based i < n_grams
    grams = F.when(n_grams > 0, F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: md5_long(
            F.concat_ws(" ", F.slice(F.col("__t"), i + 1, k))
        ),
    )).otherwise(F.array().cast("array<long>"))
    withg = base.select(id_col, grams.alias("__g"))
    ng = F.size("__g")
    n_win = F.greatest(ng - F.lit(w) + 1, F.when(ng > 0, F.lit(1)))

    def pick(j):
        win = F.slice(F.col("__g"), j + 1, F.least(F.lit(w), ng))
        minv = F.array_min(win)
        # rightmost occurrence of the window min: first position in the
        # reversed window, mirrored — identical formulation in the SQL
        # oracle, so tie handling is engine-portable by construction.
        off = F.size(win) - F.array_position(F.reverse(win), minv)
        return F.struct(
            (j + off).cast("long").alias("pos"),
            F.element_at(F.col("__g"), (j + off).cast("int") + 1).alias("fp"),
        )

    selected = F.when(ng > 0, F.array_distinct(
        F.transform(F.sequence(F.lit(0), n_win - 1), pick)
    )).otherwise(F.array().cast("array<struct<pos:long,fp:long>>"))
    return withg.select(id_col, F.explode(selected).alias("__s")).select(
        id_col, F.col("__s.pos").alias("pos"), F.col("__s.fp").alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
    pair_budget: int | None = None,
) -> DataFrame:
    """Plagiarism-style candidate pairs from shared winnowing
    fingerprints: two documents pair when they share at least
    ``min_shared`` selected fingerprint VALUES (the MOSS match
    criterion; by the winnowing guarantee every shared run of
    ``w + k − 1`` tokens contributes one). Returns
    ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b``.

    ``max_doc_freq`` is MOSS's own boilerplate defense: a fingerprint
    appearing in more than that many documents (assignment templates,
    license headers, common idioms) is dropped BEFORE the join — a hot
    fingerprint in ``f`` docs otherwise contributes ``f·(f−1)/2`` join
    rows, the same co-occurrence blowup :func:`containment_pairs`
    guards against. One extra partial-agg'd count over the winnowed
    sample; matches lost this way are boilerplate by definition.

    ``pair_budget`` is the undefended-default backstop (the
    :func:`containment_pairs` idiom): with ``max_doc_freq`` unset, a
    corpus of near-copies makes the fingerprint co-occurrence join
    near-quadratic (measured ×40 on a cloned harness corpus: 3.9M pairs
    undefended vs 265k with ``max_doc_freq``). When set, a cheap
    pre-pass (one count over the winnowed (doc, fp) sample AFTER the
    ``max_doc_freq`` drop; driver receives ONE number) computes the
    exact join-row bound ``Σ_fp f·(f−1)/2`` and raises ``ValueError``
    steering toward ``max_doc_freq`` if it exceeds the budget.

    .. warning:: like ``containment_pairs(pair_budget=)``, the guard is
       EAGER — it runs a Spark job at DataFrame-construction time.
       Default ``None`` keeps the operator fully lazy.

    Scale shape: the inverted-index join runs on the winnowed sample
    (~``n/w`` rows per doc, not every gram), so the co-occurrence join
    is ``w``× smaller than a raw-gram join on both sides; shuffles
    carry only (id, 8-byte fp) tuples.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w).select(
        F.col(id_col).alias("doc"), "fp"
    ).distinct()
    # Every consumer below (the optional hot-fingerprint/pair-budget
    # branches and BOTH aliases of the co-occurrence self-join)
    # otherwise re-runs the fingerprint scan + distinct shuffle — pin
    # the (doc, 8-byte fp) frame. Same size gate as the signature pin.
    if _worth_pinning(df):
        fps = pin(fps)
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    if pair_budget is not None:
        bound = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("f"))
            .agg(
                F.sum(F.col("f") * (F.col("f") - 1) / F.lit(2))
                .cast("long")
                .alias("b")
            )
            .collect()[0]["b"]
        ) or 0
        if bound > pair_budget:
            raise ValueError(
                f"winnow_pairs would generate {bound:,} fingerprint "
                f"co-occurrence join rows (pair_budget={pair_budget:,}); "
                f"set max_doc_freq= (MOSS's boilerplate defense) to drop "
                f"over-shared fingerprints before the join"
            )
    l, r = fps.alias("l"), fps.alias("r")
    return (
        l.join(
            r,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .groupBy(
            F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def clean_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    min_quality: float = 0.5,
    keep_by: str | None = None,
) -> DataFrame:
    """End-to-end corpus cleanup: exact dedup → MinHash-LSH near dedup →
    heuristic quality floor — the canonical pretraining-data pipeline
    (C4/RefinedWeb shape), composed from this module's stages so each
    keeps its own scale properties (hash-only shuffles, banded candidate
    join, codegen'd quality expressions).

    The quality comparison happens on the score ROUNDED to 6 places, so a
    SQL oracle reproducing the filter boundary cannot disagree over a
    float ULP.
    """
    from .text import quality_score

    # The exact-deduped frame feeds THREE text touches downstream (the
    # signature base, the candidate-verify shingling, and the final
    # output), and each re-executes the keeper subtree (fingerprint
    # projection over the full text + groupBy shuffle + semi-join build
    # side). Pin the KEEPERS id frame — 8 bytes/doc, smaller than the
    # signature pin the LSH stage already holds — so the fingerprint
    # aggregation runs once per call, not once per consumer (guide §5:
    # reuse × recompute-cost justifies the cache). Same size gate as the
    # signature pin; the text itself is never pinned.
    keepers = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    if _worth_pinning(df):
        keepers = pin(keepers)
    out = df.join(keepers, id_col, "left_semi")
    # (exact dups have identical text, hence identical quality — min id IS
    # the quality-tie rule there; keep_by only matters for NEAR dups.)
    out = drop_near_dups(
        out,
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
        keep_by=keep_by,
    )
    return out.filter(
        F.round(quality_score(F.col(text_col)), 6) >= F.lit(min_quality)
    )


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Persistable MinHash signature index: ``(id, sig, n_sh)`` — the
    expensive part of near-dedup (shingling + ``num_perm`` permutation
    mins over every document) materialized once so growing-corpus
    pipelines become INCREMENTAL: build the index over days 1..N−1,
    write it to parquet, and each day-N ingest passes it to
    :func:`dedup_against` as ``ref_index=`` — the reference corpus's
    text is then touched only for candidate verification (semi-join
    pruned to colliding docs), never re-signatured. ~``num_perm × 8``
    bytes/doc (256 B at the default), so the index is ~1000× smaller
    than the text it summarizes.

    The banding layout is derived from the signature at join time, so
    one index serves ANY ``bands`` dividing ``num_perm``. Blank docs
    (no shingles) carry ``n_sh = 0`` and are skipped by consumers, same
    as the inline path.

    The build parameters travel WITH the index (literal ``num_perm`` /
    ``shingle_k`` columns, surviving any parquet round-trip):
    :func:`dedup_against` checks them against its own arguments, so a
    stale or mismatched persisted index (the failure mode a daily-ingest
    pipeline reusing indexes eventually hits) fails loudly instead of
    silently degrading candidate recall.

    Growing the index is a plain union: append day N by unioning
    ``minhash_index(day_n_docs, ...)`` built with the SAME params (and
    re-writing or appending the parquet) — signatures are per-document,
    so no re-computation over days 1..N−1 ever happens, and a
    mixed-param union fails at use via the param-column check."""
    # asNondeterministic: consumers filter on the kernel's own n_sh
    # output (dedup_against's banded() prunes blank docs), and Catalyst
    # otherwise pushes that filter below the projection while keeping
    # the projection's copy — the signature kernel then runs TWICE over
    # every indexed corpus (guide §4.4; measured as doubled sig_count
    # ArrowEvalPython nodes in the minhash_append plan). Pure kernel,
    # results unchanged.
    sc = minhash_sig_count_udf(num_perm, shingle_k).asNondeterministic()(
        F.col(text_col)
    )
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col), sc.alias("__sc"))
        .select(
            id_col,
            F.col("__sc.sig").alias("sig"),
            F.col("__sc.n_sh").alias("n_sh"),
            F.lit(int(num_perm)).alias("num_perm"),
            F.lit(int(shingle_k)).alias("shingle_k"),
        )
    )


def minhash_index_save(
    index: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist a :func:`minhash_index` (single plain-parquet frame; the
    param columns are literals, so they compress to nothing). Kept for
    symmetry with ``bm25_index_save``/``ann_index_save`` — the banding
    layout is derived from the signature at join time, so no physical
    clustering helps a later ``dedup_against``."""
    index.write.mode(mode).parquet(path)


def minhash_index_load(spark, path: str) -> DataFrame:
    """Read a persisted :func:`minhash_index`, fail-fast checking the
    layout columns travel with it (a frame without them cannot be
    validated by consumers)."""
    out = spark.read.parquet(path)
    for col in ("sig", "n_sh", "num_perm", "shingle_k"):
        if col not in out.columns:
            raise ValueError(
                f"minhash_index_load: column {col!r} missing under "
                f"{path!r} — not a minhash_index artifact"
            )
    return out


def minhash_index_append(
    index: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Append day-N documents to an EXISTING persisted
    :func:`minhash_index` — the MinHash leg of the index-maintenance
    trilogy (``ann_index_append`` / ``bm25_index_merge`` are the dense
    and sparse legs). The build params are read FROM the index's own
    literal ``num_perm``/``shingle_k`` columns, so the caller cannot
    accidentally re-sign the new batch with a different layout; a
    mixed-layout index (two snapshots with different params unioned by
    hand) fails loudly here instead of silently degrading candidate
    recall downstream. Returns ``index ∪ minhash_index(new_df)`` —
    signatures are per-document, so
    ``append(index(A), B) == minhash_index(A ∪ B)`` as a row SET for
    the same params (pinned by test), and days 1..N−1 are never
    re-signatured. Callers appending to parquet can equivalently write
    just the new-batch half; the union is lazy either way.

    Validation is deliberately LAZY: the layout is read from the first
    index row (a ``limit(1)`` collect — one early-out task, never a
    full pass), and a row-level ``assert_true`` guard rides the
    returned frame so a MIXED-layout index fails loudly when it is
    actually scanned. An eager ``distinct()`` check would re-signature
    an inline-derived index end-to-end just to validate it (measured
    2× the whole append query at ×40)."""
    if "num_perm" not in index.columns or "shingle_k" not in index.columns:
        raise ValueError(
            "minhash_index_append needs an index built by minhash_index "
            "(carrying literal num_perm/shingle_k columns); a bare "
            "(id, sig, n_sh) frame has no layout to validate against"
        )
    head = index.select("num_perm", "shingle_k").limit(1).collect()
    if not head:
        raise ValueError("minhash_index_append: empty index frame")
    num_perm, shingle_k = int(head[0][0]), int(head[0][1])
    guard = F.assert_true(
        (F.col("num_perm") == F.lit(num_perm))
        & (F.col("shingle_k") == F.lit(shingle_k))
        & (F.size("sig") == F.lit(num_perm)),
        F.lit(
            "minhash_index_append: mixed index layouts — a row does not "
            f"match the index's own head layout (num_perm={num_perm}, "
            f"shingle_k={shingle_k}); rebuild one side"
        ),
    )
    validated = index.filter(
        F.coalesce(guard.cast("boolean"), F.lit(True))
    )
    new_idx = minhash_index(
        new_df, text_col, id_col, num_perm=num_perm, shingle_k=shingle_k
    )
    return validated.unionByName(new_idx)


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    mode: str = "near",
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    bloom_bits_per_key: int = 0,
    ref_index: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus dedup: keep only ``new_df`` rows that do NOT
    (exactly / nearly) match anything in ``ref_df`` — the incremental
    incarnation of dedup every growing training corpus needs (dedup a
    fresh crawl against what's already in the training set) and the
    content-level cousin of ``decontaminate``'s n-gram overlap test.

    ``mode="exact"``: normalized-text fingerprint anti-join — reference
    fingerprints are 32-byte hashes, so the shuffle carries hashes, never
    text.

    ``mode="near"``: the banded-MinHash pipeline, but joining NEW bands
    against REF bands (no self-join): shuffle is O((|new|+|ref|) × bands)
    fixed-width band keys; candidate (new, ref) pairs verify by exact
    shingle Jaccard — text is re-read only for candidate docs (semi-join
    pruned) on each side. Matched new ids leave via one anti-join.

    ``bloom_bits_per_key > 0`` adds a map-side bloom prefilter in EITHER
    mode: exact mode probes ref fingerprints, near mode probes ref
    (band, band-sig) keys — so the huge new crawl's rows (or band rows)
    that cannot match never enter the join shuffle; false positives are
    caught by the join/verify, output identical.

    ``ref_index`` (near mode): a :func:`minhash_index` frame for
    ``ref_df`` (same ``num_perm``/``shingle_k``) — skips the reference
    corpus's signature pass entirely, making the daily-ingest loop
    incremental; output is IDENTICAL to the inline path (the index is
    an internal artifact, verification still reads candidate ref text).
    """
    from ..functions import text as tx

    if ref_index is not None and mode != "near":
        raise ValueError("ref_index applies to mode='near' only")
    if mode == "exact":
        ref_fp = ref_df.select(tx.fingerprint(text_col).alias("__fp")).distinct()
        if bloom_bits_per_key > 0:
            # Map-side bloom prefilter — the 100-TB shape: the huge NEW
            # crawl never shuffles its fingerprints at all; only rows the
            # bloom says MIGHT match reach the anti-join, and false
            # positives are caught there, so output is identical.
            bloom = build_bloom(ref_fp, "__fp", bits_per_key=bloom_bits_per_key)
            maybe = new_df.filter(
                bloom_might_contain(bloom, tx.fingerprint(F.col(text_col)))
            )
            clean = new_df.join(
                maybe.select(id_col), id_col, "left_anti"
            )
            deduped_maybe = maybe.join(
                ref_fp,
                tx.fingerprint(F.col(text_col)) == F.col("__fp"),
                "left_anti",
            )
            return clean.unionByName(deduped_maybe)
        return new_df.join(
            ref_fp,
            tx.fingerprint(F.col(text_col)) == F.col("__fp"),
            "left_anti",
        )
    if mode != "near":
        raise ValueError(f"unknown mode {mode!r}")

    rows_per_band = num_perm // bands

    def banded(
        df: DataFrame, side: str, index: DataFrame | None = None
    ) -> DataFrame:
        if index is not None:
            # Layout guard: an index built with different num_perm /
            # shingle_k would silently slice a wrong band layout and
            # degrade candidate recall (near-dups silently kept) — fail
            # loudly instead. Param columns exist on any index built by
            # minhash_index; a bare (id, sig, n_sh) frame still gets the
            # signature-width check. coalesce(assert_true(...), true)
            # keeps the row-level assert from being pruned away.
            checks = F.size("sig") == F.lit(num_perm)
            if "num_perm" in index.columns:
                checks = checks & (F.col("num_perm") == F.lit(num_perm))
            if "shingle_k" in index.columns:
                checks = checks & (F.col("shingle_k") == F.lit(shingle_k))
            guard = F.assert_true(
                checks,
                F.lit(
                    "ref_index layout mismatch: index was built with "
                    "different num_perm/shingle_k than dedup_against("
                    f"num_perm={num_perm}, shingle_k={shingle_k})"
                ),
            )
            base = (
                index.filter(F.col("n_sh") > 0)
                .filter(F.coalesce(guard.cast("boolean"), F.lit(True)))
                .select(F.col(id_col).alias(side), "sig", "n_sh")
            )
        else:
            # asNondeterministic: see minhash_lsh_pairs (filter-duplication).
            sc = minhash_sig_count_udf(num_perm, shingle_k).asNondeterministic()(
                F.col(text_col)
            )
            base = (
                ensure_min_partitions(df)
                .select(F.col(id_col).alias(side), sc.alias("__sc"))
                .select(
                    side,
                    F.col("__sc.sig").alias("sig"),
                    F.col("__sc.n_sh").alias("n_sh"),
                )
                .filter(F.col("n_sh") > 0)
            )
        return base.select(
            side,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        F.col("sig"),
                                        b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("band_sig"),
                    ),
                )
            ).alias("bk"),
        ).select(
            side,
            F.col("bk.band").alias("band"),
            F.col("bk.band_sig").alias("band_sig"),
        )

    new_banded = banded(new_df, "new_doc")
    ref_banded = banded(ref_df, "ref_doc", ref_index)
    if bloom_bits_per_key > 0:
        # Map-side band prune: bloom over the REF (band, band_sig) keys —
        # new band rows that cannot collide never enter the join shuffle.
        # False positives just reach the join and fall out there.
        ref_keys = ref_banded.select(
            F.concat_ws("|", F.col("band").cast("string"), "band_sig").alias(
                "__bk"
            )
        ).distinct()
        bloom = build_bloom(ref_keys, "__bk", bits_per_key=bloom_bits_per_key)
        new_banded = new_banded.filter(
            bloom_might_contain(
                bloom,
                F.concat_ws("|", F.col("band").cast("string"), "band_sig"),
            )
        )
    cand = pin(
        new_banded
        .join(ref_banded, ["band", "band_sig"])
        .select("new_doc", "ref_doc")
        .dropDuplicates(["new_doc", "ref_doc"])
    )

    def shingles_for(df: DataFrame, ids: DataFrame, side: str) -> DataFrame:
        return (
            df.alias("src")
            .join(
                ids.alias("c"),
                F.col(f"src.{id_col}") == F.col(f"c.{side}"),
                "left_semi",
            )
            .select(
                F.col(id_col).alias(side),
                shingle_set_udf(shingle_k)(F.col(text_col)).alias(f"sh_{side}"),
            )
        )

    new_sh = shingles_for(new_df, cand.select("new_doc").distinct(), "new_doc")
    ref_sh = shingles_for(ref_df, cand.select("ref_doc").distinct(), "ref_doc")
    inter = F.size(F.array_intersect("sh_new_doc", "sh_ref_doc")).cast("double")
    union = F.size(F.array_union("sh_new_doc", "sh_ref_doc")).cast("double")
    matched = (
        cand.join(new_sh, "new_doc")
        .join(ref_sh, "ref_doc")
        .filter((inter / union) >= jaccard_threshold)
        .select(F.col("new_doc").alias("__m"))
        .distinct()
    )
    return new_df.join(
        matched, F.col(id_col) == F.col("__m"), "left_anti"
    )


def duplicate_window_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
    stride: int = 4,
) -> DataFrame:
    """Exact repeated-substring signal: tile each document into fixed-width
    token windows (starting every ``stride`` tokens), hash each window, and
    count how many of a document's windows ALSO occur anywhere else in the
    corpus — another document, or another position in the same document.
    This is the window-granular form of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): a doc-level MinHash pass misses boilerplate paragraphs pasted
    into otherwise-distinct pages, while a high ``dup_windows / n_windows``
    ratio flags exactly those.

    Returns ``(id_col, n_windows, dup_windows, dup_frac)`` — one row per
    non-blank document. Window occurrences that collapse to the same
    (doc, hash) pair count each occurrence, so within-doc self-repetition
    is also surfaced. Docs shorter than ``width`` tokens contribute one
    whole-doc window, so short exact dupes are still caught.

    Scale shape (100 TB): windows are generated scan-side with codegen
    expressions (tokenize once per row, ``posexplode`` over the start
    sequence, ``slice``/``md5``) — no shuffle, no UDF, and the shuffle
    payload downstream is fixed-width 32-char digests, never text.
    Occurrence counting is a two-stage aggregation: a partial-combined
    ``groupBy(id, hash)`` collapses within-doc repeats map-side, then
    per-hash totals come from a second partial-aggregated ``groupBy(hash)``
    — a boilerplate window repeated a billion times arrives at its reducer
    as per-partition partial counts, not a billion rows. The per-(doc,
    window) frame (bounded by distinct windows per doc, ~n_tokens/stride
    rows of 40 bytes) is pinned so the corpus text is scanned exactly
    once; the totals re-join it on the digest, where AQE's skew-join
    splitting handles pathological boilerplate keys.
    """
    if width <= 0 or stride <= 0:
        raise ValueError("width and stride must be positive")
    from .text import normalize_text, whitespace_tokens

    toks = whitespace_tokens(F.col(text_col))
    # Blank docs are excluded (not given a vacuous empty window that would
    # cross-match every other blank doc) — same blank test as chunking.
    base = (
        df.filter(normalize_text(F.col(text_col)) != "")
        .select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
    )
    # Full-width starts only (plus one whole-doc window for short docs):
    # ragged tails would hash differently on every page and dilute the
    # duplicate signal with guaranteed-unique windows.
    n_wins = F.when(F.col("__n") <= width, F.lit(1)).otherwise(
        F.expr(f"(__n - {width}) div {stride} + 1")
    )
    wins = base.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(0), n_wins - 1)).alias("__w", "__s"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.md5(
            F.array_join(
                F.slice(F.col("__toks"), F.col("__w") * stride + 1, width), " "
            )
        ).alias("__wh"),
    )
    # Two consumers (the window totals and the join back).
    per = pin(
        wins.groupBy(id_col, "__wh").agg(F.count(F.lit(1)).alias("__k"))
    )
    totals = per.groupBy("__wh").agg(F.sum("__k").alias("__tot"))
    dup_k = F.when(F.col("__tot") > 1, F.col("__k")).otherwise(F.lit(0))
    return (
        per.join(totals, "__wh")
        .groupBy(id_col)
        .agg(
            F.sum("__k").cast("long").alias("n_windows"),
            F.sum(dup_k).cast("long").alias("dup_windows"),
        )
        .withColumn(
            "dup_frac", F.col("dup_windows") / F.col("n_windows")
        )
    )


def remove_duplicated_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
    stride: int = 4,
) -> DataFrame:
    """The surgery companion to :func:`duplicate_window_stats` — the
    Lee et al. 2022 treatment: instead of merely SCORING repeated
    passages, excise them. Every fixed-width token window that occurs
    more than once corpus-wide keeps exactly ONE canonical occurrence
    (lexicographic min ``(id, start)``); the tokens of every other
    occurrence are removed and each document's text is reassembled
    from the surviving tokens. Boilerplate paragraphs pasted into
    thousands of pages survive once, in the lowest-id page; a short
    document wholly duplicated elsewhere (its single whole-doc window
    non-canonical) comes back empty.

    Returns ``(id_col, clean_text, n_tokens, n_kept)`` — one row per
    non-blank document; ``clean_text`` is rebuilt from the NORMALIZED
    token stream (lowercased, whitespace-collapsed — the same
    canonical form every dedup here hashes), so it is a training-data
    cleaning output, not a display-faithful rewrite.

    Scale shape (100 TB): windows are generated scan-side (tokenize
    once per row, ``posexplode``, ``slice``/``md5`` — no UDF), the
    occurrence shuffle carries 32-char digests + two longs, canonical
    selection is a ``min(struct(id, start))`` partial aggregate, and
    the removal-span frame (one row per EXCESS occurrence — dup volume,
    not corpus volume) groups to a per-doc span array that joins back
    against a second text scan. Token filtering is a codegen'd
    higher-order ``filter``/``exists`` over the bounded span array —
    no token-level shuffle ever happens.
    """
    if width <= 0 or stride <= 0:
        raise ValueError("width and stride must be positive")
    from .text import normalize_text, whitespace_tokens

    toks = whitespace_tokens(F.col(text_col))
    base = (
        ensure_min_partitions(df)
        .filter(normalize_text(F.col(text_col)) != "")
        .select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
    )
    # Same tiling as duplicate_window_stats: full-width starts every
    # `stride`, plus one whole-doc window for docs shorter than `width`.
    n_wins = F.when(F.col("__n") <= width, F.lit(1)).otherwise(
        F.expr(f"(__n - {width}) div {stride} + 1")
    )
    occ = base.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(0), n_wins - 1)).alias("__w", "__s"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        (F.col("__w") * stride).alias("__start"),
        F.md5(
            F.array_join(
                F.slice(F.col("__toks"), F.col("__w") * stride + 1, width),
                " ",
            )
        ).alias("__wh"),
    )
    canon = occ.groupBy("__wh").agg(
        F.count(F.lit(1)).alias("__tot"),
        F.min(F.struct(F.col(id_col), F.col("__start"))).alias("__c"),
    )
    spans = (
        occ.join(canon.filter(F.col("__tot") > 1), "__wh")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__c.{id_col}"))
                & (F.col("__start") == F.col("__c.__start"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("__start").alias("__spans"))
    )
    joined = base.join(spans, id_col, "left").withColumn(
        "__spans", F.coalesce(F.col("__spans"), F.array().cast("array<long>"))
    )
    kept = F.filter(
        F.col("__toks"),
        lambda _t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (s <= i) & (i < s + F.lit(width)),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.col("__n").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int = 64,
    threshold: float = 0.95,
    n_iter: int = 5,
    seed: int = 7,
    block: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space with k-means, then inside each cluster collapse every group of
    vectors whose pairwise cosine exceeds ``threshold`` down to one
    representative (the min-id member of the connected similarity group —
    the same keeper rule as the text dedups here). Catches paraphrased /
    re-rendered / translated near-duplicates that token-level MinHash
    can't see.

    Returns the surviving rows of ``df`` (all columns).

    Deterministic end-to-end: k-means seeds by hash order (no RNG state),
    Lloyd refinement and assignment are fixed-order float reductions, and
    the keeper rule is pure min-id — so reruns and retried tasks agree.

    Scale shape (100 TB): clustering never shuffles vectors (seed sample +
    broadcast-centroid GEMM scans, see :func:`~krnel_graph_spark.functions
    .similarity.kmeans_assign`); the ONE vector shuffle is the
    cluster-keyed ``applyInPandas`` grouping, whose task size is
    corpus/n_clusters — size ``n_clusters`` so a cluster fits an executor
    (the paper runs ~100k clusters for web scale; the O(c²) intra-cluster
    similarity work is SemDeDup's intended cost and ``block`` rows per
    GEMM tile bounds its working set). The removal set (ids only) comes
    back through a broadcast anti-join, so corpus rows are never
    collected.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    from .similarity import kmeans_assign

    id_dtype = df.schema[id_col].dataType.simpleString()
    assigned = kmeans_assign(
        df.select(id_col, vec_col),
        vec_col,
        id_col,
        k=n_clusters,
        n_iter=n_iter,
        seed=seed,
        keep_all=True,
    )

    def drop_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        v = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
        )[order]
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        x = v / norms[:, None]
        n = len(x)
        parent = list(range(n))

        def find(a: int) -> int:
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for lo in range(0, n, block):
            hi = min(lo + block, n)
            sims = x[lo:hi] @ x.T
            # Round-6 shield on the threshold comparison (r11): an oracle
            # computing cosine as dot/(|a||b|) differs from this
            # normalize-then-GEMM by last-ulp amounts; rounding both
            # sides makes edge membership engine-portable unless a true
            # cosine sits exactly on the 5e-7 grid at the threshold.
            for i_off, j in zip(*np.nonzero(np.round(sims, 6) > threshold)):
                i = lo + i_off
                if j <= i:
                    continue
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        removal = [ids[i] for i in range(n) if find(i) != i]
        return pd.DataFrame({id_col: removal})

    removals = assigned.groupBy("cluster").applyInPandas(
        drop_ids, schema=f"{id_col} {id_dtype}"
    )
    return df.join(F.broadcast(removals), id_col, "left_anti")


# ---------------------------------------------------------------------- #
# Bloom prefilter (map-side membership pruning)                            #
# ---------------------------------------------------------------------- #


def build_bloom(
    df: DataFrame,
    col: str,
    bits_per_key: int = 10,
    n_hashes: int = 4,
    max_bits: int = 1 << 27,
) -> bytes:
    """Build a bloom filter over a string column: double-hashing over the
    JVM-side ``xxhash64`` of each value, k index derivations and bit sets
    fully numpy-vectorized, per-partition partial bit arrays OR-combined
    on the driver (bloom-sized, not data-sized).

    Spark doesn't expose ``bloom_filter_agg`` to SQL, so this is the
    engine's own: ~``bits_per_key``/key (10 -> ~1% FP at k=4), capped at
    ``max_bits`` (16 MiB default — past that prefer the plain hash
    anti-join or raise the cap). Returns the filter as bytes, cheap to
    broadcast."""
    n_keys = df.count() or 1
    m_bits = min(max(64, n_keys * bits_per_key), max_bits)
    n_bytes = (m_bits + 7) // 8
    # The probe side recovers m from len(bloom) * 8, so the modulus MUST
    # be the byte-rounded bit count — a 500-bit request probes at 504.
    m_bits = n_bytes * 8
    hashed = df.select(F.xxhash64(F.col(col)).alias("__h"))

    def partials(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            h = pdf["__h"].to_numpy(dtype=np.uint64)
            h1 = h >> np.uint64(32)
            h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)
            for i in range(n_hashes):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
                np.bitwise_or.at(
                    bits, (idx >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
                )
        if seen:
            yield pd.DataFrame({"b": [bits.tobytes()]})

    parts = hashed.mapInPandas(partials, "b binary").collect()
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for r in parts:
        acc |= np.frombuffer(r["b"], dtype=np.uint8)
    return acc.tobytes()


def bloom_might_contain(bloom: bytes, col, n_hashes: int = 4) -> Column:
    """Membership-test column for a :func:`build_bloom` filter: true when
    the value MIGHT be in the builder's key set (false positives at the
    filter's FP rate, never false negatives). The filter rides to
    executors as a broadcast; the probe is an Arrow-batched numpy kernel
    over JVM-side ``xxhash64`` values — no per-row Python."""
    m_bits = len(bloom) * 8
    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        bits = np.frombuffer(bloom, dtype=np.uint8)
        hv = h.to_numpy(dtype=np.uint64)
        h1 = hv >> np.uint64(32)
        h2 = (hv & np.uint64(0xFFFFFFFF)) | np.uint64(1)
        hit = np.ones(len(hv), dtype=bool)
        for i in range(n_hashes):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
            hit &= (byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return pd.Series(hit)

    return probe(F.xxhash64(c))


# ---------------------------------------------------------------------- #
# Blocked edit-distance (fuzzy) join                                       #
# ---------------------------------------------------------------------- #


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    id_col: str,
    block_cols: list[str],
    max_dist: int = 2,
    self_pairs: bool = False,
) -> DataFrame:
    """Entity-resolution join: pairs whose ``key_col`` strings are within
    ``max_dist`` Levenshtein edits, compared ONLY inside equal
    ``block_cols`` groups (standard ER blocking — recall is the caller's
    blocking-key choice, the classic precision/cost trade).

    Returns ``(id_a, id_b, dist)``; with ``self_pairs=True`` both inputs
    are the same table and each unordered pair appears once
    (``id_a < id_b``).

    Scale: the equi-join on the block key co-locates candidates with ONE
    hash shuffle per side — never an all-pairs cross join. Two cheap
    JVM-side prefilters run before the O(len²) distance: equal blocks
    (the join itself) and the provable ``|len(a) - len(b)| <= max_dist``
    bound; the Levenshtein that remains is the thresholded variant, which
    abandons a row pair as soon as the running distance exceeds
    ``max_dist`` (O(len·d), not O(len²)). Block-size skew is the knob:
    at 100 TB pick blocking keys whose largest block stays executor-
    sized, or salt a hot block with a shingle prefix. AQE's skew-join
    split handles the read side.
    """
    if not block_cols:
        raise ValueError("fuzzy_join requires at least one blocking column")
    a = left.select(
        F.col(id_col).alias("id_a"),
        F.col(key_col).alias("__ka"),
        F.length(key_col).alias("__la"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    b = right.select(
        F.col(id_col).alias("id_b"),
        F.col(key_col).alias("__kb"),
        F.length(key_col).alias("__lb"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    pair_pred = (
        F.col("id_a") < F.col("id_b") if self_pairs else F.lit(True)
    )
    dist = F.levenshtein(F.col("__ka"), F.col("__kb"), max_dist)
    return (
        a.join(b, [f"__b_{c}" for c in block_cols])
        .filter(pair_pred)
        .filter(F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def dedup_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate cluster-size audit — the report a curation team
    reads BEFORE deciding a dedup policy: MinHash-LSH pair graph →
    connected components → histogram of cluster sizes, with singleton
    docs (no verified near-dup) as the ``cluster_size = 1`` row.
    ``n_docs / sum(n_docs)`` per row is the mass in each duplication
    regime; a corpus with a heavy size-40 tail needs `group_cap` or a
    keeper rule, one with only pairs just needs `drop_near_dups`.

    Returns ``(cluster_size, n_clusters, n_docs)`` rows, exact integers.

    Scale shape: the pair graph is banded (never all-pairs), components
    run distributed (large-star/small-star, O(log n) rounds), and
    everything after is a two-level agg on the component-id frame —
    the histogram is at most #distinct-sizes rows. No driver
    materialization anywhere.
    """
    from .graph import connected_components

    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    hist = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    hist = hist.select(
        F.col("sz").cast("long").alias("cluster_size"),
        "n_clusters",
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )
    totals = F.broadcast(
        df.agg(F.count(F.lit(1)).cast("long").alias("total")).crossJoin(
            comp.agg(F.count(F.lit(1)).cast("long").alias("in_graph"))
        )
    )
    singles = totals.filter(F.col("total") > F.col("in_graph")).select(
        F.lit(1).cast("long").alias("cluster_size"),
        (F.col("total") - F.col("in_graph")).alias("n_clusters"),
        (F.col("total") - F.col("in_graph")).alias("n_docs"),
    )
    return hist.unionByName(singles)


def cdc_chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    modulus: int = 64,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup report — the shift-robust
    complement to :func:`remove_duplicated_windows`. A chunk boundary is
    declared after token position ``i`` whenever the rolling
    ``window``-token digest satisfies ``md5_long(...) % modulus == 0``
    (Rabin/LBFS-style content-defined cut points, expected chunk length
    ≈ ``modulus`` tokens). Because boundaries depend only on local
    content, an insertion early in a document shifts token positions but
    the cut points RE-SYNC right after it — fixed-width windows lose
    alignment for the whole remainder. Classic CDC min/max chunk-size
    clamps are deliberately omitted: they make each boundary depend on
    the previous one (stateful), whereas the pure rule is stateless,
    HOF-expressible, and SQL-replayable.

    Per doc: ``n_chunks``, ``n_dup_chunks`` (chunks whose digest appears
    >1 times corpus-wide), token totals and the round-6
    ``dup_token_fraction`` — the "how much of this doc is boilerplate
    shared with the rest of the corpus" curation signal. Docs with no
    tokens report zero chunks / fraction 0.0.

    Scale shape: chunking is ONE codegen'd scan projection (token HOFs,
    no Python); the only shuffles are the chunk-digest groupBy (partial-
    agg'd counts of fixed-width tuples), the digest join back (chunk
    rows, never raw text), and the per-doc aggregate. At 100 TB, bucket
    by digest to co-locate the count join.
    """
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    if modulus <= 0:
        raise ValueError(f"modulus must be positive, got {modulus}")
    from .text import normalize_text

    norm = normalize_text(F.col(text_col))
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("doc"), toks.alias("toks"), F.size(toks).alias("n")
    )
    # boundary END positions (1-based): i in [window, n] with the rolling
    # digest of toks[i-window+1 .. i] hitting the cut condition
    roll = lambda i: md5_long(  # noqa: E731
        F.concat_ws(" ", F.slice(F.col("toks"), i - F.lit(window) + 1, window))
    )
    bnd = F.when(
        F.col("n") >= window,
        F.filter(
            F.sequence(F.lit(window), F.col("n")),
            lambda i: roll(i) % modulus == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    withb = base.select(
        "doc", "toks", "n",
        F.concat(F.array(F.lit(1)), F.transform(bnd, lambda b: b + 1)).alias(
            "starts"
        ),
        F.concat(bnd, F.array(F.col("n"))).alias("ends"),
    )
    js = F.filter(
        F.sequence(F.lit(1), F.size(F.col("starts"))),
        lambda j: F.element_at(F.col("ends"), j)
        >= F.element_at(F.col("starts"), j),
    )
    chunk = lambda j: F.struct(  # noqa: E731
        md5_long(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    F.element_at(F.col("starts"), j),
                    F.element_at(F.col("ends"), j)
                    - F.element_at(F.col("starts"), j)
                    + 1,
                ),
            )
        ).alias("digest"),
        (
            F.element_at(F.col("ends"), j)
            - F.element_at(F.col("starts"), j)
            + 1
        ).alias("n_tok"),
    )
    chunks = withb.select(
        "doc", F.explode(F.transform(js, chunk)).alias("c")
    ).select("doc", F.col("c.digest").alias("digest"), F.col("c.n_tok").alias("n_tok"))
    # Two consumers (the digest counts and the join back) otherwise both
    # re-run the rolling-digest chunking scan — the expensive leg (one
    # window md5 per token position). Pin the (doc, digest, n_tok)
    # frame, ~24 B/chunk. Same size gate as the signature pin.
    if _worth_pinning(df):
        chunks = pin(chunks)
    counts = chunks.groupBy("digest").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        chunks.join(counts, "digest")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_chunks"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") > 1, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("dup_tokens"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.when(
                F.coalesce(F.col("n_tokens"), F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("dup_tokens").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                )
            )
            .alias("dup_token_fraction"),
        )
    )
