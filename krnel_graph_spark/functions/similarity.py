"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small) query
  set against the corpus, window-rank per query. The correctness baseline,
  and genuinely the right plan when |queries| is small: one corpus scan, no
  corpus shuffle beyond the rank.
* :func:`cosine_topk_lsh` — random-hyperplane-bucketed approximate variant:
  corpus and queries hash to LSH buckets (with optional multi-probe on the
  query side), candidates are bucket collisions only. The 100-TB path: the
  join key is a 16-bit bucket id, so the shuffle carries ids+buckets, and
  per-bucket candidate sets stay small.
* :func:`ivf_topk` — IVF-style: k-means-ish centroids sampled
  deterministically from the corpus; vectors assign to nearest centroid
  (scan-side); queries probe the ``nprobe`` nearest centroid cells.
* :func:`pq_train` / :func:`pq_encode` / :func:`pq_topk` — product
  quantization: vectors compress to ``m`` one-byte codes (32× smaller
  scans at the defaults); search is table-lookup ADC with an optional
  exact re-rank of the shortlist. The memory/IO answer when even ids+
  vectors no longer fit the scan budget.
* :func:`kmeans_assign` — distributed k-means clustering (semantic
  bucketing for quota sampling and cluster-local dedup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import ensure_min_partitions, pin
from .vector import dot


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 7) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _with_norm(df: DataFrame, vec_alias: str, norm_alias: str) -> DataFrame:
    """Attach the L2 norm scan-side: one fold per row instead of one per
    candidate pair downstream (bit-identical — same index-order fold)."""
    return df.withColumn(norm_alias, F.sqrt(dot(vec_alias, vec_alias)))


def _pair_cosine() -> F.Column:
    """JVM fold, not the numpy kernel: top-k pair volume is |queries|·k-ish
    (small), so per-task Python round-trips cost more than the fold saves —
    measured 1.7s (fold) vs 3.4s (kernel) warm at sf0.1. The all-pairs dedup
    path (millions of pairs) keeps the kernel, where batching amortizes."""
    return F.round(
        dot(F.col("dv"), F.col("qv")) / (F.col("dnorm") * F.col("qnorm")), 6
    ).alias("cosine")


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k per query by similarity (id tiebreak for determinism)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query (queries broadcast; self-matches
    excluded when ids collide)."""
    c = _with_norm(
        ensure_min_partitions(corpus).select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias("dv")
        ),
        "dv",
        "dnorm",
    )
    q = _with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        "qnorm",
    )
    scored = c.join(F.broadcast(q), F.col("doc_id") != F.col("query_id")).select(
        "query_id", "doc_id", _pair_cosine()
    )
    return _ranked_topk(scored, k)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    planes: list[list[float]] | None = None,
    dim: int | None = None,
    n_planes: int = 16,
    multiprobe: int = 1,
    n_tables: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates = hyperplane-bucket collisions.

    ``multiprobe`` > 1 additionally probes buckets at Hamming distance 1 on
    the query side (flipping each of the lowest ``multiprobe - 1`` bits),
    trading candidate volume for recall. ``n_tables`` > 1 is the standard
    LSH amplification: L independent plane sets, a candidate collides in
    ANY table — per-neighbor miss probability decays as ``(1 - p)^L``.
    Queries stay broadcast, so the corpus is never shuffled: the per-table
    explode multiplies map-side candidate checks (L × rows), not shuffle
    volume — L is the recall knob that survives 100 TB. Size ``n_planes``
    so 2^n_planes ≪ corpus size / desired bucket occupancy.
    """
    if planes is not None:
        if n_tables > 1 or seed != 7:
            # Explicit planes define the single table entirely; accepting
            # amplification/seed knobs alongside them and silently ignoring
            # both would misreport the index actually built.
            raise ValueError(
                "cosine_topk_lsh: explicit `planes` are incompatible with "
                "`n_tables`/`seed` — pass one or the other"
            )
        tables = [planes]
    else:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        tables = [
            random_hyperplanes(dim, n_planes, seed + 131 * t)
            for t in range(max(1, n_tables))
        ]

    # All tables' signatures in one Arrow-batched GEMM per batch, planes
    # riding as a broadcast — an expression formulation embeds
    # n_tables × n_planes × dim literals in the plan (measured 2 MB task
    # binaries at the 8-table gate parameters and Catalyst blowup beyond).
    # Bit semantics identical to vector.hyperplane_signature:
    # bit i = (v · plane_i >= 0), bucket = Σ bit·2^i.
    tmat = np.asarray(tables, dtype=np.float64)  # (L, P, dim)
    bc_planes = corpus.sparkSession.sparkContext.broadcast(tmat)
    n_flips = max(0, multiprobe - 1)

    def bucket_entries_udf(probe: bool):
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        entry_type = ArrayType(
            StructType(
                [StructField("t", IntegerType()), StructField("b", LongType())]
            )
        )

        @F.pandas_udf(entry_type)
        def entries(vecs: pd.Series) -> pd.Series:
            tm = bc_planes.value
            n_planes_ = tm.shape[1]
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
            bits = (np.einsum("nd,lpd->nlp", v, tm) >= 0).astype(np.int64)
            weights = (1 << np.arange(n_planes_)).astype(np.int64)
            buckets = bits @ weights  # (n, L)
            out = []
            for row in buckets:
                ents = [(int(t), int(b)) for t, b in enumerate(row)]
                if probe:
                    ents += [
                        (int(t), int(b) ^ (1 << i))
                        for t, b in enumerate(row)
                        for i in range(n_flips)
                    ]
                out.append(ents)
            return pd.Series(out)

        return entries

    # Norms attach BEFORE the per-table explode — one fold per vector, not
    # one per (vector, table) row.
    c = _with_norm(
        ensure_min_partitions(corpus).select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias("dv")
        ),
        "dv",
        "dnorm",
    ).select(
        "doc_id", "dv", "dnorm",
        F.explode(bucket_entries_udf(probe=False)(F.col("dv"))).alias("bk"),
    )
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv",
        "qnorm",
    ).select(
        "query_id", "qv", "qnorm",
        F.explode(bucket_entries_udf(probe=True)(F.col("qv"))).alias("qbk"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("bk") == F.col("qbk")) & (F.col("doc_id") != F.col("query_id")),
        )
        .select("query_id", "doc_id", _pair_cosine())
        .dropDuplicates(["query_id", "doc_id"])
    )
    return _ranked_topk(scored, k)


def kmeans_refine_centroids(
    corpus: DataFrame,
    vec_col: str,
    cmat: "np.ndarray",
    n_iter: int = 2,
) -> "np.ndarray":
    """Distributed Lloyd iterations over a seed centroid matrix.

    Each iteration is one corpus pass: an Arrow-batched ``mapInPandas``
    assigns every vector to its nearest centroid (GEMM) and pre-aggregates
    per-PARTITION (cell, count, component-sum) partials, so what leaves an
    executor is O(cells × dim) per partition regardless of rows. Partials
    explode to (cell, idx, val) scalars and tree-reduce through a regular
    ``groupBy`` — nothing corpus-sized ever reaches the driver; the driver
    collects exactly cells × dim cell means. Empty cells keep their previous
    centroid (standard Lloyd degeneracy handling).

    Determinism contract (r11): component sums are INT64 MICRO-UNITS of
    the round-6 coordinates (exact, order-free addition — a float sum
    here was the partition-order nondeterminism that kept every k-means
    consumer rows-only), and each pass's nearest-centroid pick is the
    round-6 stable argmin. Result: the refined centroid matrix is a
    pure function of (corpus values, seed matrix, n_iter) — identical
    under any partitioning, and replayable by an oracle applying the
    same arithmetic. Each cell mean is computed as
    ``(micro_sum / 1e6) / count`` in float64, in that order.
    """
    import pandas as pd  # noqa: F811 (module-level alias shadows fine)

    spark = corpus.sparkSession
    vecs = ensure_min_partitions(corpus.select(F.col(vec_col).alias("v")))
    n_cells, dim = cmat.shape
    for _ in range(n_iter):
        bc_it = spark.sparkContext.broadcast(cmat)

        def partials(batches):
            cm = bc_it.value
            counts = np.zeros(len(cm), dtype=np.int64)
            sums = np.zeros((len(cm), cm.shape[1]), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
                d2 = (
                    (v * v).sum(axis=1)[:, None]
                    - 2.0 * (v @ cm.T)
                    + (cm * cm).sum(axis=1)[None, :]
                )
                # Round-6 stable argmin: lowest cell wins ties — the same
                # shield the assignment UDFs use, so an oracle replica
                # routes every vector identically.
                cells = np.argmin(np.round(d2, 6), axis=1)
                np.add.at(counts, cells, 1)
                # Integer micro-units: exact, order-free addition — the
                # cross-partition float sum this replaces was the
                # partition-order nondeterminism in the refit.
                np.add.at(sums, cells, np.round(v * 1e6).astype(np.int64))
            hit = np.nonzero(counts)[0]
            # Empty partitions yield nothing: a zero-row frame would give
            # the "s" column float64 dtype (pandas' empty-list inference),
            # which Arrow refuses to cast to list<bigint>.
            if len(hit):
                yield pd.DataFrame(
                    {
                        "cell": hit.astype("int32"),
                        "n": counts[hit],
                        "s": list(sums[hit]),
                    }
                )

        # Each partition emits ONE partial row per non-empty cell, so after
        # posexplode, sum(n) within a (cell, idx) group is the cell's total
        # count (identical for every idx of that cell). Long sums are exact.
        agg = (
            vecs.mapInPandas(partials, "cell int, n long, s array<long>")
            .select("cell", "n", F.posexplode("s").alias("idx", "val"))
            .groupBy("cell", "idx")
            .agg(F.sum("val").alias("sv"), F.sum("n").alias("n"))
            .collect()
        )
        new = cmat.copy()
        comp: dict[int, np.ndarray] = {}
        cnt: dict[int, int] = {}
        for r in agg:
            comp.setdefault(r["cell"], np.zeros(dim, dtype=np.int64))[
                r["idx"]
            ] = r["sv"]
            cnt[r["cell"]] = r["n"]
        for cell, s in comp.items():
            if cnt.get(cell, 0) > 0:
                # Fixed op order (micro→unit, then mean) — part of the
                # determinism contract oracles replay.
                new[cell] = (s.astype(np.float64) / 1e6) / cnt[cell]
        cmat = new
        bc_it.destroy()
    return cmat


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k.

    Centroids are a deterministic sample of corpus vectors, ordered by
    the engine-portable md5 key (``md5('{seed}:' || id)``, the same rule
    every sampler here uses — so a SQL oracle regenerates the identical
    centroid set) — good cell routing without an index-training job;
    ``refine_iters`` > 0 additionally runs that many distributed Lloyd
    iterations (:func:`kmeans_refine_centroids`) to rebalance cells, the
    standard IVF training step when corpus geometry is clustered. Corpus
    rows assign to their nearest centroid scan-side; each query probes
    its ``nprobe`` nearest cells. Cell distances are rounded to 6 places
    before the stable argmin (ties toward the lower cell index) — the
    kcenter-style determinism shield that makes the routing immune to
    last-ulp differences between the GEMM here and a fold elsewhere.

    The centroid matrix rides to executors as a Spark broadcast consumed by
    an Arrow-batched cell-assignment UDF (one BLAS GEMM per batch), so the
    physical plan is the same size at 16 cells or 16k — embedding centroids
    as per-component plan literals would blow up Catalyst/codegen at
    realistic cell counts.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    from .hashing import md5_long

    centroid_rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(
            md5_long(
                F.concat(
                    F.lit(f"ivf:{seed}:"), F.col("cid").cast("string")
                )
            ),
            F.col("cid").asc(),
        )
        .limit(n_cells)
        .collect()
    )
    cmat = np.asarray([r["cv"] for r in centroid_rows], dtype=np.float64)
    if refine_iters > 0:
        cmat = kmeans_refine_centroids(corpus, vec_col, cmat, refine_iters)
    bc = corpus.sparkSession.sparkContext.broadcast(cmat)

    def _make_assigner(n: int):
        @F.pandas_udf(ArrayType(IntegerType()))
        def assign(vecs: pd.Series) -> pd.Series:
            cm = bc.value
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
            # Squared L2 via GEMM; monotone with distance, so the cell
            # ranking matches an explicit per-centroid l2_distance. Stable
            # argsort ties break toward the lower cell id, matching the
            # (distance, cell) struct-sort this replaced.
            d2 = (
                (v * v).sum(axis=1)[:, None]
                - 2.0 * (v @ cm.T)
                + (cm * cm).sum(axis=1)[None, :]
            )
            # Round-6 shield: the SQL twin computes the same formula as
            # a fold; rounding before the stable argsort makes the cell
            # ranking identical unless a distance sits exactly on a
            # 5e-7 boundary. Residual risk, two-fold: the GEMM and the
            # SQL fold accumulate in different orders, AND np.round is
            # half-to-even while DuckDB round() is half-away-from-zero —
            # so parity at an exact .5e-6 boundary is probabilistic.
            # Measured safe on the gate corpora; a corpus that trips it
            # would need a d2 within ~1e-12 of a 5e-7 grid point.
            idx = np.argsort(np.round(d2, 6), axis=1, kind="stable")[:, :n]
            return pd.Series(list(idx.astype("int32")))

        # asNondeterministic: the nprobe explode's Generate pushes its
        # implicit size()>0 guard below the projection, running the
        # assignment kernel twice over the query side (guide §4.4, same
        # fix as bpe_encode). Pure kernel, results unchanged.
        return assign.asNondeterministic()

    c = _with_norm(
        ensure_min_partitions(corpus).select(
            F.col(id_col).alias("doc_id"),
            F.col(vec_col).alias("dv"),
            _make_assigner(1)(F.col(vec_col))[0].alias("cell"),
        ),
        "dv",
        "dnorm",
    )
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(_make_assigner(nprobe)(F.col(vec_col))).alias("cell"),
        ),
        "qv",
        "qnorm",
    )
    scored = c.join(
        F.broadcast(q).withColumnRenamed("cell", "qcell"),
        (F.col("cell") == F.col("qcell")) & (F.col("doc_id") != F.col("query_id")),
    ).select("query_id", "doc_id", _pair_cosine()).dropDuplicates(
        ["query_id", "doc_id"]
    )
    return _ranked_topk(scored, k)


def kmeans_assign(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    n_iter: int = 5,
    seed: int = 7,
    keep_all: bool = False,
) -> DataFrame:
    """Distributed k-means clustering: returns ``(id, cluster, dist)`` —
    the semantic-bucketing primitive behind topic balancing, per-cluster
    sampling quotas, and cluster-local near-dup sweeps. With
    ``keep_all=True`` the input columns ride along instead (``(*corpus
    columns, cluster)``) so callers that need the vectors cluster-keyed
    (e.g. :func:`~krnel_graph_spark.functions.dedup.semantic_dedup`)
    don't pay a second join-on-id vector shuffle.

    Seeds are a deterministic hash-ordered sample of corpus vectors (the
    engine-portable md5 key ``md5('km:{seed}:' || id)``, id-ascending
    ties — the exact rule ``ivf_topk`` uses, so a SQL oracle regenerates
    the identical seed set; no RNG state to ship), refined by ``n_iter``
    distributed Lloyd passes (:func:`kmeans_refine_centroids`: one
    corpus scan per pass, O(k × dim) partials per partition). The final
    assignment is one more scan through the broadcast-centroid GEMM
    assigner, so the whole fit-and-assign touches the corpus ``n_iter+1``
    times and never shuffles vectors at all.

    Determinism contract (r11): the whole fit is partitioning-invariant
    and replayable — Lloyd sums are exact integer micro-units and every
    nearest-centroid pick (refinement AND final assignment) is the
    round-6 stable argmin (ties toward the lower cluster id), so an
    oracle replaying the seed rule + Lloyd arithmetic reproduces
    cluster ids and round-6 distances bit-for-bit.
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from .hashing import md5_long

    seed_rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(
            md5_long(
                F.concat(F.lit(f"km:{seed}:"), F.col("cid").cast("string"))
            ),
            F.col("cid").asc(),
        )
        .limit(k)
        .collect()
    )
    cmat = np.asarray([r["cv"] for r in seed_rows], dtype=np.float64)
    if n_iter > 0:
        cmat = kmeans_refine_centroids(corpus, vec_col, cmat, n_iter)
    bc = corpus.sparkSession.sparkContext.broadcast(cmat)

    out_t = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("dist", DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def assign(vecs: pd.Series) -> pd.DataFrame:
        cm = bc.value
        if len(vecs) == 0:
            return pd.DataFrame({"cluster": [], "dist": []})
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        d2 = (
            (v * v).sum(axis=1)[:, None]
            - 2.0 * (v @ cm.T)
            + (cm * cm).sum(axis=1)[None, :]
        )
        # Round-6 stable argmin (first index wins = lowest cluster id):
        # the ivf_topk routing shield, here so an oracle evaluating the
        # same expansion as a SQL fold picks identical clusters.
        cells = np.argmin(np.round(d2, 6), axis=1)
        best = np.sqrt(np.maximum(d2[np.arange(len(v)), cells], 0.0))
        return pd.DataFrame(
            {"cluster": cells.astype("int32"), "dist": best}
        )

    widened = ensure_min_partitions(corpus)
    res = widened.withColumn("_a", assign(F.col(vec_col)))
    if keep_all:
        return res.select(
            *corpus.columns, F.col("_a.cluster").alias("cluster")
        )
    return res.select(
        F.col(id_col),
        F.col("_a.cluster").alias("cluster"),
        F.round(F.col("_a.dist"), 6).alias("dist"),
    )


# ---------------------------------------------------------------------- #
# Product quantization (PQ): compressed ANN for corpora whose raw vectors #
# no longer fit the cluster's memory/scan budget.                         #
# ---------------------------------------------------------------------- #


def pq_train(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    n_codes: int = 256,
    sample_rows: int = 4096,
    seed: int = 7,
    n_iter: int = 10,
    id_col: str | None = None,
) -> "np.ndarray":
    """Train product-quantization codebooks: split vectors into ``m``
    subspaces, k-means each to ``n_codes`` centroids. Returns an
    ``(m, n_codes, dim/m)`` array.

    Training runs driver-side numpy over a DETERMINISTIC hash-ordered
    sample (``sample_rows`` vectors — a bounded collect, the same policy
    as the IVF centroid seed): PQ codebooks are a fixed-size model
    (m·n_codes·sub_dim floats, e.g. 8·256·8 = 16k) whose quality
    saturates at a few thousand training points regardless of corpus
    size, so at 100 TB the sample — not the corpus — is still what any
    index-training job reads.

    With ``id_col`` given, the sample orders by the engine-portable md5
    key (``md5('pq:{seed}:' || id)``, id-ascending ties — the same rule
    :func:`ivf_topk` uses), so an oracle can regenerate the identical
    sample (and therefore the identical codebooks, since the fit is
    driver-side numpy) from the raw table. Without it, the legacy
    vector-string xxhash64 ordering is kept for back-compat.
    """
    if id_col is not None:
        from .hashing import md5_long

        rows = (
            corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
            .orderBy(
                md5_long(
                    F.concat(F.lit(f"pq:{seed}:"), F.col("i").cast("string"))
                ),
                F.col("i").asc(),
            )
            .limit(sample_rows)
            .collect()
        )
    else:
        rows = (
            corpus.select(F.col(vec_col).alias("v"))
            .withColumn("_h", F.xxhash64(F.col("v").cast("array<double>").cast("string"), F.lit(seed)))
            .orderBy("_h")
            .limit(sample_rows)
            .collect()
        )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    return _pq_fit(x, m, n_codes, seed, n_iter)


def _pq_fit(
    x: "np.ndarray", m: int, n_codes: int, seed: int, n_iter: int
) -> "np.ndarray":
    """Numpy PQ-codebook k-means core (shared by :func:`pq_train` on raw
    vectors and :func:`ivfpq_topk` on residuals)."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        k = min(n_codes, len(xs))
        cm = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(n_iter):
            d2 = (
                (xs * xs).sum(1)[:, None]
                - 2 * (xs @ cm.T)
                + (cm * cm).sum(1)[None, :]
            )
            a = d2.argmin(1)
            for c in range(k):
                pts = xs[a == c]
                if len(pts):
                    cm[c] = pts.mean(0)
        if k < n_codes:  # degenerate tiny corpora: repeat last centroid
            cm = np.vstack([cm, np.repeat(cm[-1:], n_codes - k, axis=0)])
        books[j] = cm
    return books


def pq_encode(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: "np.ndarray",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes — 8 bytes/vector at
    the default (m=8, 256 codes) vs 256 bytes of float32: a 32× smaller
    scan for every downstream search. One corpus pass through a
    broadcast-codebook Arrow UDF (per-subspace GEMM argmin)."""
    from pyspark.sql.types import ArrayType, IntegerType

    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(vecs: pd.Series) -> pd.Series:
        books = bc.value
        if not len(vecs):
            return pd.Series([], dtype=object)
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        m, _, sub = books.shape
        codes = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            xs = v[:, j * sub : (j + 1) * sub]
            cm = books[j]
            d2 = (
                (xs * xs).sum(1)[:, None]
                - 2 * (xs @ cm.T)
                + (cm * cm).sum(1)[None, :]
            )
            # Round-6 shield before the argmin (ivf_topk's determinism
            # rule): code assignment becomes immune to last-ulp GEMM
            # differences across batch shapes, so a driver-side oracle
            # recomputing d2 over the whole corpus picks the same codes.
            codes[:, j] = np.round(d2, 6).argmin(1)
        return pd.Series(list(codes))

    widened = ensure_min_partitions(corpus)
    return widened.select(
        F.col(id_col).alias("doc_id"), enc(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str,
    id_col: str,
    k: int = 10,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): per query, a
    ``(m, n_codes)`` lookup table of subspace distances; a candidate's
    distance is ``m`` table lookups summed — no float vectors are read
    at search time at all.

    Queries (collected — the broadcast-side small relation, as in
    ``cosine_topk``) and codebooks ride one broadcast; each scan
    partition emits only its local top-k per query, so the shuffle into
    the final ranking window is |partitions|·|queries|·k rows no matter
    how big the corpus is.

    Pass ``refine`` (the raw-vector corpus) to exact-re-rank the ADC
    shortlist: the top ``k·refine_factor`` ADC candidates per query join
    back against their float vectors (a broadcast semi-join touching only
    shortlist rows) and the final top-k uses true L2 — the standard
    two-stage PQ design that buys back quantization recall for a
    constant amount of exact work per query.
    """
    shortlist = k * refine_factor if refine is not None else k
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    qids = np.asarray([r["qid"] for r in q_rows])
    qmat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    m, n_codes, sub = codebooks.shape
    # LUT[q, j, c] = ||q_sub_j - codebook[j, c]||^2
    luts = np.empty((len(qmat), m, n_codes))
    for j in range(m):
        qs = qmat[:, j * sub : (j + 1) * sub]
        cm = codebooks[j]
        luts[:, j, :] = (
            (qs * qs).sum(1)[:, None]
            - 2 * (qs @ cm.T)
            + (cm * cm).sum(1)[None, :]
        )
    bc = encoded.sparkSession.sparkContext.broadcast((qids, luts))

    def score(batches):
        qi, lt = bc.value
        nq, mm, _ = lt.shape
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (B, m)
            # dist[q, b] = sum_j LUT[q, j, codes[b, j]]
            d = np.zeros((nq, len(codes)))
            for j in range(mm):
                d += lt[:, j, :][:, codes[:, j]]
            ids = pdf["doc_id"].to_numpy()
            kk = min(shortlist, len(codes))
            out_q, out_id, out_d = [], [], []
            for qi_idx in range(nq):
                # (distance, doc_id) prune — argpartition would resolve
                # boundary TIES arbitrarily, disagreeing with the global
                # (approx_l2, doc_id) window cut on duplicate vectors.
                sel = np.lexsort((ids, d[qi_idx]))[:kk]
                out_q.extend([qi[qi_idx]] * len(sel))
                out_id.extend(ids[sel])
                out_d.extend(d[qi_idx, sel])
            yield pd.DataFrame(
                {"query_id": out_q, "doc_id": out_id, "approx_l2": out_d}
            )

    cand = encoded.mapInPandas(
        score, "query_id long, doc_id long, approx_l2 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_l2").asc(), F.col("doc_id").asc()
    )
    if refine is None:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "doc_id",
                F.round(
                    F.sqrt(F.greatest(F.col("approx_l2"), F.lit(0.0))), 6
                ).alias("approx_l2"),
                "rank",
            )
        )
    # Exact re-rank: shortlist ids (|queries|·k·factor rows) pull their
    # float vectors; true L2 against broadcast query vectors decides.
    short = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "doc_id")
    )
    corp = refine.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("dv")
    )
    qv = refine.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, qmat)],
        "qid long, qv array<double>",
    )
    from .vector import l2_distance

    exact = (
        corp.join(F.broadcast(short), F.col("cid") == F.col("doc_id"))
        .join(F.broadcast(qv), F.col("query_id") == F.col("qid"))
        .select(
            "query_id",
            "doc_id",
            F.round(l2_distance(F.col("dv").cast("array<double>"), "qv"), 6)
            .alias("approx_l2"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "approx_l2", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 7,
    refine_iters: int = 1,
    sample_rows: int = 4096,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition of the coarse quantizer
    (:func:`ivf_topk`'s cell routing) with product quantization on CELL
    RESIDUALS (vec − centroid), the standard billion-scale ANN index
    layout (faiss ``IVFx,PQy``): residuals are tighter than raw vectors,
    so the same byte budget quantizes finer.

    Search: each query probes its ``nprobe`` nearest cells; for every
    (query, probed cell) pair a per-subspace LUT of ||q_residual −
    codeword||² is built DRIVER-side (nq·nprobe·m·n_codes floats — a few
    MB) and broadcast; a corpus scan of the 8-byte codes does ADC with m
    lookups per candidate and emits only local top-``k·refine_factor``
    per query. Optional exact re-rank against the float corpus
    (``refine``) buys back quantization recall.

    Scale story: the corpus pass that builds the index reads vectors
    ONCE (assign + residual + encode in a single Arrow-batched kernel);
    search reads only codes (32× smaller than float32 at the default
    m=8); everything collected driver-side is bounded (centroid seeds,
    PQ training sample, query matrix) — corpus size only affects the
    scan, exactly like the flat-PQ path."""
    cmat, books = _ivfpq_train(
        corpus, vec_col, id_col, n_cells, m, n_codes, seed,
        refine_iters, sample_rows,
    )
    encoded = _ivfpq_encode(corpus, vec_col, id_col, cmat, books)
    return _ivfpq_search(
        encoded, queries, vec_col, id_col, cmat, books,
        k=k, nprobe=nprobe, refine=refine, refine_factor=refine_factor,
    )


def _ivfpq_train(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    m: int,
    n_codes: int,
    seed: int,
    refine_iters: int,
    sample_rows: int,
) -> "tuple[np.ndarray, np.ndarray]":
    """IVF-PQ model fit: coarse centroids (engine-portable md5 seed
    sample + optional deterministic Lloyd refine) and residual PQ
    codebooks over a bounded md5-keyed training sample. Everything
    collected is model-sized; the corpus is only scanned by the Lloyd
    passes (``refine_iters`` of them)."""
    from concurrent.futures import ThreadPoolExecutor

    from .hashing import md5_long

    # the two bounded sample collects are independent TakeOrdered jobs
    # over the same corpus — submit them CONCURRENTLY (Spark sessions
    # are thread-safe for job submission; results are deterministic
    # either way), so the fit pays max(job1, job2) instead of the sum.
    # Only the Lloyd refine (needs the raw centroids) serializes after.
    def _centroids():
        return (
            corpus.select(
                F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
            )
            .orderBy(
                md5_long(
                    F.concat(
                        F.lit(f"ivfpq:{seed}:"), F.col("cid").cast("string")
                    )
                ),
                F.col("cid").asc(),
            )
            .limit(n_cells)
            .collect()
        )

    def _sample():
        return (
            corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
            .orderBy(
                md5_long(
                    F.concat(
                        F.lit(f"ivfpqs:{seed}:"), F.col("i").cast("string")
                    )
                ),
                F.col("i").asc(),
            )
            .limit(sample_rows)
            .collect()
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        cfut = pool.submit(_centroids)
        sfut = pool.submit(_sample)
        centroid_rows = cfut.result()
        sample = sfut.result()
    cmat = np.asarray([r["cv"] for r in centroid_rows], dtype=np.float64)
    if refine_iters > 0:
        cmat = kmeans_refine_centroids(corpus, vec_col, cmat, refine_iters)

    xs = np.asarray([r["v"] for r in sample], dtype=np.float64)
    d2s = (
        (xs * xs).sum(1)[:, None] - 2 * (xs @ cmat.T) + (cmat * cmat).sum(1)[None, :]
    )
    books = _pq_fit(xs - cmat[d2s.argmin(1)], m, n_codes, seed, n_iter=10)
    return cmat, books


def _ivfpq_encode(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    cmat: "np.ndarray",
    books: "np.ndarray",
) -> DataFrame:
    """One corpus pass: assign each vector to its nearest coarse cell and
    PQ-encode its residual — ``(doc_id, cell, codes)``, the 8-byte-per-
    vector artifact every later search scans instead of float vectors."""
    bc_index = corpus.sparkSession.sparkContext.broadcast((cmat, books))

    def build(batches):
        cm, bk = bc_index.value
        mm, _, sub = bk.shape
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            d2 = (
                (v * v).sum(1)[:, None] - 2 * (v @ cm.T) + (cm * cm).sum(1)[None, :]
            )
            # Round-6 shields on both argmins (the repo-wide determinism
            # rule): assignment is immune to last-ulp GEMM differences
            # across batch shapes, so the driver-side oracle recomputing
            # over the whole corpus picks identical cells/codes.
            cells = np.round(d2, 6).argmin(1)
            res = v - cm[cells]
            codes = np.empty((len(v), mm), dtype=np.int32)
            for j in range(mm):
                rs = res[:, j * sub : (j + 1) * sub]
                cb = bk[j]
                dj = (
                    (rs * rs).sum(1)[:, None]
                    - 2 * (rs @ cb.T)
                    + (cb * cb).sum(1)[None, :]
                )
                codes[:, j] = np.round(dj, 6).argmin(1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "cell": cells.astype("int32"),
                    "codes": list(codes),
                }
            )

    return ensure_min_partitions(corpus).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v")
    ).mapInPandas(build, "doc_id long, cell int, codes array<int>")


def _ivfpq_search(
    encoded: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    cmat: "np.ndarray",
    books: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """The search half of IVF-PQ: probe ``nprobe`` cells per query, ADC
    over the encoded corpus, optional exact re-rank. Scans ONLY the
    ``(doc_id, cell, codes)`` frame — this is what makes a persisted
    :func:`ann_index` pay off: the daily query path never touches float
    vectors except for the shortlist re-rank."""
    sc = encoded.sparkSession.sparkContext
    m, n_codes, sub = books.shape

    # ---- per-(query, probed cell) residual LUTs, driver-built ----
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    qids = np.asarray([r["qid"] for r in q_rows])
    qmat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    dq = (
        (qmat * qmat).sum(1)[:, None]
        - 2 * (qmat @ cmat.T)
        + (cmat * cmat).sum(1)[None, :]
    )
    probes = np.argsort(dq, axis=1, kind="stable")[:, : min(nprobe, len(cmat))]
    # luts_by_cell[cell] = list of (query_index, (m, n_codes) LUT)
    luts_by_cell: dict[int, list] = {}
    for qi in range(len(qmat)):
        for cell in probes[qi]:
            qres = qmat[qi] - cmat[cell]
            lut = np.empty((m, n_codes))
            for j in range(m):
                qs = qres[j * sub : (j + 1) * sub]
                cb = books[j]
                lut[j] = (qs * qs).sum() - 2 * (cb @ qs) + (cb * cb).sum(1)
            luts_by_cell.setdefault(int(cell), []).append((qi, lut))
    shortlist = k * refine_factor if refine is not None else k
    bc_search = sc.broadcast((qids, luts_by_cell))

    def score(batches):
        qi_arr, by_cell = bc_search.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_id, out_d = [], [], []
            for cell, grp in pdf.groupby("cell"):
                plist = by_cell.get(int(cell))
                if not plist:
                    continue
                codes = np.stack(grp["codes"].to_numpy())
                ids = grp["doc_id"].to_numpy()
                for qi, lut in plist:
                    d = lut[np.arange(codes.shape[1]), codes].sum(1)
                    keep = ids != qi_arr[qi]
                    d, sel_ids = d[keep], ids[keep]
                    kk = min(shortlist, len(sel_ids))
                    if not kk:
                        continue
                    # (distance, doc_id) prune — argpartition resolves
                    # boundary ties arbitrarily, disagreeing with the
                    # global (approx_l2, doc_id) window cut.
                    top = np.lexsort((sel_ids, d))[:kk]
                    out_q.extend([qi_arr[qi]] * kk)
                    out_id.extend(sel_ids[top])
                    out_d.extend(d[top])
            yield pd.DataFrame(
                {"query_id": out_q, "doc_id": out_id, "approx_l2": out_d}
            )

    cand = encoded.mapInPandas(
        score, "query_id long, doc_id long, approx_l2 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_l2").asc(), F.col("doc_id").asc()
    )
    if refine is None:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "doc_id",
                F.round(
                    F.sqrt(F.greatest(F.col("approx_l2"), F.lit(0.0))), 6
                ).alias("approx_l2"),
                "rank",
            )
        )
    short = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "doc_id")
    )
    corp = refine.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("dv")
    )
    qv = refine.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, qmat)],
        "qid long, qv array<double>",
    )
    from .vector import l2_distance

    exact = (
        corp.join(F.broadcast(short), F.col("cid") == F.col("doc_id"))
        .join(F.broadcast(qv), F.col("query_id") == F.col("qid"))
        .select(
            "query_id",
            "doc_id",
            F.round(l2_distance(F.col("dv").cast("array<double>"), "qv"), 6)
            .alias("approx_l2"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "approx_l2", "rank")
    )


def ann_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 7,
    refine_iters: int = 1,
    sample_rows: int = 4096,
) -> "tuple[DataFrame, DataFrame]":
    """Persistable IVF-PQ index — the similarity-search twin of
    :func:`~krnel_graph_spark.functions.dedup.minhash_index`: train the
    model and encode the corpus ONCE, write both frames to parquet, and
    every later :func:`ann_search` (the daily-ingest retrieval loop)
    reads only them — never re-training codebooks, never re-encoding or
    even re-reading the float corpus (except the optional shortlist
    re-rank). This is what a retrieval pipeline actually does at 100 TB:
    ``ivfpq_topk`` re-fits and re-encodes per call, which is fine for a
    one-shot query but absurd for a query service.

    Returns ``(model, encoded)``:

    - ``model``: one row per centroid (``kind='centroid', i=cell``) and
      per codeword (``kind='codebook', i=subspace, j=code``), vector
      payload in ``vec`` — |cells| + m·n_codes rows, KB-scale. Build
      params (``n_cells/m/n_codes/seed/refine_iters/sample_rows``)
      travel as literal columns on every row and are validated by
      :func:`ann_search`, so a stale or mismatched persisted model
      fails loudly (the ``dedup_against(ref_index=)`` lesson) — and
      :func:`ann_index_retrain` can rebuild with the SAME operational
      config without the caller re-specifying it.
    - ``encoded``: ``(doc_id, cell, codes)`` — m bytes of codes per
      vector (32× smaller than float32 at m=8), the only corpus-sized
      artifact any search scans.

    Output-identity contract: ``ann_search(model, encoded, queries,
    ...)`` equals ``ivfpq_topk(corpus, queries, ...)`` with the same
    parameters, row for row — the index is an internal artifact (pinned
    by tests/test_pq.py's roundtrip test)."""
    cmat, books = _ivfpq_train(
        corpus, vec_col, id_col, n_cells, m, n_codes, seed,
        refine_iters, sample_rows,
    )
    rows = [
        ("centroid", int(i), 0, [float(x) for x in cmat[i]])
        for i in range(len(cmat))
    ] + [
        ("codebook", int(j), int(c), [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    model = corpus.sparkSession.createDataFrame(
        rows, "kind string, i int, j int, vec array<double>"
    ).select(
        "*",
        F.lit(int(n_cells)).alias("n_cells"),
        F.lit(int(m)).alias("m"),
        F.lit(int(n_codes)).alias("n_codes"),
        F.lit(int(seed)).alias("seed"),
        F.lit(int(refine_iters)).alias("refine_iters"),
        F.lit(int(sample_rows)).alias("sample_rows"),
    )
    encoded = _ivfpq_encode(corpus, vec_col, id_col, cmat, books)
    # Same-object driver memo (r14 opt): the model frame was BUILT from
    # these exact arrays/params, so consumers holding this very object
    # (append/search/retrain inside one pipeline) skip the bounded
    # re-collect job per call. A persisted-then-loaded frame has no
    # memo and takes the validating collect path — values identical by
    # construction either way.
    model._krnel_ivfpq_np = (cmat, books)
    model._krnel_ivfpq_params = {
        "n_cells": int(n_cells),
        "m": int(m),
        "n_codes": int(n_codes),
        "seed": int(seed),
        "refine_iters": int(refine_iters),
        "sample_rows": int(sample_rows),
    }
    return model, encoded


def _model_to_numpy(model: DataFrame, caller: str):
    """Reconstruct an :func:`ann_index` model frame driver-side — a
    bounded collect (|cells| + m*n_codes rows, KB-scale) — validating
    structural consistency against the frame's own recorded build
    params so a truncated/mixed-snapshot model fails loudly. Frames
    still holding their builder's same-object memo skip the collect
    (see :func:`ann_index`)."""
    memo = getattr(model, "_krnel_ivfpq_np", None)
    if memo is not None:
        return memo
    mrows = model.select(
        "kind", "i", "j", "vec", "n_cells", "m", "n_codes"
    ).collect()
    if not mrows:
        raise ValueError(f"{caller}: empty model frame")
    n_cells = mrows[0]["n_cells"]
    m, n_codes = mrows[0]["m"], mrows[0]["n_codes"]
    cent = {r["i"]: r["vec"] for r in mrows if r["kind"] == "centroid"}
    code = {
        (r["i"], r["j"]): r["vec"] for r in mrows if r["kind"] == "codebook"
    }
    if sorted(cent) != list(range(n_cells)):
        raise ValueError(
            f"{caller}: model centroid set inconsistent with its own "
            f"n_cells={n_cells} (got {len(cent)} centroids)"
        )
    if len(code) != m * n_codes:
        raise ValueError(
            f"{caller}: model codebook set inconsistent with its own "
            f"m={m}, n_codes={n_codes} (got {len(code)} codewords)"
        )
    cmat = np.asarray([cent[i] for i in range(n_cells)], dtype=np.float64)
    books = np.asarray(
        [[code[(j, c)] for c in range(n_codes)] for j in range(m)],
        dtype=np.float64,
    )
    return cmat, books


def ann_index_save(
    model: DataFrame,
    encoded: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist an :func:`ann_index` pair: the KB-scale ``model`` plain,
    the corpus-sized ``encoded`` codes CLUSTERED by cell (repartition +
    sort-within-partitions) so an nprobe-cell search read prunes to the
    probed cells' row groups via parquet min/max stats. Load with
    :func:`ann_index_load`."""
    model.write.mode(mode).parquet(f"{path}/model")
    encoded.repartition("cell").sortWithinPartitions("cell").write.mode(
        mode
    ).parquet(f"{path}/encoded")


def ann_index_load(spark, path: str) -> "tuple[DataFrame, DataFrame]":
    """Read a persisted :func:`ann_index` pair back, fail-fast
    validating the model's structural consistency against its own
    recorded build params (the :func:`ann_search` check, run eagerly at
    load so a truncated snapshot is caught before any query)."""
    model = spark.read.parquet(f"{path}/model")
    encoded = spark.read.parquet(f"{path}/encoded")
    _model_to_numpy(model, "ann_index_load")
    return model, encoded


def ann_index_append(
    model: DataFrame,
    new_corpus: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Encode NEW vectors with an EXISTING persisted :func:`ann_index`
    model — the day-N dense-retrieval ingest step: the codebooks and
    centroids are never retrained and the old corpus is never
    re-encoded; the caller unions the returned ``(doc_id, cell,
    codes)`` frame with (or appends it to) the persisted ``encoded``
    parquet. Encoding is per-row deterministic, so
    ``append(model, A) union append(model, B) == ann_index(A union
    B).encoded`` for the same model — searches over the merged codes
    match a monolithic encode row-for-row (pinned by test).

    The quantization-drift caveat is real and documented: codebooks
    trained on day-0 data quantize day-N vectors with day-0 cells, so
    recall decays if the embedding distribution shifts — re-train on a
    fresh sample (one ann_index call) when recall_at_k on a probe set
    drops below target."""
    cmat, books = _model_to_numpy(model, "ann_index_append")
    return _ivfpq_encode(new_corpus, vec_col, id_col, cmat, books)


def ann_index_retrain(
    model: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    seed: int | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """Re-train + re-encode a drifted :func:`ann_index` — the ACTION the
    :func:`recall_probe` monitor triggers, closing the operational loop
    the append story documents: when ``below_band`` fires (day-0
    codebooks quantizing drifted day-N vectors), call this with the
    CURRENT full corpus; it samples, re-fits centroids and codebooks,
    re-encodes every vector, and returns the fresh ``(model, encoded)``
    pair ready for one :func:`ann_index_save` swap (write to a new
    path, then atomically repoint the serving path — the standard
    blue/green index flip).

    The operational config — ``n_cells/m/n_codes/refine_iters/
    sample_rows`` and (unless overridden via ``seed=``) the RNG seed —
    is read from the OLD model's own literal param columns (one bounded
    ``limit(1)`` row, the minhash_index_append layout-read idiom), so a
    retrain can never silently change the index geometry the serving
    layer was tuned for. ``sample_rows`` falls back to the build
    default for artifacts persisted before it was recorded.

    Output-identity contract (pinned by test): equals
    ``ann_index(corpus, vec_col, id_col, **old_params)`` frame-for-frame
    — retrain IS a fresh build at the recorded config; there is no
    separate retrain arithmetic to drift out of sync.

    Scale shape: identical to :func:`ann_index` — a bounded md5-keyed
    sample fits the KB-scale model driver-side, and the one corpus-wide
    pass is the unavoidable re-encode (the whole point: the old codes
    are wrong for the new distribution). Run it at the recall_probe
    cadence's failure rate, not per ingest batch."""
    p = getattr(model, "_krnel_ivfpq_params", None)
    if p is None:
        first = model.select(
            "n_cells", "m", "n_codes", "seed", "refine_iters",
            *(
                ["sample_rows"]
                if "sample_rows" in model.columns
                else []
            ),
        ).limit(1).collect()
        if not first:
            raise ValueError("ann_index_retrain: empty model frame")
        p = first[0].asDict()
    return ann_index(
        corpus, vec_col, id_col,
        n_cells=int(p["n_cells"]),
        m=int(p["m"]),
        n_codes=int(p["n_codes"]),
        seed=int(p["seed"]) if seed is None else int(seed),
        refine_iters=int(p["refine_iters"]),
        sample_rows=int(p.get("sample_rows", 4096)),
    )


def ann_search(
    model: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    nprobe: int = 4,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """Search a persisted :func:`ann_index`: reconstruct the KB-scale
    model driver-side (a bounded collect — |cells| + m·n_codes rows),
    then run the standard IVF-PQ probe/ADC/re-rank over the ``encoded``
    codes frame. The float corpus is touched only if ``refine`` is
    passed (shortlist re-rank), so the recurring cost of a query batch
    is one scan of the m-bytes-per-vector codes — the whole point of
    persisting the index.

    Raises ``ValueError`` if the model frame is structurally
    inconsistent with its own recorded build params (truncated parquet,
    mixed snapshots) — a wrong-layout model must fail, not degrade
    recall silently."""
    cmat, books = _model_to_numpy(model, "ann_search")
    return _ivfpq_search(
        encoded, queries, vec_col, id_col, cmat, books,
        k=k, nprobe=nprobe, refine=refine, refine_factor=refine_factor,
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact L2 top-k per query (queries broadcast, corpus scanned once,
    self-matches excluded) — the Euclidean twin of :func:`cosine_topk`
    and the ground-truth side of :func:`recall_probe`. Distances use
    the same fold-order ``l2_distance`` + round-6 + (distance, doc_id)
    window the IVF-PQ refine path uses, so rank boundaries are
    engine-portable."""
    from .vector import l2_distance

    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("dv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = c.join(F.broadcast(q), F.col("doc_id") != F.col("query_id")).select(
        "query_id",
        "doc_id",
        F.round(
            l2_distance(
                F.col("dv").cast("array<double>"),
                F.col("qv").cast("array<double>"),
            ),
            6,
        ).alias("l2"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "l2", "rank")
    )


def recall_probe(
    model: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    nprobe: int = 4,
    refine_factor: int = 4,
    band: float = 0.8,
    exact: "DataFrame | None" = None,
) -> DataFrame:
    """Index-health monitor for a persisted :func:`ann_index` — the
    runnable form of the re-train trigger SCALING.md documents for
    :func:`ann_index_append`: codebooks trained on day-0 data quantize
    drifted day-N vectors with day-0 cells, so recall decays as the
    embedding distribution shifts. Run this on a probe set drawn from
    the NEWEST ingest batch; when ``mean_recall`` drops below ``band``,
    re-train (one ``ann_index`` call over a fresh sample) and re-encode.

    Emits ONE row: ``(k, n_queries, mean_recall, min_recall,
    below_band)``. The approximate side is :func:`ann_search` over the
    frozen model with exact shortlist re-rank (``refine=corpus`` —
    re-ranking keeps ranks engine-portable and preserves the drift
    signal, which lives in cell routing / shortlist membership, not in
    shortlist order); ground truth is :func:`l2_topk` over the same
    corpus. Recall compares ID SETS per query, then one tiny aggregate.

    Cost shape: one scan of the codes frame + one scan of the float
    corpus (broadcast probe queries on both) — safe to run per ingest
    batch at any corpus size. When probing SEVERAL indexes against the
    same (queries, corpus) — e.g. the before/after pair around an
    :func:`ann_index_retrain` — pass ``exact=l2_topk(corpus, queries,
    vec_col, id_col, k=k)`` once so the ground-truth corpus scan isn't
    recomputed per probe (it is identical across them; measured ~25%
    off the two-probe retrain gate)."""
    if queries.limit(1).count() == 0:
        raise ValueError(
            "recall_probe: empty probe set — a monitor row computed "
            "over zero queries would be meaningless; probe with a "
            "sample of the newest ingest batch"
        )
    approx = ann_search(
        model, encoded, queries, vec_col, id_col,
        k=k, nprobe=nprobe, refine=corpus, refine_factor=refine_factor,
    )
    if exact is None:
        exact = l2_topk(corpus, queries, vec_col, id_col, k=k)
    # Aggregate INTEGER hit counts, not float ratios: sums of ints are
    # partition-order-invariant, so mean_recall is one deterministic
    # division (micro-average == macro-average here — every query has
    # the same denominator k when the corpus has >= k+1 rows).
    hits = (
        approx.select("query_id", "doc_id")
        .join(
            exact.select("query_id", "doc_id"),
            ["query_id", "doc_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    denom = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n"))
    per_q = denom.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("__hits"), F.lit(0)).alias("__hits"),
        "__n",
    )
    mean = F.sum("__hits") / F.sum("__n")
    return per_q.agg(
        F.lit(int(k)).alias("k"),
        F.count(F.lit(1)).alias("n_queries"),
        F.round(mean, 6).alias("mean_recall"),
        F.round(F.min(F.col("__hits") / F.col("__n")), 6).alias("min_recall"),
        (mean < F.lit(float(band))).alias("below_band"),
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one: ``|approx ∩ exact| / |exact|`` — the acceptance metric for every
    ANN variant here (LSH / IVF / PQ vs brute force).

    Pure joins/aggregates: a semi-join counts hits per query, the exact
    side provides denominators; both shuffles carry (query, id) pairs.
    """
    hits = (
        approx.select(query_col, id_col)
        .join(exact.select(query_col, id_col), [query_col, id_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    denom = exact.groupBy(query_col).agg(F.count(F.lit(1)).alias("__n"))
    return (
        denom.join(hits, query_col, "left")
        .select(
            query_col,
            (
                F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__n")
            ).alias("recall"),
        )
    )


def contrastive_triplets(
    corpus: DataFrame,
    queries: DataFrame,
    vector_col: str,
    id_col: str,
    neg_skip: int = 4,
    n_negatives: int = 3,
) -> DataFrame:
    """Contrastive training-set builder over an embedding corpus: for
    each query vector, the top-ranked neighbor is the POSITIVE and the
    near-miss band of ranks ``(neg_skip, neg_skip + n_negatives]``
    supplies the HARD negatives — the standard hard-negative mining
    recipe for contrastive/embedding fine-tuning (random negatives are
    too easy; immediate neighbors risk being unlabeled positives, so a
    skip band sits between).

    Returns ``(query_id, positive_id, pos_cosine, negative_id,
    neg_cosine, neg_rank)`` — ``n_negatives`` rows per query.

    Scale shape: ONE ``cosine_topk`` pass at ``k = neg_skip +
    n_negatives`` (queries broadcast into the Arrow GEMM, per-partition
    top-k heaps); the |q|·k result is persist-pinned for its two
    bounded consumers (positive row + negative band) so the GEMM never
    runs twice, and the final assembly is a broadcast-sized self-join
    on query_id. The top-k frame is pinned eagerly
    (:func:`~krnel_graph_spark.functions.partitioning.pin`).

    Contract: a query whose corpus yields fewer than ``neg_skip + 1``
    ranked candidates has an empty hard-negative band and emits NO
    rows (inner join on query_id) — mirroring mining practice where
    such a query simply contributes no triplets; size the corpus or
    lower ``neg_skip`` if every query must appear."""
    top = pin(
        cosine_topk(
            corpus, queries, vector_col, id_col, k=neg_skip + n_negatives
        ),
        eager=True,
    )
    pos = top.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("doc_id").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    neg = top.filter(F.col("rank") > neg_skip).select(
        "query_id",
        F.col("doc_id").alias("negative_id"),
        F.col("cosine").alias("neg_cosine"),
        F.col("rank").alias("neg_rank"),
    )
    return pos.join(neg, "query_id")


# r15 (guide §5 driver-jobs / VERDICT r14 item 2): the greedy selectors
# below used to launch ONE TakeOrdered job per pick — k strictly
# sequential jobs, each costing the per-job scheduling floor. Their
# greedy scores are MONOTONE NON-INCREASING in the picked set (kcenter's
# min-distance only shrinks as centers accumulate; MMR's redundancy term
# only grows), which licenses an exact batch: one job collects the
# current top-(remaining + _GREEDY_PAD) candidates WITH their unit
# vectors, and the driver replays the argmax recurrence over them,
# accepting pick after pick while the next candidate's UPDATED sort key
# still beats the LAST collected row's OLD key — every point left on the
# cluster ordered after that row and can only move further back, so the
# accepted pick is provably the global argmax (the verdict's "reject the
# batch tail on violation" invariant; a violation just falls back to a
# fresh TakeOrdered round). Driver arithmetic is bit-identical to the
# scan-side expressions: the dot is the same left-to-right IEEE fold
# `F.aggregate(zip_with(u, v, a*b), 0.0, a+x)` evaluates, min/max are
# exact. Sort keys and the bound come rounded from the scan itself;
# the driver's HALF_UP `_r6` rounds only the scores it updates.
# extra candidates per job: a deeper batch weakens the acceptance bound
# (the LAST collected row's old key), so more picks clear it per job.
# Probed at sf0.1 (k=8/12): pad 16 -> kcenter 7 jobs / mmr 4; 256 -> 5/3;
# 1024 -> no better. One batch is (pad + remaining) rows x the vector
# dim — driver-trivial for any servable embedding width.
_GREEDY_PAD = 256
_GREEDY_COLLECT_MAX = 4096  # driver-memory cap on one batch collect


def _fold_dot(a: "list[float]", b: "list[float]") -> float:
    """Left-to-right IEEE double fold — bit-identical to the scan-side
    ``F.aggregate(F.zip_with(u, lit_array, a*b), 0.0, a+x)``."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def kcenter_select(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) coreset selection over
    an embedding corpus — the diversity-maximizing dual of dedup:
    instead of dropping what is too close, pick the ``k`` points that
    best COVER the space (each new pick is the point farthest, in
    cosine distance, from everything picked so far). The standard cheap
    coreset for "label/inspect k representative documents" and for
    seeding diverse eval slices; 2-approximation of the optimal k-center
    cover.

    Deterministic contract: the first center is the smallest id; each
    subsequent argmax orders by ``(round(min_dist, 6) DESC, id ASC)`` —
    the round-6 shield plus id tie-break makes the selection immune to
    last-ulp float differences, so an unrolled SQL oracle replays the
    exact pick sequence. Zero-norm vectors are excluded.

    Returns ``(rank, id, sep)`` — ``sep`` is the cosine distance to the
    nearest earlier center at selection time (round 6; NULL for rank 1),
    the classic coverage-radius curve.

    Scale shape: one normalization scan, then BATCHED greedy rounds
    (r15): each round is one TakeOrderedAndProject job collecting the
    current top-(remaining + pad) candidates with their unit vectors,
    from which the driver accepts as many consecutive exact picks as
    the monotone-score invariant licenses (see the ``_GREEDY_PAD``
    note) — typically ALL of them, so the k-pick walk costs ~1 job
    instead of k-1. Cluster state updates once per batch with a
    scan-side ``least(mind, 1 - dot(u, c_i)...)`` against the accepted
    centers' dim-sized literals, localCheckpoint-pinned (non-eager:
    the next argmax materializes it), so lineage and plan size stay
    flat in k. Driver holds only the picks plus one batch of candidate
    rows — coreset-sized by definition.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if k < 1:
        raise ValueError("k must be >= 1")

    def _r6(x: float) -> float:
        # HALF-UP like SQL round(), not Python's banker's rounding.
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    sq = F.aggregate(
        F.transform(F.col("__v"), lambda x: x * x),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    unit = (
        df.select(
            F.col(id_col),
            F.transform(F.col(vector_col), lambda x: x.cast("double")).alias(
                "__v"
            ),
        )
        .withColumn("__n", F.sqrt(sq))
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            F.transform(
                F.col("__v"), lambda x: x / F.col("__n")
            ).alias("__u"),
        )
    )

    def dot_lit(vec: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return F.aggregate(
            F.zip_with(F.col("__u"), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    first = unit.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not first:
        # Same schema as the non-empty path: the id column keeps its
        # actual input type (string ids, or an all-zero-norm corpus,
        # must not change the result schema just because it is empty).
        spark = df.sparkSession
        id_type = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"rank long, {id_col} {id_type}, sep double"
        )
    c0 = first[0]
    picked = [(1, c0[id_col], None)]
    state = pin(
        unit.filter(F.col(id_col) != F.lit(c0[id_col])).withColumn(
            "__mind", F.lit(1.0) - dot_lit(list(c0["__u"]))
        )
    )
    # batched greedy rounds (see _GREEDY_PAD note above): one TakeOrdered
    # job per BATCH of picks instead of one per pick
    while len(picked) < k:
        remaining = k - len(picked)
        m = min(remaining + _GREEDY_PAD, _GREEDY_COLLECT_MAX)
        top = (
            state.withColumn("__key", F.round(F.col("__mind"), 6))
            .orderBy(F.col("__key").desc(), F.col(id_col).asc())
            .limit(m)
            .collect()
        )
        if not top:
            break
        # fewer rows than asked for => the batch IS the whole remaining
        # point set and the driver can finish the greedy walk exactly
        exhaustive = len(top) < m
        # the bound and the collected keys are the scan's own rounding;
        # _r6 only rounds distances the driver updates
        bound = (-top[-1]["__key"], top[-1][id_col])
        # cand = [id, u, mind, key]
        cands = [
            [row[id_col], list(row["__u"]), float(row["__mind"]), row["__key"]]
            for row in top
        ]
        accepted = [cands.pop(0)]  # the collected head IS the argmax
        while cands and len(accepted) < remaining:
            pu = accepted[-1][1]
            for cand in cands:
                d = 1.0 - _fold_dot(cand[1], pu)
                if d < cand[2]:
                    cand[2], cand[3] = d, _r6(d)
            cands.sort(key=lambda cand: (-cand[3], cand[0]))
            if exhaustive or (-cands[0][3], cands[0][0]) <= bound:
                accepted.append(cands.pop(0))
            else:
                break  # tail rejected: back to a fresh TakeOrdered round
        for cid, _cu, _cmind, ckey in accepted:
            picked.append((len(picked) + 1, cid, ckey))
        if len(picked) >= k or (exhaustive and not cands):
            break
        cond = F.col(id_col) != F.lit(accepted[0][0])
        for a in accepted[1:]:
            cond = cond & (F.col(id_col) != F.lit(a[0]))
        state = pin(
            state.filter(cond).withColumn(
                "__mind",
                F.least(
                    F.col("__mind"),
                    *[F.lit(1.0) - dot_lit(a[1]) for a in accepted],
                ),
            )
        )
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        picked, f"rank long, {id_col} {id_type}, sep double"
    )


def mmr_select(
    df: DataFrame,
    query_vec: list[float],
    vector_col: str,
    id_col: str,
    k: int,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick ``k`` rows maximizing ``λ·cos(q, d) −
    (1−λ)·max_{s∈S} cos(d, s)`` — relevance to the query traded
    against redundancy with what is already selected. The classic
    diversity-aware top-k for retrieval reranking, RAG context
    assembly, and picking k non-redundant training exemplars near a
    concept anchor. ``λ=1`` degenerates to plain cosine top-k; ``λ=0``
    ignores the query entirely (pure anti-redundancy).

    Deterministic contract (the :func:`kcenter_select` idiom): the
    redundancy term starts at 0 (so the FIRST pick is the uniform
    ``round(λ·rel, 6)`` argmax — identical ranking to relevance for
    λ>0), every argmax orders by ``(round(score, 6) DESC, id ASC)``,
    and vectors are unit-normalized scan-side with zero-norm rows
    excluded — an unrolled SQL oracle replays the exact pick sequence.

    Returns ``(rank, id, relevance, mmr)`` — both round-6; relevance
    is cosine to the query, ``mmr`` the greedy objective at selection
    time.

    Scale shape: one normalization scan computes ``__rel`` against the
    broadcast query literal; the greedy rounds are BATCHED (r15, the
    kcenter idiom): one TakeOrderedAndProject job collects the current
    top-(remaining + pad) candidates and the driver accepts as many
    consecutive exact picks as the monotone-score invariant licenses
    (see ``_GREEDY_PAD``) — typically all k in ONE job; state updates
    once per batch with ``greatest(__maxsim, dot(u, p_i)...)`` against
    the accepted picks' dim-sized literals, localCheckpoint-pinned,
    plan size flat in k, driver holds only the picks plus one batch of
    candidates.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")

    def _r6(x: float) -> float:
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5
    if qn == 0:
        raise ValueError("query_vec has zero norm")
    qu = [float(x) / qn for x in query_vec]

    sq = F.aggregate(
        F.transform(F.col("__v"), lambda x: x * x),
        F.lit(0.0),
        lambda a, x: a + x,
    )

    def dot_lit(vec: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return F.aggregate(
            F.zip_with(F.col("__u"), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    lam_c, inv_c = F.lit(float(lam)), F.lit(1.0 - float(lam))
    state = pin(
        df.select(
            F.col(id_col),
            F.transform(F.col(vector_col), lambda x: x.cast("double")).alias(
                "__v"
            ),
        )
        .withColumn("__n", F.sqrt(sq))
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            F.transform(F.col("__v"), lambda x: x / F.col("__n")).alias(
                "__u"
            ),
        )
        .withColumn("__rel", dot_lit(qu))
        .withColumn("__maxsim", F.lit(0.0))
    )
    score = lam_c * F.col("__rel") - inv_c * F.col("__maxsim")
    picked = []
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    lam_f, inv_f = float(lam), 1.0 - float(lam)
    # batched greedy rounds (see _GREEDY_PAD note above kcenter_select):
    # one TakeOrdered job per BATCH of picks instead of one per pick —
    # the driver replay recomputes __s exactly as the scan does
    # (lit(lam)*rel - lit(1-lam)*maxsim over IEEE doubles)
    while len(picked) < k:
        remaining = k - len(picked)
        m = min(remaining + _GREEDY_PAD, _GREEDY_COLLECT_MAX)
        top = (
            state.withColumn("__s", score)
            .withColumn("__key", F.round(F.col("__s"), 6))
            .orderBy(F.col("__key").desc(), F.col(id_col).asc())
            .limit(m)
            .collect()
        )
        if not top:
            break
        exhaustive = len(top) < m
        # scan-rounded bound and keys, as in kcenter_select
        bound = (-top[-1]["__key"], top[-1][id_col])
        # cand = [id, u, rel, maxsim, s, key]
        cands = [
            [
                row[id_col],
                list(row["__u"]),
                float(row["__rel"]),
                float(row["__maxsim"]),
                float(row["__s"]),
                row["__key"],
            ]
            for row in top
        ]
        accepted = [cands.pop(0)]
        while cands and len(accepted) < remaining:
            pu = accepted[-1][1]
            for cand in cands:
                d = _fold_dot(cand[1], pu)
                if d > cand[3]:
                    cand[3] = d
                    cand[4] = lam_f * cand[2] - inv_f * cand[3]
                    cand[5] = _r6(cand[4])
            cands.sort(key=lambda cand: (-cand[5], cand[0]))
            if exhaustive or (-cands[0][5], cands[0][0]) <= bound:
                accepted.append(cands.pop(0))
            else:
                break
        for cid, _cu, crel, _cms, _cs, ckey in accepted:
            picked.append((len(picked) + 1, cid, _r6(crel), ckey))
        if len(picked) >= k or (exhaustive and not cands):
            break
        cond = F.col(id_col) != F.lit(accepted[0][0])
        for a in accepted[1:]:
            cond = cond & (F.col(id_col) != F.lit(a[0]))
        state = pin(
            state.filter(cond).withColumn(
                "__maxsim",
                F.greatest(
                    F.col("__maxsim"), *[dot_lit(a[1]) for a in accepted]
                ),
            )
        )
    return spark.createDataFrame(
        picked, f"rank long, {id_col} {id_type}, relevance double, mmr double"
    )


def centroid_filter(
    df: DataFrame,
    ref: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Cosine-to-reference-centroid scoring — the CLIP-score-style
    embedding filter (DataComp/LAION curation shape): every row of
    ``df`` is scored by its cosine against the MEAN of the ``ref``
    corpus' embeddings, and ``keep`` marks rows at or above
    ``threshold``. Use a curated high-quality subset (or a concept
    anchor set) as ``ref`` to rank a raw corpus by proximity to it.

    The centroid is computed with per-dimension DECIMAL(28,8) sums —
    order-independent, so the result is identical at any parallelism
    and bit-replayable by a SQL oracle — then rounded to 6 places per
    dimension before the (double, index-ordered) cosine; the exported
    cosine is round-6.

    Scale shape: the reference side posexplodes once and partial-aggs
    to a #dims-row frame (the corpus never shuffles raw vectors); the
    centroid rides into the scan as a broadcast one-row array, so
    scoring ``df`` is a zero-shuffle projection. At 100 TB the only
    full pass is the embarrassingly-parallel scoring scan.
    """
    from .vector import cosine

    dims = (
        ref.select(F.posexplode(F.col(emb_col)).alias("i", "v"))
        .groupBy("i")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("m")
        )
    )
    centroid = F.broadcast(
        dims.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.round("m", 6).alias("m")))
            ).alias("__cs")
        ).select(
            F.transform(F.col("__cs"), lambda s: s["m"]).alias("__centroid")
        )
    )
    cos = F.round(cosine(F.col(emb_col), F.col("__centroid")), 6)
    return (
        df.crossJoin(centroid)
        .withColumn("centroid_cosine", cos)
        .withColumn("keep", F.col("centroid_cosine") >= F.lit(float(threshold)))
        .drop("__centroid")
    )


def margin_pairs(
    a: DataFrame,
    b: DataFrame,
    vec_col: str,
    id_col: str,
    margin_threshold: float = 0.05,
    min_cosine: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Margin-based pair mining (Artetxe & Schwenk 2019, the LASER
    bitext-mining criterion, difference-margin form at k=2): for every
    row of ``a``, its best match in ``b`` is kept only when the best
    cosine beats the SECOND-best by ``margin_threshold`` — absolute
    similarity alone over-mines hubs (vectors near everything), while
    the margin demands the match be *distinctively* close. The same
    shape mines parallel bitext, links near-duplicate products, or
    matches queries to canonical FAQ entries.

    ``a`` and ``b`` must have DISJOINT id spaces: the top-2 source
    excludes candidates with ``doc_id == query_id`` (the self-match
    guard every top-k shares), so two independent corpora both numbered
    ``0..n`` would silently drop the true best match whenever the ids
    collide — prefix or offset one side's ids first.

    Returns ``(query_id, match_id, cosine, margin, keep)`` — round-6
    values, one row per ``a`` row with at least one candidate; a query
    with exactly one candidate gets ``margin = cosine`` (no runner-up).

    Scale shape (default): one `cosine_topk` pass at k=2 (queries
    broadcast into the fold; |a|·2 rows out), then a per-query two-row
    pivot — the corpus side never shuffles vectors. Brute force is
    O(|a|·|b|) scan CPU, so past ~10^10 candidate pairs pass an ANN
    shortlist instead: ``candidates`` takes ANY top-k-shaped frame
    (``query_id, doc_id, cosine`` — the output of
    :func:`cosine_topk_lsh` / :func:`ivf_topk` / :func:`ivfpq_topk`
    at k >= 2) and the margin criterion re-ranks it to top-2; the
    mining pass then costs one banded/bucketed ANN sweep instead of the
    full cross product, and the margin is exact *given the shortlist*
    (runner-up = second-best surviving candidate).
    """
    if candidates is None:
        top2 = cosine_topk(b, a, vec_col, id_col, k=2)
    else:
        # Multiprobe/multi-table ANN shortlists emit the same
        # (query_id, doc_id) from several buckets; without the dedupe a
        # doc would take ranks 1 AND 2, collapsing its margin to ~0 and
        # silently dropping a true keep (containment_pairs applies the
        # same defense via .distinct()).
        top2 = _ranked_topk(
            candidates.select("query_id", "doc_id", "cosine")
            .dropDuplicates(["query_id", "doc_id"]),
            2,
        )
    agg = top2.groupBy("query_id").agg(
        F.max(
            F.when(
                F.col("rank") == 1, F.struct("cosine", "doc_id")
            )
        ).alias("r1"),
        F.max(F.when(F.col("rank") == 2, F.col("cosine"))).alias("c2"),
    )
    cos1 = F.col("r1.cosine")
    margin = F.round(cos1 - F.coalesce(F.col("c2"), F.lit(0.0)), 6)
    return agg.select(
        "query_id",
        F.col("r1.doc_id").alias("match_id"),
        cos1.alias("cosine"),
        margin.alias("margin"),
        (
            (cos1 >= F.lit(float(min_cosine)))
            & (margin >= F.lit(float(margin_threshold)))
        ).alias("keep"),
    )
