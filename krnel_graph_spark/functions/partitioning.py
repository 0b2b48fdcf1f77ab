"""Partitioning guards for compute-heavy operators, the one pinning
policy every multi-consumer frame in the package goes through, and the
one place that classifies the session's master.

A small parquet file arrives as ONE input split (`maxPartitionBytes` is an
upper bound, not a target), so per-row-expensive operators — shingling,
MinHash folds, model inference — would run on a single core of the whole
cluster. These helpers widen narrow scans up to the session's default
parallelism and are no-ops when the scan is already parallel (the 100-TB
case: thousands of splits), so large inputs never pay a gratuitous shuffle.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's ``defaultParallelism``
    when the plan currently has fewer partitions.

    Use before CPU-bound per-row work whose input may be a handful of
    splits. The partition count is read from the physical plan (analysis
    only — no job is triggered).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (for parquet scans: bytes on
    disk after column pruning). Analysis-only; None when no estimate."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # Catalyst signals "unknown" with Long.MaxValue-ish sentinels.
    return size if 0 <= size < (1 << 62) else None


def _local_master(master: str) -> bool:
    """True for ``local`` / ``local[N]`` / ``local[*]`` — one JVM holds
    every block, so an executor cannot be lost independently."""
    return master == "local" or master.startswith("local[")


def _same_host_master(master: str) -> bool:
    """True for a local master and for ``local-cluster[...]``, whose
    executor JVMs run on the driver's host and so see the driver's
    package root: ``get_spark`` gives these the worker daemon and the
    per-core shuffle-partition default."""
    return _local_master(master) or master.startswith("local-cluster[")


def _sized_master(master: str, cpus: str | None) -> str:
    """``SPARK_GRAFT_CPUS`` (``cpus``) sizes a local master; every other
    master stays as Spark resolved it."""
    return f"local[{cpus}]" if cpus and _local_master(master) else master


class _PinScope(list):
    """Frames pinned while this scope is the innermost active one."""

    def __init__(self, parent: "_PinScope | None"):
        super().__init__()
        self.parent = parent

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` out of this scope: it stays pinned after exit and
        is released by the enclosing scope instead (or by the session's
        ``clearCache`` when there is none). Use for a scope's result."""
        if any(f is df for f in self):
            self[:] = [f for f in self if f is not df]
            if self.parent is not None:
                self.parent.append(df)
        return df


_ACTIVE_SCOPE: contextvars.ContextVar["_PinScope | None"] = (
    contextvars.ContextVar("pin_scope", default=None)
)


def pin(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Materialize a multi-consumer frame once, so each consumer reads
    the pinned rows instead of re-deriving the lineage — the package's
    single pinning policy, decided by the frame's own session:

    * local master: ``localCheckpoint(eager=eager)``. The lineage is
      truncated (consumers' plans read a ``Scan ExistingRDD``, so loops
      do not grow their plans), and the ContextCleaner reclaims the
      blocks when the frame is garbage-collected. One JVM holds every
      block, so none can be lost on its own.
    * anything else (``local-cluster[...]``, a cluster):
      ``persist(MEMORY_AND_DISK)``, plus a ``count()`` when ``eager``.
      Cached blocks keep their lineage, so a frame whose executor is
      lost is recomputed instead of failing every later consumer. The
      frame is registered with the innermost :func:`pin_scope`, which
      unpersists it on exit; outside any scope it stays cached until
      ``spark.catalog.clearCache()``.

    ``eager`` materializes before returning — for bounded frames whose
    every consumer runs right away, or where the caller wants the
    compute to happen here rather than in the first consumer's job."""
    if _local_master(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=eager)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        df.count()
    scope = _ACTIVE_SCOPE.get()
    if scope is not None:
        scope.append(df)
    return df


@contextlib.contextmanager
def pin_scope():
    """Release every frame :func:`pin` registers inside the block when
    the block exits, on the error path too — so a long-lived session
    running many corpora does not accumulate cached tables. Yields the
    scope; ``scope.keep(df)`` exempts a result that must outlive it.
    Locally this does nothing: local pins are checkpoints the
    ContextCleaner already reclaims."""
    scope = _PinScope(_ACTIVE_SCOPE.get())
    token = _ACTIVE_SCOPE.set(scope)
    try:
        yield scope
    finally:
        _ACTIVE_SCOPE.reset(token)
        for df in scope:
            df.unpersist()


_HEAVY_BYTES = 16 << 20  # inputs below this estimate are not widened


def widen_if_heavy(df: DataFrame) -> DataFrame:
    """Size-gated :func:`ensure_min_partitions`: widen only when the input
    (at least ``_HEAVY_BYTES``) is big enough that single-split execution
    would actually hurt.

    A repartition of a tiny frame costs a shuffle + an extra stage that
    dwarfs the parallelism it buys (measured ~0.4 s on a 2 MB table), while
    a 50 MB single-split input under a CPU-bound UDF leaves every core but
    one idle. Unknown sizes widen — the conservative choice for large
    inputs, and the cheap shuffle is noise at whatever size made the
    estimate unavailable.
    """
    size = plan_size_bytes(df)
    if size is not None and size < _HEAVY_BYTES:
        return df
    return ensure_min_partitions(df)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    num_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a hash-bucketed (optionally per-bucket-sorted)
    parquet table.

    Bucketing is THE 100-TB co-location strategy for hot join/agg keys:
    both sides of a join written with the same bucket spec join with ZERO
    exchange on either side (the hash partitioning is baked into the file
    layout and survives restarts), and sorted buckets also skip the
    sort-merge-join sort. A 100-TB fact table re-joined against fresh
    snapshots daily amortizes one bucketing write against every future
    shuffle of that table.

    Must go through ``saveAsTable`` — plain ``.save(path)`` drops the
    bucket metadata (Spark reads it back from the catalog, not the files).
    """
    buckets = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *buckets)
    if sort_cols is not None:
        sorts = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sorts)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) key column over ``cols``: each column is mapped to
    a ``2**bits``-bucket quantile rank, and the rank bits are interleaved
    so rows close in EVERY dimension get close keys.

    Quantile boundaries come from ``approxQuantile`` — a bounded
    driver-side list of ``2**bits - 1`` doubles per column, independent of
    row count (the same epsilon-sketch any engine's OPTIMIZE ZORDER
    uses). The bucket lookup is one FLAT ascending CASE chain over the
    (deduplicated) boundary literals — a linear-size expression that
    stays in whole-stage codegen. Both tempting alternatives fail
    structurally: a higher-order ``aggregate`` fold drops to the
    interpreted eval path, and a nested-``when`` binary search re-embeds
    the accumulated rank expression (and the boundary array) at every
    level — a 2^bits expression-tree blowup that stalls Catalyst
    analysis outright. The interleave is static shift/or arithmetic —
    no UDF anywhere.

    Returns ``(df_with_key, key_col_name)``.
    """
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    key = "__zkey"
    ranks = []
    for c in cols:
        # (2^bits - 1) inner boundaries -> bucket index 0..2^bits-1
        probs = [j / n_buckets for j in range(1, n_buckets)]
        bounds = df.approxQuantile(c, probs, 0.001)
        v = F.col(c).cast("double")
        # First boundary >= v decides the bucket; duplicate boundaries
        # (skewed / low-cardinality columns) collapse to their first
        # branch, keeping the chain short and the ranks dense. NULLs miss
        # every branch and land in the top bucket together.
        chain = F.when(v <= float(bounds[0]), 0)
        for i in range(1, len(bounds)):
            if bounds[i] > bounds[i - 1]:
                chain = chain.when(v <= float(bounds[i]), i)
        ranks.append(chain.otherwise(n_buckets - 1))
    # Bind ranks as real columns BEFORE interleaving: the interleave
    # references each rank `bits` times, and inlined CASE chains would
    # multiply the expression size by that factor.
    rank_names = [f"__zrank_{i}" for i in range(len(cols))]
    bound = df.select("*", *[r.alias(n) for n, r in zip(rank_names, ranks)])
    # Interleave: bit j of rank i lands at position j*len(cols)+i.
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, n in enumerate(rank_names):
            bit = F.shiftright(F.col(n), j).bitwiseAND(F.lit(1)).cast("long")
            z = z.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    return bound.withColumn(key, z).drop(*rank_names), key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet z-ordered on ``cols``: range-partition by the Morton
    key into ``n_files`` output files, locally sorted by key, so parquet
    row-group min/max stats are tight in EVERY z-ordered dimension at
    once.

    A linear sort gives perfect skipping on its leading column and none
    on the rest; at 100 TB, point/range predicates on a second or third
    column re-scan everything. Z-ordering trades a little per-column
    tightness for multi-column skipping — the standard layout move for
    fact tables queried along several axes. One range exchange (sampled
    boundaries), local sorts, no global single-task sort.
    """
    zdf, key = zorder_key(df, cols, bits)
    (
        zdf.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
    sort_within: str | list[str] | None = None,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into files of
    roughly ``target_file_bytes`` each.

    Streaming sinks and fine-grained incremental jobs strew thousands of
    KB-sized files; at 100 TB the resulting open/seek/footer overhead
    dominates scan time and driver memory (file listings). Compaction
    reads once and writes ``ceil(bytes / target)`` files via ``coalesce``
    — a NARROW dependency, no shuffle: input splits are merged, never
    redistributed. Pass ``sort_within`` to locally sort each output file
    (tighter row-group stats) at the cost of an in-partition sort.

    Returns ``{"files_before", "files_after", "bytes"}``. Writes to a
    separate ``dst_path`` (atomic swap is the caller's move — table
    formats, not file tools, own in-place transactionality).
    """
    df = spark.read.parquet(src_path)
    size = plan_size_bytes(df) or 0
    n_files = max(1, -(-size // target_file_bytes)) if size else 1
    files_before = df.rdd.getNumPartitions()
    out = df.coalesce(n_files)
    if sort_within is not None:
        cols = [sort_within] if isinstance(sort_within, str) else list(sort_within)
        out = out.sortWithinPartitions(*cols)
    out.write.mode("overwrite").parquet(dst_path)
    import glob as _glob

    files_after = len(_glob.glob(f"{dst_path}/part-*.parquet"))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": size,
    }


def upsert_parquet(
    spark,
    target_path: str,
    updates: "DataFrame",
    key_cols: str | list[str],
    dst_path: str,
    delete_col: str | None = None,
) -> dict:
    """Key-based merge (SCD-1 upsert) for a parquet-backed corpus: the
    incremental-maintenance primitive behind "refresh these documents /
    drop these ids" on a growing training set without rewriting history
    by hand.

    Semantics: rows of ``updates`` replace target rows sharing the same
    key; unmatched update rows insert; target rows with no update pass
    through. If ``delete_col`` names a boolean column in ``updates``,
    rows where it is true act as tombstones — the key is removed from the
    output and the tombstone row itself is not written.

    Scale shape: the only wide op is one left_anti join of the target on
    the distinct update keys. Updates are a delta — orders of magnitude
    smaller than the table — so the key set broadcasts (AQE demotes to a
    shuffle join if the delta is huge); the surviving target rows are
    NEVER shuffled, just unioned with the delta and written. Like
    ``compact_parquet``, output goes to a separate ``dst_path`` — atomic
    swap/rename is the caller's move (table formats, not file tools, own
    in-place transactionality), and reading the path being overwritten
    mid-job is never safe.

    Returns ``{"rows_before", "rows_upserted", "rows_deleted",
    "rows_after"}``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    target = spark.read.parquet(target_path)
    if delete_col is not None:
        tombstones = updates.filter(F.col(delete_col))
        upserts = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
        # Tombstone + upsert counts in ONE conditional-aggregate pass
        # over the delta (they were two separate full-scan count jobs).
        stat = updates.agg(
            F.sum(
                F.coalesce(F.col(delete_col), F.lit(False)).cast("long")
            ).alias("d"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        n_deleted = int(stat["d"] or 0)
        n_upserted = int(stat["n"]) - n_deleted
    else:
        tombstones = None
        upserts = updates
        n_deleted = 0
        n_upserted = None
    if set(upserts.columns) != set(target.columns):
        raise ValueError(
            f"updates columns {sorted(upserts.columns)} != target columns "
            f"{sorted(target.columns)}"
        )
    dead_keys = upserts.select(*keys)
    if tombstones is not None:
        dead_keys = dead_keys.unionByName(tombstones.select(*keys))
    survivors = target.join(
        F.broadcast(dead_keys.distinct()), keys, "left_anti"
    )
    merged = survivors.unionByName(upserts.select(*target.columns))
    merged.write.mode("overwrite").parquet(dst_path)
    out = spark.read.parquet(dst_path)
    return {
        "rows_before": target.count(),
        "rows_upserted": (
            upserts.count() if n_upserted is None else n_upserted
        ),
        "rows_deleted": n_deleted,
        "rows_after": out.count(),
    }


def snapshot_diff(
    old: "DataFrame",
    new: "DataFrame",
    key_cols: str | list[str],
) -> "DataFrame":
    """Keyed diff of two table snapshots: one row per key present in
    either side, with ``status`` in ``added`` / ``removed`` / ``changed``
    / ``same`` — the audit companion to :func:`upsert_parquet` (what DID
    that refresh do?) and the cheap regression check between pipeline
    runs.

    Row content is compared via an md5 over every non-key column cast to
    string (null-safe: nulls hash as a sentinel distinct from any value,
    the same trick a SQL oracle replays). One full-outer hash join on the
    key — both sides shuffle once; the hash is computed scan-side so the
    shuffle carries (key, 32-char digest), never the row payload.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot columns differ: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    val_cols = [c for c in old.columns if c not in keys]

    def hashed(df, alias):
        h = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in sorted(val_cols)
                ],
            )
        )
        return df.select(*keys, h.alias(alias))

    o = hashed(old, "__ho")
    n = hashed(new, "__hn")
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") == F.col("__hn"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*keys, status.alias("status"))


def layout_report(
    spark, path: str, column: str, table: str | None = None
) -> DataFrame:
    """Parquet physical-layout auditor: one row per (file, row group)
    with the row count and the footer min/max statistics of ``column``
    — the metadata a 100-TB scan planner prunes with. Run it after
    ``compact_parquet`` / ``write_zordered`` to verify the layout
    actually tightened (overlapping min/max ranges across row groups =
    no skipping), or before a migration to find stat-less columns.

    Returns ``(table, file, row_group_id, n_rows, min_v, max_v)`` with
    ``file`` as the basename prefix (``part-NNNNN`` for Spark-written
    files, else the basename) so the output is stable across rewrites.
    ``min_v``/``max_v`` are exported as strings: stats are typed
    per-column in the footer, and string form round-trips integers,
    dates, and decimals alike (the caller casts).

    Scale shape: the FILE LIST (one row per file — bounded by the
    catalog, not the data) is parallelized to executors and each footer
    is read by pyarrow where the file lives; no data pages are touched,
    only footers — the whole report costs O(#files) metadata reads."""
    import pandas as pd

    files = sorted(
        f.removeprefix("file:").removeprefix("//")
        for f in spark.read.parquet(path).inputFiles()
    )
    name = table or path.rstrip("/").rsplit("/", 1)[-1]
    # Bound the slice count by the FILE count: parallelize cuts a local
    # list into defaultParallelism pieces, and every empty slice still
    # pays a Python-worker task in the mapInPandas below (31 empty
    # tasks per table at sf0.1's one file per table). NOT coalesce():
    # a coalesced local scan inherits parent locality preferences and
    # stalls on spark.locality.wait (~4 s/table measured).
    sc = spark.sparkContext
    fdf = spark.createDataFrame(
        sc.parallelize(
            [(f,) for f in files],
            max(1, min(len(files), sc.defaultParallelism)),
        ),
        "path string",
    )

    def read_footers(it):
        import pyarrow.parquet as pq

        for pdf in it:
            rows = []
            for p in pdf["path"]:
                base = p.rsplit("/", 1)[-1]
                file_tag = base[:10] if base.startswith("part-") else base
                md = pq.ParquetFile(p).metadata
                names = {
                    md.schema.column(j).name: j
                    for j in range(md.num_columns)
                }
                j = names[column]
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(j).statistics
                    rows.append(
                        (
                            name,
                            file_tag,
                            g,
                            rg.num_rows,
                            str(st.min) if st and st.has_min_max else None,
                            str(st.max) if st and st.has_min_max else None,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "table", "file", "row_group_id", "n_rows",
                    "min_v", "max_v",
                ],
            )

    return fdf.mapInPandas(
        read_footers,
        "table string, file string, row_group_id long, n_rows long, "
        "min_v string, max_v string",
    )
