"""Structured Streaming operators over event streams.

Transformations are defined once as DataFrame functions and reused by both
``spark.read`` (batch backfill — how the oracle checks them) and
``spark.readStream`` (incremental). This batch/streaming unification is the
core Structured Streaming design and the reason the correctness gate can
validate streaming semantics with a plain SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column to a Spark TIMESTAMP, dtype-driven.

    Lake data arrives in several physical shapes; every event-time consumer
    (watermarks, ``F.window``, ``F.unix_micros``) requires TIMESTAMP (with
    local-tz semantics), so convert by the column's actual dtype:

    - ``timestamp``: already canonical, passthrough.
    - ``timestamp_ntz`` (e.g. parquet TIMESTAMP(isAdjustedToUTC=false), which
      Spark's reader surfaces as NTZ): ``cast("timestamp")`` reinterprets the
      wall-clock in the session timezone — callers pin the session tz to UTC
      so instants are preserved exactly.
    - ``bigint``: epoch **nanoseconds** (the shape a TIMESTAMP(NANOS) parquet
      takes under ``spark.sql.legacy.parquet.nanosAsLong``). Convert with
      integer `div` (not float division — epoch nanos ~1.7e18 exceed double's
      53-bit mantissa) to microseconds, Spark's native resolution.
    - ``date``: midnight cast.
    - ``string``: ``try_to_timestamp`` default parse (ISO-8601-ish);
      unparseable rows become NULL (not an ANSI error), which every
      downstream window/watermark drops — the lenient-ingest convention
      for raw lake exports.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype in ("bigint", "long"):
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif dtype in ("timestamp_ntz", "date"):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    elif dtype == "string":
        df = df.withColumn(ts_col, F.try_to_timestamp(F.col(ts_col)))
    return df


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums per event type: the hopping
    counts with no slide, so every event lands in exactly one window."""
    return hopping_event_counts(events, window_duration, None, watermark)


def hopping_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: str | None = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Hopping (sliding) window counts + value sums per event type: every
    event lands in ``size/slide`` overlapping epoch-aligned windows — the
    moving-average / rolling-rate companion to the tumbling
    ``windowed_event_counts`` (``slide_duration=None``), streaming-capable
    through the same ``F.window`` operator (state per OPEN window,
    evicted by watermark). With a watermark (streaming mode), late rows
    beyond the bound are dropped and window state is evicted — bounded
    state at any scale.

    Scale: the window expansion is a codegen Expand (size/slide rows per
    event) feeding one partial-aggregated groupBy — shuffle carries
    (window, type) partial sums, not events.
    """
    df = with_event_time(events)
    if watermark is not None and events.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(
            F.window("ts", window_duration, slide_duration).alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            # Exact decimal accumulation (order-independent), round once,
            # then convert — same contract as rollup_event_counts, so the
            # result cannot flip on a .00005 boundary under reordering.
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (gap-based). Streaming-native via
    ``session_window``; batch mode runs the same expression."""
    df = with_event_time(events)
    if events.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
    rsuffix: str = "_r",
) -> DataFrame:
    """Keyed interval join: attach every right row with
    ``left.ts - lookback <= right.ts <= left.ts`` for the same key — the
    stream-stream companion to :func:`~..functions.relational.asof_join`
    (which keeps only the LATEST match; this keeps them all).

    Streaming: both sides carry watermarks and the join condition carries
    the explicit time bound, which is what lets Spark size and evict the
    buffered stream-stream join state (right rows older than
    watermark + lookback can never match a future left row). Batch: the
    identical expression — one equi-shuffle on the key, range predicate
    applied join-side.

    Right columns are suffixed (``rsuffix``) to keep the output
    unambiguous when both sides share names (ts, value, ...).
    """
    l = with_event_time(left, left_ts)
    r = with_event_time(right, right_ts)
    if left.isStreaming or right.isStreaming:
        l = l.withWatermark(left_ts, watermark)
        r = r.withWatermark(right_ts, watermark)
    renames = {
        c: f"{c}{rsuffix}" for c in r.columns if c != on
    }
    for old, new in renames.items():
        r = r.withColumnRenamed(old, new)
    rts = renames.get(right_ts, right_ts)
    cond = (
        (F.col(rts) <= F.col(left_ts))
        & (F.col(rts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
    )
    return (
        l.alias("l")
        .join(
            r.alias("r"),
            (F.col(f"l.{on}") == F.col(f"r.{on}")) & cond,
            how,
        )
        .drop(F.col(f"r.{on}"))
    )


def stream_events_from_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-source stream over a parquet path (tests drive it with
    ``trigger(availableNow=True)`` into a memory sink).

    ``FileStreamSource`` only accepts directories; a single-file path is
    served as parent-dir + ``pathGlobFilter`` so callers can stream any
    layout."""
    import os

    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
):
    """Drain all available input into an in-memory table and stop — the
    standard batch-equivalence test harness for streaming queries."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = True,
):
    """Durable file sink: exactly-once parquet output via the checkpointed
    file-sink commit log (Spark records committed files in ``_spark_metadata``;
    a restarted query resumes from the checkpoint and never double-writes a
    batch). ``available_now=True`` drains current input and stops — the
    batch-backfill mode; ``False`` runs continuously until ``stop()``.

    This is the production counterpart to :func:`run_stream_to_memory`
    (tests/debug only — memory sinks are driver-resident and not
    fault-tolerant)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def run_stream_upsert(
    stream_df: DataFrame,
    target_path: str,
    key_cols: str | list[str],
    checkpoint: str,
    delete_col: str | None = None,
    available_now: bool = True,
    output_mode: str = "append",
):
    """Streaming SCD-1 sink: every microbatch MERGES into a parquet table
    by key (replace / insert / optional tombstone-delete) via
    ``foreachBatch`` + :func:`~krnel_graph_spark.functions.partitioning
    .upsert_parquet` — the live continuation of an upsert-maintained
    corpus (mutable dimension tables, latest-state-per-key feeds).

    Restart-safe BY IDEMPOTENCE: re-merging a replayed batch rewrites the
    same keys to the same values, so at-least-once foreachBatch delivery
    yields exactly-once table state (the property the test pins by
    re-running the drained query). Single-writer local/file-system
    pattern — each batch rewrites the table via a fresh dir + swap, so
    concurrent readers mid-swap may see the previous snapshot; use a
    transactional table format when readers and the merge must overlap.
    """
    import os
    import shutil

    from ..functions.partitioning import upsert_parquet

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # SCD-1 needs one row per key per batch: with duplicates the
        # surviving value would be partition-order luck. Fail loudly —
        # the caller owns the dedup/latest-wins rule (one groupBy away).
        dup = (
            batch_df.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"run_stream_upsert: batch {batch_id} has multiple rows "
                f"for key {tuple(dup[0][k] for k in keys)}; dedupe the "
                "stream to one row per key per batch first"
            )
        if not os.path.exists(os.path.join(target_path, "_SUCCESS")):
            first = batch_df
            if delete_col is not None:
                first = first.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            first.write.mode("overwrite").parquet(target_path)
            return
        tmp = target_path.rstrip("/") + f".merge-{batch_id}"
        upsert_parquet(
            spark, target_path, batch_df, keys, tmp, delete_col=delete_col
        )
        old = target_path.rstrip("/") + f".old-{batch_id}"
        os.rename(target_path, old)
        os.rename(tmp, target_path)
        shutil.rmtree(old)

    writer = (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def dedup_events(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Exact streaming deduplication by key.

    Streaming: ``dropDuplicatesWithinWatermark`` — the state store keeps one
    entry per key only until the watermark passes it, so state stays bounded
    no matter how long the stream runs (the un-watermarked variant grows
    forever — never deploy that on an unbounded stream). Batch: plain
    ``dropDuplicates`` over the same expression.

    Which physical row survives per key is engine-chosen (same as Spark
    semantics); downstream logic must only rely on the key set."""
    df = with_event_time(events)
    if events.isStreaming:
        df = df.withWatermark("ts", watermark)
        return df.dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def running_user_totals(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user running totals — the custom-stateful-operator template.

    Streaming: ``applyInPandasWithState`` keeps (count, sum) per user in the
    state store and emits the updated total each micro-batch; state size is
    O(distinct users). Batch: one ``groupBy().agg()`` produces the same
    final totals (the availableNow-drain equivalence the tests pin)."""
    df = with_event_time(events)
    if not events.isStreaming:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 4)
            .cast("double")
            .alias("sum_value"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    return (
        df.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_user_stages(
    events: DataFrame,
    steps,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: int | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user funnel depth ``(user, stage)``, batch OR streaming, with
    the greedy windowFunnel semantics of
    :func:`krnel_graph_spark.functions.behavior.funnel_stages`.

    Streaming: ``applyInPandasWithState`` holds exactly THREE scalars per
    user — (stage, anchor_us, last_match_us) — so state is O(users),
    independent of event volume; each micro-batch folds its (in-batch
    ts-sorted) events into the state and emits the user's updated depth.
    Equals the batch fold when each user's events arrive in event-time
    order across micro-batches (the greedy scan is order-sensitive by
    definition); in-batch arrival order never matters because the batch
    is sorted before folding.
    """
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct")
    if not events.isStreaming:
        from ..functions.behavior import funnel_stages

        return funnel_stages(
            events, steps, user_col=user_col, type_col=type_col,
            ts_col=ts_col, within=within,
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    idx = {s: i for i, s in enumerate(steps)}
    n_steps = len(steps)
    within_us = None if within is None else int(within) * 1_000_000
    # The user id keeps its incoming type (string ids are as valid as
    # bigint ones — the batch branch accepts both, so must streaming).
    user_dt = events.schema[user_col].dataType.simpleString()

    df = (
        with_event_time(events, ts_col)
        .filter(F.col(type_col).isin(steps))
        .withWatermark(ts_col, watermark)
        .select(
            F.col(user_col).alias("user"),
            F.col(ts_col).alias("t"),
            F.col(type_col).alias("y"),
        )
    )

    def update(key, pdfs, state):
        s, a, c = state.get if state.exists else (0, -1, -1)
        evs = []
        for pdf in pdfs:
            evs.extend(zip(pdf["t"], pdf["y"]))
        evs.sort(key=lambda r: r[0])
        for t, y in evs:
            tus = int(pd.Timestamp(t).value // 1000)
            if (
                s < n_steps
                and idx[y] == s
                and (s == 0 or tus > c)
                and (
                    s == 0
                    or within_us is None
                    or tus <= a + within_us
                )
            ):
                s += 1
                a = tus if s == 1 else a
                c = tus
        state.update((int(s), int(a), int(c)))
        yield pd.DataFrame({"user": [key[0]], "stage": [s]})

    return df.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=f"user {user_dt}, stage integer",
        stateStructType="s integer, a long, c long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_DURATION_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _duration_seconds(spec: str) -> int:
    try:
        num, unit = spec.split()
        return int(num) * _DURATION_UNITS[unit.lower()]
    except (ValueError, KeyError):
        raise ValueError(f"Unparseable duration {spec!r} (expected 'N unit')")


def rollup_event_counts(
    events: DataFrame,
    durations: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
) -> DataFrame:
    """Multi-resolution tumbling rollup (hypertable-style continuous
    aggregate): counts + value sums per event type at each duration.

    The raw table is scanned ONCE, at the finest resolution; every coarser
    level re-aggregates the previous level's output. Durations MUST nest
    (each an integer multiple of the finer one) — validated, because a
    non-nesting cascade silently assigns a straddling fine bucket wholly
    to one coarse window. Each level is pinned — they are
    aggregate-sized, and without pinning, the union's branches would
    re-run the whole lineage (Spark's exchange reuse does not fire across
    the differing branch tails). At 100 TB the cascade touches raw data
    once and then reduces rollup-sized frames — the standard
    continuous-aggregate design (TimescaleDB/Druid style). Output: one
    union frame tagged with a ``resolution`` column.

    Batch-only (pinned cascades are illegal on streams): for streaming,
    run ``windowed_event_counts`` at the finest grain and roll up from its
    sink downstream."""
    from ..functions.partitioning import pin

    if events.isStreaming:
        raise ValueError(
            "rollup_event_counts is batch-only; stream the finest grain via "
            "windowed_event_counts and roll up from its sink"
        )
    secs = [_duration_seconds(d) for d in durations]
    for finer, coarser in zip(secs, secs[1:]):
        if coarser % finer != 0:
            raise ValueError(
                f"rollup durations must nest: {durations} "
                f"({coarser}s is not a multiple of {finer}s)"
            )

    # Accumulate ``value`` as DECIMAL(30,10): decimal addition is exact and
    # associative, so the cascade's level-by-level re-aggregation yields the
    # bit-identical total regardless of partitioning / summation order (a
    # double-sum cascade can land a ULP away from a direct sum and flip the
    # final round()). Rounding to 4 happens once, on the decimal, at the end.
    finest = pin(
        with_event_time(events)
        .groupBy(F.window("ts", durations[0]).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,10)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    levels = [finest.withColumn("resolution", F.lit(durations[0]))]
    prev = finest
    for dur in durations[1:]:
        prev = pin(
            prev.groupBy(F.window("window_start", dur).alias("w"), "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        levels.append(prev.withColumn("resolution", F.lit(dur)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    # Round on the exact decimal (HALF_UP, same as the SQL oracle), THEN
    # convert to double — rounding after a decimal->double conversion could
    # flip on values a ULP from a .00005 boundary.
    return out.withColumn(
        "sum_value", F.round("sum_value", 4).cast("double")
    )


def dedup_stream_near(
    stream_df: DataFrame,
    text_col: str,
    ts_col: str = "ts",
    num_perm: int = 16,
    shingle_k: int = 3,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming NEAR-duplicate filter: key the watermarked dedup on the
    MinHash signature instead of raw text.

    Two documents sharing the full signature are near-identical with high
    probability (the batch pipeline's band-collision + verify relaxes
    this; a stream cannot run the verify join against unbounded history).
    State = one signature per surviving doc within the watermark horizon —
    bounded, like ``dedup_events``. Batch mode applies the same expression
    via ``dropDuplicates`` for oracle checks. Note Spark's late-row rule:
    an event at-or-before the current watermark (including epoch-0 rows
    against the initial watermark) is dropped before dedup state lookup."""
    from ..functions.dedup import minhash_signature

    sig = F.array_join(
        F.transform(
            minhash_signature(text_col, num_perm, shingle_k),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    # Docs too short to shingle all share the all--1 sentinel signature
    # (the batch pipeline filters them out before banding); keying dedup on
    # the sentinel would collapse every short doc into one. They fall back
    # to exact-text keys instead.
    sentinel = ",".join(["-1"] * num_perm)
    key = F.when(
        sig == sentinel, F.concat(F.lit("raw:"), F.coalesce(F.col(text_col), F.lit("")))
    ).otherwise(sig)
    df = with_event_time(stream_df, ts_col).withColumn("__sig", key)
    if stream_df.isStreaming:
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__sig"]
        )
    else:
        out = df.dropDuplicates(["__sig"])
    return out.drop("__sig")


def window_anomalies(
    events: DataFrame,
    window_duration: str = "1 hour",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Volume-anomaly detection over tumbling windows: flag (window,
    event_type) cells whose event count deviates from that type's mean
    by more than ``z_threshold`` sample standard deviations — the ops
    dashboard query over event telemetry.

    Batch-only companion to :func:`windowed_event_counts` (the z-score
    needs every window of the run; a stream would score against a
    trailing snapshot instead). Returns ``(window_start, event_type,
    n_events, z, is_anomaly)``.

    Exactness: per-type moments (count, Σn, Σn²) are integer sums — no
    float accumulation at all — and mean/std/z evaluate as a fixed IEEE
    formula from those integers, so a SQL oracle is bit-exact. Types
    with a single window (undefined sample std) report z = 0.

    Scale: one window aggregation (the corpus-sized step), one
    partial-aggregated per-type moment pass over WINDOW-COUNT-sized
    data, and a broadcast join of the per-type stats back — the raw
    events shuffle once.
    """
    counts = windowed_event_counts(events, window_duration).select(
        "window_start", "event_type", "n_events"
    )
    stats = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("n_events").alias("__s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("__s2"),
    )
    k = F.col("__k").cast("double")
    mean = F.col("__s1").cast("double") / k
    # sample variance from integer moments: (k*s2 - s1^2) / (k*(k-1))
    var = (
        k * F.col("__s2").cast("double")
        - F.col("__s1").cast("double") * F.col("__s1").cast("double")
    ) / (k * (k - F.lit(1.0)))
    std = F.sqrt(var)
    z = F.when(
        (F.col("__k") > 1) & (std > 0),
        (F.col("n_events").cast("double") - mean) / std,
    ).otherwise(F.lit(0.0))
    return (
        counts.join(F.broadcast(stats), "event_type")
        .select(
            "window_start",
            "event_type",
            "n_events",
            F.round(z, 6).alias("z"),
            (F.abs(F.round(z, 6)) > F.lit(z_threshold)).alias("is_anomaly"),
        )
    )
