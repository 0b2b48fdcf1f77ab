"""User-behavior analytics: funnels, retention cohorts, rank fusion.

The event-log companions to the curation surface: ordered-step funnel
conversion (ClickHouse ``windowFunnel``-style, greedy semantics), weekly
retention cohorts, and reciprocal-rank fusion for hybrid retrieval.

Scale notes are per-function; the common theme is one shuffle on the
entity key (user / doc) and tiny, broadcastable outputs — counts per
funnel step, one row per (cohort, offset), fused top-k lists.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..streaming.events import with_event_time
from .partitioning import pin


def _per_user_funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    within: int | None,
    max_events_per_user: int | None = 100_000,
) -> DataFrame:
    """Shared greedy fold: ``(user, stage, times)`` where ``times`` holds
    the matched step timestamps (epoch micros) in step order. One shuffle;
    the ordered scan is a JVM ``aggregate`` expression over each user's
    sorted funnel-type events.

    Skew guard: a bot user with tens of millions of funnel-type events
    would otherwise build an unbounded ``collect_list`` buffer on one
    reducer. With ``max_events_per_user`` set (default 100k — generous;
    ``None`` disables), each user's events are capped to their EARLIEST
    ``max_events_per_user`` funnel-type events via a spill-able
    ``row_number`` window BEFORE the collect, so the aggregation buffer is
    bounded. The window's hash partitioning on ``user`` is reused by the
    groupBy (still one shuffle). Users under the cap — all real users —
    are byte-identical to the uncapped plan. For a CAPPED user the result
    is an approximation: the greedy fold runs over only the earliest
    ``max_events_per_user`` funnel-type events, so a step-advancing event
    arriving after the cap is dropped and the user's stage can be
    understated (never overstated — the fold still only matches events in
    order). Pass ``None`` for exact semantics on pathological users at
    the cost of an unbounded per-user buffer."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct")
    steps_arr = F.array(*[F.lit(s) for s in steps])
    within_us = None if within is None else int(within) * 1_000_000

    rows = (
        with_event_time(df, ts_col)
        .filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("user"),
            F.unix_micros(F.col(ts_col)).alias("t"),
            F.col(type_col).alias("y"),
        )
    )
    if max_events_per_user is not None:
        w = Window.partitionBy("user").orderBy("t", "y")
        rows = (
            rows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(max_events_per_user))
            .drop("__rn")
        )
    ev = rows.groupBy("user").agg(
        F.array_sort(F.collect_list(F.struct("t", "y"))).alias("evs")
    )
    zero = F.struct(
        F.lit(0).alias("s"),
        F.lit(-1).cast("long").alias("a"),
        F.lit(-1).cast("long").alias("c"),
        F.array().cast("array<long>").alias("ts"),
    )

    def step_fn(acc: Column, x: Column) -> Column:
        # F.get is 0-based and null-safe past the end, so `acc.s ==
        # len(steps)` simply fails the equality test -> no-op fold.
        wanted = F.get(steps_arr, acc["s"])
        ok = (x["y"] == wanted) & ((acc["s"] == 0) | (x["t"] > acc["c"]))
        if within_us is not None:
            ok = ok & ((acc["s"] == 0) | (x["t"] <= acc["a"] + F.lit(within_us)))
        return F.when(
            ok,
            F.struct(
                (acc["s"] + 1).alias("s"),
                F.when(acc["s"] == 0, x["t"]).otherwise(acc["a"]).alias("a"),
                x["t"].alias("c"),
                F.concat(acc["ts"], F.array(x["t"])).alias("ts"),
            ),
        ).otherwise(acc)

    fold = F.aggregate(F.col("evs"), zero, step_fn)
    return ev.select(
        F.col("user"),
        fold["s"].alias("stage"),
        fold["ts"].alias("times"),
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: int | None = None,
    max_events_per_user: int | None = 100_000,
) -> DataFrame:
    """Ordered-step funnel conversion counts over an event log.

    Greedy semantics (the standard ``windowFunnel`` contract): a user's
    anchor is their EARLIEST ``steps[0]`` event; each later step matches
    the earliest event of that type STRICTLY after the previous step's
    match; with ``within`` (seconds) every post-anchor match must land at
    or before ``anchor + within``. Deterministic — equivalent to the SQL
    chain ``t_k = min(ts) WHERE type = step_k AND ts > t_{k-1}``.

    Returns one row per step: ``(step_idx, step, users)`` where ``users``
    is the count of users whose greedy match reached that step.

    Scale: events are filtered to the K funnel types at the scan (the
    predicate pushes down), then ONE shuffle groups each user's relevant
    events; the ordered scan runs as a JVM ``aggregate`` expression over
    the per-user sorted list — no Python, no per-step self-joins (the
    naive SQL formulation shuffles K times). Per-user state is bounded by
    that user's funnel-type events. The final K counters partial-aggregate
    map-side into a 1-row frame unpivoted to K rows.
    """
    steps = list(steps)
    n_steps = len(steps)
    stages = _per_user_funnel(
        df, steps, user_col, type_col, ts_col, within,
        max_events_per_user=max_events_per_user,
    ).select("stage")

    counters = stages.agg(
        *[
            F.sum((F.col("stage") >= i + 1).cast("long")).alias(f"__c{i}")
            for i in range(n_steps)
        ]
    )
    # K-row unpivot via the DataFrame API: step names ride as
    # parameterized literals, so quotes/backslashes in a step name can
    # never alter the expression (ADVICE r5 vs the stack() string form).
    row = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i + 1).alias("step_idx"),
                    F.lit(steps[i]).alias("step"),
                    F.coalesce(
                        F.col(f"__c{i}"), F.lit(0).cast("long")
                    ).alias("users"),
                )
                for i in range(n_steps)
            ]
        )
    ).alias("r")
    return counters.select(row).select("r.*").orderBy("step_idx")


def funnel_stages(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: int | None = None,
    max_events_per_user: int | None = 100_000,
) -> DataFrame:
    """Per-user funnel depth: ``(user, stage)`` with ``stage`` in
    ``0..len(steps)`` — the row-level view behind :func:`funnel`, for
    joining funnel progress back onto a user dimension. Same greedy
    semantics and the same single-shuffle plan; the summary is just this
    frame's histogram."""
    return _per_user_funnel(
        df, steps, user_col, type_col, ts_col, within,
        max_events_per_user=max_events_per_user,
    ).select("user", "stage")


def funnel_conversion(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: int | None = None,
    max_events_per_user: int | None = 100_000,
) -> DataFrame:
    """Funnel counts PLUS time-to-convert: for each step, how many users
    reached it and the mean seconds from the funnel anchor (the step-1
    match) to that step's match, over exactly those users.

    ``mean_s_from_anchor`` is engine-unambiguous: per-user deltas are
    integer microseconds, decimal-cast before the sum (overflow-proof at
    any user count); the mean is then a fixed sequence of IEEE double
    divisions and a round-6 — the SQL oracle performs the identical
    operations. Step 1's mean is 0 by construction.

    Same single-shuffle plan as :func:`funnel`; the explode runs over
    users × reached-steps rows (≤ K per user), and the per-step
    aggregation partial-combines map-side.
    """
    per_user = _per_user_funnel(
        df, steps, user_col, type_col, ts_col, within,
        max_events_per_user=max_events_per_user,
    )
    steps = list(steps)
    step_names = F.array(*[F.lit(s) for s in steps])
    exploded = per_user.select(
        F.posexplode("times").alias("idx", "t"),
        F.get("times", 0).alias("anchor"),
    )
    return (
        exploded.groupBy("idx")
        .agg(
            F.count(F.lit(1)).alias("users"),
            F.sum((F.col("t") - F.col("anchor")).cast("decimal(30,0)")).alias(
                "__sum_us"
            ),
        )
        .select(
            (F.col("idx") + 1).alias("step_idx"),
            F.get(step_names, F.col("idx")).alias("step"),
            F.col("users"),
            # The sum is decimal-exact; the mean is then two explicit
            # IEEE double divisions (sum/users, /1e6) — the identical
            # operation sequence the oracle runs, so round-6 agrees.
            F.round(
                F.col("__sum_us").cast("double")
                / F.col("users")
                / F.lit(1_000_000.0),
                6,
            ).alias("mean_s_from_anchor"),
        )
        .orderBy("step_idx")
    )


_RETENTION_GRAINS = {"day": 1, "week": 7}


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Retention triangle at ``granularity`` ("week" default, or "day"):
    cohort = truncated period of each user's FIRST event; a cohort member
    counts toward ``week_offset = w`` if they have any event in cohort
    period + w. (Months are deliberately unsupported: unequal month
    lengths make the offset ill-defined as a fixed day stride — truncate
    upstream and group yourself if you need calendar months.)

    Returns ``(cohort_week DATE, week_offset INT, n_users BIGINT)``
    ordered by (cohort, offset) — column names keep the weekly contract
    at every granularity so downstream pivots don't fork. The
    ``week_offset = 0`` row is the cohort size (every user is active in
    their first period by construction).

    Scale: TWO shuffles total, no join. First-event week and the user's
    distinct activity weeks come out of ONE user-keyed aggregation
    (``collect_set`` over week-truncated timestamps partial-aggregates
    map-side, so per-user state is bounded by active WEEKS, not events);
    exploding that set yields users × active-weeks rows — far smaller
    than the event log — and the final (cohort, offset) count
    partial-aggregates down to a weeks² result.
    """
    if granularity not in _RETENTION_GRAINS:
        raise ValueError(
            f"granularity must be one of {sorted(_RETENTION_GRAINS)}"
        )
    stride = _RETENTION_GRAINS[granularity]
    df = with_event_time(df, ts_col)
    per_user = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc(granularity, F.min(ts_col)).alias("__cw"),
        F.collect_set(F.date_trunc(granularity, F.col(ts_col))).alias("__aws"),
    )
    return (
        per_user.select(
            F.col("__cw"), F.explode("__aws").alias("__aw")
        )
        .select(
            F.col("__cw").cast("date").alias("cohort_week"),
            (F.datediff(F.col("__aw"), F.col("__cw")) / stride)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Markov-style path exploration: counts of consecutive
    ``(from_type, to_type)`` transitions within each user's event-time
    ordering — the table behind sankey/flow diagrams and first-order
    next-event models.

    Ordering within a user is ``(ts, *order_cols)``; pass a unique
    tiebreaker (e.g. an event id) when timestamps can collide, otherwise
    equal-timestamp neighbors would make the transition set
    nondeterministic. Returns ``(from_type, to_type, n)``.

    Scale: one shuffle on the user key for the ``lead`` window (per-key
    state is a single row), then the transition count partial-aggregates
    map-side into a (types²)-row result.
    """
    df = with_event_time(df, ts_col)
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(user_col).orderBy(*order)
    return (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str,
    score_cols: Sequence[str],
    k: int = 60,
    topk: int | None = None,
    max_list_rows: int | None = 100_000,
) -> DataFrame:
    """Reciprocal-rank fusion of top-k result lists: each list contributes
    ``1 / (k + rank)`` per id (rank from ``score desc, id asc``); fused
    score is the sum, decimal-cast pre-sum so summation order can't move
    the round-6 output. Returns ``(id, rrf_score, n_lists)`` ordered by
    fused score desc, id asc.

    The inputs are top-k lists BY CONTRACT (tens to thousands of rows) —
    the unpartitioned row_number window is deliberate and cheap at that
    size; never feed an unranked corpus through this. Fusing bounded
    lists keeps the whole plan broadcast-sized regardless of corpus
    scale, which is the point of RRF in a 100-TB retrieval stack: the
    expensive rankers (BM25, ANN) each reduce the corpus to k rows, and
    fusion is O(lists × k).

    The contract is ENFORCED (round-7): each list's (id, score)
    projection is materialized ONCE via an eager pin —
    rankers are expensive, and a separate guard job would recompute
    them, while the pin makes both the guard count and the rank
    window read the already-computed rows — then a list over
    ``max_list_rows`` raises instead of running a single-partition
    corpus sort. Set ``max_list_rows=None`` only if you know every
    input is ranker output (the pin is kept regardless: it is
    what keeps fusion a single ranker pass per list).
    """
    if len(ranked) != len(score_cols):
        raise ValueError("ranked and score_cols must align")
    if len(ranked) < 2:
        raise ValueError("rrf_fuse needs at least 2 ranked lists")
    # The per-list eager checkpoints are independent ranker jobs —
    # materialize them concurrently from driver threads instead of
    # serially (wall clock = slowest ranker, not the sum).
    from concurrent.futures import ThreadPoolExecutor

    projs = [
        df.select(F.col(id_col), F.col(sc))
        for df, sc in zip(ranked, score_cols)
    ]
    with ThreadPoolExecutor(max_workers=len(projs)) as pool:
        slim = list(
            pool.map(lambda d: pin(d, eager=True), projs)
        )
    if max_list_rows is not None:
        for i, df in enumerate(slim):
            if df.limit(max_list_rows + 1).count() > max_list_rows:
                raise ValueError(
                    f"rrf_fuse input {i} exceeds max_list_rows="
                    f"{max_list_rows}: pass ranker TOP-K lists, not a "
                    "corpus (or raise/disable max_list_rows explicitly)"
                )
    parts = []
    for df, sc in zip(slim, score_cols):
        w = Window.orderBy(F.col(sc).desc(), F.col(id_col).asc())
        parts.append(
            df.select(F.col(id_col), F.row_number().over(w).alias("__r"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    out = (
        u.groupBy(id_col)
        .agg(
            F.round(
                F.sum(
                    (F.lit(1.0) / (F.lit(k) + F.col("__r"))).cast(
                        "decimal(30,10)"
                    )
                ),
                6,
            )
            .cast("double")
            .alias("rrf_score"),
            F.count(F.lit(1)).alias("n_lists"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    )
    return out.limit(topk) if topk is not None else out


def session_cooccurrence(
    df: DataFrame,
    gap: int = 1800,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: Sequence[str] = (),
    min_count: int = 1,
) -> DataFrame:
    """Within-session event-type co-occurrence counts — the "viewed
    together" table behind session-based recommenders and affinity
    dashboards. A session is a gap-based run of one user's events
    (> ``gap`` seconds of silence starts a new one); each session
    contributes each unordered type pair ONCE (set semantics). Returns
    ``(type_a, type_b, n_sessions)`` with ``type_a < type_b``.

    Ordering within a user is ``(ts, *order_cols)`` — pass a unique
    tiebreaker when timestamps can collide so session boundaries are
    deterministic.

    Scale: one user-keyed shuffle assigns session ids (lag + running sum
    window, single-row state); the distinct (user, session, type) frame
    is bounded by sessions × type-cardinality; the pair self-join keys on
    (user, session) — within-session fan-out is C(types, 2), tiny for
    real type vocabularies; the final count partial-aggregates into a
    types² result.
    """
    df = with_event_time(df, ts_col)
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_us = int(gap) * 1_000_000
    t = F.unix_micros(F.col(ts_col))
    new_sess = (
        F.when(
            t - F.lag(t).over(w) > F.lit(gap_us), F.lit(1)
        ).otherwise(F.lit(0))
    )
    keyed = (
        df.select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("__y"),
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("__s"),
        )
        .dropDuplicates(["__u", "__s", "__y"])
    )
    # Both aliases of the pair self-join otherwise re-run the
    # sessionizing window sort + dedup shuffle over the full event
    # stream — one window pass instead of two, and the pinned frame is
    # the deduped (user, session, type) triple set, already reduced.
    keyed = pin(keyed)
    l, r = keyed.alias("l"), keyed.alias("r")
    return (
        l.join(
            r,
            (F.col("l.__u") == F.col("r.__u"))
            & (F.col("l.__s") == F.col("r.__s"))
            & (F.col("l.__y") < F.col("r.__y")),
        )
        .groupBy(
            F.col("l.__y").alias("type_a"), F.col("r.__y").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= min_count)
        .orderBy("type_a", "type_b")
    )


def ewma_smooth(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    alpha: float = 0.3,
    round_to: int | None = None,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value_col``
    in event-time order — the streaming-shaped trend/anomaly feature
    (``e_i = alpha·v_i + (1-alpha)·e_{i-1}``, ``e_0 = v_0``) computed
    EXACTLY, as a single JVM ``aggregate`` fold per user.

    Returns ``(user, id, ewma)`` for every input event. With the default
    ``round_to=None`` every step is two IEEE-754 double ops in a fixed
    order, so ANY engine replaying the same fold (e.g. a recursive-CTE
    SQL oracle) reproduces the values bit-for-bit — no rounding needed,
    and none wanted: per-step decimal rounding puts chained results on
    .5 boundaries where engines' double→decimal conventions differ
    (measured: 3/10k rows off by 1e-8 with round-8). ``round_to`` stays
    available for callers who want display-stable output. Ties in
    ``ts_col`` break on ``id_col`` (a total order).

    ``max_events_per_user`` is None by default — EXACT semantics.
    Setting it bounds each user's collect buffer to their EARLIEST n
    events (bot guard, same row_number pre-cap as the funnel fold) at
    the cost of truncating capped users' series.

    Scale shape: one user-keyed shuffle; the ordered recurrence runs as
    a codegen'd fold over each user's sorted in-memory event array (the
    per-user state the recurrence inherently requires), never a window
    over an unbounded frame. The naive SQL formulation is a recursive
    self-join touching the table once PER STEP — the fold touches
    events once."""
    t = with_event_time(df, ts_col)
    evs = t.select(
        F.col(user_col).alias("__u"),
        F.unix_micros(F.col(ts_col)).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("double").alias("__v"),
    )
    if max_events_per_user is not None:
        w = Window.partitionBy("__u").orderBy("__ts", "__id")
        evs = (
            evs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_events_per_user)
            .drop("__rn")
        )
    a = repr(float(alpha))
    b = repr(1.0 - float(alpha))

    def rnd(expr: str) -> str:
        return expr if round_to is None else f"round({expr}, {round_to})"

    step = rnd(f"{a} * x.__v + {b} * acc.prev")
    first = rnd("__sorted[0].__v")
    # Sort each user's event array ONCE (single expression occurrence in
    # the agg's result projection), then fold over the bound column —
    # the previous single-expression form repeated
    # array_sort(collect_list(...)) four times and relied on
    # subexpression elimination to avoid sorting each user's events 4x.
    collected = evs.groupBy("__u").agg(
        F.expr(
            "array_sort(collect_list(struct(__ts, __id, __v)))"
        ).alias("__sorted")
    )
    folded = collected.select(
        "__u",
        F.expr(
            f"""
            aggregate(
              slice(__sorted, 2, greatest(size(__sorted) - 1, 0)),
              named_struct(
                'prev', {first},
                'out', array(named_struct(
                  'id', __sorted[0].__id,
                  'e', {first}))),
              (acc, x) -> named_struct(
                'prev', {step},
                'out', concat(acc.out, array(named_struct(
                  'id', x.__id,
                  'e', {step})))),
              acc -> acc.out)
            """
        ).alias("__out")
    )
    return folded.select(
        F.col("__u").alias(user_col),
        F.explode("__out").alias("__kv"),
    ).select(
        user_col,
        F.col("__kv.id").alias(id_col),
        F.col("__kv.e").alias("ewma"),
    )
