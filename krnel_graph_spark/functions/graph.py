"""Distributed connected components over an edge DataFrame.

Implements the alternating *large-star / small-star* algorithm (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
MapReduce and Beyond", ACM SoCC 2014) as pure DataFrame transformations.
Each round is two hash-shuffles on node id; the edge set contracts toward
a star forest in O(log n) rounds, so a 100-TB pair graph needs ~15-20
shuffles total and never touches the driver.

This is beyond-reference scale infrastructure: the reference engine
(krnel-graph) has no graph operator — its near-dup pipeline stops at the
pair list. Here it backs ``dedup.drop_near_dups(components="distributed")``
for corpora whose LSH pair graph is itself too large for driver-side
union-find (see ``functions/dedup.py``).

Iterative-Spark pitfall handled explicitly: every round is pinned through
:func:`~krnel_graph_spark.functions.partitioning.pin`. On a local master
that is a ``localCheckpoint``, which breaks the lineage — without it the
plan doubles per iteration and Catalyst analysis time explodes long before
the data does. On a cluster the pin is a ``persist`` instead: the rounds
keep their lineage so that a frame whose executor is lost can be
recomputed, and the plans are bounded only by the cache substitution. That
trade is unverified here, because no real cluster is available to measure
it on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .partitioning import pin


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct self-loop-free edges as (src, dst) columns."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to the min."""
    o = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        o.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Label every node appearing in ``edges`` with the minimum node id
    reachable from it.

    Returns a DataFrame ``(node, component)`` — one row per distinct node
    in the (undirected) edge set; ``component`` is the component's min id,
    so a component's representative labels itself.

    Convergence is detected by the exact fixpoint property instead of a
    changed-signature comparison (r14): a small-star output (all edges
    ``src > dst``) is a fixpoint of both stars iff it is a star forest,
    i.e. no ``dst`` also appears as a ``src`` — one edge-set-bounded
    semi-join + aggregate fused into each round's materializing action.
    The signature formulation needed one extra FULL round (two more
    edge-set shuffles + a checkpoint) purely to observe that nothing
    changed; the fixpoint test stops at the converged round itself
    (measured: the sf0.1 LSH pair graph converges in ONE round — the
    detection round was half the operator's cost).
    """
    e = pin(_canonical(edges, src, dst))
    for _ in range(max_iterations):
        # ONE non-eager pin per round, after the small star: the
        # large-star frame is single-consumer (the small star), so
        # pinning it too only adds a second materialization per round.
        # The convergence aggregate below is the one action that
        # materializes the round.
        e = pin(_small_star(_large_star(e)))
        internal = (
            e.select(F.col("src").alias("dst")).distinct()
            .withColumn("__s", F.lit(1))
        )
        row = (
            e.join(internal, "dst", "left")
            .agg(
                F.coalesce(
                    F.sum(F.col("__s").isNotNull().cast("long")), F.lit(0)
                ).alias("bad")
            )
            .first()
        )
        if row["bad"] == 0:
            break
    # Converged state is a star forest: src > dst = component root. Roots
    # label themselves; nodes with no surviving edge were singletons of
    # the input and also label themselves.
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        e.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return (
        labels.union(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    round_to: int = 10,
) -> DataFrame:
    """Deterministic fixed-iteration PageRank over a directed edge list —
    the classic link-graph quality/spam signal a web-crawl curation
    pipeline feeds into its document scoring (alongside content-level
    signals like ``text.quality_score``).

    Returns ``(node, rank)`` for every node appearing in the edge set.
    Simplified dangling-mass handling: rank flowing into sink nodes is
    not redistributed, so ranks sum to < 1 — the RANKING, which is the
    curation signal, is unaffected, and the recurrence stays a pure
    join+aggregate any SQL oracle can unroll.

    Determinism: every iteration rounds ranks to ``round_to`` decimals
    and accumulates contributions in exact decimal, so partition order
    and engine cannot move the result; a fixed ``n_iter`` (no float
    convergence test) keeps reruns identical.

    Scale shape: per iteration one shuffle joins ranks to edges on src
    (both sides hash-partitioned on the same key round over round) and
    one partial-aggregated groupBy(dst) sums contributions — edge-count
    shuffle volume, rank-table-sized results. Nodes with no inbound
    mass stay in the table via a zero-contribution row unioned into
    the aggregate input (node-count extra rows in the one shuffle),
    NOT a second nodes-join after it — one shuffle per round, not two;
    summing the extra exact-decimal zero cannot move the result.
    A pin per iteration breaks the lineage (same pitfall note as
    ``connected_components``).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    e = pin(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
    )
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # one job materializes e AND nodes
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    e_od = pin(e.join(outdeg, "src"))

    rank = nodes.withColumn(
        "rank", F.round(F.lit(1.0) / n_nodes, round_to)
    )
    zero = nodes.select(
        F.col("node").alias("dst"),
        F.lit(0).cast("decimal(38,12)").alias("__c"),
    )
    for _ in range(n_iter):
        contrib = e_od.join(rank, F.col("src") == F.col("node")).select(
            F.col("dst"),
            (F.col("rank") / F.col("__od"))
            .cast("decimal(38,12)")
            .alias("__c"),
        )
        # Non-eager: lineage is cut per round, but the floor-priced jobs
        # collapse into the consumer's single job.
        rank = pin(
            contrib.unionByName(zero)
            .groupBy("dst")
            .agg(F.sum("__c").alias("__s"))
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.lit(1.0 - damping) / n_nodes
                    + F.lit(damping) * F.col("__s").cast("double"),
                    round_to,
                ).alias("rank"),
            )
        )
    return rank


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """Global triangle count of the undirected graph — one row
    ``(n_triangles)``; each triangle counted exactly once via the
    ``a < b < c`` oriented-wedge enumeration (two equi-joins over the
    canonical edge list).

    ``orient="degree"`` re-orients every edge from its lower-(degree, id)
    endpoint to the higher one before the wedge join — the standard skew
    guard: a star hub of degree d contributes d² wedges under id
    orientation but ~0 as a wedge CENTER under degree orientation, which
    bounds the intermediate join at O(m^1.5) on any graph. Both
    orientations count the same triangles; "id" keeps the plan
    SQL-mirrorable for the oracle.

    Scale: 2 hash-shuffle joins on node keys over (a, b) pairs — no
    vectors, no driver state; the wedge frame is the only intermediate.
    """
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if orient == "degree":
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        e = (
            e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
            .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
            .select(
                F.when(
                    (F.col("da") < F.col("db"))
                    | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                )
                .otherwise(F.struct(F.col("b").alias("x"), F.col("a").alias("y")))
                .alias("s")
            )
            .select(F.col("s.x").alias("a"), F.col("s.y").alias("b"))
        )
    elif orient != "id":
        raise ValueError("orient must be 'id' or 'degree'")
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a"))
    return (
        wedges.join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient:
    ``c(v) = triangles_through(v) / C(deg(v), 2)`` over the undirected
    simple graph — the standard cohesion signal for link-graph curation.
    Returns ``(node, degree, n_triangles, coeff)`` (coeff rounded to 6,
    0.0 for degree < 2 nodes).

    Scale: the same 2-join a<b<c wedge enumeration as
    :func:`triangle_count`; each triangle row explodes into its 3 member
    nodes (3× a triangle-sized frame, far smaller than the edge list on
    real graphs), then one partial-agg'd count per node joined against
    the degree table.
    """
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.a"), F.col("e1.b"), F.col("e2.b"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1) / 2.0),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
        .orderBy("node")
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Nodes of the ``k``-core (the maximal subgraph where every node has
    degree ≥ k) — the density/spam signal for link-graph curation.
    Returns ``(node, degree)`` with the degree INSIDE the core.

    Iterative peeling: drop all nodes of degree < k, recompute degrees on
    the induced subgraph, repeat to fixpoint. Each round is one degree
    aggregation plus two semi-joins on the shrinking edge list;
    a pin breaks lineage per round (same policy as
    :func:`connected_components`). Rounds needed = peeling depth, which
    is small on real graphs; ``max_iter`` guards adversarial chains.

    Cost shape: exactly ONE Spark job per peel round — the checkpoint
    is non-eager, so the fixpoint-test ``count()`` both materializes
    the round's edge list and returns its size (an eager checkpoint
    followed by a count would pay the per-job floor twice per round;
    that halving is worth ~35% of wall-clock on job-floor-dominated
    graphs).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = pin(
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    n_edges = e.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        ne = pin(
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
        n_new = ne.count()  # materializes the pin: one job per round
        e = ne
        if n_new == n_edges:
            break
        n_edges = n_new
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.filter(F.col("degree") >= k).orderBy("node")


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph —
    the Pearson correlation of endpoint degrees over all edge-endpoint
    pairs (each edge counted in both directions, the standard Newman
    definition). One row: ``(n_edges, assortativity)``.

    Engine-exact: degrees and their products are integers, so every
    moment is an EXACT integer sum; only the final Pearson formula runs
    in floating point (identical op order on any engine, round-6).

    Scale: the degree table joins the edge list twice on node keys; the
    moment aggregation partial-combines map-side to one row.
    """
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    # Newman's both-directions moments in ONE pass over the decorated
    # edge list instead of a self-union that doubled the whole join tree:
    # over sym = ed ∪ swap(ed) the sums are exact integer mirror-images —
    # n = 2·cnt, sx = sy = Σda+Σdb, sxy = 2·Σda·db, sxx = syy = Σda²+Σdb²
    # — so every moment below is the SAME integer the union form summed
    # (bit-identical double math downstream).
    m = ed.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("da").alias("sa"),
        F.sum("db").alias("sb"),
        F.sum(F.col("da") * F.col("db")).alias("sab"),
        F.sum(F.col("da") * F.col("da")).alias("saa"),
        F.sum(F.col("db") * F.col("db")).alias("sbb"),
    ).select(
        (F.col("cnt") * 2).alias("n"),
        (F.col("sa") + F.col("sb")).alias("sx"),
        (F.col("sa") + F.col("sb")).alias("sy"),
        (F.col("sab") * 2).alias("sxy"),
        (F.col("saa") + F.col("sbb")).alias("sxx"),
        (F.col("saa") + F.col("sbb")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    dy = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return m.select(
        (n / F.lit(2)).cast("long").alias("n_edges"),
        F.when(
            (dx > 0) & (dy > 0), F.round(num / dx / dy, 6)
        ).otherwise(F.lit(0.0)).alias("assortativity"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    (implicitly symmetrized) edge list — the near-linear-time community
    signal a crawl-curation pipeline uses to group mutually-linking
    sites, complementing ``connected_components`` (which ignores edge
    density) and ``pagerank`` (which scores, not groups).

    Every node starts labeled with its own id; each of the fixed
    ``n_iter`` synchronous rounds relabels every node with the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label — a total order, so the result is deterministic and an
    unrolled SQL oracle replays it exactly (float-free: labels and
    counts are integers). Self-loops are dropped. Returns
    ``(node, label)``.

    Scale shape: per round, one shuffle joins the label table onto the
    symmetrized edges on the neighbor endpoint and ONE partial-
    aggregated groupBy picks the argmax via ``mode(label,
    deterministic=true)`` (most frequent value, ties broken by the
    smallest — the exact relabeling rule, fused into a single
    aggregate; partial maps are label-count bounded per node) —
    edge-count shuffle volume, node-count results, no window over
    unbounded partitions.
    A pin per round breaks the O(n_iter) lineage growth (same policy
    as ``pagerank``/``connected_components``)."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    sym = pin(
        und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iter):
        nbr = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("n"), "label"
        )
        # Argmax in ONE aggregate: mode(label, deterministic=true) is
        # count DESC then value ASC for ANY orderable label type — the
        # exact relabeling rule, replacing the former
        # groupBy(n,label)+min(struct(-c,label)) two-shuffle ladder.
        best = (
            nbr.groupBy("n")
            .agg(F.mode("label", True).alias("label"))
            .select(F.col("n").alias("node"), "label")
        )
        # Every node in `nodes` has >= 1 neighbor by construction (it
        # came from a symmetrized edge), but keep the left-join +
        # carry-forward so subgraph relabeling stays correct if a
        # caller feeds a pre-filtered label frame in a future variant.
        # Non-eager: per-round lineage cut without a per-round job —
        # the caller's one action materializes every round's state.
        labels = pin(
            nodes.join(best, "node", "left").select(
                "node",
                F.coalesce(best.label, F.col("node")).alias("label"),
            )
        )
    return labels
