"""Iterative graph operators on DataFrames, on one private loop core.

Every operator here is a relational loop: each round is a few joins and
partial-aggregated groupBys keyed on node id, and the lineage is cut
per round with ``localCheckpoint`` (without the cut the plan grows every
round and the driver dies planning long before the data hurts). Spark
has no built-in graph library (that lives in GraphFrames/GraphX), so
the operators share these private building blocks instead:

- edge forms: ``_undirected`` (both directions, distinct ``(u, v)``)
  and ``_canonical`` (``a < b``, no self-loops, distinct ``(a, b)``);
  neither cuts lineage, each caller cuts where its plan needs it;
- ``_fixpoint``, the convergence driver of the run-to-fixed-point
  loops (``connected_components``, ``connected_components_two_phase``,
  ``kcore_converged``): probe, step and cut, compare the probe with the
  last one, raise after ``max_iter`` rounds;
- ``_peel``, one k-core peeling round (``kcore``, ``kcore_converged``);
- ``_hop``, one level of frontier expansion (``bfs_hops``,
  ``neighborhood_function`` and the resumable BFS query);
- ``_pagerank``, the int64 PageRank rounds: ``pagerank`` is
  ``personalized_pagerank`` with every node a teleport target.

Fixed-round loops stay plain ``for`` loops: their round count is the
contract that lets an unrolled SQL CTE replay them.

All per-round checkpoints are LAZY (``eager=False``): an eager
``localCheckpoint`` runs an extra count() job whose only purpose is to
materialize — a full pass over the round's state per round.  Lazy
marking gets the identical lineage cut (the returned frame is a
LogicalRDD leaf either way) but lets the round's EXISTING action — the
convergence probe, or the next round's AQE stage materialization, or
the caller's one action for fixed-round loops — compute-and-persist
the partitions instead (Spark checkpoints marked RDDs after the first
job that touches them, computing any missing partitions).  Per round
that deletes one job + one full state scan; on a 100 TB graph the
deleted scan is the node-sized state table, per round.  The one
``eager=True`` final (``_pagerank``) stays eager on purpose: its
loop-invariant caches are unpersisted immediately after, so the result
must be materialized first.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark.sql import Column, DataFrame, Window
from pyspark.storagelevel import StorageLevel
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.session import intermediates, pin

# pagerank's rounds grow the plan additively (each round reads the last
# once), so the lineage is cut only every this many rounds
_PR_CHECKPOINT_INTERVAL = 5


def _undirected(
    edges: DataFrame, src: str, dst: str, *payload: Column
) -> DataFrame:
    """``(u, v, *payload)`` for every edge in both directions, distinct.
    Not checkpointed."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), *payload)
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v"), *payload))
        .distinct()
    )


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(a, b)`` with ``a < b`` for every edge, self-loops dropped,
    distinct. Not checkpointed."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Callable[[DataFrame], Hashable],
    max_iter: int,
    what: str,
) -> DataFrame:
    """Apply ``step`` (each result lazily cut) until ``probe`` returns
    the same value on two successive states; ``probe`` is the round's
    one driver action and also materializes the cut. Raises after
    ``max_iter`` rounds without a repeat."""
    prev = probe(state)
    for _ in range(max_iter):
        state = step(state).localCheckpoint(eager=False)
        cur = probe(state)
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(f"{what} did not converge in {max_iter} rounds")


def _hop(frontier: DataFrame, e: DataFrame, visited: DataFrame, node: str) -> DataFrame:
    """One level of BFS: the ``e`` neighbors of ``frontier``'s ``node``
    column, keyed like ``frontier`` (its other columns carried), minus
    the keys already in ``visited``."""
    keys = frontier.columns
    return (
        frontier.join(e, frontier[node] == e["u"])
        .select(*[c for c in keys if c != node], F.col("v").alias(node))
        .distinct()
        .join(visited.select(*keys), keys, "left_anti")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min node
    id reachable. Nodes absent from ``edges`` (singletons) are absent
    from the output — union them in as label=id if needed.

    Near-dup pairs (operators/dedup.py) are edges; a dedup pipeline
    needs the clusters. Min-label propagation,
    ``label(v) ← min(label(v), min over neighbors' labels)``, costs one
    join + one partial-aggregated groupBy per round. Convergence is
    detected by the sum of labels (labels only ever decrease, so the
    sum strictly decreases until the fixed point): one cheap action per
    round, no self-join diff. Rounds needed = graph diameter, a handful
    on near-dup clusters (diameter 2-3); long-chain graphs take
    :func:`connected_components_two_phase`.
    """
    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    labels = (
        e.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            e.join(labels, e.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        return labels.join(nbr_min, labels.id == nbr_min.u, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
        )

    def label_sum(labels: DataFrame):
        return labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    labels = _fixpoint(labels, step, label_sum, max_iter, "connected_components")
    return labels.select("id", F.col("label").alias("component"))


def _edge_checksum(e: DataFrame):
    """Order-insensitive fingerprint of an edge set: (count, sum of
    per-edge hashes). Labels/edges move non-monotonically between
    alternation rounds, so the decreasing-sum trick from
    ``connected_components`` doesn't apply — fixed point is detected by
    the edge MULTISET going stationary, in one cheap action."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components_two_phase(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    same output contract as :func:`connected_components` (component =
    min reachable id; singleton nodes absent), but converges in
    O(log^2 n) rounds INDEPENDENT of graph diameter, where
    min-label-propagation needs diameter rounds. The scale path for
    long-chain graphs; for shallow near-dup clusters (diameter 2-3)
    plain label propagation does fewer, lighter shuffles.

    Per round, two node-keyed groupBy+join pairs over the edge set:

    - large-star: every node ``u`` connects its strictly LARGER
      neighbors to ``m = min(N(u) + {u})`` — emits ``(v, m)`` for
      ``v in N(u), v > u`` over the symmetrized edges;
    - small-star: edges oriented large→small, every node connects its
      smaller neighbors AND itself to the min — emits ``(v, m)`` for
      ``v in N⁻(u) + {u}, v != m``.

    Both rules strictly shrink a potential function over edge lengths,
    and the fixed point is a forest of stars rooted at each component's
    minimum node: the edge list IS the labeling. Lineage is truncated
    per round with ``localCheckpoint`` exactly as in the propagation
    variant.
    """
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e0.select(F.col("a").alias("id"))
        .union(e0.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mn = sym.groupBy("a").agg(F.min("b").alias("mn"))
        return (
            sym.join(mn, "a")
            .filter(F.col("b") > F.col("a"))
            .select(
                F.col("b").alias("a"),
                F.least(F.col("a"), F.col("mn")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        mn = oriented.groupBy("a").agg(F.min("b").alias("mn"))
        joined = oriented.join(mn, "a")
        return (
            joined.select(F.col("b").alias("v"), F.col("mn").alias("m"))
            .union(joined.select(F.col("a").alias("v"), F.col("mn").alias("m")))
            .filter(F.col("v") != F.col("m"))
            .distinct()
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )

    e = _fixpoint(
        e0,
        lambda e: small_star(large_star(e)),
        _edge_checksum,
        max_iter,
        "connected_components_two_phase",
    )
    # stars: every edge (child, root); roots appear only on the b side
    return (
        nodes.join(e, nodes.id == e.a, "left")
        .select("id", F.coalesce("b", "id").alias("component"))
    )


def boruvka_msf(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    *,
    max_rounds: int = 20,
) -> DataFrame:
    """Minimum spanning forest via Borůvka rounds — the MSF algorithm
    that parallelizes (Kruskal's sorted-edge scan is inherently
    sequential; Borůvka does O(log n) rounds of per-component argmin,
    each a groupBy — the classic distributed formulation).

    Edge order is the lexicographic (weight, u, v) — a strict total
    order, so the MSF is UNIQUE and any correct algorithm returns the
    same edge set (which is why the oracle can replay it with unrolled
    rounds and still certify this implementation: identical answers
    are forced, not coincidental).

    Per round: every component picks its minimum incident cross-
    component edge (one union + one window argmin per round, both
    keyed on the component — no quadratic step anywhere), picked edges
    join the forest, and components re-resolve via the certified two-phase
    ``connected_components_two_phase`` (diameter-independent — an MSF
    can be a long path) over the forest (≤ n−1 edges).
    Components at least halve per round, so rounds ≤ ⌈log₂ n⌉; the
    loop's only driver action is one isEmpty probe per round.

    Input edges are undirected (one row per pair, u ≠ v; duplicates
    collapse to the minimum weight). Returns the forest as
    (u, v, weight-col) rows.

    100 TB: each round is two comp-label joins (broadcast when the
    component map fits, shuffle otherwise) + one window argmin on the
    component key; the forest and component map stay node-sized.
    Skewed mega-components are safe — the argmin is an aggregate, not
    a collect.
    """
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    comp = nodes.select("id", F.col("id").alias("c"))
    forest: DataFrame | None = None
    for _ in range(max_rounds):
        cu = comp.select(F.col("id").alias("u"), F.col("c").alias("cu"))
        cv = comp.select(F.col("id").alias("v"), F.col("c").alias("cv"))
        ce = (
            e.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=False)
        )
        if ce.isEmpty():
            break
        cand = ce.select(F.col("cu").alias("c"), "u", "v", "w").unionByName(
            ce.select(F.col("cv").alias("c"), "u", "v", "w")
        )
        win = Window.partitionBy("c").orderBy("w", "u", "v")
        chosen = (
            cand.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("u", "v", "w")
            .distinct()
        )
        forest = (
            chosen if forest is None else forest.unionByName(chosen)
        ).localCheckpoint(eager=False)
        # two-phase CC: O(log² n) rounds independent of forest diameter
        # (the MSF of a path graph IS a path — min-label propagation
        # would need diameter rounds and trip its iteration cap)
        cc = connected_components_two_phase(forest, "u", "v")
        comp = nodes.join(cc, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("c")
        )
    else:
        raise RuntimeError(f"boruvka_msf did not converge in {max_rounds} rounds")
    if forest is None:
        return e.limit(0).select(
            F.col("u").alias(src), F.col("v").alias(dst), F.col("w").alias(weight)
        )
    return forest.select(
        F.col("u").alias(src), F.col("v").alias(dst), F.col("w").alias(weight)
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, degree) over the undirected, deduplicated edge set.

    Self-loops are dropped and duplicate/reversed edges collapse before
    counting, so degree is the true undirected degree. Two shuffles
    (edge dedup, per-node count), both with map-side partials.
    """
    und = _canonical(edges, src, dst)
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """All triangles (x, y, z), each exactly once, x < y < z by node id.

    Degree-oriented wedge counting (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    build wedges only at each edge's SOURCE, and close them against the
    oriented edge set. Work is Σ_v outdeg(v)² with outdeg bounded by
    O(√m) after orientation — a star node of degree d costs d, not d²,
    which is the difference between "fine" and "last-reducer death" on
    power-law graphs (every real co-occurrence graph). Joins shuffle on
    node keys only; the (deg, id) orientation order is a struct compare,
    entirely codegen.
    """
    # consumed twice (degree count + orientation join) and the upstream
    # edge derivation may be expensive — truncate lineage
    und = _canonical(edges, src, dst).localCheckpoint(eager=False)
    deg = degrees(und, "a", "b")
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    withdeg = und.join(da, "a").join(db, "b")
    a_first = F.struct(F.col("deg_a"), F.col("a")) < F.struct(F.col("deg_b"), F.col("b"))
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_hi"),
    ).localCheckpoint(eager=False)  # consumed three times: both wedge sides + closing
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.lo") == F.col("y.lo")).filter(
        F.struct(F.col("x.deg_hi"), F.col("x.hi"))
        < F.struct(F.col("y.deg_hi"), F.col("y.hi"))
    )
    closing = oriented.select(
        F.col("lo").alias("c_lo"), F.col("hi").alias("c_hi")
    )
    tri = wedges.join(
        closing,
        (F.col("x.hi") == F.col("c_lo")) & (F.col("y.hi") == F.col("c_hi")),
    ).select(F.col("x.lo").alias("p"), F.col("x.hi").alias("q"), F.col("y.hi").alias("r"))
    # re-canonicalize to id order (orientation order is by (degree, id))
    srt = F.array_sort(F.array("p", "q", "r"))
    return tri.select(
        F.element_at(srt, 1).alias("x"),
        F.element_at(srt, 2).alias("y"),
        F.element_at(srt, 3).alias("z"),
    )


def _pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    teleport: Callable[[DataFrame], tuple[DataFrame, Column, int]],
    iterations: int,
    scale: int,
    damping_num: int,
    damping_den: int,
) -> DataFrame:
    """The int64 PageRank rounds of :func:`pagerank` and
    :func:`personalized_pagerank`. ``teleport(nodes)`` returns
    ``(targets, seed, n)``: the node frame the rounds join against, a
    column of it that is 1 on the ``n`` teleport targets and 0
    elsewhere, and ``n``. It runs inside this function's
    ``intermediates()`` scope, so it may ``pin``. With ``n == 0`` the
    result is empty.

    The loop-invariant frames (edges, out-degrees, node set) are pinned
    once, not re-derived per round. The pr chain is linear (each round
    reads the previous exactly once), so lineage grows additively and
    is cut only every ``_PR_CHECKPOINT_INTERVAL`` rounds, to keep the
    planner's input bounded on deep runs. The final pr (one row per
    node) is checkpointed eagerly so the scope can release the caches
    before returning: callers carry no release obligation.
    """
    mad = StorageLevel.MEMORY_AND_DISK
    with intermediates():
        e = pin(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct(),
            mad,
        )
        outdeg = pin(e.groupBy("u").agg(F.count(F.lit(1)).alias("odeg")), mad)
        nodes = pin(
            e.select(F.col("u").alias("id"))
            .union(e.select(F.col("v").alias("id")))
            .distinct(),
            mad,
        )
        targets, seed, n = teleport(nodes)
        if n == 0:
            return nodes.select("id", F.lit(0).cast("long").alias("pr"))
        base = ((damping_den - damping_num) * scale) // damping_den
        pr = targets.select("id", (seed * F.lit(scale // n)).cast("long").alias("pr"))
        for i in range(iterations):
            inbound = (
                e.join(outdeg, "u")
                .join(pr.withColumnRenamed("id", "u"), "u")
                .select(F.col("v").alias("id"), F.expr("pr div odeg").alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("s"))
            )
            pr = targets.join(inbound, "id", "left").select(
                "id",
                (
                    seed.cast("long") * F.lit(base)
                    + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
                ).alias("pr"),
            )
            if (i + 1) % _PR_CHECKPOINT_INTERVAL == 0 and (i + 1) < iterations:
                pr = pr.localCheckpoint(eager=False)
        return pr.localCheckpoint(eager=True)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """(id, pr) after ``iterations`` rounds of integer fixed-point
    PageRank over the DIRECTED edge set (symmetrize first for an
    undirected graph).

    Every quantity is exact int64 so the result is bit-identical on any
    engine and any partitioning — the reason a float PageRank can never
    be oracle-checked (double sums re-associate per partition):

        pr_0(v)    = scale div N
        contrib(u) = pr_t(u) div outdeg(u)
        pr_t+1(v)  = ((den-num)*scale) div den
                     + (num * Σ_{u→v} contrib(u)) div den

    ``div`` is integer division, so this is the standard damped
    PageRank quantized at 1/scale; mass lost to truncation (and to
    dangling nodes, which keep receiving but stop contributing) is
    deliberately NOT redistributed — redistribution needs a global
    float sum per round, exactly the non-determinism being excluded.
    It is :func:`personalized_pagerank` with every node a teleport
    target (one shared rounds body, ``_pagerank``); an empty edge set
    gives an empty result.

    Scale: each round is one join keyed on the edge source + one
    partial-aggregated groupBy on the destination — the same two
    Exchanges regardless of graph size. Overflow bound: num · Σ contrib
    ≤ num · N · scale must stay under 2^63 (N ≤ ~10^8 at the defaults;
    lower ``scale`` for bigger graphs).
    """
    return _pagerank(
        edges, src, dst, lambda nodes: (nodes, F.lit(1), nodes.count()),
        iterations, scale, damping_num, damping_den,
    )


def _peel(e: DataFrame, k: int) -> DataFrame:
    """One k-core round over symmetric ``(u, v)`` edges: drop every edge
    touching a node of degree < k."""
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    low = deg.filter(F.col("d") < k).select("u")
    return (
        e.join(low, "u", "left_anti")
        .join(low.withColumnRenamed("u", "v"), "v", "left_anti")
        .select("u", "v")
    )


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int,
    rounds: int,
) -> DataFrame:
    """``rounds`` rounds of k-core peeling over the UNDIRECTED graph of
    ``edges`` (one row per unordered edge; symmetrized internally):
    each round removes every node of degree < k and all its edges.
    Returns the surviving ``(id, degree)`` with residual degrees.

    Removal is monotone (dropping nodes only lowers degrees), so
    iterating to a fixed point yields the true k-core (Seidman 1983;
    Batagelj-Zaversnik peeling). ``rounds`` is FIXED rather than
    run-to-convergence for the same reason pagerank's iteration count
    is: a fixed unrolling is exactly replayable as SQL CTE rounds, so
    the whole iterative computation can be value-oracle-checked.
    Callers wanting the fixed point run with increasing ``rounds``
    until the survivor count stops changing (each extra round is one
    degree-agg + two anti-joins — all keyed on node id, nothing wide).

    Scale: per round, one partial-aggregated degree count and two
    hash anti-joins against a (shrinking) sub-k node set; lineage is
    cut per round with localCheckpoint exactly like
    connected_components. The classic use: prune a near-dup/co-occur
    graph to its dense cores before clustering, so CC/community
    rounds run on the structurally-interesting subgraph.
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"k and rounds must be >= 1, got k={k} rounds={rounds}")
    e = _undirected(edges, src, dst)
    for _ in range(rounds):
        e = _peel(e, k).localCheckpoint(eager=False)
    return e.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def kcore_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int,
    max_rounds: int = 30,
) -> DataFrame:
    """The true k-core: :func:`kcore` iterated until the edge set goes
    stationary (peeling is monotone, so the first round that removes
    nothing is the fixed point). Same output contract as ``kcore``;
    use ``kcore`` directly when you need the fixed-round SQL-replayable
    form. One extra count action per round is the convergence probe —
    the same detection economics as connected_components' label sum.
    """
    if k < 1 or max_rounds < 1:
        raise ValueError(f"k and max_rounds must be >= 1, got {k}, {max_rounds}")
    e = _fixpoint(
        _undirected(edges, src, dst).localCheckpoint(eager=False),
        lambda e: _peel(e, k),
        DataFrame.count,
        max_rounds,
        "kcore_converged",
    )
    return e.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def connected_components_incremental(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 30,
) -> DataFrame:
    """Maintain a components labeling as NEW edges arrive, without
    re-reading the old edge set: a previous ``(id, component)``
    labeling is itself a star forest (every node connected to its
    component root), and CC(star_edges ∪ new_edges) = CC(old_edges ∪
    new_edges) — stars preserve exactly the old connectivity. So the
    incremental step runs two-phase CC over |nodes| star edges plus
    the delta, not the full historical pair graph.

    The dedup-pipeline shape this serves: the banded MinHash index
    already yields only NEW candidate pairs per ingest batch
    (incremental_dedup); this closes the loop by folding those pairs
    into the standing cluster labeling at star-forest cost. Component
    ids stay min-reachable-id, so labels are stable across batches
    unless a merge genuinely relabels (two clusters joining keep the
    smaller root — monotone, never arbitrary).
    """
    stars = prev_labels.select(
        F.col("id").alias("a"), F.col("component").alias("b")
    ).filter(F.col("a") != F.col("b"))
    delta = new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    merged = stars.unionByName(delta)
    out = connected_components_two_phase(merged, "a", "b", max_iter=max_iter)
    # roots of singleton components vanish from the star edge set —
    # restore every previously-known node
    known = prev_labels.select("id").union(
        delta.select(F.col("a").alias("id"))
    ).union(delta.select(F.col("b").alias("id"))).distinct()
    return known.join(out, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def bfs_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Multi-source BFS over the UNDIRECTED graph of ``edges``: minimum
    hop distance from the ``seeds`` node set (single column ``id``),
    for every node within ``max_hops``. Returns ``(id, hops)`` with
    seeds at hop 0. Level-synchronous frontier expansion — the BFS
    level IS the minimum path length, so a fixed ``max_hops``
    unrolling is exactly replayable as a bounded recursive SQL CTE
    (same oracle stance as the unrolled pagerank / kcore rounds).

    Scale: per hop, one frontier⋈edges hash join keyed on node id and
    one anti-join against the visited set — never the whole graph
    times itself; the frontier is the working set, lineage cut per
    round with localCheckpoint. Visited stays partitioned by id so the
    anti-join co-locates. The classic use here: neighborhood expansion
    around known-bad documents in a near-dup graph (contamination
    blast radius) or co-purchase recommendation radius.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("id")
    for h in range(1, max_hops + 1):
        nxt = (
            _hop(frontier, e, visited, "id")
            .withColumn("hops", F.lit(h).cast("bigint"))
            .localCheckpoint(eager=False)
        )
        visited = visited.union(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("id")
    return visited


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al.) over the
    UNDIRECTED graph, ``rounds`` fixed: labels start as node ids; each
    round every node adopts its neighbors' most frequent label with
    the deterministic tie-break (max count, then MIN label) — the
    async/random variant converges faster but is unreproducible, and
    reproducibility is the contract here (fixed unrolling ⇒ the whole
    community detection value-oracles as SQL CTE rounds, the
    pagerank/kcore stance). Returns (id, label).

    Scale: per round one edge⋈labels hash join + one (node, label)
    count agg + one per-node argmax — all keyed on node id, lineage
    cut per round. Isolated nodes don't appear in ``edges`` and keep
    their own label by construction. Communities from label prop feed
    q_modularity the way CC components feed dedup.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    labels = (
        e.select(F.col("u").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        neigh = (
            e.join(labels, e["v"] == labels["id"])
            .select(F.col("u").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("id").orderBy(
            F.desc("cnt"), F.asc("label")
        )
        labels = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "label")
            .localCheckpoint(eager=False)
        )
    return labels


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int,
) -> DataFrame:
    """Kleinberg HITS over the directed/bipartite edge set, ``rounds``
    fixed, exact int64 fixed-point: hubs start at 1e6; each round
    authority(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v} authority(v),
    each half-step max-norm-rescaled by the integer divisor
    ``max|score| div 1e6 + 1`` (the power-iteration rescale — scores
    stay ~±1e6, sums stay inside int64 for degree·1e6 < 2^63). No
    driver-side state beyond nothing at all: the rescale divisor is
    computed IN-PLAN via a 1-row cross join, so the unrolled SQL
    oracle replays the whole computation. Returns
    (id, authority, hub) for destination/source nodes respectively —
    dst nodes carry authority, src nodes carry hub; in a bipartite
    graph those are disjoint id spaces, in a general digraph join
    them on id. All scores non-negative ⇒ plain integer division
    (no sign decomposition needed, asserted by construction).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).distinct().localCheckpoint(eager=False)
    hub = (
        e.select(F.col("u").alias("id")).distinct()
        .withColumn("h", F.lit(1_000_000).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    auth = None
    for _ in range(rounds):
        raw_a = (
            e.join(hub, e["u"] == hub["id"])
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("h").alias("ra"))
        )
        da = raw_a.agg(
            (F.expr("max(ra) div 1000000") + 1).alias("d")
        )
        auth = (
            raw_a.crossJoin(F.broadcast(da))
            .select("id", F.expr("ra div d").alias("a"))
            .localCheckpoint(eager=False)
        )
        raw_h = (
            e.join(auth, e["v"] == auth["id"])
            .groupBy(F.col("u").alias("id"))
            .agg(F.sum("a").alias("rh"))
        )
        dh = raw_h.agg(
            (F.expr("max(rh) div 1000000") + 1).alias("d")
        )
        hub = (
            raw_h.crossJoin(F.broadcast(dh))
            .select("id", F.expr("rh div d").alias("h"))
            .localCheckpoint(eager=False)
        )
    return auth.join(hub, "id", "full").select(
        "id",
        F.coalesce("a", F.lit(0)).cast("bigint").alias("authority"),
        F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
    )


def personalized_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seeds: DataFrame,
    iterations: int = 3,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Topic-sensitive PageRank (Haveliwala): identical int64
    fixed-point iteration to :func:`pagerank`, except the teleport
    mass lands ONLY on the ``seeds`` node set (single-column
    DataFrame) — rank becomes proximity-to-the-seeds, the
    related-items / blast-radius score a uniform teleport can't give.
    Initial mass ``scale div n_seeds`` on seeds, 0 elsewhere; per
    round pr(v) = [v ∈ seeds]·base + (num·Σ contrib) div den. Exact
    integers throughout ⇒ unrolled-CTE oracle, same overflow bound as
    pagerank. Seeds usually fit a broadcast; the iteration shuffles
    are the same two node-keyed Exchanges per round.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")

    def seeded(nodes: DataFrame) -> tuple[DataFrame, Column, int]:
        mad = StorageLevel.MEMORY_AND_DISK
        sd = pin(
            seeds.select(F.col(seeds.columns[0]).alias("id"))
            .distinct()
            .join(nodes, "id", "semi")
            .withColumn("__seed", F.lit(1)),
            mad,
        )
        n_seeds = sd.count()
        if n_seeds == 0:
            raise ValueError("seeds contain no graph nodes")
        flagged = pin(
            nodes.join(F.broadcast(sd), "id", "left").select(
                "id", F.coalesce("__seed", F.lit(0)).alias("__seed")
            ),
            mad,
        )
        return flagged, F.col("__seed"), n_seeds

    return _pagerank(
        edges, src, dst, seeded, iterations, scale, damping_num, damping_den
    )


def neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_hops: int,
) -> DataFrame:
    """Exact neighborhood function N(d) of the UNDIRECTED graph of
    ``edges``: for each d in 0..max_hops, the number of ordered
    (source, node) pairs with shortest-path distance <= d (every node
    reaches itself at d=0). N(d)'s growth curve is the standard
    "effective diameter" diagnostic (Palmer et al., ANF, KDD 2002) —
    for a near-dup graph it answers "how fast does contamination
    spread", for a co-purchase graph "how many items are within d
    recommendation hops".

    Exact algorithm: all-sources level-synchronous BFS keyed by the
    (source, node) pair — per hop one frontier⋈edges join and one
    anti-join against the visited pair set, the bfs_hops shape lifted
    from one seed set to every node. Exact is O(sum of ball sizes):
    right up to mid-size graphs, and the certifiable reference for the
    sketch path. At the 100 TB graph tier you switch to
    :func:`hyperball` below — identical loop, per-node HLL registers
    instead of the exact pair set — and this function is what its
    accuracy is measured against (the approx/exact sibling pattern of
    q_sliding_users / q_sliding_users_exact).

    Returns ``(hops, pairs_cum)``, one row per d in 0..max_hops.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    nodes = e.select(F.col("u").alias("id")).distinct()
    visited = (
        nodes.select(F.col("id").alias("s"), F.col("id").alias("n"))
        .withColumn("hop", F.lit(0).cast("int"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("s", "n")
    for h in range(1, max_hops + 1):
        nxt = (
            _hop(frontier, e, visited, "n")
            .withColumn("hop", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        visited = visited.union(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("s", "n")
    per_hop = visited.groupBy("hop").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("hop").rowsBetween(Window.unboundedPreceding, 0)
    return per_hop.select(
        F.col("hop").cast("bigint").alias("hops"),
        F.sum("cnt").over(w).cast("bigint").alias("pairs_cum"),
    )


def hyperball(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_hops: int,
    log2m: int = 6,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", 2013): the neighborhood function
    N(d) estimated with one HyperLogLog counter per node instead of
    the exact per-source reachable set — the planet-scale path where
    :func:`neighborhood_function`'s O(sum of ball sizes) state is
    unpayable. Per iteration each node's counter becomes the
    register-wise max of its own and its neighbors' counters, so after
    d rounds node v's counter estimates |ball(v, d)|; summing the
    per-node estimates gives N(d).

    DataFrame shape: registers stay SPARSE and EXPLODED as
    (node, pos, val) rows — absent positions are zero, exactly like an
    untouched HLL register. One round = one edges⋈state join (neighbor
    registers flow along edges) + one (node, pos) max-agg: two keyed
    shuffles over O(|V| * min(ball, m)) rows, state size bounded by
    m=2^log2m per node FOREVER, no matter how big the balls get —
    that bound is the whole trick. Register content is md5-derived
    (bucket and rank hashes per node), so the estimate is
    deterministic on any engine/partitioning — pinned against the
    exact sibling in tests rather than pretending a sketch has an
    ANSI-SQL oracle.

    Returns ``(hops, est_pairs)`` for d in 0..max_hops, est_pairs
    the (double) HLL estimate of N(d) with the standard small-range
    linear-counting correction.
    """
    m = 1 << log2m
    # alpha_m per Flajolet et al. 2007
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    allhops = hyperball_registers(
        edges, src, dst, max_hops=max_hops, log2m=log2m
    )

    # Per (hop, node): E = alpha*m^2 / (sum_present 2^-val + (m - n_present));
    # linear counting when E <= 2.5m and empty registers remain.
    per_node = allhops.groupBy("hop", "node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("val"))).alias("inv_sum"),
        F.count(F.lit(1)).alias("n_present"),
    )
    raw = F.lit(alpha * m * m) / (
        F.col("inv_sum") + (F.lit(m) - F.col("n_present"))
    )
    zeros = F.lit(m) - F.col("n_present")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return (
        per_node.select("hop", est.alias("est"))
        .groupBy("hop")
        .agg(F.sum("est").alias("est_pairs"))
        .select(F.col("hop").cast("bigint").alias("hops"), "est_pairs")
    )


def hyperball_registers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_hops: int,
    log2m: int = 6,
) -> DataFrame:
    """The exact (hop, node, pos, val) register table behind
    :func:`hyperball` — factored out so the sketch's distributed state
    pipeline (md5 register init + register-wise-max propagation along
    edges) is certifiable on its own: every value here is a
    DETERMINISTIC integer (the engine-portable md5 idiom), so unlike
    the float HLL estimate the register table replays exactly in
    ANSI SQL (after d rounds node v's register at pos is the max init
    val over ball(v, d) members hashing to pos — propagation of
    single-register initial states commutes into a ball-membership
    max).  q_hyperball_replay puts that equality under the driver's
    value-hash gate.

    Same shape contract as hyperball: one edges⋈state join + one
    (node, pos) max-agg per round, state bounded at m registers per
    node, lineage cut per round.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if not (4 <= log2m <= 12):
        raise ValueError(f"log2m must be in [4, 12], got {log2m}")
    m = 1 << log2m

    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    nodes = e.select(F.col("u").alias("id")).distinct()

    def _coord(col, salt: str):
        key = F.concat(col.cast("string"), F.lit(salt))
        return F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("bigint")

    # Each node inserts ITSELF into its own (initially empty) counter:
    # one present register. rank = leading zeros within 48 bits + 1,
    # computed exactly via the binary-string length (no float log).
    rank_hash = _coord(F.col("id"), "|hb_rank")
    state = nodes.select(
        F.col("id").alias("node"),
        (_coord(F.col("id"), "|hb_bucket") % m).cast("int").alias("pos"),
        F.when(rank_hash == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.conv(rank_hash, 10, 2)))
        .cast("int")
        .alias("val"),
    ).localCheckpoint(eager=False)

    snapshots = [state.withColumn("hop", F.lit(0).cast("int"))]
    for h in range(1, max_hops + 1):
        flowed = (
            e.join(state, state["node"] == e["u"])
            .select(F.col("v").alias("node"), "pos", "val")
        )
        state = (
            state.union(flowed)
            .groupBy("node", "pos")
            .agg(F.max("val").alias("val"))
            .localCheckpoint(eager=False)
        )
        snapshots.append(state.withColumn("hop", F.lit(h).cast("int")))
    allhops = snapshots[0]
    for s in snapshots[1:]:
        allhops = allhops.union(s)
    return allhops


def cheapest_paths(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
    *,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Bounded-hop cheapest paths (relational Bellman–Ford): minimum
    total edge cost from the ``seeds`` set to every node reachable
    within ``max_hops`` over the UNDIRECTED weighted graph — bfs_hops
    generalized from hop counts to integer edge costs (cheapest ≠
    fewest hops when weights vary: a 2-hop strong-tie route can beat a
    1-hop weak tie). Integer costs by contract, so min() is exact and
    the fixed unrolling replays as a bounded recursive CTE enumerating
    cost-accumulating walks (the oracle's path count is degree^hops
    per seed — fine at certification SF; the ENGINE side never
    enumerates paths).

    Per round: one frontier⋈edges relax join + one node-keyed min-agg
    over (previous dist ∪ relaxed) — Bellman–Ford's relaxation as a
    groupBy, the textbook BSP shape (Pregel/GraphX do exactly this);
    state is one row per reached node. Lineage cut per round.

    Returns ``(id, min_cost)``; seeds at cost 0.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = _undirected(
        edges, src, dst, F.col(cost).cast("bigint").alias("w")
    ).localCheckpoint(eager=False)
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .withColumn("min_cost", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_hops):
        relaxed = (
            dist.join(e, dist["id"] == e["u"])
            .select(
                F.col("v").alias("id"),
                (F.col("min_cost") + F.col("w")).alias("min_cost"),
            )
        )
        dist = (
            dist.union(relaxed)
            .groupBy("id")
            .agg(F.min("min_cost").alias("min_cost"))
            .localCheckpoint(eager=False)
        )
    return dist


def ktruss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int,
    rounds: int,
) -> DataFrame:
    """``rounds`` rounds of k-truss peeling: each round counts every
    edge's triangle support (number of triangles containing it) over
    the CURRENT edge set and removes edges with support < k-2. Returns
    the surviving canonical edges ``(src, dst, support)`` with the
    support computed in the final round.

    The EDGE analog of :func:`kcore` (Cohen 2008): k-core keeps nodes
    with enough neighbors, k-truss keeps edges with enough mutual
    neighbors — a strictly stronger cohesion notion (every k-truss is a
    subgraph of the (k-1)-core) that kills the bridges and stars k-core
    keeps, which is what you want when pruning a co-occurrence graph to
    genuinely cohesive communities rather than merely busy hubs.
    ``rounds`` is FIXED rather than run-to-convergence for the same
    reason kcore's is: a fixed unrolling replays exactly as SQL CTE
    rounds, so the whole iterative computation value-oracles; peeling
    is monotone, so survivors only shrink and callers reach the fixed
    point by raising ``rounds`` until the edge count stops moving.

    Scale: per round, one degree-oriented triangle enumeration (the
    Suri-Vassilvitskii orientation in :func:`triangles` — work is
    sum of outdeg^2 with outdeg O(sqrt(m)) after orientation, never a
    hub^2 blowup), one explode-to-3-roles aggregate keyed on the edge,
    and one edge-keyed left join + filter; lineage cut per round.
    """
    if k < 3 or rounds < 1:
        raise ValueError(f"need k >= 3 and rounds >= 1, got k={k} rounds={rounds}")
    e = _canonical(edges, src, dst).localCheckpoint(eager=False)
    for _ in range(rounds):
        tri = triangles(e, "a", "b")
        roles = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        )
        sup = roles.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("bigint").alias("_kt_sup")
        )
        e = (
            e.select("a", "b")
            .join(sup, ["a", "b"], "left")
            .select(
                "a",
                "b",
                F.coalesce(F.col("_kt_sup"), F.lit(0).cast("bigint")).alias(
                    "support"
                ),
            )
            .filter(F.col("support") >= k - 2)
            .localCheckpoint(eager=False)
        )
    return e.select(
        F.col("a").alias(src), F.col("b").alias(dst), "support"
    )


def luby_mis(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int,
    salt: str = "mis",
) -> DataFrame:
    """``rounds`` rounds of Luby's maximal-independent-set algorithm
    (Luby 1986) with DETERMINISTIC md5 priorities: per round, every
    still-undecided node whose (priority, id) is a strict local
    minimum among its undecided neighbors joins the set; it and its
    neighbors leave the graph.  Nodes isolated in the induced graph
    join immediately.  Returns ``(node, round)`` for every selected
    node.

    The local-minimum test is written as an ANTI-JOIN against the
    "has a better neighbor" edge list rather than a min-aggregate of
    (priority, id) structs, so ties (md5 collisions) break by node id
    with no struct-ordering dependence and the SQL replay is a plain
    NOT-IN per round.  Luby's theorem removes a constant fraction of
    EDGES per round in expectation, so O(log m) rounds finish whp;
    ``rounds`` is FIXED (the kcore/ktruss stance) so the whole run
    value-oracles as unrolled CTEs — callers raise it until the
    undecided set empties.

    Scale: per round two broadcast-free hash joins on the node key
    (edges semi-joined to the live set, losers anti-joined out) and
    one distinct over winner neighborhoods; no global sort, no
    row_number — priorities are row-local hashes, so the round is
    embarrassingly key-partitioned.  Lineage cut per round.
    """
    if rounds < 1:
        raise ValueError(f"need rounds >= 1, got {rounds}")
    prio = lambda c: F.expr(  # noqa: E731
        f"cast(conv(substring(md5(cast({c} as string) || '{salt}'), 1, 12),"
        " 16, 10) as bigint)"
    )
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    live = (
        e.select(F.col("a").alias("node"))
        .union(e.select("b"))
        .distinct()
        .withColumn("p", prio("node"))
        .localCheckpoint(eager=False)
    )
    out = None
    for r in range(1, rounds + 1):
        # both directions of the live induced edge set, with priorities
        ep = e.join(
            live.select(F.col("node").alias("a"), F.col("p").alias("pa")), "a"
        ).join(live.select(F.col("node").alias("b"), F.col("p").alias("pb")), "b")
        nb = ep.select(
            F.col("a").alias("v"), F.col("pa").alias("pv"),
            F.col("b").alias("u"), F.col("pb").alias("pu"),
        ).union(
            ep.select(
                F.col("b").alias("v"), F.col("pb").alias("pv"),
                F.col("a").alias("u"), F.col("pa").alias("pu"),
            )
        )
        losers = (
            nb.filter(
                (F.col("pu") < F.col("pv"))
                | ((F.col("pu") == F.col("pv")) & (F.col("u") < F.col("v")))
            )
            .select(F.col("v").alias("node"))
            .distinct()
        )
        winners = (
            live.select("node").join(losers, "node", "left_anti").localCheckpoint(eager=False)
        )
        sel = winners.select("node", F.lit(r).cast("int").alias("round"))
        out = sel if out is None else out.union(sel)
        if r == rounds:
            break
        touched = (
            winners.union(
                nb.join(
                    winners.withColumnRenamed("node", "u").select("u"), "u"
                ).select(F.col("v").alias("node"))
            )
            .distinct()
        )
        live = live.join(touched, "node", "left_anti").localCheckpoint(eager=False)
        e = (
            e.join(live.select(F.col("node").alias("a")), "a", "left_semi")
            .join(live.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
    return out


def greedy_matching(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int,
    salt: str = "match",
) -> DataFrame:
    """``rounds`` rounds of deterministic parallel maximal matching —
    the EDGE sibling of :func:`luby_mis` (Israeli-Itai 1986 by way of
    Luby's symmetry breaking): per round, every live edge whose
    (md5-priority, a, b) is a strict minimum among edges sharing
    either endpoint joins the matching; matched endpoints (and every
    edge touching them) leave.  Returns ``(a, b, round)`` for each
    matched edge.  The matched endpoints of a maximal matching are a
    2-approximate minimum vertex cover — the classic distributed
    cover construction.

    Same anti-join formulation as luby_mis (a live edge survives iff
    it has NO better neighbor — no struct-min aggregate, ties broken
    by the canonical (a, b)), so the SQL replay is a NOT-IN per
    round; a constant fraction of edges resolves per round whp, so
    O(log m) rounds finish — ``rounds`` is FIXED for CTE oracling,
    raised by callers until the live set empties.

    Scale: per round one endpoint-explode (2 rows/edge), one
    endpoint-keyed self-join for the better-neighbor test (bounded by
    the same degree structure as the input graph), two anti-joins; no
    global sort, no driver state.
    """
    if rounds < 1:
        raise ValueError(f"need rounds >= 1, got {rounds}")
    e = (
        _canonical(edges, src, dst)
        .withColumn(
            "p",
            F.expr(
                "cast(conv(substring(md5(cast(a as string) || '_' ||"
                f" cast(b as string) || '{salt}'), 1, 12), 16, 10) as bigint)"
            ),
        )
        .localCheckpoint(eager=False)
    )
    out = None
    for r in range(1, rounds + 1):
        ends = e.select(F.col("a").alias("v"), "a", "b", "p").union(
            e.select(F.col("b").alias("v"), "a", "b", "p")
        )
        o = ends.select(
            F.col("v"),
            F.col("a").alias("oa"),
            F.col("b").alias("ob"),
            F.col("p").alias("op"),
        )
        losers = (
            ends.join(o, "v")
            .filter(
                ((F.col("oa") != F.col("a")) | (F.col("ob") != F.col("b")))
                & (
                    (F.col("op") < F.col("p"))
                    | ((F.col("op") == F.col("p")) & (F.col("oa") < F.col("a")))
                    | (
                        (F.col("op") == F.col("p"))
                        & (F.col("oa") == F.col("a"))
                        & (F.col("ob") < F.col("b"))
                    )
                )
            )
            .select("a", "b")
            .distinct()
        )
        winners = e.join(losers, ["a", "b"], "left_anti").localCheckpoint(eager=False)
        sel = winners.select("a", "b", F.lit(r).cast("int").alias("round"))
        out = sel if out is None else out.union(sel)
        if r == rounds:
            break
        touched = (
            winners.select(F.col("a").alias("v"))
            .union(winners.select("b"))
            .distinct()
        )
        e = (
            e.join(touched.select(F.col("v").alias("a")), "a", "left_anti")
            .join(touched.select(F.col("v").alias("b")), "b", "left_anti")
            .localCheckpoint(eager=False)
        )
    return out


def betweenness_probe(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seeds: DataFrame,
    max_hops: int = 3,
    scale: int = 10**9,
) -> DataFrame:
    """Hop-bounded Brandes betweenness from a probe seed set (Brandes
    2001, truncated at ``max_hops``): forward level-synchronous BFS
    accumulating shortest-path COUNTS σ per level, then the reverse
    dependency pass δ(v) = Σ_{w ∈ succ(v)} σ_v·(scale + δ(w)) div σ_w
    — each term an exact truncating integer division (σ_v ≤ σ_w for a
    predecessor, so the quotient is ≤ scale + δ(w): ratio-shape per
    SCALE.md §8, no silent wrap), summed order-independently.  The
    bounded-hop truncation is the standard approximation for
    probe-source betweenness on large graphs (exact within the
    ``max_hops`` ball).

    Returns (id, delta_q) for every non-seed node reached — δ quantized
    by ``scale``; callers layer multiple sources (node·8+s) and sum.

    Int64 bound: δ ≤ (ball successor count)·scale compounded per hop
    (≤ deg^(max_hops−1)·scale) — safe to ~9e9 weighted successors;
    lower ``scale`` beyond.

    Scale: per hop one frontier⋈edges join + one anti-join (bfs_hops
    physics) forward, one level⋈edges⋈next-level join backward; the
    frontier is the working set, lineage cut per round.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    lvl0 = (
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .withColumn("sigma", F.lit(1).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    levels = [lvl0]
    settled = lvl0.select("id")
    for _h in range(1, max_hops + 1):
        nxt = (
            levels[-1]
            .join(e, levels[-1]["id"] == e["u"])
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(settled, "id", "left_anti")
            .localCheckpoint(eager=False)
        )
        levels.append(nxt)
        settled = settled.union(nxt.select("id")).localCheckpoint(eager=False)
    # reverse dependency pass
    delta = levels[max_hops].select(
        "id", F.lit(0).cast("bigint").alias("delta")
    )
    out = [delta]
    for h in range(max_hops - 1, 0, -1):
        succ = (
            levels[h]
            .join(e, levels[h]["id"] == e["u"])
            .select(
                levels[h]["id"].alias("vid"),
                F.col("sigma").alias("sigma_v"),
                F.col("v").alias("wid"),
            )
            .join(
                levels[h + 1]
                .withColumnRenamed("sigma", "sigma_w")
                .join(delta, "id")
                .withColumnRenamed("id", "wid2"),
                F.col("wid") == F.col("wid2"),
            )
            .select(
                "vid",
                F.expr(
                    f"sigma_v * ({scale}L + delta) div sigma_w"
                ).alias("term"),
            )
        )
        delta = (
            levels[h]
            .join(
                succ.groupBy(F.col("vid").alias("id")).agg(
                    F.sum("term").cast("bigint").alias("d")
                ),
                "id",
                "left",
            )
            .select("id", F.coalesce("d", F.lit(0)).cast("bigint").alias("delta"))
            .localCheckpoint(eager=False)
        )
        out.append(delta)
    full = out[0]
    for d in out[1:]:
        full = full.unionByName(d)
    return full.select("id", F.col("delta").alias("delta_q"))
