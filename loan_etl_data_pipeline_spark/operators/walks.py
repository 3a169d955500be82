"""Deterministic random-walk corpus generation (DeepWalk / node2vec).

Graph-embedding training data is *walks*: sequences of node ids sampled
by walking the graph, fed to a skip-gram model exactly like token
windows over text (Perozzi et al., "DeepWalk: Online Learning of Social
Representations", KDD 2014; Grover & Leskovec, "node2vec", KDD 2016).
At corpus scale the walk generator IS the pipeline — billions of short
walks over a trillion-edge graph — so it has to be a keyed-join loop,
not a driver-side traversal.

Determinism contract: the step-``t`` transition out of ``node`` on walk
``walk_id`` picks neighbor index

    md5_coord48(walk_id || '|' || t || '|' || node) % outdeg(node)

where neighbors are ranked by ascending id. md5 is bit-identical in
every engine (the house primitive — functions/splits.py), so the same
walk corpus is reproducible on any engine, any partitioning, any retry
— and exactly replayable as a bounded recursive SQL CTE, which is what
makes the walks fully value-oracle-able (no RNG, no seed drift).

Scale shape (per step): one join against the degree table (node →
outdeg; |V| rows, broadcast- or bucket-joinable) and one equi-join
against the indexed adjacency (u, idx) → v. Adjacency and degree are
loop invariants — persist once, or store bucketed by ``u`` so every
step's probe is exchange-free on the big side. The walk state is one
row per live walk (walks never branch), so the working set stays
O(#walks) regardless of graph size; lineage is cut per step with
localCheckpoint, the same discipline as operators/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.operators.graph import _undirected


def _hash_pick(walk_id, step, node):
    """First 48 md5 bits of 'walk_id|step|node' as bigint — the
    transition coordinate (same formula the SQL oracle inlines)."""
    key = F.concat(
        walk_id.cast("string"), F.lit("|"), step.cast("string"), F.lit("|"),
        node.cast("string"),
    )
    return F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("bigint")


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seeds: DataFrame,
    walk_len: int,
) -> DataFrame:
    """``walk_len``-step deterministic uniform random walks over the
    UNDIRECTED graph of ``edges``, one walk per row of ``seeds``
    (single column, the start node == the walk id). Returns
    ``(walk_id, step, node)`` with step 0 = the seed itself — the
    skip-gram-ready corpus layout.

    A walk at a node with no neighbors ends (cannot happen for seeds
    drawn from the edge list of a symmetrized graph, but the join is
    inner so an isolated seed just stops at step 0).
    """
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    sym = _undirected(edges, src, dst)
    # Neighbor ranking by ascending id: the index the hash picks into.
    adj = sym.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("u").orderBy("v")) - F.lit(1),
    ).localCheckpoint(eager=False)
    deg = adj.groupBy("u").agg(F.max("idx").alias("maxidx")).select(
        "u", (F.col("maxidx") + 1).cast("bigint").alias("outdeg")
    ).localCheckpoint(eager=False)

    state = (
        seeds.select(F.col(seeds.columns[0]).cast("bigint").alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.lit(0).cast("int").alias("step"),
            F.col("walk_id").alias("node"),
        )
        .localCheckpoint(eager=False)
    )
    out = state
    for t in range(walk_len):
        # chosen index depends on outdeg(node): deg join first (small,
        # broadcastable), then one equi-join into the indexed adjacency.
        nxt = (
            state.join(deg, state["node"] == deg["u"])
            .withColumn(
                "chosen",
                _hash_pick(F.col("walk_id"), F.col("step"), F.col("node"))
                % F.col("outdeg"),
            )
            .select("walk_id", "node", "chosen")
            .join(
                adj,
                (F.col("node") == adj["u"]) & (F.col("chosen") == adj["idx"]),
            )
            .select(
                "walk_id",
                F.lit(t + 1).cast("int").alias("step"),
                F.col("v").alias("node"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.union(nxt)
        state = nxt
    return out


def walk_skipgrams(walks: DataFrame, *, window: int) -> DataFrame:
    """Skip-gram (center, context) pairs from a walk corpus: all node
    pairs on the same walk within ``window`` steps of each other
    (both directions, excluding distance 0) — the exact training-pair
    layout DeepWalk feeds word2vec. One self-join keyed on walk_id;
    walks are short (walk_len+1 rows), so the per-key blowup is the
    constant (2·window)·len, never quadratic in the corpus.

    Returns ``(center, context, n_pairs)`` aggregated — the multiset
    counts ARE the co-occurrence statistics a downstream SGNS/GloVe
    fit consumes, and aggregating here collapses the corpus to the
    vocab-pair scale before it leaves the cluster.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    a = walks.select(
        F.col("walk_id").alias("wid"),
        F.col("step").alias("sa"),
        F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("walk_id").alias("wid"),
        F.col("step").alias("sb"),
        F.col("node").alias("context"),
    )
    return (
        a.join(b, "wid")
        .filter(
            (F.col("sa") != F.col("sb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def node2vec_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seeds: DataFrame,
    walk_len: int,
    w_return: int = 1,
    w_triangle: int = 2,
    w_forward: int = 4,
) -> DataFrame:
    """node2vec 2nd-order biased walks (Grover & Leskovec, KDD 2016):
    the transition out of ``cur`` given the previous node weighs each
    candidate by its distance to ``prev`` — ``w_return`` for going
    back (d=0, node2vec's 1/p), ``w_triangle`` for prev's neighbors
    (d=1), ``w_forward`` for everything else (d=2, 1/q). INTEGER
    weights by contract: the pick is cumulative-weight inversion of a
    48-bit md5 coordinate modulo the exact integer total, so the
    biased choice is deterministic and engine-portable — node2vec's
    alias-table sampling replaced by exact integer arithmetic that a
    SQL oracle replays verbatim (defaults w=1/2/4 ≙ p=4, q=0.5: a
    DFS-leaning explorer).

    Step 1 has no real prev; ``prev`` starts as the seed itself, and
    since self-candidates can't exist and every candidate is then a
    neighbor of prev==cur, step 1 degrades to the uniform w_triangle
    case — the standard convention.

    Per step: one keyed probe into the indexed adjacency, one
    (prev, cand) edge-set lookup join (bucketed edges make both
    exchange-free), one walk_id-partitioned window pair (cum/total) —
    per-key width bounded by max degree. Output (walk_id, step, node),
    the same skip-gram-ready layout as :func:`random_walks`.
    """
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    for w in (w_return, w_triangle, w_forward):
        if not isinstance(w, int) or w < 1:
            raise ValueError(f"weights must be positive ints, got {w}")
    sym = _undirected(edges, src, dst).localCheckpoint(eager=False)
    state = (
        seeds.select(F.col(seeds.columns[0]).cast("bigint").alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.col("walk_id").alias("prev"),
            F.col("walk_id").alias("cur"),
        )
        .localCheckpoint(eager=False)
    )
    out = state.select(
        "walk_id", F.lit(0).cast("int").alias("step"),
        F.col("cur").alias("node"),
    )
    tri = sym.select(F.col("u").alias("tprev"), F.col("v").alias("tcand"))
    for t in range(walk_len):
        cands = (
            state.join(sym, state["cur"] == sym["u"])
            .select("walk_id", "prev", "cur", F.col("v").alias("cand"))
            .join(
                tri,
                (F.col("prev") == F.col("tprev"))
                & (F.col("cand") == F.col("tcand")),
                "left",
            )
            .select(
                "walk_id", "prev", "cur", "cand",
                F.when(F.col("cand") == F.col("prev"), F.lit(w_return))
                .when(F.col("tprev").isNotNull(), F.lit(w_triangle))
                .otherwise(F.lit(w_forward))
                .cast("bigint")
                .alias("w"),
            )
        )
        wspec = Window.partitionBy("walk_id")
        worder = wspec.orderBy("cand").rowsBetween(
            Window.unboundedPreceding, 0
        )
        coord = _hash_pick(F.col("walk_id"), F.lit(t), F.col("cur")) % F.sum(
            "w"
        ).over(wspec)
        picked = (
            cands.withColumn("cum", F.sum("w").over(worder))
            .withColumn("coord", coord)
            .filter(
                (F.col("cum") - F.col("w") <= F.col("coord"))
                & (F.col("coord") < F.col("cum"))
            )
            .select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("cand").alias("cur"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.union(
            picked.select(
                "walk_id", F.lit(t + 1).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
        state = picked
    return out
