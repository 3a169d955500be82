"""Connected components (operators/graph.py): known graphs, convergence.

Cross-engine check is q_dup_components vs a DuckDB recursive CTE
(tests/test_oracle_parity.py)."""

from __future__ import annotations

import pytest

from loan_etl_data_pipeline_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


def test_two_components_and_chain(spark):
    # component {1,2,3,4} via a chain + one triangle {10,11,12}
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_long_path_converges(spark):
    n = 12  # diameter 11 — needs several propagation rounds
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0}


_ROUND_CAPS = {
    "boruvka_msf": {"src": "src", "dst": "dst", "max_rounds": 1},
    "connected_components": {"max_iter": 2},
    "connected_components_two_phase": {"max_iter": 1},
    "kcore_converged": {"k": 2, "max_rounds": 2},
}


@pytest.mark.parametrize("op", sorted(_ROUND_CAPS))
def test_non_convergence_raises(spark, op):
    """Every loop with a round cap raises once the cap is hit on a long
    path (diameter 11; k=2 peels one leaf per end per round; Borůvka
    needs a last round to see no cross-component edge)."""
    from loan_etl_data_pipeline_spark.operators import graph

    df = spark.createDataFrame(
        [(i, i + 1, i) for i in range(12)], "src long, dst long, w long"
    )
    with pytest.raises(RuntimeError, match=f"{op} did not converge"):
        getattr(graph, op)(df, **_ROUND_CAPS[op]).collect()


def test_self_loop_and_duplicate_edges(spark):
    got = _cc(spark, [(5, 5), (5, 6), (6, 5), (5, 6)])
    assert got == {5: 5, 6: 5}


def _cc2(spark, edges, **kw):
    from loan_etl_data_pipeline_spark.operators.graph import (
        connected_components_two_phase,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["id"]: r["component"]
        for r in connected_components_two_phase(df, **kw).collect()
    }


class TestTwoPhase:
    FIXTURES = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        [(5, 5), (5, 6), (6, 5), (5, 6)],
        [(i, i + 1) for i in range(12)],
        # two chains meeting at a high-id hub + an isolated triangle
        [(100, 1), (100, 2), (1, 50), (2, 60), (7, 8), (8, 9), (7, 9)],
    ]

    @pytest.mark.parametrize("edges", FIXTURES)
    def test_equivalent_to_label_propagation(self, spark, edges):
        assert _cc2(spark, edges) == _cc(spark, edges)

    def test_each_node_labeled_once(self, spark):
        """Fixed point must be a clean star forest: exactly one label
        row per node (a non-star artifact would duplicate ids through
        the final left join)."""
        from loan_etl_data_pipeline_spark.operators.graph import (
            connected_components_two_phase,
        )

        edges = [(i, i + 1) for i in range(40)] + [(100, 3), (101, 100)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = connected_components_two_phase(df).collect()
        ids = [r["id"] for r in out]
        assert len(ids) == len(set(ids)) == 43
        assert {r["component"] for r in out} == {0}

    def test_diameter_independent_round_count(self, spark):
        """A 64-node path (diameter 63) must converge within a handful
        of alternation rounds — the property that makes this the scale
        variant. Propagation would need 63 rounds; cap at 8."""
        edges = [(i, i + 1) for i in range(64)]
        got = _cc2(spark, edges, max_iter=8)
        assert set(got.values()) == {0} and len(got) == 65


class TestTriangles:
    def _tri_set(self, spark, edge_list):
        from loan_etl_data_pipeline_spark.operators.graph import triangles

        df = spark.createDataFrame(edge_list, ["src", "dst"])
        return {tuple(r) for r in triangles(df).collect()}

    def test_k4_has_four_triangles(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        got = self._tri_set(spark, k4)
        assert got == {(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)}

    def test_path_has_none(self, spark):
        assert self._tri_set(spark, [(1, 2), (2, 3), (3, 4)]) == set()

    def test_shared_edge(self, spark):
        # two triangles glued on edge (1,2)
        got = self._tri_set(spark, [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)])
        assert got == {(1, 2, 3), (1, 2, 4)}

    def test_duplicate_reversed_and_self_edges_ignored(self, spark):
        got = self._tri_set(
            spark, [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)]
        )
        assert got == {(1, 2, 3)}

    def test_matches_bruteforce_on_random_graph(self, spark):
        import itertools
        import random

        rng = random.Random(7)
        nodes = list(range(40))
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
                )
                if a != b
            }
        )
        es = set(edges)
        expect = {
            (x, y, z)
            for x, y, z in itertools.combinations(sorted(nodes), 3)
            if (x, y) in es and (y, z) in es and (x, z) in es
        }
        assert self._tri_set(spark, edges) == expect

    def test_degrees(self, spark):
        from loan_etl_data_pipeline_spark.operators.graph import degrees

        df = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (1, 3), (4, 4)], ["src", "dst"]
        )
        got = {(r.node, r.degree) for r in degrees(df).collect()}
        assert got == {(1, 2), (2, 2), (3, 2)}


def test_kcore_peels_to_known_core(spark):
    """Triangle+tail graph: the 2-core is exactly the triangle (the
    tail node peels in round 1, which may drop its neighbor below k in
    round 2 — the cascade fixed rounds must capture)."""
    from loan_etl_data_pipeline_spark.operators.graph import kcore

    # triangle 1-2-3, chain 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        r["id"]: r["degree"]
        for r in kcore(edges, k=2, rounds=3).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}  # 5 peels r1, 4 cascades r2


def test_kcore_fixed_rounds_match_partial_peel(spark):
    """rounds=1 stops mid-cascade by design (the oracle-replayable
    contract): after one round only the leaf is gone."""
    from loan_etl_data_pipeline_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["id"]: r["degree"] for r in kcore(edges, k=2, rounds=1).collect()}
    # node 5 (deg 1) removed; 4 survives round 1 with residual degree 1
    # and 3 still holds its edge to 4 (degree 3) until round 2 peels 4
    assert got == {1: 2, 2: 2, 3: 3, 4: 1}


def test_kcore_validates_args(spark):
    from loan_etl_data_pipeline_spark.operators.graph import kcore

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    import pytest

    with pytest.raises(ValueError):
        kcore(edges, k=0, rounds=1)


def test_kcore_converged_matches_deep_fixed_rounds(spark):
    """A peel chain long enough that rounds=1 is mid-cascade: the
    converged form must equal a generously-deep fixed-round run."""
    from loan_etl_data_pipeline_spark.operators.graph import kcore, kcore_converged

    # triangle core + a 4-node cascade chain hanging off node 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )
    conv = {r["id"]: r["degree"] for r in kcore_converged(edges, k=2).collect()}
    deep = {r["id"]: r["degree"] for r in kcore(edges, k=2, rounds=10).collect()}
    assert conv == deep == {1: 2, 2: 2, 3: 2}


def test_incremental_cc_equals_full_recompute(spark):
    """Fold a delta batch into a standing labeling: result must equal
    CC over the union of ALL edges — including a merge of two old
    components through a new bridge edge, a brand-new node pair, and
    untouched old components staying stable."""
    from loan_etl_data_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21)]
    delta = [(3, 10), (30, 31)]  # bridge {1,2,3}<->{10,11}; new pair
    prev = connected_components(
        spark.createDataFrame(old_edges, "src long, dst long")
    )
    inc = {
        r["id"]: r["component"]
        for r in connected_components_incremental(
            prev, spark.createDataFrame(delta, "src long, dst long")
        ).collect()
    }
    full = {
        r["id"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(old_edges + delta, "src long, dst long")
        ).collect()
    }
    assert inc == full
    assert inc[11] == 1  # merged cluster takes the smaller root
    assert inc[20] == 20 and inc[21] == 20  # untouched component stable


def test_bfs_hops_path_graph(spark):
    from loan_etl_data_pipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["id"])
    got = {r["id"]: r["hops"] for r in
           bfs_hops(edges, seeds=seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}  # 4,5 beyond the horizon


def test_bfs_hops_multi_seed_min_distance(spark):
    from loan_etl_data_pipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,), (5,)], ["id"])
    got = {r["id"]: r["hops"] for r in
           bfs_hops(edges, seeds=seeds, max_hops=3).collect()}
    # undirected, two seeds: every node takes the NEARER seed's distance
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_label_propagation_two_communities(spark):
    from loan_etl_data_pipeline_spark.operators.graph import label_propagation

    # two triangles bridged by a single edge -> two communities
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        ["src", "dst"],
    )
    got = {r["id"]: r["label"] for r in
           label_propagation(edges, rounds=3).collect()}
    assert got[1] == got[2] == got[3]
    assert got[10] == got[11] == got[12]
    assert got[1] != got[10]


def test_label_propagation_deterministic_under_repartition(spark):
    from loan_etl_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(a + 1, 8)
         if (a * b + a + b) % 3 == 0],
        ["src", "dst"],
    )
    a = sorted((r["id"], r["label"]) for r in
               label_propagation(edges, rounds=2).collect())
    b = sorted((r["id"], r["label"]) for r in
               label_propagation(edges.repartition(5), rounds=2).collect())
    assert a == b


def test_hits_bipartite_authorities(spark):
    from loan_etl_data_pipeline_spark.operators.graph import hits

    # hub 1 buys everything; part 100 is bought by everyone
    edges = spark.createDataFrame(
        [(1, 100), (1, 101), (1, 102), (2, 100), (3, 100), (3, 102)],
        ["cust", "part"],
    )
    out = {r["id"]: (r["authority"], r["hub"])
           for r in hits(edges, "cust", "part", rounds=2).collect()}
    # part 100 (everyone) outranks 102 (two buyers) outranks 101 (one)
    assert out[100][0] > out[102][0] > out[101][0]
    # customer 1 (three baskets incl. every part) is the top hub
    assert out[1][1] >= out[3][1] >= out[2][1]
    # bipartite: customers carry no authority, parts no hub
    assert out[1][0] == 0 and out[100][1] == 0


def test_personalized_pagerank_proximity(spark):
    from loan_etl_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )
    import pyspark.sql.functions as F

    # path 1-2-3-4-5, seed at 1: rank must decay with distance
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5), (5, 4)],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([(1,)], ["id"])
    pr = {r["id"]: r["pr"] for r in
          personalized_pagerank(edges, seeds=seeds, iterations=4).collect()}
    # proximity decays with distance; compare same-parity hops (on a
    # path, walk mass oscillates between parities across finite rounds)
    assert pr[1] > pr[3] > pr[5]
    assert pr[2] > pr[4]
    assert pr[1] > pr[4] and pr[2] > pr[5]

    # seeds outside the graph -> error
    import pytest as _pytest
    with _pytest.raises(ValueError):
        personalized_pagerank(
            edges, seeds=spark.createDataFrame([(99,)], ["id"]), iterations=1
        )


@pytest.mark.parametrize("iterations", [1, 3, 7])
def test_pagerank_is_all_seed_personalized_pagerank(spark, iterations):
    """pagerank == personalized_pagerank with every node a seed; 7
    iterations crosses pagerank's interval checkpoint."""
    import random

    from loan_etl_data_pipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    rnd = random.Random(7)
    pairs = {(rnd.randrange(60), rnd.randrange(60)) for _ in range(240)}
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    nodes = edges.select("src").union(edges.select("dst")).distinct()
    want = sorted(map(tuple, pagerank(edges, iterations=iterations).collect()))
    got = personalized_pagerank(edges, seeds=nodes, iterations=iterations)
    assert sorted(map(tuple, got.collect())) == want
    assert len(want) == nodes.count()


# Spark jobs each operator runs (build + collect) on the graph below,
# measured before the graph loops moved onto the shared helpers; the
# helpers build the same plans, so the counts must not move.
# personalized_pagerank ran 31 or 32 jobs from run to run back then too.
_PINNED_JOBS = {
    "bfs_hops": (11,),
    "connected_components": (64,),
    "connected_components_two_phase": (56,),
    "kcore": (10,),
    "kcore_converged": (35,),
    "neighborhood_function": (15,),
    "pagerank": (48,),
    "personalized_pagerank": (31, 32),
}


def test_rewritten_operators_keep_job_counts(spark):
    from loan_etl_data_pipeline_spark.functions.localframe import values_frame
    from loan_etl_data_pipeline_spark.operators import graph

    # path 0..9, triangle 20-21-22 with a two-edge tail 22-23-24
    pairs = [(i, i + 1) for i in range(9)]
    pairs += [(20, 21), (21, 22), (20, 22), (22, 23), (23, 24)]
    edges = values_frame(spark, pairs, "src bigint, dst bigint")
    seeds = values_frame(spark, [(0,), (20,)], "id bigint")
    calls = {
        "bfs_hops": lambda: graph.bfs_hops(edges, seeds=seeds, max_hops=3),
        "connected_components": lambda: graph.connected_components(edges),
        "connected_components_two_phase": lambda: (
            graph.connected_components_two_phase(edges)
        ),
        "kcore": lambda: graph.kcore(edges, k=2, rounds=2),
        "kcore_converged": lambda: graph.kcore_converged(edges, k=2),
        "neighborhood_function": lambda: (
            graph.neighborhood_function(edges, max_hops=3)
        ),
        "pagerank": lambda: graph.pagerank(edges, iterations=7),
        "personalized_pagerank": lambda: (
            graph.personalized_pagerank(edges, seeds=seeds, iterations=3)
        ),
    }
    sc = spark.sparkContext
    jobs = {}
    for name, build in calls.items():
        # a job group per operator: the status store keeps only the
        # newest spark.ui.retainedJobs jobs, so a plain jobsList delta
        # goes wrong late in a long session
        group = f"pinned-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            build().collect()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    moved = {n: c for n, c in jobs.items() if c not in _PINNED_JOBS[n]}
    assert not moved, f"job counts moved: {moved}"


# ---- Borůvka MSF (boruvka_msf) ----------------------------------------


def test_msf_hand_built_graph(spark):
    from loan_etl_data_pipeline_spark.operators.graph import boruvka_msf

    # classic 4-cycle + chord: MST = {(1,2,1), (3,4,2), (2,3,3)}
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 3), (3, 4, 2), (1, 4, 5), (1, 3, 4)],
        ["u", "v", "w"],
    )
    got = sorted(map(tuple, boruvka_msf(edges, "u", "v", "w").collect()))
    assert got == [(1, 2, 1), (2, 3, 3), (3, 4, 2)]


def test_msf_is_a_spanning_forest_per_component(spark):
    from loan_etl_data_pipeline_spark.operators.graph import (
        boruvka_msf,
        connected_components,
    )

    # two disconnected blobs → forest with (n1-1) + (n2-1) edges
    edges = spark.createDataFrame(
        [(1, 2, 9), (2, 3, 1), (1, 3, 5), (10, 11, 2), (11, 12, 7), (10, 12, 4)],
        ["u", "v", "w"],
    )
    f = boruvka_msf(edges, "u", "v", "w")
    assert f.count() == 4
    # forest connects exactly the original components
    cc_f = {
        (r["id"], r["component"])
        for r in connected_components(f, "u", "v").collect()
    }
    cc_g = {
        (r["id"], r["component"])
        for r in connected_components(edges, "u", "v").collect()
    }
    assert cc_f == cc_g


def test_msf_total_weight_matches_kruskal(spark):
    import random

    from loan_etl_data_pipeline_spark.operators.graph import boruvka_msf

    rnd = random.Random(7)
    n = 40
    es = {}
    for _ in range(160):
        a, b = rnd.sample(range(n), 2)
        u, v = min(a, b), max(a, b)
        w = rnd.randint(1, 50)
        es[(u, v)] = min(w, es.get((u, v), 10**9))
    rows = [(u, v, w) for (u, v), w in es.items()]

    # reference Kruskal with the same (w, u, v) total order
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = []
    for u, v, w in sorted(rows, key=lambda t: (t[2], t[0], t[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.append((u, v, w))

    edges = spark.createDataFrame(rows, ["u", "v", "w"])
    got = sorted(map(tuple, boruvka_msf(edges, "u", "v", "w").collect()))
    assert got == sorted(want)


def test_msf_collapses_duplicate_edges_to_min_weight(spark):
    from loan_etl_data_pipeline_spark.operators.graph import boruvka_msf

    edges = spark.createDataFrame(
        [(1, 2, 9), (1, 2, 3), (2, 3, 4)], ["u", "v", "w"]
    )
    got = sorted(map(tuple, boruvka_msf(edges, "u", "v", "w").collect()))
    assert got == [(1, 2, 3), (2, 3, 4)]


def test_msf_survives_long_path_forest(spark):
    """An MSF can BE a long path (diameter ≈ n): component resolution
    must be diameter-independent — min-label propagation would trip
    its 30-round cap on this 100-node chain."""
    from loan_etl_data_pipeline_spark.operators.graph import boruvka_msf

    rows = [(i, i + 1, i) for i in range(1, 100)]  # path, distinct weights
    got = boruvka_msf(
        spark.createDataFrame(rows, ["u", "v", "w"]), "u", "v", "w"
    )
    assert sorted(map(tuple, got.collect())) == sorted(rows)


def test_cheapest_paths_hand_graph(spark):
    """Weighted path where cheapest != fewest hops: seed 1; direct edge
    1-4 costs 10, the 1-2-3-4 route costs 3."""
    import pyspark.sql.functions as F

    from loan_etl_data_pipeline_spark.operators.graph import cheapest_paths

    e = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)],
        "src bigint, dst bigint, cost bigint",
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    got = {
        r["id"]: r["min_cost"]
        for r in cheapest_paths(e, seeds=seeds, max_hops=3).collect()
    }
    # 4 is cheaper via 3 hops (3) than direct (10); 5 within 3 hops only
    # via the direct edge 1-4-5 (11) or 1-2-3-4-5 (4 hops, not allowed)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 11}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cheapest_paths(e, seeds=seeds, max_hops=0)


# ---- cache hygiene (VERDICT r4 ask #3 / ADVICE r3 #5) -------------------


def test_pagerank_family_releases_persisted_intermediates(spark):
    """pagerank/personalized_pagerank pin their loop invariants
    (edges, out-degrees, node set, seeds) in their own intermediates()
    scope, which must release them before returning — even inside a
    caller's open scope — so long-lived sessions never accumulate cache
    entries until clearCache. Checked at the CacheManager level — the
    registry Dataset.persist writes to — after each operator completes.
    localCheckpoint RDD blocks are exempt: they are GC-managed by the
    ContextCleaner, not cache-retained."""
    from loan_etl_data_pipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )
    from loan_etl_data_pipeline_spark.session import intermediates, pin

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], ["src", "dst"]
    )
    pagerank(edges, iterations=3).collect()
    assert cm.isEmpty(), "pagerank left persisted intermediates cached"

    seeds = spark.createDataFrame([(1,)], ["id"])
    with intermediates():
        personalized_pagerank(edges, seeds=seeds, iterations=2).collect()
        assert cm.isEmpty(), (
            "personalized_pagerank left persisted intermediates cached"
        )

    # positive control: an actually-persisted frame IS visible to the
    # detector (guards against a vacuously-green isEmpty probe)
    with intermediates():
        held = pin(edges)
        held.count()
        assert not cm.isEmpty()
    assert cm.isEmpty()


def test_ktruss_clique_survives_bridge_dies(spark):
    """4-clique {1,2,3,4} + bridge 4-5 + triangle {5,6,7}: the bridge
    sits in no triangle and dies in round 1; every clique edge keeps
    support 2, every triangle edge support 1; k=4 additionally kills
    the triangle but never the clique."""
    from loan_etl_data_pipeline_spark.operators.graph import ktruss

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (5, 7), (6, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {(r["src"], r["dst"]): r["support"]
           for r in ktruss(df, k=3, rounds=2).collect()}
    clique = {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    tri = {(5, 6), (5, 7), (6, 7)}
    assert set(out) == clique | tri
    assert all(out[e] == 2 for e in clique)
    assert all(out[e] == 1 for e in tri)
    out4 = {(r["src"], r["dst"]): r["support"]
            for r in ktruss(df, k=4, rounds=2).collect()}
    assert set(out4) == clique and all(v == 2 for v in out4.values())


def test_ktruss_validates_and_canonicalizes(spark):
    import pytest as _pt

    from loan_etl_data_pipeline_spark.operators.graph import ktruss

    df = spark.createDataFrame(
        [(2, 1), (3, 2), (1, 3), (3, 1), (1, 1)], "src bigint, dst bigint"
    )
    # reversed duplicates collapse to one canonical edge; self-loop dropped
    out = {(r["src"], r["dst"]): r["support"]
           for r in ktruss(df, k=3, rounds=1).collect()}
    assert out == {(1, 2): 1, (2, 3): 1, (1, 3): 1}
    with _pt.raises(ValueError, match="k >= 3"):
        ktruss(df, k=2, rounds=1)
    with _pt.raises(ValueError, match="k >= 3"):
        ktruss(df, k=3, rounds=0)


# ---------------------------------------------------------------------------
# Luby maximal independent set
# ---------------------------------------------------------------------------


def _luby_reference(edges, rounds, salt="mis"):
    """Pure-Python replay of luby_mis with the same md5 priorities."""
    import hashlib

    def prio(v):
        return int(hashlib.md5(f"{v}{salt}".encode()).hexdigest()[:12], 16)

    e = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    live = {v for p in e for v in p}
    out = {}
    for r in range(1, rounds + 1):
        nbrs = {v: set() for v in live}
        for a, b in e:
            if a in live and b in live:
                nbrs[a].add(b)
                nbrs[b].add(a)
        win = {
            v
            for v in live
            if all((prio(u), u) > (prio(v), v) for u in nbrs[v])
        }
        for v in win:
            out[v] = r
        if r == rounds:
            break
        removed = set(win) | {u for v in win for u in nbrs[v]}
        live -= removed
        e = {p for p in e if p[0] in live and p[1] in live}
    return out


def test_luby_mis_matches_reference_on_random_graph(spark):
    import random

    from loan_etl_data_pipeline_spark.operators.graph import luby_mis

    rng = random.Random(5)
    edges = list({
        tuple(sorted(rng.sample(range(1, 40), 2))) for _ in range(120)
    })
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["round"] for r in luby_mis(df, rounds=3).collect()
    }
    assert got == _luby_reference(edges, 3)


def test_luby_mis_independence_and_progress(spark):
    """No two selected nodes are adjacent, every selection round is
    non-empty on a connected graph, and a path graph completes."""
    from loan_etl_data_pipeline_spark.operators.graph import luby_mis

    edges = [(i, i + 1) for i in range(1, 30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sel = {r["node"] for r in luby_mis(df, rounds=6).collect()}
    eset = {tuple(sorted(e)) for e in edges}
    assert not any(tuple(sorted((a, b))) in eset for a in sel for b in sel if a != b)
    # maximality after enough rounds: every non-selected node has a
    # selected neighbor
    nodes = {v for e in edges for v in e}
    for v in nodes - sel:
        assert any(tuple(sorted((v, u))) in eset for u in sel), v


def test_luby_mis_isolated_pair_selects_lower_priority(spark):
    from loan_etl_data_pipeline_spark.operators.graph import luby_mis

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["round"] for r in luby_mis(df, rounds=2).collect()}
    ref = _luby_reference([(1, 2)], 2)
    assert got == ref
    # the MIS of a single edge is exactly one node, picked in round 1
    # (its neighbor is removed, never selected)
    assert len(got) == 1 and list(got.values()) == [1]


# ---------------------------------------------------------------------------
# Greedy maximal matching
# ---------------------------------------------------------------------------


def _matching_reference(edges, rounds, salt="match"):
    import hashlib

    def prio(a, b):
        return int(
            hashlib.md5(f"{a}_{b}{salt}".encode()).hexdigest()[:12], 16
        )

    e = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    out = {}
    for r in range(1, rounds + 1):
        keyed = {(prio(a, b), a, b): (a, b) for a, b in e}
        win = set()
        for key, (a, b) in keyed.items():
            better = [
                k
                for k in keyed
                if k != key
                and (keyed[k][0] in (a, b) or keyed[k][1] in (a, b))
                and k < key
            ]
            if not better:
                win.add((a, b))
        for w in win:
            out[w] = r
        if r == rounds:
            break
        touched = {v for w in win for v in w}
        e = {p for p in e if p[0] not in touched and p[1] not in touched}
    return out


def test_greedy_matching_matches_reference(spark):
    import random

    from loan_etl_data_pipeline_spark.operators.graph import greedy_matching

    rng = random.Random(11)
    edges = list({
        tuple(sorted(rng.sample(range(1, 30), 2))) for _ in range(80)
    })
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["a"], r["b"]): r["round"]
        for r in greedy_matching(df, rounds=3).collect()
    }
    assert got == _matching_reference(edges, 3)


def test_greedy_matching_is_matching_and_cover(spark):
    """No endpoint reused; after enough rounds the matched endpoints
    cover every edge (2-approx vertex cover)."""
    from loan_etl_data_pipeline_spark.operators.graph import greedy_matching

    edges = [(i, i + 1) for i in range(1, 25)] + [(1, 13), (5, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    matched = [(r["a"], r["b"]) for r in greedy_matching(df, rounds=8).collect()]
    used = [v for e in matched for v in e]
    assert len(used) == len(set(used)), "an endpoint is matched twice"
    cover = set(used)
    for a, b in edges:
        assert a in cover or b in cover, (a, b)
