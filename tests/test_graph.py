"""PageRank (operators/graph.py): fixed-point invariants and mass
conservation on hand-built graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_cycle_is_uniform_fixed_point(spark):
    """On a 3-cycle the uniform distribution is the fixed point; with
    the 12-dp rounding contract the rank is exactly 0.333333333333
    from iteration 1 onward."""
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])).collect()}
    assert ranks == {"a": 0.333333333333, "b": 0.333333333333, "c": 0.333333333333}


def test_pagerank_hub_ranks_highest_and_mass_conserved(spark):
    """a->h, b->h, h->a, h->b: the hub absorbs both spokes' full rank
    each round, so it must rank strictly higher; with no dangling
    nodes total mass stays 1 (up to the 12-dp rounding)."""
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, [("a", "h"), ("b", "h"), ("h", "a"), ("h", "b")])).collect()
    }
    assert ranks["h"] > ranks["a"] == ranks["b"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_dangling_mass_conserved(spark):
    """a->b, a->c, b->c: c is a SINK (never a src). Sinks must be
    ranked, their mass redistributed uniformly each round, and total
    mass must stay 1.0 ± rounding — the dangling-mass contract general
    link graphs depend on."""
    edges = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert set(ranks) == {"a", "b", "c"}  # the sink is ranked
    assert abs(sum(ranks.values()) - 1.0) < 1e-9, ranks
    # c receives from a, b AND the redistribution; it must dominate
    assert ranks["c"] > ranks["b"] > ranks["a"]


def test_pagerank_all_sinks_is_uniform(spark):
    """a->b with nothing else: round after round mass keeps cycling
    through the teleport + redistribution terms and stays conserved;
    b (the sink target) outranks a."""
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges(spark, [("a", "b")])).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks["b"] > ranks["a"]


def test_weighted_pagerank_rejects_float_weights(spark):
    import pytest

    we = spark.createDataFrame(
        [("a", "b", 1.5), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    with pytest.raises(TypeError, match="integer type"):
        pagerank(we, weight="w")


def test_cooccurrence_counts_and_degree_cap(spark):
    from nyc_taxi_data_engineering_spark.operators.cooccur import cooccurrence_pairs

    links = spark.createDataFrame(
        [  # ctx1: {a,b,c}; ctx2: {a,b}; ctx3: {a,b} duplicated link
            ("a", 1), ("b", 1), ("c", 1),
            ("a", 2), ("b", 2),
            ("a", 3), ("a", 3), ("b", 3),
        ],
        "e string, ctx int",
    )
    got = {
        (r["a"], r["b"]): r["shared_contexts"]
        for r in cooccurrence_pairs(links, "e", "ctx").collect()
    }
    # duplicate (a,3) link counts once
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    # cap at 2 drops ctx1 (3 entities) entirely
    capped = {
        (r["a"], r["b"]): r["shared_contexts"]
        for r in cooccurrence_pairs(links, "e", "ctx", degree_cap=2).collect()
    }
    assert capped == {("a", "b"): 2}
    # min_shared filters singletons
    assert {
        (r["a"], r["b"])
        for r in cooccurrence_pairs(links, "e", "ctx", min_shared=2).collect()
    } == {("a", "b")}


def test_weighted_pagerank_favors_heavy_edge(spark):
    """a->b (w=9) vs a->c (w=1), with b,c->a: b must outrank c, and
    with equal weights ranks must equal the unweighted run's."""
    we = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w int",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(we, weight="w").collect()}
    assert ranks["b"] > ranks["c"]
    uniform = we.withColumn("w", F.lit(1))
    rw = {r["node"]: r["rank"] for r in pagerank(uniform, weight="w").collect()}
    ru = {r["node"]: r["rank"] for r in pagerank(we.drop("w")).collect()}
    assert rw == ru


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

from nyc_taxi_data_engineering_spark.operators.graph import (  # noqa: E402
    bfs_hops,
    triangle_counts,
)


def _und(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def test_triangles_k4_every_node_in_three(spark):
    """K4 has 4 triangles; each node sits in C(3,2)=3 of them."""
    vs = ["a", "b", "c", "d"]
    edges = _und(spark, [(x, y) for i, x in enumerate(vs) for y in vs[i + 1 :]])
    got = {r["node"]: (r["degree"], r["n_triangles"]) for r in triangle_counts(edges).collect()}
    assert got == {v: (3, 3) for v in vs}


def test_triangles_star_has_none(spark):
    """A star (hub h + 5 leaves) is triangle-free — and the hub, the
    highest-degree node, must generate no wedges under the
    degree-ordered orientation (empty result, not an explosion)."""
    edges = _und(spark, [("h", f"l{i}") for i in range(5)])
    assert triangle_counts(edges).count() == 0


def test_triangles_one_shared_edge_two_triangles(spark):
    """Two triangles sharing edge (a,b): a and b count 2, wings 1."""
    edges = _und(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


# ---------------------------------------------------------------------------
# BFS hop distances
# ---------------------------------------------------------------------------


def test_bfs_path_with_cycle_exact_depths(spark):
    """Path a->b->c->d plus back-edge d->a: min-relaxation must keep
    exact depths despite the cycle."""
    edges = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, "a", 4).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_respects_hop_bound_and_reachability(spark):
    """Nodes beyond max_hops and disconnected nodes are absent;
    shorter of two routes wins."""
    edges = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("x", "y")],
    )
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, "a", 2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 1}  # d via direct edge, no x/y


def test_bfs_source_without_outedges_still_seeds_itself(spark):
    """A sink source is still at distance 0 of itself — the seed is a
    literal row, not a filter over edge sources (the SQL twin anchors
    the recursion the same way)."""
    edges = _edges(spark, [("a", "b")])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, "b", 3).collect()}
    assert got == {"b": 0}


# ---------------------------------------------------------------------------
# Personalized PageRank
# ---------------------------------------------------------------------------

def test_ppr_mass_conserved_and_source_dominates(spark):
    """Random walk with restart on a path a->b->c (c a sink): teleport
    and dangling mass both return to the source, so total mass stays
    1.0 ± rounding and the source keeps the largest rank at this
    damping."""
    edges = _edges(spark, [("a", "b"), ("b", "c")])
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, personalize="a").collect()}
    assert set(ranks) == {"a", "b", "c"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9, ranks
    assert ranks["a"] > ranks["b"] > ranks["c"] > 0


def test_ppr_locality_vs_global_pagerank(spark):
    """Two 2-cycles a<->b and x<->y joined by b->x: personalized from
    a, the walk's mass stays in a's neighborhood — rank(b) > rank(y)
    — while nodes unreachable without restarts still get 0-ish mass
    only via the walk, never teleport."""
    edges = _edges(spark, [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"), ("b", "x")])
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, personalize="a").collect()}
    # a's cycle partner b holds the most mass (it absorbs a's full rank
    # every round); the far cycle gets only the leak through b->x
    assert ranks["b"] > ranks["x"] > 0 and ranks["b"] > ranks["y"] > 0
    assert ranks["a"] + ranks["b"] > ranks["x"] + ranks["y"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------

from nyc_taxi_data_engineering_spark.operators.graph import label_propagation


def _uedges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_lpa_two_cliques_with_bridge(spark):
    """Two triangles {1,2,3} and {10,11,12} joined by one bridge edge
    3-10: each clique converges onto its minimum label; the bridge
    endpoints keep their clique's label because two clique votes beat
    one bridge vote."""
    comm = {
        r["node"]: r["community"]
        for r in label_propagation(
            _uedges(spark, [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)])
        ).collect()
    }
    assert comm[1] == comm[2] == comm[3] == 1
    assert comm[10] == comm[11] == comm[12]
    assert comm[10] != comm[1]


def test_lpa_single_edge_min_label_wins_ties(spark):
    """On a single edge each node's only vote is the neighbor's label;
    synchronous rounds swap labels, and the smallest-label tie-break
    plays no role — after the fixed odd round count the labels are
    swapped, deterministically."""
    comm = {r["node"]: r["community"] for r in label_propagation(_uedges(spark, [(7, 9)])).collect()}
    # 3 rounds: labels swap each round -> node 7 holds 9's label
    assert comm == {7: 9, 9: 7}


def test_lpa_star_converges_to_center_label_or_min(spark):
    """Star center 1 with leaves 5,6,7: leaves all adopt the center's
    label in round 1 and keep re-adopting it; the center adopts the
    smallest leaf label each round. Deterministic under the fixed
    3-round contract."""
    comm = {
        r["node"]: r["community"]
        for r in label_propagation(_uedges(spark, [(1, 5), (1, 6), (1, 7)])).collect()
    }
    assert comm[5] == comm[6] == comm[7]


def test_lpa_rejects_string_nodes(spark):
    import pytest

    with pytest.raises(TypeError, match="integer node ids"):
        label_propagation(spark.createDataFrame([("a", "b")], "a string, b string"))


# ---------------------------------------------------------------------------
# Bounded weighted shortest paths
# ---------------------------------------------------------------------------

from nyc_taxi_data_engineering_spark.operators.graph import cheapest_paths


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src string, dst string, cost int")


def test_cheapest_paths_prefers_cheap_detour(spark):
    """a->b costs 10 direct, but a->c->b costs 1+1: the relaxation
    must find the 2-edge detour once rounds >= 2."""
    edges = _wedges(spark, [("a", "b", 10), ("a", "c", 1), ("c", "b", 1)])
    one = {r["node"]: r["cost"] for r in cheapest_paths(edges, "a", 1).collect()}
    assert one == {"a": 0, "b": 10, "c": 1}  # 1 round: only direct edges
    two = {r["node"]: r["cost"] for r in cheapest_paths(edges, "a", 2).collect()}
    assert two == {"a": 0, "b": 2, "c": 1}


def test_cheapest_paths_cycle_terminates_exact(spark):
    """Positive-cost cycle a->b->a: the fixed round count terminates
    and the source keeps cost 0 (no relaxation can beat it)."""
    edges = _wedges(spark, [("a", "b", 2), ("b", "a", 3)])
    d = {r["node"]: r["cost"] for r in cheapest_paths(edges, "a", 4).collect()}
    assert d == {"a": 0, "b": 2}


def test_cheapest_paths_unreachable_absent_and_bound_respected(spark):
    """Chain a-1->b-1->c-1->d: with 2 rounds d is absent (needs 3
    edges); x (disconnected) never appears."""
    edges = _wedges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("x", "x", 1)])
    d = {r["node"]: r["cost"] for r in cheapest_paths(edges, "a", 2).collect()}
    assert d == {"a": 0, "b": 1, "c": 2}


def test_cheapest_paths_rejects_float_costs(spark):
    import pytest

    with pytest.raises(TypeError, match="integer cost"):
        cheapest_paths(
            spark.createDataFrame([("a", "b", 1.5)], "src string, dst string, cost double"),
            "a",
            2,
        )


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------

from nyc_taxi_data_engineering_spark.operators.graph import (  # noqa: E402
    hits,
    kcore,
    link_predictions,
)


def test_hits_l1_normalized_and_authority_ordering(spark):
    """Star into h (a->h, b->h, c->h) plus h->a: h must be the top
    authority, and both score columns are L1-normalized each round
    (sums to 1 over nodes with nonzero score, up to 12-dp rounding)."""
    scores = hits(_edges(spark, [("a", "h"), ("b", "h"), ("c", "h"), ("h", "a")])).collect()
    auth = {r["node"]: r["auth"] for r in scores}
    hub = {r["node"]: r["hub"] for r in scores}
    assert auth["h"] == max(auth.values())
    assert abs(sum(auth.values()) - 1.0) < 1e-9
    assert abs(sum(hub.values()) - 1.0) < 1e-9
    # spokes are pure hubs: zero authority (nothing points at them but h->a)
    assert auth["b"] == 0.0 and auth["c"] == 0.0


def test_hits_bipartite_sides_split_roles(spark):
    """Bipartite c*->s*: all hub mass sits on the c side, all authority
    mass on the s side, and the supplier with more in-edges wins."""
    scores = hits(
        _edges(spark, [("c1", "s1"), ("c2", "s1"), ("c2", "s2"), ("c3", "s1")])
    ).collect()
    auth = {r["node"]: r["auth"] for r in scores}
    hub = {r["node"]: r["hub"] for r in scores}
    assert auth["s1"] > auth["s2"] > 0.0
    assert hub["s1"] == hub["s2"] == 0.0
    assert auth["c1"] == auth["c2"] == auth["c3"] == 0.0


def _upairs(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def test_kcore_peels_tail_keeps_clique(spark):
    """K4 with a pendant vertex: the 3-core is exactly the K4 (every
    clique node has induced degree 3), the pendant and its edge peel
    off in round one."""
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    got = {r["node"]: r["degree"] for r in kcore(_upairs(spark, k4 + [("d", "e")]), k=3, rounds=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_chain_unravels_completely(spark):
    """A path a-b-c-d has no 2-core: peeling endpoints cascades until
    nothing is left (needs multiple rounds — the fixed point matters)."""
    path = [("a", "b"), ("b", "c"), ("c", "d")]
    assert kcore(_upairs(spark, path), k=2, rounds=3).count() == 0


def test_link_predictions_scores_and_excludes_existing(spark):
    """Square a-b-c-d-a: the two diagonals are the only non-adjacent
    pairs, each with 2 common neighbors and Jaccard 2/2=1.0 (sets are
    identical); existing edges never appear."""
    sq = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")]
    rows = link_predictions(_upairs(spark, sq), topk=10).collect()
    got = {(r["a"], r["b"]): (r["common_neighbors"], r["jaccard"], r["pref_attachment"]) for r in rows}
    assert got == {("a", "c"): (2, 1.0, 4), ("b", "d"): (2, 1.0, 4)}


from nyc_taxi_data_engineering_spark.operators.graph import modularity  # noqa: E402


def test_modularity_two_triangles_bridge(spark):
    """Two triangles joined by one bridge, the textbook partition:
    m = 7, each community has 3 internal edges and degree sum 7, so
    q_contrib = 3/7 - (7/14)^2 per community and Q = 2*(3/7 - 1/4)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)], "a int, b int"
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "node int, community int",
    )
    rows = modularity(edges, labels).collect()
    assert [r["community"] for r in rows] == [10, 20]
    for r in rows:
        assert r["n_nodes"] == 3
        assert r["internal_edges"] == 3
        assert r["degree_sum"] == 7
        assert abs(r["q_contrib"] - (3.0 / 7.0 - 0.25)) < 1e-12


def test_modularity_singleton_partition_zero_internal(spark):
    """Every node its own community: internal_edges = 0 everywhere and
    q_contrib is the pure -(deg/2m)^2 penalty — the left join's
    COALESCE path, not an accidental inner join."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "a int, b int")
    labels = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "node int, community int"
    )
    rows = {r["community"]: r for r in modularity(edges, labels).collect()}
    assert len(rows) == 3
    assert all(r["internal_edges"] == 0 for r in rows.values())
    assert abs(rows[2]["q_contrib"] - (-(2.0 / 4.0) ** 2)) < 1e-12
    assert abs(rows[1]["q_contrib"] - (-(1.0 / 4.0) ** 2)) < 1e-12


from nyc_taxi_data_engineering_spark.operators.graph import (  # noqa: E402
    harmonic_centrality,
)


def test_harmonic_centrality_path_graph(spark):
    """Path 1-2-3-4-5, radius 3. Node 3 reaches everyone: 2 at hop 1,
    2 at hop 2 -> 6x-harmonic = 2*6 + 2*3 = 18. Node 1 reaches 2/3/4 at
    hops 1/2/3 -> 6 + 3 + 2 = 11. Endpoint symmetry pins node 5."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "a int, b int")
    rows = {r["node"]: r for r in harmonic_centrality(edges, max_hops=3).collect()}
    assert rows[3]["harmonic_x6"] == 18 and rows[3]["n_hop3"] == 0
    assert rows[1]["harmonic_x6"] == 11
    assert (rows[1]["n_hop1"], rows[1]["n_hop2"], rows[1]["n_hop3"]) == (1, 1, 1)
    assert rows[5]["harmonic_x6"] == rows[1]["harmonic_x6"]
    assert abs(rows[3]["harmonic"] - 3.0) < 1e-15
    # node 1 cannot see node 5 (distance 4 > radius): 4 rows of reach
    assert rows[1]["n_hop1"] + rows[1]["n_hop2"] + rows[1]["n_hop3"] == 3


def test_harmonic_centrality_disconnected_components(spark):
    """Two disjoint edges: every node sees exactly its one partner at
    hop 1 and nothing else — cross-component leakage would show up as
    extra reach."""
    edges = spark.createDataFrame([(1, 2), (10, 20)], "a int, b int")
    rows = harmonic_centrality(edges, max_hops=3).collect()
    assert len(rows) == 4
    for r in rows:
        assert (r["n_hop1"], r["n_hop2"], r["n_hop3"]) == (1, 0, 0)
        assert r["harmonic_x6"] == 6 and r["harmonic"] == 1.0


from nyc_taxi_data_engineering_spark.operators.graph import conductance  # noqa: E402


def test_conductance_two_triangles_bridge(spark):
    """Two triangles joined by a bridge: each community's cut is the
    single bridge edge, volume 7, so phi = 1/7."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)], "a int, b int"
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "node int, community int",
    )
    rows = conductance(edges, labels).collect()
    assert [r["community"] for r in rows] == [10, 20]
    for r in rows:
        assert r["cut_edges"] == 1 and r["volume"] == 7
        assert abs(r["phi"] - 1.0 / 7.0) < 1e-15


def test_conductance_whole_graph_is_zero_cut(spark):
    """Everything in one community: no cut edges, and min(vol, 2m-vol)
    is 0 so phi pins to 0.0 instead of dividing by zero."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "a int, b int")
    labels = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "node int, community int")
    rows = conductance(edges, labels).collect()
    assert len(rows) == 1
    assert rows[0]["cut_edges"] == 0 and rows[0]["phi"] == 0.0
