"""Katz centrality and deterministic random walks (operators/graph.py)."""

import hashlib

from dbpedia_spotlight_spark.operators.graph import (
    deterministic_walks,
    katz_centrality,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_katz_centrality_hand_computed(spark):
    # b->a, c->a, a->d; alpha=0.5 beta=1, 2 rounds:
    # x1: a=1+.5*2=2, d=1+.5*1=1.5, b=c=1
    # x2: a=2 (b,c unchanged), d=1+.5*x1(a)=2
    e = _edges(spark, [("b", "a"), ("c", "a"), ("a", "d")])
    got = {
        r.node: r.katz
        for r in katz_centrality(e, iterations=2, alpha=0.5, beta=1.0).collect()
    }
    assert got == {"a": 2.0, "b": 1.0, "c": 1.0, "d": 2.0}


def test_katz_no_inbound_stays_beta(spark):
    e = _edges(spark, [("a", "b")])
    got = {r.node: r.katz for r in katz_centrality(e, iterations=3).collect()}
    assert got["a"] == 1.0


def test_walks_follow_chain_and_stop_at_dead_end(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out = deterministic_walks(e, walk_length=2, walks_per_node=1)
    rows = {(r.walk_id, r.step): r.node for r in out.collect()}
    assert rows[("w:a:0", 0)] == "a"
    assert rows[("w:a:0", 1)] == "b"
    assert rows[("w:a:0", 2)] == "c"
    assert rows[("w:b:0", 2)] == "d"
    # d is a dead end: its walk has only step 0; c's walk stops at step 1
    assert ("w:d:0", 1) not in rows
    assert rows[("w:c:0", 1)] == "d"
    assert ("w:c:0", 2) not in rows


def test_walks_branch_choice_matches_hash_argmin(spark):
    # e has two successors; the walk must take argmin md5(walk\x1f1\x1fnbr)
    e = _edges(spark, [("e", "x"), ("e", "y")])
    out = deterministic_walks(e, walk_length=1, walks_per_node=1)
    got = {r.node for r in out.collect() if r.step == 1 and "w:e" in r.walk_id}
    expect = min(
        ["x", "y"],
        key=lambda n: hashlib.md5(f"w:e:0\x1f1\x1f{n}".encode()).hexdigest(),
    )
    assert got == {expect}


def test_walks_reproducible_across_runs(spark):
    e = _edges(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b")],
    )
    r1 = sorted(
        (r.walk_id, r.step, r.node)
        for r in deterministic_walks(e, walk_length=3).collect()
    )
    r2 = sorted(
        (r.walk_id, r.step, r.node)
        for r in deterministic_walks(e, walk_length=3).collect()
    )
    assert r1 == r2 and len(r1) > 0


def test_scc_two_cycles_and_tail(spark):
    # a<->b (SCC {a,b}), c->d->e->c (SCC {c,d,e}), t->a (singleton)
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("c", "d"), ("d", "e"), ("e", "c"), ("t", "a")],
    )
    from dbpedia_spotlight_spark.operators.graph import (
        strongly_connected_components,
    )

    got = {r.node: r.component for r in strongly_connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "c", "t": "t"}


def test_scc_dag_all_singletons(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    from dbpedia_spotlight_spark.operators.graph import (
        strongly_connected_components,
    )

    got = {r.node: r.component for r in strongly_connected_components(e).collect()}
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_distance_matrix_shortcut_wins(spark):
    # a->b->c->d plus shortcut a->c: d(a,c)=1, d(a,d)=2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    from dbpedia_spotlight_spark.operators.graph import distance_matrix

    got = {(r.src, r.dst): r.dist for r in distance_matrix(e).collect()}
    assert got[("a", "c")] == 1
    assert got[("a", "d")] == 2
    assert got[("a", "b")] == 1
    assert ("d", "a") not in got


def test_distance_matrix_cycle_no_self_pairs(spark):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    from dbpedia_spotlight_spark.operators.graph import distance_matrix

    got = {(r.src, r.dst): r.dist for r in distance_matrix(e).collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 1}


def test_closeness_hand_computed(spark):
    # path a->b->c, n=3. a: reaches {b:1, c:2}, closeness=(2/2)*(2/3),
    # harmonic=1+0.5; c reaches nothing -> zeros.
    e = _edges(spark, [("a", "b"), ("b", "c")])
    from dbpedia_spotlight_spark.operators.graph import closeness_centrality

    rows = {r.node: r for r in closeness_centrality(e).collect()}
    assert rows["a"].reached == 2 and rows["a"].total_dist == 3
    assert abs(rows["a"].closeness - (2 / 2) * (2 / 3)) < 1e-9
    assert abs(rows["a"].harmonic - 1.5) < 1e-9
    assert rows["c"].reached == 0 and rows["c"].closeness == 0.0
    assert rows["c"].harmonic == 0.0


def test_condensation_collapses_cycles(spark):
    # a<->b cycle, c->d->e->c cycle, cross edge b->c, tail t->a
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("c", "d"), ("d", "e"), ("e", "c"),
         ("b", "c"), ("t", "a")],
    )
    from dbpedia_spotlight_spark.operators.graph import condensation

    got = {(r.src, r.dst) for r in condensation(e).collect()}
    assert got == {("a", "c"), ("t", "a")}


def test_bfs_sigma_counts_parallel_paths(spark):
    # diamond: a->b->d, a->c->d => sigma(a,d)=2 at dist 2
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    from dbpedia_spotlight_spark.operators.graph import bfs_sigma

    got = {
        (r.source, r.node): (r.dist, r.sigma) for r in bfs_sigma(e).collect()
    }
    assert got[("a", "d")] == (2, 2)
    assert got[("a", "b")] == (1, 1)
    assert got[("a", "a")] == (0, 1)


def test_betweenness_path_graph(spark):
    # a->b->c->d: B(b) = pairs (a,c),(a,d) = 2; B(c) = (a,d),(b,d) = 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    from dbpedia_spotlight_spark.operators.graph import betweenness_centrality

    got = {r.node: r.betweenness for r in betweenness_centrality(e).collect()}
    assert got == {"a": 0.0, "b": 2.0, "c": 2.0, "d": 0.0}


def test_betweenness_diamond_splits_dependency(spark):
    # a->b->d, a->c->d: b and c each carry sigma 1 of sigma(a,d)=2 -> 0.5
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    from dbpedia_spotlight_spark.operators.graph import betweenness_centrality

    got = {r.node: r.betweenness for r in betweenness_centrality(e).collect()}
    assert got["b"] == 0.5 and got["c"] == 0.5
    assert got["a"] == 0.0 and got["d"] == 0.0


def test_eccentricity_path_graph(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    from dbpedia_spotlight_spark.operators.graph import eccentricity_profile

    got = {
        r.node: (r.reached, r.eccentricity)
        for r in eccentricity_profile(e).collect()
    }
    assert got == {"a": (2, 2), "b": (1, 1), "c": (0, 0)}


def test_propagate_types_majority_and_tiebreak(spark):
    from dbpedia_spotlight_spark.operators.graph import propagate_types

    types = spark.createDataFrame(
        [("t1", "A"), ("t2", "A"), ("t3", "B")], "inst string, cls string"
    )
    # u: neighbors t1,t2,t3 -> A wins 2:1; v: t1,t3 -> tie, 'A' < 'B'
    e = _edges(
        spark,
        [("u", "t1"), ("u", "t2"), ("t3", "u"), ("v", "t1"), ("v", "t3")],
    )
    got = {
        r.inst: (r.cls, r.votes) for r in propagate_types(types, e).collect()
    }
    assert got == {"u": ("A", 2), "v": ("A", 1)}
    # typed nodes never re-typed
    assert "t1" not in got


def test_link_prediction_ranks_with_miss(spark):
    from dbpedia_spotlight_spark.operators.graph import link_prediction_ranks

    scores = spark.createDataFrame(
        [("u", "a", 3.0), ("u", "b", 2.0), ("u", "c", 2.0), ("u", "d", 1.0)],
        "src string, dst string, score double",
    )
    test = spark.createDataFrame(
        [("u", "c"), ("u", "z")], "src string, dst string"
    )
    got = {(r.src, r.dst): (r.rank, r.reciprocal_rank)
           for r in link_prediction_ranks(scores, test).collect()}
    # c: beaten by a (3.0) and by b (tie 2.0, 'b' < 'c') -> rank 3
    assert got[("u", "c")] == (3, 1.0 / 3)
    # z never scored -> NULL rank, NULL rr (a miss, not dropped)
    assert got[("u", "z")] == (None, None)


def test_eigenvector_no_inbound_decays_unit_norm(spark):
    # a->h, b->h, c->h, h->a: b,c have no inbound -> exactly 0 after
    # round 1; the L2 norm is 1 every round.
    e = _edges(spark, [("a", "h"), ("b", "h"), ("c", "h"), ("h", "a")])
    from dbpedia_spotlight_spark.operators.graph import (
        eigenvector_centrality,
    )

    got = {
        r.node: r.eigenvector
        for r in eigenvector_centrality(e, iterations=6).collect()
    }
    assert got["b"] == 0.0 and got["c"] == 0.0  # nothing points at them
    assert got["a"] > 0 and got["h"] > 0
    assert abs(sum(v * v for v in got.values()) - 1.0) < 1e-9


def test_eigenvector_symmetric_clique_is_uniform(spark):
    # complete digraph on 3 nodes: the dominant eigenvector is uniform
    # and power iteration holds it exactly from round 1.
    edges = [
        (u, v) for u in "abc" for v in "abc" if u != v
    ]
    e = _edges(spark, edges)
    from dbpedia_spotlight_spark.operators.graph import (
        eigenvector_centrality,
    )

    got = {
        r.node: r.eigenvector
        for r in eigenvector_centrality(e, iterations=3).collect()
    }
    expect = 1.0 / 3 ** 0.5
    assert all(abs(v - expect) < 1e-9 for v in got.values())


def test_luby_mis_independent_and_maximal(spark):
    from dbpedia_spotlight_spark.operators.graph import luby_mis

    edges = [(str(i), str(i + 1)) for i in range(9)] + [
        ("t0", "t1"), ("t1", "t2"), ("t0", "t2"),
        ("hub", "x1"), ("hub", "x2"), ("hub", "x3"), ("hub", "x4"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    sel = {r.node for r in luby_mis(e).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independent: no two selected nodes adjacent
    assert all(not (adj[n] & sel) for n in sel)
    # maximal: every unselected node has a selected neighbor
    assert all(n in sel or (adj[n] & sel) for n in adj)
    # deterministic across runs
    assert sel == {r.node for r in luby_mis(e).collect()}


def test_neighborhood_aggregate_mean_smoothing(spark):
    import pytest

    from dbpedia_spotlight_spark.operators.graph import neighborhood_aggregate

    e = spark.createDataFrame([("x", "y"), ("y", "z")], "src string, dst string")
    f = spark.createDataFrame(
        [("x", 1.0), ("y", 4.0), ("z", 7.0)], "node string, value double"
    )
    h1 = {r.node: r.value_1 for r in neighborhood_aggregate(e, f, hops=1).collect()}
    # x: mean(1,4)=2.5; y: mean(1,4,7)=4; z: mean(4,7)=5.5
    assert h1 == {"x": 2.5, "y": 4.0, "z": 5.5}
    h2 = {r.node: r.value_2 for r in neighborhood_aggregate(e, f, hops=2).collect()}
    assert h2 == {"x": 3.25, "y": 4.0, "z": 4.75}
    with pytest.raises(ValueError):
        neighborhood_aggregate(e, f, hops=0)


def test_neighborhood_aggregate_fixed_point(spark):
    from dbpedia_spotlight_spark.operators.graph import neighborhood_aggregate

    e = spark.createDataFrame([("x", "y")], "src string, dst string")
    f = spark.createDataFrame(
        [("x", 1.25), ("y", 1.30)], "node string, value double"
    )
    # scale=2: centi-units; mean(125,130) = 127.5 -> half-up 128 -> 1.28
    h = {r.node: r.value_1 for r in neighborhood_aggregate(e, f, hops=1, scale=2).collect()}
    assert h == {"x": 1.28, "y": 1.28}
    # negative values survive the offset shift
    fneg = spark.createDataFrame(
        [("x", -1.25), ("y", -1.30)], "node string, value double"
    )
    hn = {r.node: r.value_1 for r in neighborhood_aggregate(e, fneg, hops=1, scale=2).collect()}
    # mean(-125,-130) = -127.5 -> offset half-up rounds toward +inf -> -127
    assert hn == {"x": -1.27, "y": -1.27}


def test_community_metrics_two_triangles(spark):
    from dbpedia_spotlight_spark.operators.graph import community_metrics

    edges = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a1", "b1")]
    e = spark.createDataFrame(edges, "src string, dst string")
    mem = spark.createDataFrame(
        [(n, n[0]) for n in ["a1", "a2", "a3", "b1", "b2", "b3"]],
        "node string, community string",
    )
    got = {r.community: r for r in community_metrics(e, mem).collect()}
    # m=7; each triangle: 3 internal, 1 cut, degree sum 7
    for c in ("a", "b"):
        r = got[c]
        assert (r.n_nodes, r.internal_edges, r.cut_edges, r.degree_sum) == (3, 3, 1, 7)
        assert r.modularity == round(3 / 7 - (7 / 14) ** 2, 6)
        assert r.conductance == round(1 / 7, 6)


def test_induced_subgraph_sample_deterministic(spark):
    import pytest

    from dbpedia_spotlight_spark.operators.graph import induced_subgraph_sample

    e = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(300)], "src string, dst string"
    )
    s1 = {tuple(r) for r in induced_subgraph_sample(e, 0.5).collect()}
    s2 = {tuple(r) for r in induced_subgraph_sample(e, 0.5).collect()}
    assert s1 == s2 and 0 < len(s1) < 300
    # rate 1.0 keeps everything; induction: both endpoints survive
    assert induced_subgraph_sample(e, 1.0).count() == 300
    with pytest.raises(ValueError):
        induced_subgraph_sample(e, 0.0)


def test_directed_profile_metrics(spark):
    from dbpedia_spotlight_spark.operators.graph import directed_profile

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"), ("x", "x")],
        "src string, dst string",
    )
    r = directed_profile(e).collect()[0]
    assert (r.n_edges, r.n_self_loops, r.n_reciprocal) == (4, 1, 2)
    assert r.reciprocity == 0.5
    # a has an in-edge from b, so the only pure sink is d; no pure source
    assert (r.n_sources, r.n_sinks) == (0, 1)


def test_topological_layers_and_cycles(spark):
    import pytest

    from dbpedia_spotlight_spark.operators.graph import topological_layers

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    got = {r.node: r.layer for r in topological_layers(e).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    with pytest.raises(ValueError):
        topological_layers(
            spark.createDataFrame(
                [("x", "y"), ("y", "x")], "src string, dst string"
            )
        )
    # cycle hanging off a DAG: sources exist but the cycle never layers
    with pytest.raises(ValueError):
        topological_layers(
            spark.createDataFrame(
                [("a", "b"), ("p", "q"), ("q", "p")],
                "src string, dst string",
            )
        )


def test_skyline_2d_matches_naive_definition(spark):
    """The two-phase skyline equals the textbook dominance definition
    on a random-ish integer cloud (computed naively in Python), keeps
    duplicate frontier points (neither dominates), and survives any
    input partitioning."""
    from dbpedia_spotlight_spark.operators.skyline import skyline_2d

    pts = [((i * 37) % 101, (i * 61) % 97) for i in range(1, 200)]
    pts += [(0, 50)]  # duplicates i=101's (0, 50): ties kept, not culled
    naive = {
        (x, y)
        for (x, y) in pts
        if not any(
            (a <= x and b <= y and (a < x or b < y)) for (a, b) in pts
        )
    }
    for parts in (1, 7):
        df = spark.createDataFrame(pts, "x long, y long").repartition(parts)
        got = [(r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()]
        assert set(got) == naive
        # a genuinely multi-point frontier, with the duplicate kept twice
        assert len(naive) >= 3
        assert got.count((0, 50)) == 2


def test_earliest_arrival_requires_increasing_times(spark):
    """Temporal reachability: a -> b (t=5) -> c (t=3) is NOT a valid
    path (times must increase), but b -> c via the t=7 edge is; the
    later a->b edge (t=9) never helps. Arrival times are the foremost
    ones and the hop bound is honored."""
    from dbpedia_spotlight_spark.operators.graph import earliest_arrival

    edges = spark.createDataFrame(
        [
            ("a", "b", 5),
            ("a", "b", 9),
            ("b", "c", 3),   # before arrival at b -> unusable
            ("b", "c", 7),
            ("c", "d", 8),
            ("d", "e", 9),
        ],
        "src string, dst string, ts long",
    )
    src = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["arrival"]
        for r in earliest_arrival(edges, src, max_hops=3).collect()
    }
    # 3 hops: a(−1) -> b(5) -> c(7) -> d(8); e needs a 4th hop
    assert got == {"a": -1, "b": 5, "c": 7, "d": 8}


def test_powerlaw_alpha_recovers_known_exponent(spark):
    """MLE sanity: degrees drawn as a deterministic discrete power law
    with exponent ~2.5 (inverse-CDF over a fixed grid) recover alpha
    within 0.25 via the Clauset discrete (d_min - 1/2) form; a graph
    whose kept degrees sit below the shifted threshold's unit ratio
    keeps a positive ln sum, and the estimator is NULL only when the
    sum is non-positive."""
    from dbpedia_spotlight_spark.operators.graph import powerlaw_alpha

    # synthesize a star-forest whose hub degrees follow d = round(u^(-1/(a-1)))
    a_true = 2.5
    edges = []
    nid = 0
    for i in range(1, 400):
        u = i / 400.0
        d = max(1, int(round(u ** (-1.0 / (a_true - 1.0)))))
        hub = f"h{i}"
        for j in range(d):
            edges.append((hub, f"l{nid}"))
            nid += 1
    df = spark.createDataFrame(edges, "src string, dst string")
    r = powerlaw_alpha(df, d_min=2).collect()[0]
    assert r["alpha"] is not None and abs(r["alpha"] - a_true) < 0.25

    # all-degree-1 graph at d_min=1: ln(1/0.5) > 0, so alpha is finite
    # and equals 1 + 1/ln(2) (every node contributes the same term)
    import math

    flat = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "src string, dst string"
    )
    r2 = powerlaw_alpha(flat, d_min=1).collect()[0]
    assert abs(r2["alpha"] - (1 + 1 / math.log(2))) < 1e-6


def _circulant(spark, n=25, offs=(1, 2)):
    rows = [
        ("n%d" % i, "n%d" % ((i + o) % n)) for i in range(n) for o in offs
    ]
    return _edges(spark, rows)


def test_betweenness_sampled_exact_at_full_pivots(spark):
    """r5 error-bound pin: with sample_sources >= |V| the pair-sampled
    estimator enumerates every pivot pair, the scale factor is 1, and
    B-hat == B exactly (same triple join, reverse sigma == forward
    sigma by symmetry of the identity)."""
    from dbpedia_spotlight_spark.operators.graph import (
        betweenness_centrality,
    )

    e = _circulant(spark)
    exact = {
        r.node: r.betweenness for r in betweenness_centrality(e).collect()
    }
    sampled = {
        r.node: r.betweenness
        for r in betweenness_centrality(e, sample_sources=100).collect()
    }
    assert set(sampled) == set(exact)
    for v in exact:
        assert abs(sampled[v] - exact[v]) < 1e-6, (v, exact[v], sampled[v])


def test_betweenness_sampled_error_bound(spark):
    """With k=12 of 25 pivots on the C25(1,2) circulant, the estimator
    must land within 35% relative error of the exact (vertex-transitive
    -> every node has the same B, a tight check of the n(n-1)/(k(k-1))
    scaling), and preserve the all-equal structure to within noise."""
    from dbpedia_spotlight_spark.operators.graph import (
        betweenness_centrality,
    )

    e = _circulant(spark)
    exact = {
        r.node: r.betweenness for r in betweenness_centrality(e).collect()
    }
    sampled = {
        r.node: r.betweenness
        for r in betweenness_centrality(e, sample_sources=12).collect()
    }
    mean_exact = sum(exact.values()) / len(exact)
    mean_sampled = sum(sampled.values()) / len(sampled)
    # the estimator is unbiased over pivot pairs; the hash-pivot draw on
    # this symmetric fixture must keep the mean within 35%
    assert abs(mean_sampled - mean_exact) <= 0.35 * mean_exact, (
        mean_exact,
        mean_sampled,
    )


def test_closeness_sampled_exact_at_full_pivots(spark):
    """k >= |V| -> probe estimates equal the exact closeness/harmonic
    (and the reached/total_dist estimates equal the exact counts)."""
    from dbpedia_spotlight_spark.operators.graph import closeness_centrality

    e = _circulant(spark, n=12)
    exact = {r.node: r for r in closeness_centrality(e).collect()}
    sampled = {
        r.node: r
        for r in closeness_centrality(e, sample_sources=50).collect()
    }
    for v, ex in exact.items():
        s = sampled[v]
        assert abs(s.reached - float(ex.reached)) < 1e-9
        assert abs(s.total_dist - float(ex.total_dist)) < 1e-9
        assert abs(s.closeness - ex.closeness) < 1e-9
        assert abs(s.harmonic - ex.harmonic) < 1e-9


def test_closeness_sampled_needs_two_pivots(spark):
    """One pivot has k'(v) = 0 for itself: the estimator would divide by
    zero and coalesce the result to a fabricated 0.0, so it must raise —
    also when a larger k is clipped to a one-node graph."""
    import pytest

    from dbpedia_spotlight_spark.operators.graph import closeness_centrality

    e = _circulant(spark, n=12)
    with pytest.raises(ValueError, match=">= 2 pivots"):
        closeness_centrality(e, sample_sources=1)
    loop = _edges(spark, [("a", "a")])
    with pytest.raises(ValueError, match=">= 2 pivots"):
        closeness_centrality(loop, sample_sources=5)


def test_closeness_sampled_error_bound(spark):
    """k=8 of 12 probes: per-node scaled estimates stay within 60% of
    exact and the population means within 20% on the vertex-transitive
    circulant (every node identical, so the only error source is the
    probe draw — per-node variance at k=8 of 11 informative targets is
    real, the mean is tight)."""
    from dbpedia_spotlight_spark.operators.graph import closeness_centrality

    e = _circulant(spark, n=12)
    exact = {r.node: r for r in closeness_centrality(e).collect()}
    sampled = {
        r.node: r
        for r in closeness_centrality(e, sample_sources=8).collect()
    }
    for v, ex in exact.items():
        s = sampled[v]
        assert abs(s.harmonic - ex.harmonic) <= 0.6 * ex.harmonic + 1e-9
        assert abs(s.closeness - ex.closeness) <= 0.6 * ex.closeness + 1e-9
    for field in ("harmonic", "closeness"):
        me = sum(getattr(r, field) for r in exact.values()) / len(exact)
        ms = sum(getattr(r, field) for r in sampled.values()) / len(sampled)
        assert abs(ms - me) <= 0.2 * me, (field, me, ms)


def test_eccentricity_sampled_exact_and_lower_bound(spark):
    """r5: probe-sampled eccentricity equals exact at k >= |V| and is a
    per-node LOWER BOUND (never above exact) at any smaller k."""
    from dbpedia_spotlight_spark.operators.graph import eccentricity_profile

    e = _circulant(spark, n=12)
    exact = {r.node: r for r in eccentricity_profile(e).collect()}
    full = {
        r.node: r
        for r in eccentricity_profile(e, sample_sources=50).collect()
    }
    for v, ex in exact.items():
        assert full[v].eccentricity == ex.eccentricity
        assert full[v].reached == ex.reached
    sub = {
        r.node: r
        for r in eccentricity_profile(e, sample_sources=5).collect()
    }
    for v, ex in exact.items():
        assert sub[v].eccentricity <= ex.eccentricity
        assert sub[v].reached <= ex.reached
        assert sub[v].reached > 0  # strongly connected: every probe hit
