"""Whole-graph analytics vs plain-Python/numpy references on small graphs."""

import numpy as np
import pytest

from projet_graphdb_spark.functions import graph_algos

# a small directed graph: two components + a dangling node
#   0→1→2→0 (cycle), 3→2, 4→5, 6 isolated-with-self? (6 has no edges)
EDGES = [(0, 1), (1, 2), (2, 0), (3, 2), (4, 5)]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_bfs_levels_directed(spark, edges_df):
    out = {r["id"]: r["level"] for r in graph_algos.bfs_levels(edges_df, [3]).collect()}
    assert out == {3: 0, 2: 1, 0: 2, 1: 3}


def test_bfs_levels_undirected(spark, edges_df):
    out = {
        r["id"]: r["level"]
        for r in graph_algos.bfs_levels(edges_df, [3], directed=False).collect()
    }
    assert out == {3: 0, 2: 1, 0: 2, 1: 2}


def test_connected_components(spark, edges_df):
    out = {
        r["id"]: r["component"]
        for r in graph_algos.connected_components(edges_df).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_connected_components_long_chain_converges(spark):
    """r15 sf1-sweep regression: a component whose propagation diameter
    exceeds max_iter must still converge — plain min-label propagation
    covers only max_iter hops, so t42's 343-node image near-dup cluster
    at 10× came back SPLIT (engine max cluster 239 vs the oracle's
    converged 343).  Pointer jumping halves label-tree height per
    round, so a 120-node path (diameter 119 ≫ 20 rounds) converges to
    ONE component labelled by its min id."""
    n = 120
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = {
        r["id"]: r["component"]
        for r in graph_algos.connected_components(chain).collect()
    }
    assert len(out) == n
    assert set(out.values()) == {0}


def np_pagerank(edges, n, num_iter=10, d=0.85):
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(num_iter):
        new = np.full(n, (1 - d) / n)
        dangling = sum(r[i] for i in range(n) if out_deg[i] == 0)
        new += d * dangling / n
        for s, t in edges:
            new[t] += d * r[s] / out_deg[s]
        r = new
    return r


def test_pagerank_matches_numpy(spark, edges_df):
    got = {r["id"]: r["rank"] for r in graph_algos.pagerank(edges_df, num_iter=10).collect()}
    expect = np_pagerank(EDGES, 6)
    for i in range(6):
        assert got[i] == pytest.approx(expect[i], rel=1e-9), i
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-6)


def test_sssp_hand_checked(spark):
    from projet_graphdb_spark.functions.graph_algos import sssp

    # 1 -2-> 2 -2-> 3 ; 1 -5-> 3 : shortest 1->3 = 4 via 2
    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 3, 2.0), (1, 3, 5.0)], "src long, dst long, weight double"
    )
    out = {r["id"]: r["dist"] for r in sssp(edges, sources=[1], num_iter=5).collect()}
    assert out == {1: 0.0, 2: 2.0, 3: 4.0}, out


def test_sssp_hop_bound_semantics(spark):
    from projet_graphdb_spark.functions.graph_algos import sssp

    # chain of 3 edges; with num_iter=2 node 4 (3 hops away) is absent
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)], "src long, dst long, weight double"
    )
    out = {r["id"]: r["dist"] for r in sssp(edges, sources=[1], num_iter=2).collect()}
    assert out == {1: 0.0, 2: 1.0, 3: 2.0}, out


def _tri_counts(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["id"]: r["triangles"] for r in graph_algos.triangle_count(df).collect()}


def test_triangle_count_k4(spark):
    # K4: every vertex is in C(3,2)=3 triangles; 4 triangles total
    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    assert _tri_counts(spark, k4) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_star_and_path(spark):
    # a star and a path have no triangles at all
    star = [(0, i) for i in range(1, 6)]
    path = [(10, 11), (11, 12), (12, 13)]
    assert _tri_counts(spark, star + path) == {}


def test_triangle_count_direction_and_dups_ignored(spark):
    # reciprocal + duplicate + self-loop edges collapse to one undirected
    # triangle {0,1,2}
    noisy = [(0, 1), (1, 0), (1, 2), (1, 2), (2, 0), (2, 2)]
    assert _tri_counts(spark, noisy) == {0: 1, 1: 1, 2: 1}


def test_triangle_count_python_reference(spark):
    # pseudo-random graph vs a brute-force python count
    import itertools
    rng = np.random.default_rng(7)
    n = 30
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(120, 2)) if a != b]
    und = {frozenset(e) for e in edges}
    expect = {}
    for tri in itertools.combinations(range(n), 3):
        a, b, c = tri
        if {frozenset((a, b)), frozenset((a, c)), frozenset((b, c))} <= und:
            for v in tri:
                expect[v] = expect.get(v, 0) + 1
    assert _tri_counts(spark, edges) == expect


def _lpa_python(edges, num_iter):
    """Synchronous LPA reference: most frequent neighbour label, ties to
    the smallest label."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(num_iter):
        nxt = {}
        for v, nbrs in adj.items():
            freq = {}
            for u in nbrs:
                freq[labels[u]] = freq.get(labels[u], 0) + 1
            nxt[v] = max(freq, key=lambda l: (freq[l], -l))
        labels = nxt
    return labels


def test_label_propagation_python_reference(spark):
    from projet_graphdb_spark.functions.graph_algos import label_propagation

    rng = np.random.default_rng(11)
    n = 25
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(60, 2)) if a != b]
    for rounds in (1, 4):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["id"]: r["label"] for r in label_propagation(df, num_iter=rounds).collect()}
        assert got == _lpa_python(edges, rounds), rounds


def test_label_propagation_communities(spark):
    from projet_graphdb_spark.functions.graph_algos import label_propagation

    # two cliques bridged by one edge: each clique converges to its own
    # min label (frequency voting keeps the bridge from merging them)
    clique1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    df = spark.createDataFrame(clique1 + clique2 + [(3, 10)], "src long, dst long")
    got = {r["id"]: r["label"] for r in label_propagation(df, num_iter=4).collect()}
    assert {got[v] for v in range(4)} == {0}
    assert {got[v] for v in range(10, 14)} == {10}


def test_kcore_clique_survives_chain_peels(spark):
    from projet_graphdb_spark.functions.graph_algos import kcore

    # 5-clique (deg 4) + a 6-node path squared (P6^2: end degs 2)
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    chain = [(10 + i, 10 + i + 1) for i in range(5)] + [
        (10 + i, 10 + i + 2) for i in range(4)
    ]
    df = spark.createDataFrame(clique + chain, "src long, dst long")
    got = {r["id"]: r["core_deg"] for r in kcore(df, k=3).collect()}
    # the 3-core is exactly the clique; the P^2 chain cascades to nothing
    assert got == {v: 4 for v in range(5)}


def test_kcore_matches_networkx_style_python(spark):
    from projet_graphdb_spark.functions.graph_algos import kcore

    rng = np.random.default_rng(5)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 20, size=(60, 2)) if a != b]

    # python reference peeling
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < 3:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    expect = {v: len(nbrs) for v, nbrs in adj.items()}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["core_deg"] for r in kcore(df, k=3).collect()}
    assert got == expect


def test_degree_histogram_star(spark):
    # star: hub degree 4 (one node), leaves degree 1 (four nodes)
    e = spark.createDataFrame(
        [(0, "r", i) for i in range(1, 5)], ["src", "rel", "dst"]
    )
    got = {(r["rel"], r["degree"]): r["n_nodes"]
           for r in graph_algos.degree_histogram(e).collect()}
    assert got == {("r", 4): 1, ("r", 1): 4}


def test_clustering_coefficient_known_graph(spark):
    # triangle 1-2-3 plus pendant 3-4: cc(1)=cc(2)=1, cc(3)=1/3, 4 has deg 1
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    got = {r["id"]: (r["degree"], r["triangles"], r["cc"])
           for r in graph_algos.clustering_coefficient(e).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert 4 not in got


def test_personalized_pagerank_mass_concentrates_at_seeds(spark):
    # star: 1->2, 1->3; seed at 1. PPR must give 1 the teleport mass and
    # rank(2) == rank(3) by symmetry; total mass stays ~1
    edges = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    out = {r["id"]: r["rank"] for r in graph_algos.personalized_pagerank(
        edges, sources=[1], num_iter=20).collect()}
    assert out[2] == out[3]
    assert out[1] > out[2]
    assert abs(sum(out.values()) - 1.0) < 1e-9
    # numpy cross-check of the fixpoint: r = 0.15*p + 0.85*(M r + dang*p)
    import numpy as np
    p = np.array([1.0, 0.0, 0.0])
    r = p.copy()
    M = np.array([[0, 0, 0], [0.5, 0, 0], [0.5, 0, 0]])  # column-stochastic rows from 1
    for _ in range(20):
        dang = r[1] + r[2]  # 2 and 3 have no out-edges
        r = 0.15 * p + 0.85 * (M @ r + dang * p)
    for i, node in enumerate([1, 2, 3]):
        assert abs(out[node] - r[i]) < 1e-9


def test_feature_propagation_mean_mixing(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    feats = spark.createDataFrame(
        [(1, 0.0), (2, 6.0), (3, 0.0), (9, 42.0)], "id long, h double"
    )
    out = {r["id"]: r["h"] for r in graph_algos.feature_propagation(
        edges, feats, rounds=1).collect()}
    assert out[1] == 3.0          # ½·0 + ½·6
    assert out[2] == 3.0          # ½·6 + ½·mean(0, 0)
    assert out[3] == 3.0
    assert out[9] == 42.0         # isolated node keeps its feature


def test_modularity_perfect_communities(spark):
    # two disjoint triangles: perfect partition → Q = 2·(3/6 − (6/12)²) = 0.5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200), (6, 200)],
        "id long, label long",
    )
    out = {r["community"]: r for r in graph_algos.modularity(edges, comm).collect()}
    for c in (100, 200):
        assert out[c]["n_nodes"] == 3 and out[c]["internal_edges"] == 3
        assert out[c]["degree_sum"] == 6
        assert out[c]["q_contrib"] == 0.25


def np_hits(edges, nodes, num_iter=5):
    hub = {v: 1.0 for v in nodes}
    auth = {v: 1.0 for v in nodes}
    for _ in range(num_iter):
        araw = {v: 0.0 for v in nodes}
        for s, t in edges:
            araw[t] += hub[s]
        at = sum(araw.values())
        auth = {v: araw[v] / at for v in nodes}
        hraw = {v: 0.0 for v in nodes}
        for s, t in edges:
            hraw[s] += auth[t]
        ht = sum(hraw.values())
        hub = {v: hraw[v] / ht for v in nodes}
    return hub, auth


def test_hits_matches_python(spark, edges_df):
    nodes = sorted({v for e in EDGES for v in e})
    hub, auth = np_hits(EDGES, nodes)
    out = {r["id"]: (r["hub"], r["auth"]) for r in graph_algos.hits(edges_df).collect()}
    assert set(out) == set(nodes)
    for v in nodes:
        assert out[v][0] == pytest.approx(hub[v], abs=1e-9)
        assert out[v][1] == pytest.approx(auth[v], abs=1e-9)


def test_hits_chain_hub_authority_split(spark):
    # path a→b→c: a is the only pure hub over b, c the deepest authority
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    out = {r["id"]: r for r in graph_algos.hits(e, num_iter=3).collect()}
    assert out[0]["auth"] == 0.0 and out[2]["hub"] == 0.0
    assert out[0]["hub"] > 0 and out[2]["auth"] > 0


def test_link_prediction_square(spark):
    # square 0-1-2-3-0 (undirected): diagonals (0,2) and (1,3) share 2
    # common neighbours each, jaccard = 2/(2+2-2) = 1.0,
    # adamic_adar = 2/ln(2); adjacent pairs share 0 → absent
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    rows = {(r["u"], r["v"]): r for r in graph_algos.link_prediction(e).collect()}
    assert set(rows) == {(0, 2), (1, 3)}
    for r in rows.values():
        assert r["common"] == 2
        assert r["jaccard"] == pytest.approx(1.0)
        assert r["adamic_adar"] == pytest.approx(round(2 / np.log(2), 6))


def test_link_prediction_excludes_existing_and_directions(spark):
    # triangle 0-1-2 plus pendant 3 attached to 0: (1,3) and (2,3) are
    # candidate pairs via middle 0; (1,2) is an existing edge → excluded
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    rows = {(r["u"], r["v"]): r for r in graph_algos.link_prediction(e).collect()}
    assert set(rows) == {(1, 3), (2, 3)}
    for r in rows.values():
        assert r["common"] == 1
        # N(3)={0} deg 1, N(1)=N(2) deg 2 → 1/(2+1-1)
        assert r["jaccard"] == pytest.approx(0.5)


def test_landmark_closeness_path_graph(spark):
    # path 0-1-2-3 undirected, landmarks {0, 3}: node 1 → dists (1, 2);
    # node 0 → (0, 3); all reach both landmarks
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    out = {r["id"]: r for r in
           graph_algos.landmark_closeness(e, landmarks=[0, 3]).collect()}
    assert all(out[v]["n_reached"] == 2 for v in (0, 1, 2, 3))
    assert out[1]["sum_dist"] == 3 and out[2]["sum_dist"] == 3
    assert out[0]["sum_dist"] == 3
    assert out[1]["closeness"] == pytest.approx(round(2 / 3, 6))


def test_landmark_closeness_disconnected(spark):
    # two components; landmark only in the first → second absent
    e = spark.createDataFrame([(0, 1), (5, 6)], "src long, dst long")
    out = {r["id"]: r for r in
           graph_algos.landmark_closeness(e, landmarks=[0]).collect()}
    assert set(out) == {0, 1}
    assert out[0]["closeness"] == 0.0  # the landmark itself: dist 0
    assert out[1]["closeness"] == pytest.approx(1.0)


def test_random_walks_follow_edges_and_repeat(spark):
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    starts = spark.createDataFrame([(0,), (2,)], "id long")
    a = sorted((r["start"], r["step"], r["node"])
               for r in graph_algos.random_walks(e, starts, steps=3).collect())
    b = sorted((r["start"], r["step"], r["node"])
               for r in graph_algos.random_walks(e, starts, steps=3).collect())
    assert a == b                                    # fully deterministic
    rows = {(s, t): node for s, t, node in a}
    # every start emits steps 0..3 (cycle graph: no sinks)
    assert len(a) == 2 * 4
    und = {(0, 1), (1, 2), (2, 3), (3, 0)}
    und |= {(b_, a_) for a_, b_ in und}
    for (s, t), node in rows.items():
        if t > 0:
            assert (rows[(s, t - 1)], node) in und   # hop uses a real edge
    assert rows[(0, 0)] == 0 and rows[(2, 0)] == 2


def test_mis_independent_and_maximal(spark):
    rng = np.random.default_rng(3)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 25, size=(60, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    mis = {r["id"] for r in graph_algos.maximal_independent_set(df).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independent: no two MIS members adjacent
    for v in mis:
        assert not (adj[v] & mis), v
    # maximal: every non-member has a MIS neighbour
    for v in set(adj) - mis:
        assert adj[v] & mis, v


def test_mis_path_graph_rounds(spark):
    # path 0-1-2: either {1} (if 1 wins) or {0, 2}; determinism pinned
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    a = sorted((r["id"], r["round"]) for r in
               graph_algos.maximal_independent_set(e).collect())
    b = sorted((r["id"], r["round"]) for r in
               graph_algos.maximal_independent_set(e).collect())
    assert a == b and len(a) in (1, 2)


def test_topo_layers_dag_and_cycle(spark):
    # diamond DAG 1→2, 1→3, 2→4, 3→4 (peeling on in-edges: 1 peels last)
    # plus a 2-cycle {8, 9}
    e = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (4, 3), (8, 9), (9, 8)], "src long, dst long"
    )
    out = {r["id"]: (r["layer"], r["cyclic"])
           for r in graph_algos.topo_layers(e).collect()}
    assert out[4] == (0, False)            # no incoming edges
    assert out[2] == (1, False) and out[3] == (1, False)
    assert out[1] == (2, False)
    assert out[8] == (None, True) and out[9] == (None, True)


def test_maximal_matching_valid_and_maximal(spark):
    rng = np.random.default_rng(23)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 20, size=(50, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    m = [(r["u"], r["v"]) for r in graph_algos.maximal_matching(df).collect()]
    used = [x for e in m for x in e]
    assert len(used) == len(set(used))            # a matching: no shared vertex
    und = {frozenset(e) for e in edges}
    assert all(frozenset(e) in und for e in m)    # real edges only
    # maximal: no live edge remains with both endpoints unmatched
    matched = set(used)
    for a, b in und:
        assert a in matched or b in matched


def test_ktruss_peels_bridge_keeps_clique(spark):
    # K4 (every edge in 2 triangles) + a bridge edge to a pendant: the
    # 3-truss keeps K4 (support >= 1), peels the bridge; the 4-truss
    # (k=4, support >= 2) also keeps exactly K4
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    e = spark.createDataFrame(k4 + [(3, 9)], "src long, dst long")
    t3 = {(r["u"], r["v"]): r["support"] for r in graph_algos.ktruss(e, k=3).collect()}
    assert set(t3) == set(k4)
    assert all(s == 2 for s in t3.values())
    t4 = {(r["u"], r["v"]) for r in graph_algos.ktruss(e, k=4).collect()}
    assert t4 == set(k4)


def test_ktruss_cascade(spark):
    # triangle chain: {0,1,2} and {2,3,4} share only vertex 2; a 4-truss
    # requires support >= 2 -> everything cascades away
    tri2 = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)]
    e = spark.createDataFrame(tri2, "src long, dst long")
    assert graph_algos.ktruss(e, k=4, max_rounds=5).count() == 0


# Every algorithm that loops on the superstep driver, on one small
# weighted graph with triangles, a chain, a 2-cycle and a DAG tail.
SINK_EDGES = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4), (4, 5), (5, 4), (2, 6), (1, 6)]
SINK_CASES = {
    "bfs_levels": lambda s, e: graph_algos.bfs_levels(e, [0], directed=False),
    "pagerank": lambda s, e: graph_algos.pagerank(e, num_iter=4),
    "sssp": lambda s, e: graph_algos.sssp(e, [0], num_iter=4),
    "connected_components": lambda s, e: graph_algos.connected_components(e),
    "label_propagation": lambda s, e: graph_algos.label_propagation(e, num_iter=3),
    "kcore": lambda s, e: graph_algos.kcore(e, k=2),
    "personalized_pagerank": lambda s, e: graph_algos.personalized_pagerank(e, [0, 4], num_iter=4),
    "feature_propagation": lambda s, e: graph_algos.feature_propagation(
        e, s.createDataFrame([(i, i / 7) for i in range(7)], "id long, h double")
    ),
    "feature_propagation_double": lambda s, e: graph_algos.feature_propagation(
        e, s.createDataFrame([(i, i / 7) for i in range(7)], "id long, h double"), alpha=0.3
    ),
    "hits": lambda s, e: graph_algos.hits(e, num_iter=3),
    "landmark_closeness": lambda s, e: graph_algos.landmark_closeness(e, [0, 5]),
    "random_walks": lambda s, e: graph_algos.random_walks(
        e, s.createDataFrame([(0,), (4,)], "id long"), steps=3
    ),
    "maximal_independent_set": lambda s, e: graph_algos.maximal_independent_set(e),
    "topo_layers": lambda s, e: graph_algos.topo_layers(e),
    "maximal_matching": lambda s, e: graph_algos.maximal_matching(e),
    "ktruss": lambda s, e: graph_algos.ktruss(e, k=3),
    "star_unbounded": lambda s, e: _star(s, "*"),
    "star_bounded": lambda s, e: _star(s, "*2..3"),
}


def _star(spark, hops):
    from projet_graphdb_spark.engine import binding_table, run_program

    prog = "(:N {v int})\n(:N) -[:next]-> (:N)\n"
    prog += "create (a: N) -[:next]-> (b: N)\ncreate (b) -[:next]-> (c: N)\n"
    prog += "create (c) -[:next]-> (d: N)\ncreate (d) -[:next]-> (b)\n"
    _, b = run_program(spark, prog + f"match (x: N) -[:next{hops}]-> (y: N) return x, y")
    return binding_table(b)


@pytest.mark.parametrize("name", sorted(SINK_CASES))
def test_sink_backed_mode_frees_unread_sinks(spark, tmp_path, monkeypatch, name):
    """With SPARK_GRAFT_CKPT_DIR set, an iterative call returns the rows of
    the default mode and leaves behind only the sink directories its
    result frame reads: every other barrier and round checkpoint is
    deleted on exit."""
    import os
    from urllib.parse import unquote, urlparse

    e = spark.createDataFrame(
        [(s, d, 1.0 + (s * d) % 3) for s, d in SINK_EDGES], "src long, dst long, weight double"
    )
    want = sorted(map(tuple, SINK_CASES[name](spark, e).collect()))
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path))
    out = SINK_CASES[name](spark, e)
    read = {os.path.dirname(unquote(urlparse(f).path)) for f in out.inputFiles()}
    left = {str(p) for p in tmp_path.iterdir()}
    assert left <= read, left - read
    assert sorted(map(tuple, out.collect())) == want
