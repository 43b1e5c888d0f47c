import itertools
import random

import pytest

from phenobert_spark.operators.closure import bfs_distances
from phenobert_spark.operators.kg_metrics import triangle_count


def _bfs_ref(edges, sources):
    """Driver-side BFS reference."""
    adj = {}
    for s, t in edges:
        adj.setdefault(s, []).append(t)
    dist = {s: 0 for s in sources}
    frontier = list(sources)
    d = 0
    while frontier:
        d += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist


def test_bfs_min_distance_on_diamond(spark):
    # two paths of different length to the same node: BFS must record
    # the SHORTER one (1 -> 5 direct vs 1 -> 2 -> 3 -> 5)
    edges = [(1, 2), (2, 3), (3, 5), (1, 5), (5, 6), (7, 8)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    s = spark.createDataFrame([(1,)], "node bigint")
    got = {r.node: r.dist for r in bfs_distances(e, s).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 5: 1, 6: 2}
    # node 7/8 unreachable -> absent, not dist=null


def test_bfs_multi_source_and_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(60))
    edges = [
        (a, b)
        for a in nodes
        for b in nodes
        if a != b and rng.random() < 0.04
    ]
    sources = [0, 1, 2]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    s = spark.createDataFrame([(x,) for x in sources], "node bigint")
    got = {r.node: r.dist for r in bfs_distances(e, s).collect()}
    assert got == _bfs_ref(edges, sources)


def test_bfs_raises_past_iteration_budget(spark):
    chain = [(i, i + 1) for i in range(10)]
    e = spark.createDataFrame(chain, "src bigint, dst bigint")
    s = spark.createDataFrame([(0,)], "node bigint")
    with pytest.raises(RuntimeError, match="max_iters"):
        bfs_distances(e, s, max_iters=3)


def _tri_ref(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = dict.fromkeys(adj, 0)
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    return {
        n: (len(adj[n]), tri[n]) for n in adj
    }


def test_triangles_k4_and_star(spark):
    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    star = [(100, x) for x in range(101, 106)]
    # duplicate + reversed + self-loop edges must be normalized away
    noisy = k4 + star + [(2, 1), (3, 3), (1, 2)]
    e = spark.createDataFrame(noisy, "src bigint, dst bigint")
    got = {r.node: r for r in triangle_count(e).collect()}
    for n in [1, 2, 3, 4]:
        assert got[n].degree == 3
        assert got[n].triangles == 3  # K4: C(3,2) triangles per node
        assert abs(got[n].clustering - 1.0) < 1e-12
    assert got[100].degree == 5 and got[100].triangles == 0
    assert got[100].clustering == 0.0
    for n in range(101, 106):
        assert got[n].degree == 1 and got[n].triangles == 0


def test_triangles_match_brute_force_random(spark):
    rng = random.Random(13)
    edges = [
        (a, b)
        for a in range(40)
        for b in range(40)
        if a < b and rng.random() < 0.12
    ]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r.node: (r.degree, r.triangles) for r in triangle_count(e).collect()
    }
    assert got == _tri_ref(edges)


def test_transitive_reduction_drops_exactly_the_shortcuts(spark):
    from phenobert_spark.operators.closure import transitive_reduction

    # chain a->b->c->d plus every shortcut; reduction = the chain.
    chain = [("a", "b"), ("b", "c"), ("c", "d")]
    shortcuts = [("a", "c"), ("a", "d"), ("b", "d")]
    # plus a disconnected minimal edge that must survive untouched
    extra = [("x", "y")]
    edges = spark.createDataFrame(
        chain + shortcuts + extra, "child string, parent string"
    )
    out = {(r.child, r.parent) for r in transitive_reduction(edges).collect()}
    assert out == set(chain + extra)


def test_transitive_reduction_keeps_diamond_sides(spark):
    from phenobert_spark.operators.closure import transitive_reduction

    # diamond a->{b,c}->d: no edge is implied by a longer path,
    # so the reduction is the identity.
    edges_l = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(edges_l, "child string, parent string")
    out = {(r.child, r.parent) for r in transitive_reduction(edges).collect()}
    assert out == set(edges_l)


def test_cyclic_nodes_finds_exactly_the_cycle_members(spark):
    from phenobert_spark.operators.closure import cyclic_nodes

    # a -> b -> c -> a (cycle) ; d -> a (on-ramp, NOT on the cycle) ;
    # e -> f (clean chain)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("e", "f")],
        "child string, parent string",
    )
    got = {r.node for r in cyclic_nodes(edges).collect()}
    assert got == {"a", "b", "c"}


def test_cyclic_nodes_empty_on_dag_and_self_loop(spark):
    from phenobert_spark.operators.closure import cyclic_nodes

    dag = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "child string, parent string"
    )
    assert cyclic_nodes(dag).count() == 0
    loop = spark.createDataFrame(
        [("x", "x"), ("x", "y")], "child string, parent string"
    )
    assert {r.node for r in cyclic_nodes(loop).collect()} == {"x"}


def test_cyclic_nodes_accepts_precomputed_closure(spark):
    from phenobert_spark.operators.closure import (
        cyclic_nodes,
        transitive_closure,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "child string, parent string"
    )
    cl = transitive_closure(edges)
    got = {r.node for r in cyclic_nodes(edges, closure=cl).collect()}
    assert got == {"a", "b"}


def test_transitive_closure_warns_when_truncated(spark):
    import warnings

    from phenobert_spark.operators.closure import transitive_closure

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(8)], "child string, parent string"
    )
    with pytest.warns(RuntimeWarning, match="max_iters=2"):
        assert transitive_closure(edges, max_iters=2).count() < 36
    with warnings.catch_warnings():
        warnings.filterwarnings("error", "transitive_closure", RuntimeWarning)
        assert transitive_closure(edges).count() == 36


def _scc_ref(edges):
    """Driver-side Tarjan reference: node -> min-id of its SCC."""
    import sys

    adj = {}
    nodes = set()
    for s, t in edges:
        adj.setdefault(s, []).append(t)
        nodes.add(s)
        nodes.add(t)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]
    sys.setrecursionlimit(10000)

    def strongconnect(v):
        index[v] = low[v] = counter[0]
        counter[0] += 1
        stack.append(v)
        on_stack.add(v)
        for w in adj.get(v, []):
            if w not in index:
                strongconnect(w)
                low[v] = min(low[v], low[w])
            elif w in on_stack:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            members = []
            while True:
                w = stack.pop()
                on_stack.discard(w)
                members.append(w)
                if w == v:
                    break
            root = min(members)
            for w in members:
                comp[w] = root

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    return comp


def test_scc_mixed_sizes(spark):
    from phenobert_spark.operators.closure import (
        strongly_connected_components,
    )

    # 3-cycle a-b-c, 2-cycle d-e, bridge node f BETWEEN the two
    # cycles (survives trim but is its own singleton SCC), and an
    # acyclic tail g->h trimmed in round one.
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("a", "f"), ("f", "d"),
        ("d", "e"), ("e", "d"),
        ("d", "f2"), ("f2", "a"),  # f/f2 both on inter-cycle paths
        ("g", "h"), ("h", "a"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.component
        for r in strongly_connected_components(e).collect()
    }
    assert got == _scc_ref(edges)
    # the bridge path f -> d ... f2 -> a closes a giant cycle through
    # both small cycles, so double-check the reference itself sees it:
    assert got["f"] == got["a"] == got["d"] == got["e"]
    assert got["g"] == "g" and got["h"] == "h"


def test_scc_random_matches_tarjan(spark):
    # string labels: the operator canonicalizes node ids AS STRINGS
    # (min is lexicographic), so the reference must see the same keys
    rng = random.Random(29)
    edges = list(
        {
            (rng.randrange(30), rng.randrange(30))
            for _ in range(70)
        }
    )
    edges = [
        (f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    from phenobert_spark.operators.closure import (
        strongly_connected_components,
    )

    got = {
        r.node: r.component
        for r in strongly_connected_components(e).collect()
    }
    assert got == {k: v for k, v in _scc_ref(edges).items()}


def test_scc_pure_dag_all_singletons(spark):
    from phenobert_spark.operators.closure import (
        strongly_connected_components,
    )

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.component
        for r in strongly_connected_components(e).collect()
    }
    assert got == {x: x for x in "abcd"}


def _support_ref(edges):
    """Brute-force per-edge triangle support."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    sup = {e: 0 for e in und}
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) not in und:
                continue
            for z in nodes:
                if z <= y:
                    continue
                if (x, z) in und and (y, z) in und:
                    sup[(x, y)] += 1
                    sup[(x, z)] += 1
                    sup[(y, z)] += 1
    return sup


def test_edge_support_k4_plus_tail(spark):
    from phenobert_spark.operators.kg_metrics import edge_triangle_support

    # K4: every edge sits in exactly 2 triangles; pendant edge 4-5: 0.
    edges = list(itertools.combinations(range(4), 2)) + [(3, 4)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.u, r.v): r.support for r in edge_triangle_support(e).collect()}
    assert got == _support_ref(edges)
    assert got[(0, 1)] == 2 and got[(3, 4)] == 0


def test_edge_support_random_brute(spark):
    rng = random.Random(41)
    edges = [
        (a, b)
        for a in range(25)
        for b in range(25)
        if a < b and rng.random() < 0.2
    ]
    from phenobert_spark.operators.kg_metrics import edge_triangle_support

    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.u, r.v): r.support for r in edge_triangle_support(e).collect()}
    assert got == _support_ref(edges)


def _truss_ref(edges, k):
    """Reference peel for the maximal k-truss."""
    cur = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        sup = _support_ref(list(cur))
        nxt = {e for e in cur if sup[e] >= k - 2}
        if nxt == cur:
            return cur
        cur = nxt


def test_k_truss_peels_to_the_clique(spark):
    from phenobert_spark.operators.kg_metrics import k_truss

    # K4 core + a triangle hanging off node 3 + a chain: the 4-truss
    # is exactly the K4 (each K4 edge has support 2 within it); the
    # hanging triangle survives only at k=3.
    k4 = list(itertools.combinations(range(4), 2))
    tri = [(3, 10), (3, 11), (10, 11)]
    chain = [(11, 12), (12, 13)]
    edges = k4 + tri + chain
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got4 = {(r.u, r.v) for r in k_truss(e, k=4).collect()}
    assert got4 == set(k4) == _truss_ref(edges, 4)
    got3 = {(r.u, r.v) for r in k_truss(e, k=3).collect()}
    assert got3 == set(k4) | set(tri) == _truss_ref(edges, 3)


def test_k_truss_random_and_validations(spark):
    from phenobert_spark.operators.kg_metrics import k_truss

    rng = random.Random(53)
    edges = [
        (a, b)
        for a in range(18)
        for b in range(18)
        if a < b and rng.random() < 0.3
    ]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.u, r.v) for r in k_truss(e, k=4).collect()}
    assert got == _truss_ref(edges, 4)
    with pytest.raises(ValueError):
        k_truss(e, k=1)


def _wl_ref(edges, rounds, labels=None):
    """Driver-side 1-WL twin (md5 colors, sorted neighbor multiset)."""
    import hashlib

    und = {tuple(sorted(map(str, e))) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    color = {n: (labels or {}).get(n, "0") for n in adj}
    for _ in range(rounds):
        color = {
            n: hashlib.md5(
                (
                    color[n] + "|" + ",".join(sorted(color[m] for m in adj[n]))
                ).encode()
            ).hexdigest()
            for n in adj
        }
    return color


def test_wl_separates_structural_roles(spark):
    from phenobert_spark.operators.kg_metrics import wl_refinement

    # path a-b-c-d: endpoints {a,d} converge to one color, inner
    # {b,c} to another; star center differs from its leaves.
    edges = [("a", "b"), ("b", "c"), ("c", "d"),
             ("s", "l1"), ("s", "l2"), ("s", "l3")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.color for r in wl_refinement(e, rounds=3).collect()}
    assert got == _wl_ref(edges, 3)
    assert got["a"] == got["d"] and got["b"] == got["c"]
    assert got["a"] != got["b"]
    assert got["l1"] == got["l2"] == got["l3"] != got["s"]
    # 1-WL blind spot stays blind: a path endpoint and a star leaf
    # both see degree-1 -> degree-3?  No: after round 2 the leaf sees
    # the center's degree-3 signature, the endpoint a degree-2 one.
    assert got["a"] != got["l1"]


def test_wl_label_seed_and_random_graph(spark):
    from phenobert_spark.operators.kg_metrics import wl_refinement

    rng = random.Random(61)
    edges = [
        (f"v{a}", f"v{b}")
        for a in range(20)
        for b in range(20)
        if a < b and rng.random() < 0.15
    ]
    labels = {f"v{i}": str(i % 3) for i in range(20)}
    e = spark.createDataFrame(edges, "src string, dst string")
    lab = spark.createDataFrame(
        list(labels.items()), "node string, label string"
    )
    got = {
        r.node: r.color
        for r in wl_refinement(e, rounds=2, labels=lab).collect()
    }
    assert got == _wl_ref(edges, 2, labels)
    with pytest.raises(ValueError):
        wl_refinement(e, rounds=0)


def _topo_ref(edges):
    """Longest path from any source, per node."""
    nodes = {x for e in edges for x in e}
    incoming = {n: [] for n in nodes}
    for u, v in edges:
        incoming[v].append(u)
    memo = {}

    def depth(v):
        if v not in memo:
            memo[v] = (
                0
                if not incoming[v]
                else 1 + max(depth(u) for u in incoming[v])
            )
        return memo[v]

    return {n: depth(n) for n in nodes}


def test_topo_layers_chain_diamond_and_mixed_sources(spark):
    from phenobert_spark.operators.closure import topo_layers

    # diamond with a long side: d must layer at 3 (longest path),
    # not 1 (shortest); x is an extra source feeding mid-chain.
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("x", "c")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.layer for r in topo_layers(e).collect()}
    assert got == _topo_ref(edges)
    assert got["d"] == 3 and got["x"] == 0 and got["c"] == 2


def test_topo_layers_random_dag(spark):
    from phenobert_spark.operators.closure import topo_layers

    rng = random.Random(67)
    edges = [
        (f"n{a:02d}", f"n{b:02d}")
        for a in range(25)
        for b in range(25)
        if a < b and rng.random() < 0.12
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.layer for r in topo_layers(e).collect()}
    assert got == _topo_ref(edges)


def test_topo_layers_cycle_raises(spark):
    from phenobert_spark.operators.closure import topo_layers

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="cycle"):
        topo_layers(e, max_iters=10)


def test_pathsim_hand_fixture(spark):
    from phenobert_spark.operators.kg_metrics import pathsim_topk

    # B(x)={1,2,3}, B(y)={1,2}, B(z)={3,9}:
    # pathsim(x,y)=2*2/5=0.8  pathsim(x,z)=2*1/5=0.4  pathsim(y,z)=0
    edges = [("x", 1), ("x", 2), ("x", 3), ("y", 1), ("y", 2),
             ("z", 3), ("z", 9)]
    e = spark.createDataFrame(edges, "a string, b bigint")
    got = {
        (r.anchor, r.partner): (r.common_b, r.pathsim, r.rank)
        for r in pathsim_topk(e, k=5).collect()
    }
    assert got[("x", "y")] == (2, pytest.approx(0.8), 1)
    assert got[("x", "z")] == (1, pytest.approx(0.4), 2)
    assert got[("y", "x")][2] == 1 and ("y", "z") not in got
    # duplicate bipartite edges must NOT inflate counts
    e_dup = spark.createDataFrame(edges + edges, "a string, b bigint")
    got_dup = {
        (r.anchor, r.partner): (r.common_b, r.pathsim, r.rank)
        for r in pathsim_topk(e_dup, k=5).collect()
    }
    assert got_dup == got
    with pytest.raises(ValueError):
        pathsim_topk(e, k=0)


def test_pathsim_hot_b_cap(spark):
    from phenobert_spark.operators.kg_metrics import pathsim_topk

    # b=99 touches every a (a template page); capping it removes the
    # spurious all-pairs similarity it manufactures.
    base = [("x", 1), ("y", 1), ("z", 2)]
    hot = [(a, 99) for a in ("x", "y", "z", "w")]
    e = spark.createDataFrame(base + hot, "a string, b bigint")
    uncapped = pathsim_topk(e, k=10)
    assert uncapped.filter("anchor = 'w'").count() == 3
    capped = {
        (r.anchor, r.partner): r.common_b
        for r in pathsim_topk(e, k=10, max_b_degree=3).collect()
    }
    assert capped == {("x", "y"): 1, ("y", "x"): 1}


def test_two_sweep_diameter_exact_on_tree(spark):
    from phenobert_spark.operators.kg_metrics import two_sweep_diameter

    #      1
    #     / \
    #    2   3
    #   /     \
    #  4       5
    #  |       |
    #  6       7   -> diameter = 6 (path 6-4-2-1-3-5-7)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 5), (4, 6), (5, 7)], "src long, dst long"
    )
    r = two_sweep_diameter(edges).collect()[0]
    assert r.pivot == 1
    assert r.far_node in (6, 7)
    assert r.diameter_lb == 6
    assert r.n_reached == 7


def test_two_sweep_diameter_chain_pivot_midway(spark):
    from phenobert_spark.operators.kg_metrics import two_sweep_diameter

    # chain 10-20-5-30-40: pivot is 5 (middle), diameter 4
    edges = spark.createDataFrame(
        [(10, 20), (20, 5), (5, 30), (30, 40)], "src long, dst long"
    )
    r = two_sweep_diameter(edges).collect()[0]
    assert r.pivot == 5
    assert r.diameter_lb == 4 and r.n_reached == 5


def test_two_sweep_diameter_disconnected_uses_pivot_component(spark):
    from phenobert_spark.operators.kg_metrics import two_sweep_diameter

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (100, 200)], "src long, dst long"
    )
    r = two_sweep_diameter(edges).collect()[0]
    assert r.pivot == 1 and r.diameter_lb == 2 and r.n_reached == 3
