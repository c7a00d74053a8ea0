"""Graph operators (r8): integer micro-unit PageRank and exact triangle
counts — each checked against a from-scratch python replay on fixtures
small enough to reason about and adversarial enough to matter."""

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from sparsity_spark.operators.graph import pagerank, symmetrize_edges, triangle_count


def _py_pagerank(edge_list, iterations=3, unit=1_000_000, damping_pct=85):
    """Reference replay: same integer floors, plain dicts."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edge_list:
        deg[s] += 1
    ranks = {n: unit for n in deg}
    base = (unit * (100 - damping_pct)) // 100
    for _ in range(iterations):
        acc = defaultdict(int)
        for s, d in edge_list:
            acc[d] += ranks[s] // deg[s]
        ranks = {n: base + (damping_pct * c) // 100 for n, c in acc.items()}
    return ranks


def _sym(pairs):
    out = sorted({(str(a), str(b)) for a, b in pairs})
    return out + [(b, a) for a, b in out]


def test_pagerank_matches_integer_replay_star_plus_chain(spark):
    # star center 0 with leaves 1..5, plus a chain 5-6-7: hub must rank top
    pairs = [(0, i) for i in range(1, 6)] + [(5, 6), (6, 7)]
    edges = spark.createDataFrame(pairs, "a long, b long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank(symmetrize_edges(edges, "a", "b"), iterations=3).collect()
    }
    want = _py_pagerank(_sym(pairs), iterations=3)
    assert got == want
    assert max(got, key=got.get) == "0"


def test_pagerank_checkpoint_and_damping_contract(spark):
    pairs = [(1, 2), (2, 3), (3, 1)]
    edges = symmetrize_edges(spark.createDataFrame(pairs, "a long, b long"), "a", "b")
    plain = {r["node"]: r["rank_micro"] for r in pagerank(edges, iterations=4).collect()}
    ckpt = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, iterations=4, checkpoint_every=2).collect()
    }
    assert plain == ckpt  # bounded lineage never changes values
    # symmetric 3-cycle: every node identical by symmetry
    assert len(set(plain.values())) == 1
    with pytest.raises(ValueError):
        pagerank(edges, damping_pct=0)


def _py_triangles(pairs):
    from collections import defaultdict

    nodes = sorted({str(n) for p in pairs for n in p})
    adj = {n: set() for n in nodes}
    for a, b in pairs:
        a, b = str(a), str(b)
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    counts = defaultdict(int)
    for a, b, c in combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            counts[a] += 1
            counts[b] += 1
            counts[c] += 1
    return dict(counts)


def test_triangle_count_matches_bruteforce(spark):
    # K4 on {1,2,3,4} (every node in 3 triangles) + pendant 5 + an isolated
    # edge (6,7): pendants and triangle-free nodes must NOT appear
    pairs = list(combinations([1, 2, 3, 4], 2)) + [(4, 5), (6, 7)]
    edges = symmetrize_edges(spark.createDataFrame(pairs, "a long, b long"), "a", "b")
    got = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert got == _py_triangles(pairs) == {"1": 3, "2": 3, "3": 3, "4": 3}


def test_triangle_count_randomized_vs_bruteforce(spark):
    # deterministic pseudo-random graph on 12 nodes, ~40% density —
    # includes string-order traps ("10" < "2" lexicographically)
    import hashlib

    nodes = list(range(1, 13))
    pairs = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if int(hashlib.md5(f"{a}-{b}".encode()).hexdigest(), 16) % 5 < 2
    ]
    edges = symmetrize_edges(spark.createDataFrame(pairs, "a long, b long"), "a", "b")
    got = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert got == _py_triangles(pairs)


def _py_ppr(edge_list, seed_nodes, iterations=3, unit=1_000_000, damping_pct=85):
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edge_list:
        deg[s] += 1
    seeds = {str(x) for x in seed_nodes} & set(deg)
    n, s = len(deg), len(seeds)
    r = {v: (n * unit) // s for v in seeds}
    base = ((100 - damping_pct) * n * unit) // (100 * s)
    for _ in range(iterations):
        acc = defaultdict(int)
        for u, v in edge_list:
            if u in r:
                acc[v] += r[u] // deg[u]
        nxt = {v: (damping_pct * c) // 100 for v, c in acc.items()}
        for v in seeds:
            nxt[v] = nxt.get(v, 0) + base
        r = nxt
    return r


def test_personalized_pagerank_matches_replay_and_locality(spark):
    """r8 PPR: equals the python integer replay; seed-adjacent nodes
    out-rank distant ones; nodes unreachable within the horizon are
    absent; a seed set with no graph member raises."""
    import pytest as _pytest

    from sparsity_spark.operators.graph import personalized_pagerank, symmetrize_edges

    # two communities bridged by one edge, plus an isolated pair (8,9)
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (8, 9)]
    edges = symmetrize_edges(spark.createDataFrame(pairs, "a long, b long"), "a", "b")
    seeds = spark.createDataFrame([(1,), (2,)], "node long").select(
        F.col("node").cast("string").alias("node")
    )
    got = {
        r["node"]: r["rank_micro"]
        for r in personalized_pagerank(edges, seeds, iterations=3).collect()
    }
    want = _py_ppr(_sym(pairs), [1, 2], iterations=3)
    assert got == want
    assert got["1"] > got["5"] and got["2"] > got["6"]
    assert "8" not in got and "9" not in got  # unreachable from seeds

    with _pytest.raises(ValueError):
        personalized_pagerank(
            edges, spark.createDataFrame([("77",)], "node string"), iterations=1
        )


def _py_hits(edge_list, iterations=2, unit=1_000_000):
    from collections import defaultdict

    edges = sorted({(str(a), str(b)) for a, b in edge_list})
    h = {u: unit for u, _ in edges}
    a = {}
    for _ in range(iterations):
        acc = defaultdict(int)
        for u, v in edges:
            if u in h:
                acc[v] += h[u]
        m = max(acc.values()) if acc else 1
        a = {v: (x * unit) // m for v, x in acc.items()}
        acc = defaultdict(int)
        for u, v in edges:
            if v in a:
                acc[u] += a[v]
        m = max(acc.values()) if acc else 1
        h = {u: (x * unit) // m for u, x in acc.items()}
    return h, a


def test_hits_matches_replay_and_semantics(spark):
    """r8 HITS: equals the python integer replay on a bipartite star
    (authority concentrates on the supplier every hub buys from; the
    top authority pins at exactly `unit` after rescale); directed edges
    only — the pure-source hubs carry no authority."""
    from sparsity_spark.operators.graph import hits

    # customers 1..4 all buy from supplier 100; customers 1,2 also from 200
    pairs = [(1, 100), (2, 100), (3, 100), (4, 100), (1, 200), (2, 200)]
    edges = spark.createDataFrame(pairs, "src long, dst long").select(
        F.col("src").cast("string").alias("src"), F.col("dst").cast("string").alias("dst")
    )
    out = hits(edges, iterations=2).collect()
    got_h = {r["node"]: r["hub_micro"] for r in out if r["hub_micro"] is not None}
    got_a = {r["node"]: r["auth_micro"] for r in out if r["auth_micro"] is not None}
    want_h, want_a = _py_hits(pairs)
    assert got_h == want_h and got_a == want_a
    assert got_a["100"] == 1_000_000 and got_a["100"] > got_a["200"]
    assert set(got_a) == {"100", "200"}  # pure hubs have no authority
    assert got_h["1"] == got_h["2"] > got_h["3"] == got_h["4"]


def test_random_walks_deterministic_and_edge_following(spark):
    """r8 walks: every hop follows a real edge; step 0 is the start;
    repartitioning changes nothing (md5 picks, no RNG); a dead-end start
    emits only step 0; each (start, step) has at most one row."""
    import hashlib

    from sparsity_spark.operators.graph import random_walks, symmetrize_edges

    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)]
    edges = symmetrize_edges(spark.createDataFrame(pairs, "a long, b long"), "a", "b")
    starts = spark.createDataFrame([("1",), ("3",), ("99",)], "node string")
    got = random_walks(edges, starts, steps=4).toPandas()

    adj = {}
    for a, b in pairs:
        adj.setdefault(str(a), set()).add(str(b))
        adj.setdefault(str(b), set()).add(str(a))
    for start in ("1", "3"):
        w = got[got.start == start].sort_values("step")
        assert list(w["step"]) == [0, 1, 2, 3, 4]
        nodes = list(w["node"])
        assert nodes[0] == start
        for prev, nxt in zip(nodes, nodes[1:]):
            assert nxt in adj[prev]
        # replay the hash pick for step 1
        nbrs = sorted(adj[start])
        h = int(hashlib.md5(f"{start}|1|{start}".encode()).hexdigest()[:15], 16)
        assert nodes[1] == nbrs[h % len(nbrs)]
    assert list(got[got.start == "99"]["step"]) == [0]  # not a graph node

    again = random_walks(edges.repartition(7), starts, steps=4).toPandas()
    a = got.sort_values(["start", "step"]).reset_index(drop=True)
    b = again.sort_values(["start", "step"]).reset_index(drop=True)
    assert a.equals(b)


def test_walk_skipgram_pairs_window_and_counts(spark):
    """r8 skip-gram pairs: hand-checked windowed pairs on a fixed
    two-walk corpus — symmetric counts, window bound respected, pairs
    never cross walks."""
    from sparsity_spark.operators.graph import walk_skipgram_pairs

    rows = [  # walk A: x->y->z->x ; walk B: p->q
        ("A", 0, "x"), ("A", 1, "y"), ("A", 2, "z"), ("A", 3, "x"),
        ("B", 0, "p"), ("B", 1, "q"),
    ]
    walks = spark.createDataFrame(rows, "start string, step int, node string")
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in walk_skipgram_pairs(walks, window=2).collect()
    }
    # within walk A, window 2: (0,1)(0,2)(1,2)(1,3)(2,3) + mirrors
    assert got[("x", "y")] == got[("y", "x")] == 2   # steps (0,1) and (3,1)... wait
    assert got[("p", "q")] == 1 and got[("q", "p")] == 1
    assert ("x", "p") not in got and ("y", "q") not in got  # never cross walks
    total = sum(got.values())
    assert total == 10 + 2  # 5 ordered pairs * 2 in walk A + 2 in walk B


def test_triangle_count_capped_drops_hubs_exact_below_cap(spark):
    """r9 skew-safe triangles: a star hub (degree 8) plus a K4 — with
    max_degree below the hub degree the hub and ALL its edges vanish
    (including hub-incident triangles), while the K4's counts stay EXACT
    and equal to the uncapped operator's on the same subgraph; a cap
    above every degree reproduces triangle_count verbatim."""
    from sparsity_spark.operators.graph import triangle_count_capped

    k4 = list(combinations([1, 2, 3, 4], 2))
    hub = [(100, i) for i in range(1, 9)]  # hub 100 — degree 8
    pairs = k4 + hub
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b"
    )

    capped = {
        r["node"]: r["triangles"]
        for r in triangle_count_capped(edges, max_degree=5).collect()
    }
    # hub gone; K4 triangles among 1..4 survive BUT each of 1..4 also lost
    # its hub edge — recompute expected on the hub-free subgraph
    assert "100" not in capped
    assert capped == _py_triangles(k4) == {"1": 3, "2": 3, "3": 3, "4": 3}

    # cap above max degree == plain triangle_count
    full = {
        r["node"]: r["triangles"]
        for r in triangle_count_capped(edges, max_degree=100).collect()
    }
    plain = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert full == plain == _py_triangles(pairs)


def _py_node2vec(pairs, starts, steps=3, ret_w=1000, out_w=1000):
    import hashlib
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        a, b = int(a), int(b)
        if a != b:
            adj[a].add(b)
            adj[b].add(a)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = []
    for s in starts:
        rows.append((s, 0, s))
        nbrs = sorted(adj[s])
        if not nbrs:
            continue
        prev, cur = s, nbrs[h60(f"{s}|1|{s}") % len(nbrs)]
        rows.append((s, 1, cur))
        for t in range(2, steps + 1):
            cands = sorted(adj[cur])
            if not cands:
                break
            ws = [
                ret_w if x == prev else (1000 if x in adj[prev] else out_w)
                for x in cands
            ]
            draw = h60(f"{s}|{t}|{prev}|{cur}") % sum(ws)
            acc = 0
            for x, w in zip(cands, ws):
                acc += w
                if draw < acc:
                    nxt = x
                    break
            prev, cur = cur, nxt
            rows.append((s, t, cur))
    return set(rows)


def test_node2vec_walks_match_python_replay_and_bias_direction(spark):
    """r9 node2vec: hop-for-hop parity with a python replay of the biased
    draw on a graph with triangles (distance-1 candidates exist) AND a
    bias sanity check — with a huge return weight every even step walks
    straight back to where it came from."""
    from sparsity_spark.operators.graph import node2vec_walks

    pairs = (
        list(combinations([1, 2, 3, 4], 2))  # K4: d1 candidates abound
        + [(4, 5), (5, 6), (6, 7), (7, 4)]  # a cycle hanging off node 4
        + [(6, 8), (8, 9)]
    )
    edges = symmetrize_edges(spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False)
    starts_df = spark.createDataFrame([(n,) for n in (1, 5, 8, 9)], "node long")

    for ret_w, out_w in ((1000, 1000), (100, 4000), (3000, 250)):
        got = {
            (r["start"], r["step"], r["node"])
            for r in node2vec_walks(
                edges, starts_df, steps=4, ret_w=ret_w, out_w=out_w
            ).collect()
        }
        want = _py_node2vec(pairs, [1, 5, 8, 9], steps=4, ret_w=ret_w, out_w=out_w)
        assert got == want, (ret_w, out_w)

    # overwhelming return bias: from step 2 on, the walk oscillates
    osc = {
        (r["start"], r["step"]): r["node"]
        for r in node2vec_walks(
            edges, starts_df, steps=4, ret_w=10_000_000, out_w=1
        ).collect()
    }
    for s in (1, 5, 8, 9):
        assert osc[(s, 2)] == osc[(s, 0)] == s
        assert osc[(s, 3)] == osc[(s, 1)]


def _py_kcore(pairs, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


def test_k_core_peels_to_fixpoint(spark):
    """r9 k-core: K5 with a tendril chain and a triangle appendage —
    the 3-core must be exactly the K5 (the triangle is 2-core-only, the
    chain peels entirely); matches a python peel replay at k=2 and k=3;
    a cascade (removing one node drops another below k) requires more
    than one peel round, which until_converged must handle even when
    peels=1."""
    from sparsity_spark.operators.graph import k_core

    k5 = list(combinations([1, 2, 3, 4, 5], 2))
    chain = [(5, 10), (10, 11), (11, 12)]
    tri = [(20, 21), (21, 22), (22, 20), (5, 20)]
    pairs = k5 + chain + tri
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    got3 = {r["node"]: r["deg"] for r in k_core(edges, k=3).collect()}
    assert got3 == _py_kcore(pairs, 3) == {n: 4 for n in (1, 2, 3, 4, 5)}
    got2 = {r["node"]: r["deg"] for r in k_core(edges, k=2).collect()}
    assert got2 == _py_kcore(pairs, 2)
    assert 10 not in got2 and 20 in got2  # chain peeled, triangle survives k=2

    # cascade: peels=1 is NOT enough for the chain at k=2 (12 drops, then
    # 11, then 10) — until_converged must finish the job anyway
    conv = {
        r["node"]: r["deg"]
        for r in k_core(edges, k=2, peels=1, until_converged=True).collect()
    }
    assert conv == got2


def _py_lpa(edge_list, iterations):
    """Reference replay: neighbor votes + one self-vote, ties to the
    smallest label — plain dicts."""
    from collections import defaultdict

    nodes = {s for s, _ in edge_list}
    labels = {n: n for n in nodes}
    for _ in range(iterations):
        votes = defaultdict(lambda: defaultdict(int))
        for s, d in edge_list:
            votes[d][labels[s]] += 1
        for n in nodes:
            votes[n][labels[n]] += 1  # self-vote
        labels = {
            n: max(v.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            for n, v in votes.items()
        }
    return labels


def test_label_propagation_two_cliques_and_tiebreak(spark):
    from sparsity_spark.operators.graph import label_propagation

    # two 4-cliques joined by a single bridge edge: LPA must name each
    # clique by its minimum node id and the bridge must not merge them
    c1 = list(combinations([1, 2, 3, 4], 2))
    c2 = list(combinations([10, 11, 12, 13], 2))
    pairs = c1 + c2 + [(4, 10)]
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges, iterations=3).collect()}
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    assert got == _py_lpa(sym, 3)
    assert all(got[n] == 1 for n in (1, 2, 3, 4))
    assert all(got[n] == 10 for n in (10, 11, 12, 13))

    # duplicate edges in the input must not double votes (multiset rule)
    doubled = edges.unionByName(edges)
    got_dup = {
        r["node"]: r["label"] for r in label_propagation(doubled, iterations=3).collect()
    }
    assert got_dup == got

    # pure tie on a 2-chain: 1-2, isolated pair — each node sees one
    # neighbor vote and one self-vote; the tie breaks to the SMALLER label
    pair = symmetrize_edges(
        spark.createDataFrame([(7, 8)], "a long, b long"), "a", "b", as_string=False
    )
    tie = {r["node"]: r["label"] for r in label_propagation(pair, iterations=1).collect()}
    assert tie == {7: 7, 8: 7}


def test_bfs_levels_chain_min_distance_and_early_stop(spark):
    from sparsity_spark.operators.graph import bfs_levels

    # chain 1-2-3-4-5 plus a branch 3-30: two seeds (1, 30); levels must
    # be the MINIMUM hop distance over seeds
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 30)]
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    seeds = spark.createDataFrame([(1,), (30,)], "node long")
    got = {r["node"]: r["lvl"] for r in bfs_levels(edges, seeds, max_depth=4).collect()}
    assert got == {1: 0, 30: 0, 2: 1, 3: 1, 4: 2, 5: 3}

    # depth cap: max_depth=1 stops at the first ring
    got1 = {r["node"]: r["lvl"] for r in bfs_levels(edges, seeds, max_depth=1).collect()}
    assert got1 == {1: 0, 30: 0, 2: 1, 3: 1}

    # exhausted frontier short-circuits: the component has radius 3, so
    # max_depth=10 returns the same set as max_depth=4
    got10 = {r["node"]: r["lvl"] for r in bfs_levels(edges, seeds, max_depth=10).collect()}
    assert got10 == got

    # a seed with no edges still appears at level 0
    lonely = spark.createDataFrame([(99,)], "node long")
    got_l = {r["node"]: r["lvl"] for r in bfs_levels(edges, lonely, max_depth=2).collect()}
    assert got_l[99] == 0


# --------------------------------------------------------------------------
# link_prediction (r9)
# --------------------------------------------------------------------------


def _lp(spark, pairs, **kw):
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    from sparsity_spark.operators.graph import link_prediction

    return {
        (r["u"], r["v"]): (
            r["common_neighbors"], r["deg_u"], r["deg_v"], r["jaccard"]
        )
        for r in link_prediction(edges, **kw).collect()
    }


def test_link_prediction_hand_checked_square(spark):
    # 4-cycle 1-2-3-4-1: diagonals (1,3) and (2,4) each share BOTH their
    # neighbors; adjacent pairs are excluded by the anti-join.
    got = _lp(spark, [(1, 2), (2, 3), (3, 4), (4, 1)], min_common=2)
    assert set(got) == {(1, 3), (2, 4)}
    cn, du, dv, j = got[(1, 3)]
    assert (cn, du, dv) == (2, 2, 2)
    assert j == round(2 / (2 + 2 - 2), 6) == 1.0


def test_link_prediction_min_common_cuts_single_wedges(spark):
    # path 1-2-3: (1,3) share only node 2 — below min_common=2, kept at 1
    assert _lp(spark, [(1, 2), (2, 3)], min_common=2) == {}
    got = _lp(spark, [(1, 2), (2, 3)], min_common=1)
    assert set(got) == {(1, 3)}
    assert got[(1, 3)] == (1, 1, 1, 1.0)


def test_link_prediction_excludes_existing_edges(spark):
    # triangle 1-2-3 plus pendant 4 on node 1: every adjacent pair shares a
    # neighbor but must NOT be scored; only (2,4) and (3,4) wedge through 1
    got = _lp(spark, [(1, 2), (2, 3), (3, 1), (1, 4)], min_common=1)
    assert set(got) == {(2, 4), (3, 4)}
    cn, du, dv, j = got[(2, 4)]
    assert (cn, du, dv) == (1, 2, 1)
    assert j == round(1 / (2 + 1 - 1), 6) == 0.5


def test_link_prediction_degree_cap_drops_hub_wedges(spark):
    # hub 0 connected to 1..5 (deg 5) — with cap 3 the hub and all its
    # edges vanish, so no pairs survive; the 4-cycle beside it still scores
    pairs = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12), (12, 13), (13, 10)]
    got = _lp(spark, pairs, max_degree=3, min_common=2)
    assert set(got) == {(10, 12), (11, 13)}


def test_link_prediction_jaccard_uses_capped_degrees(spark):
    # K4 on 1-2-3-4 minus edge (1,3): u=1,v=3 share {2,4}, degrees 2 and 2
    # in the capped (= full) graph → jaccard 2/(2+2-2)=1.0; add a pendant 5
    # on node 1 to shift deg_u to 3 → jaccard 2/(3+2-2)=0.666667
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (1, 5)]
    got = _lp(spark, pairs, min_common=2)
    assert got[(1, 3)] == (2, 3, 2, round(2 / 3, 6))


def _py_pagerank_weighted(wedges, iterations=3, unit=1_000_000, damping_pct=85):
    """Reference replay with weights: contribution (r·w)//strength."""
    from collections import defaultdict

    strength = defaultdict(int)
    for s, _, w in wedges:
        strength[s] += w
    ranks = {n: unit for n in strength}
    base = (unit * (100 - damping_pct)) // 100
    for _ in range(iterations):
        acc = defaultdict(int)
        for s, d, w in wedges:
            acc[d] += (ranks[s] * w) // strength[s]
        ranks = {n: base + (damping_pct * c) // 100 for n, c in acc.items()}
    return ranks


def test_pagerank_weighted_matches_integer_replay(spark):
    from sparsity_spark.operators.graph import pagerank_weighted

    # weighted star + chain: heavy edge (0,1) w=10 vs light leaves w=1
    raw = [(0, 1, 10), (0, 2, 1), (0, 3, 1), (3, 4, 2)]
    wedges = raw + [(d, s, w) for s, d, w in raw]
    edges = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_weighted(edges, iterations=3).collect()
    }
    assert got == _py_pagerank_weighted(wedges)
    # the heavy neighbor must outrank the light leaf 2 (same topology,
    # 10x the edge weight)
    assert got[1] > got[2]


def test_pagerank_weighted_uniform_weights_equal_unweighted(spark):
    from sparsity_spark.operators.graph import pagerank, pagerank_weighted, symmetrize_edges

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4)]
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    wedges = edges.withColumn("w", F.lit(1).cast("long"))
    a = {r["node"]: r["rank_micro"] for r in pagerank(edges, iterations=3).collect()}
    b = {
        r["node"]: r["rank_micro"]
        for r in pagerank_weighted(wedges, iterations=3).collect()
    }
    assert a == b


def test_pagerank_weighted_rejects_bad_weights(spark):
    """Positive-integer weight contract (r10 advisor finding): w <= 0
    can zero strength(src) and make `div` THROW under ANSI Spark while
    DuckDB NULLs — reject eagerly instead; fractional weights would be
    silently truncated by cast('long') — reject those too."""
    import pytest
    from sparsity_spark.operators.graph import pagerank_weighted

    zero_w = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 0)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="non-positive or fractional"):
        pagerank_weighted(zero_w, iterations=1)
    frac_w = spark.createDataFrame(
        [(1, 2, 1.5), (2, 1, 1.0)], "src long, dst long, w double"
    )
    with pytest.raises(ValueError, match="non-positive or fractional"):
        pagerank_weighted(frac_w, iterations=1)


def test_pagerank_weighted_validates_damping(spark):
    from sparsity_spark.operators.graph import pagerank_weighted

    edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    with pytest.raises(ValueError):
        pagerank_weighted(edges, damping_pct=0)


def test_modularity_two_cliques_bridge(spark):
    """Two 3-cliques joined by one bridge, perfect labels: Q must be
    high and match the hand computation exactly."""
    from sparsity_spark.operators.graph import modularity, symmetrize_edges

    cl1 = [(1, 2), (2, 3), (3, 1)]
    cl2 = [(4, 5), (5, 6), (6, 4)]
    pairs = cl1 + cl2 + [(3, 4)]
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    labels = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)], "node long, label long"
    )
    got = {r["label"]: r for r in modularity(edges, labels).collect()}
    # m2 = 14 edge-rows (7 undirected edges); community 1: e2=6, d=7;
    # the two-stage integer flooring rule by hand:
    # term1 = 6_000_000 div 14 = 428571; t = 7_000_000 div 14 = 500000;
    # term2 = (7 * 500000) div 14 = 250000 -> q_c_micro = 178571
    for lbl, d in [(1, 7), (2, 7)]:
        r = got[lbl]
        assert r["n_nodes"] == 3
        assert r["internal_edge_ends"] == 6
        assert r["degree_sum"] == d
        assert r["q_c_micro"] == 178571
    # total Q positive for a good split
    assert sum(r["q_c_micro"] for r in got.values()) > 300_000


def test_modularity_single_community_is_zero(spark):
    """All nodes in one community: e2 = m2 and d = m2, so
    Q = 1 - 1 = 0 exactly."""
    from sparsity_spark.operators.graph import modularity, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"),
        "a", "b", as_string=False,
    )
    labels = spark.createDataFrame([(n, 9) for n in (1, 2, 3)], "node long, label long")
    rows = modularity(edges, labels).collect()
    assert len(rows) == 1 and rows[0]["q_c_micro"] == 0


def test_modularity_isolated_label_no_internal_edges(spark):
    """A community whose nodes never connect internally: e2 = 0 via the
    left join, q_c strictly negative."""
    from sparsity_spark.operators.graph import modularity, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (3, 4)], "a long, b long"),
        "a", "b", as_string=False,
    )
    labels = spark.createDataFrame(
        [(1, 7), (2, 8), (3, 7), (4, 8)], "node long, label long"
    )
    got = {r["label"]: r for r in modularity(edges, labels).collect()}
    assert got[7]["internal_edge_ends"] == 0 and got[7]["q_c_micro"] < 0


def test_adamic_adar_weights_rare_neighbors_higher(spark):
    """Two candidate pairs with one common neighbor each: the pair whose
    shared neighbor is RARER must score higher; term = floor(1e6/ln d + .5)
    replayed in python."""
    import math

    from sparsity_spark.operators.graph import adamic_adar, symmetrize_edges

    # v=100 has degree 2 (neighbors 1,2); v=200 has degree 4 (3,4,5,6):
    # pair (1,2) shares the rare v; pair (3,4) shares the hubby v
    pairs = [(1, 100), (2, 100), (3, 200), (4, 200), (5, 200), (6, 200)]
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    got = {
        (r["u"], r["v"]): (r["common_neighbors"], r["aa_micro"])
        for r in adamic_adar(edges, min_common=1).collect()
    }

    def term(d):
        return math.floor(1_000_000.0 / math.log(d) + 0.5)

    assert got[(1, 2)] == (1, term(2))
    assert got[(3, 4)] == (1, term(4))
    assert got[(1, 2)][1] > got[(3, 4)][1]


def test_adamic_adar_sums_terms_and_skips_edges(spark):
    """4-cycle diagonals: two common neighbors each, both degree 2;
    adjacent pairs never scored."""
    import math

    from sparsity_spark.operators.graph import adamic_adar, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "a long, b long"),
        "a", "b", as_string=False,
    )
    got = {
        (r["u"], r["v"]): r["aa_micro"]
        for r in adamic_adar(edges, min_common=2).collect()
    }
    t = math.floor(1_000_000.0 / math.log(2) + 0.5)
    assert got == {(1, 3): 2 * t, (2, 4): 2 * t}


def test_walk_merge_hint_gate_and_parity(spark, monkeypatch):
    """The size-gated join strategy for the walk loops (r12 session 3):
    below the row threshold _maybe_merge_hint is a no-op (the planner's
    broadcast is the right plan for small ranked tables); above it the
    merge hint must not change a single walk row — only the join
    strategy. Parity is the guarantee that lets the gate flip freely
    with data size."""
    from sparsity_spark.operators import graph
    from sparsity_spark.operators.graph import (
        _maybe_merge_hint,
        node2vec_walks,
        random_walks,
        symmetrize_edges,
    )

    df = spark.range(3)
    # gate off: unknown rows, or measured rows below the threshold
    assert _maybe_merge_hint(df, None) is df
    assert _maybe_merge_hint(df, 10) is df
    # gate on: above the threshold the plan gets a hint
    with monkeypatch.context() as m:
        m.setattr(graph, "_WALK_MERGE_ROWS", 5)
        assert _maybe_merge_hint(df, 10) is not df

    # parity: identical walks whether the ranked side is merge-hinted or
    # broadcast (star + chain + a cycle so walks branch and dead-end)
    pairs = [(0, i) for i in range(1, 6)] + [(5, 6), (6, 7), (7, 5)]
    edges = symmetrize_edges(
        spark.createDataFrame(pairs, "a long, b long"), "a", "b", as_string=False
    )
    starts = spark.createDataFrame([(n,) for n in range(8)], "node long")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for fn in (random_walks, node2vec_walks):
        base = rows(fn(edges, starts, steps=3, assume_distinct=True))
        with monkeypatch.context() as m:
            m.setattr(graph, "_WALK_MERGE_ROWS", 1)  # force the hint
            hinted = rows(fn(edges, starts, steps=3, assume_distinct=True))
        assert hinted == base and len(base) > 8
