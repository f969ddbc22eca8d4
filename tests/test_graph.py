"""Invariant tests for the graph operators: edge extraction sanity and
a NumPy power-iteration replay of the deterministic PageRank."""

from __future__ import annotations

from real_time_big_data_architect_spark.operators import graph
from real_time_big_data_architect_spark.tables import load_table


def test_transition_edges_shape(spark, sf_small):
    rows = graph.transition_edges(spark, sf_small).collect()
    assert rows
    users = {
        r.user_id for r in load_table(spark, sf_small, "events").collect()
    }
    for r in rows:
        assert r.src in users and r.dst in users
        assert r.src != r.dst
        assert r.w >= 1
    # multi-edges were collapsed: (src, dst) unique
    keys = [(r.src, r.dst) for r in rows]
    assert len(set(keys)) == len(keys)


def test_count_triangles_planted_graphs(spark):
    # K4 on {1..4}: C(4,3) = 4 triangles, 6 edges; plus a pendant path
    # 4-5-6 (no new triangles) and an isolated edge 7-8
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (5, 6), (7, 8)]
    und = spark.createDataFrame(edges, "a long, b long")
    row = graph.count_triangles(und).collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_triangles == 4

    # triangle-free: a star K1,5 and a 4-cycle
    star = [(1, n) for n in range(2, 7)]
    cycle = [(10, 11), (11, 12), (12, 13), (10, 13)]
    und = spark.createDataFrame(star + cycle, "a long, b long")
    assert graph.count_triangles(und).collect()[0].n_triangles == 0


def test_count_triangles_edge_iterator_plan_at_switch_point(spark):
    """At TRIANGLE_EDGE_ITER_MIN_EDGES the edge-iterator plan runs and
    counts the planted graphs exactly as the wedge plan does."""
    hint = graph.TRIANGLE_EDGE_ITER_MIN_EDGES
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    und = spark.createDataFrame(k4 + [(4, 5), (5, 6), (7, 8)], "a long, b long")
    assert graph.count_triangles(und, n_edges_hint=hint).collect()[0].n_triangles == 4
    star = [(1, n) for n in range(2, 7)]
    cycle = [(10, 11), (11, 12), (12, 13), (10, 13)]
    und = spark.createDataFrame(star + cycle, "a long, b long")
    assert graph.count_triangles(und, n_edges_hint=hint).collect()[0].n_triangles == 0


def test_triangle_count_matches_naive(spark, sf_small):
    from itertools import combinations

    edges = graph.transition_edges(spark, sf_small).collect()
    und = {(min(e.src, e.dst), max(e.src, e.dst)) for e in edges}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    naive = sum(
        1
        for node in adj
        for x, y in combinations(sorted(adj[node]), 2)
        if node < x and node < y and (min(x, y), max(x, y)) in und
    )
    row = graph.triangle_count(spark, sf_small).collect()[0]
    assert row.n_edges == len(und)
    assert row.n_triangles == naive


def test_pagerank_matches_numpy_replay(spark, sf_small):
    import numpy as np

    edges = graph.transition_edges(spark, sf_small).collect()
    ev = load_table(spark, sf_small, "events").collect()
    nodes = sorted({r.user_id for r in ev})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    outw = {}
    for e in edges:
        outw[e.src] = outw.get(e.src, 0) + e.w
    pr = np.full(n, 1.0 / n)
    for _ in range(graph.PR_ITERS):
        contrib = np.zeros(n)
        for e in edges:
            contrib[idx[e.dst]] += round(
                pr[idx[e.src]] * (e.w / outw[e.src]), graph.PR_SCALE
            )
        pr = graph.PR_BASE / n + graph.DAMPING * np.round(
            contrib, graph.PR_SCALE
        )
    got = {r.user_id: r.pagerank for r in graph.pagerank(spark, sf_small).collect()}
    assert set(got) == set(nodes)
    for u in nodes:
        assert abs(got[u] - pr[idx[u]]) < 1e-9
    # probability-ish: mass in (0, 1]; dangling loss keeps sum <= 1
    total = sum(got.values())
    assert 0.5 < total <= 1.0 + 1e-9
    # rank column is a permutation ordered by pagerank desc
    ranked = sorted(
        graph.pagerank(spark, sf_small).collect(), key=lambda r: r.rank
    )
    assert [r.rank for r in ranked] == list(range(1, n + 1))
    for a, b in zip(ranked, ranked[1:]):
        assert a.pagerank >= b.pagerank


def test_bfs_khop_matches_python_bfs(spark, sf_small):
    """The DataFrame BFS reproduces a plain Python BFS over the same
    collected edge list (min hop distance, truncated at BFS_MAX_HOPS)."""
    from collections import deque

    from real_time_big_data_architect_spark.operators import graph as G
    from real_time_big_data_architect_spark.tables import load_table
    from pyspark.sql import functions as F

    got = {(r.user_id, r.dist) for r in G.bfs_khop(spark, sf_small).collect()}
    edges = {}
    for r in G.transition_edges(spark, sf_small).collect():
        edges.setdefault(r.src, []).append(r.dst)
    ev = load_table(spark, sf_small, "events")
    seeds = {
        r.user_id
        for r in ev.filter(F.col("user_id") % G.BFS_SEED_MOD == 0)
        .select("user_id")
        .distinct()
        .collect()
    }
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= G.BFS_MAX_HOPS:
            continue
        for v in edges.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    assert got == set(dist.items())
    assert any(d > 0 for _, d in got)  # BFS actually expanded


def test_sssp_weighted_matches_python_bellman_ford(spark, sf_small):
    """Engine distances equal a driver-side Bellman-Ford run for the
    same number of rounds over the same 1/w edge costs; seeds at 0."""
    from real_time_big_data_architect_spark.operators import graph as G

    edges = [
        (r.src, r.dst, 1.0 / float(r.w))
        for r in G.transition_edges(spark, sf_small).collect()
    ]
    seeds = {
        r.user_id
        for r in (
            __import__("real_time_big_data_architect_spark.tables", fromlist=["load_table"])
            .load_table(spark, sf_small, "events")
            .filter(f"user_id % {G.BFS_SEED_MOD} = 0")
            .select("user_id").distinct().collect()
        )
    }
    dist = {u: 0.0 for u in seeds}
    for _ in range(G.BFS_MAX_HOPS):
        nxt = dict(dist)
        for s, d, c in edges:
            if s in dist:
                cand = dist[s] + c
                if d not in nxt or cand < nxt[d]:
                    nxt[d] = cand
        dist = nxt
    got = {r.user_id: r.dist for r in G.sssp_weighted(spark, sf_small).collect()}
    assert set(got) == set(dist)
    for u, d in dist.items():
        assert abs(got[u] - d) < 1e-12, (u, got[u], d)
    assert all(got[u] == 0.0 for u in seeds)
    assert any(d > 0 for d in got.values())


def test_label_propagation_matches_python_replay(spark, sf_small):
    """Engine labels equal a driver-side replay of the synchronous LPA
    recurrence (weighted argmax, smallest-label tie-break) for the
    same round count; community labels must be real node ids."""
    from collections import defaultdict

    from real_time_big_data_architect_spark.operators import graph as G
    from real_time_big_data_architect_spark.tables import load_table

    e = {}
    for r in G.transition_edges(spark, sf_small).collect():
        e[(r.src, r.dst)] = e.get((r.src, r.dst), 0) + r.w
        e[(r.dst, r.src)] = e.get((r.dst, r.src), 0) + r.w
    nodes = {
        r.user_id
        for r in load_table(spark, sf_small, "events")
        .select("user_id").distinct().collect()
    }
    labels = {u: u for u in nodes}
    for _ in range(G.LPA_ROUNDS):
        contrib: dict = defaultdict(lambda: defaultdict(int))
        for (s, d), w in e.items():
            contrib[d][labels[s]] += w
        new = dict(labels)
        for node, lw in contrib.items():
            best = sorted(lw.items(), key=lambda t: (-t[1], t[0]))[0][0]
            new[node] = best
        labels = new
    got = {r.user_id: r.label for r in G.label_propagation(spark, sf_small).collect()}
    assert got == labels
    assert set(got.values()) <= nodes
    # the fixture graph is connected enough that at least one
    # community absorbs multiple nodes
    assert len(set(got.values())) < len(nodes)


def test_recursive_cte_matches_frontier_loop(spark, sf_small):
    """Three-way equivalence, leg one: Spark's WITH RECURSIVE execution
    of _REACH_RECURSIVE_SQL returns exactly bfs_khop's frontier-loop
    result (the DuckDB leg is the oracle differential, which runs the
    identical string)."""
    from real_time_big_data_architect_spark.operators import graph as G

    loop = {(r.user_id, r.dist) for r in G.bfs_khop(spark, sf_small).collect()}
    views_before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    reach = G.recursive_cte_reachability(spark, sf_small)
    views_after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    rec = {(r.user_id, r.dist) for r in reach.collect()}
    assert rec == loop and loop
    # both relations bind as arguments whose temp views are dropped once
    # the query is built: the session's temp-view set is unchanged
    assert views_after == views_before, views_after
