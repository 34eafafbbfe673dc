"""PageRank: known-graph values, mass conservation, dangling handling."""

import pytest

from hepcrawl_spark.operators.linkrank import pagerank, rank_seeds


def _ranks(spark, pairs, **kw):
    e = spark.createDataFrame(pairs, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(e, **kw).collect()}


def test_cycle_is_uniform(spark):
    got = _ranks(spark, [(0, 1), (1, 2), (2, 0)], iterations=20)
    for v in got.values():
        assert abs(v - 1 / 3) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_star_concentrates_rank(spark):
    # 4 leaves all pointing at the hub; hub dangles (mass redistributes)
    got = _ranks(spark, [(i, 99) for i in range(1, 5)], iterations=30)
    assert got[99] > max(got[i] for i in range(1, 5)) * 3
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_matches_numpy_power_iteration(spark):
    import numpy as np

    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 3)]
    n, d, k = 4, 0.85, 12
    # same update rule, dense numpy
    deg = {0: 2, 1: 2, 2: 1, 3: 1}
    r = np.full(n, 1 / n)
    for _ in range(k):
        new = np.full(n, (1 - d) / n)
        dang = sum(r[i] for i in range(n) if i not in deg)
        for s, t in pairs:
            new[t] += d * r[s] / deg[s]
        new += d * dang / n
        r = new
    got = _ranks(spark, pairs, iterations=k)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12


def test_tol_early_stop_and_seed_ranking(spark):
    e = spark.createDataFrame([(0, 1), (1, 0), (2, 1)], "src long, dst long")
    ranks = pagerank(e, iterations=50, tol=1e-10)
    seeds = spark.createDataFrame(
        [(0, "h", 0.5), (7, "h", 0.5)], "url long, host string, priority double"
    )
    out = {r["url"]: r["priority"] for r in rank_seeds(seeds, ranks).collect()}
    assert out[0] > 0 and out[0] != 0.5   # ranked url got link priority
    assert out[7] == 0.5                  # unranked keeps its own


def test_hits_bipartite_hubs_vs_authorities(spark):
    """On a pure bipartite graph h1,h2 -> a1,a2,a3 the sources are pure
    hubs (authority 0) and the sinks pure authorities (hub 0); a2 is
    pointed at by both hubs so it dominates."""
    from hepcrawl_spark.operators.linkrank import hits

    e = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a2"), ("h2", "a3")],
        "src string, dst string",
    )
    out = {r.node: r for r in hits(e, iterations=3).collect()}
    assert abs(sum(r.hub for r in out.values()) - 1.0) < 1e-9
    assert abs(sum(r.authority for r in out.values()) - 1.0) < 1e-9
    for a in ("a1", "a2", "a3"):
        assert out[a].hub == 0.0
    for h in ("h1", "h2"):
        assert out[h].authority == 0.0
    assert out["a2"].authority > out["a1"].authority
    assert abs(out["a1"].authority - out["a3"].authority) < 1e-12
    assert abs(out["h1"].hub - 0.5) < 1e-9


def _random_graph(seed, n_nodes=120, n_edges=600):
    """Seeded edge list with duplicate edges and dangling nodes (ids at or
    above ``n_nodes - 15`` only ever appear as destinations)."""
    import random

    rng = random.Random(seed)
    pairs = [
        (rng.randrange(n_nodes - 15), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    return pairs + pairs[:50]  # duplicates


def _kernel_ranks(monkeypatch, e, **kw):
    """Ranks from the kernel path, which a small edge list takes under the
    session's default threshold: the relational path is forbidden."""
    from hepcrawl_spark.operators import linkrank as L

    def _no_relational(*a, **k):
        raise AssertionError("small edge list took the relational path")

    with monkeypatch.context() as mp:
        mp.setattr(L, "_pagerank_relational", _no_relational)
        return {r["node"]: r["rank"] for r in L.pagerank(e, **kw).collect()}


def _relational_ranks(spark, e, **kw):
    """Ranks from the relational path, forced by disabling broadcasts; the
    session's threshold is restored afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        return {r["node"]: r["rank"] for r in pagerank(e, **kw).collect()}
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("node_type", ["long", "string"])
def test_kernel_matches_relational_path(spark, monkeypatch, node_type):
    pairs = _random_graph(7)
    if node_type == "string":
        pairs = [(f"https://h{s % 7}.example.org/p/{s}",
                  f"https://h{t % 7}.example.org/p/{t}") for s, t in pairs]
    e = spark.createDataFrame(pairs, f"src {node_type}, dst {node_type}")
    kern = _kernel_ranks(monkeypatch, e, iterations=6)
    rel = _relational_ranks(spark, e, iterations=6)
    assert set(kern) == set(rel) and len(kern) > 100
    assert max(abs(kern[v] - rel[v]) for v in kern) <= 1e-12
    for got in (kern, rel):
        assert abs(sum(got.values()) - 1.0) <= 1e-12


def test_kernel_and_relational_stop_after_same_rounds(spark, monkeypatch):
    import numpy as np

    from hepcrawl_spark.operators.linkrank import pagerank_arrays

    pairs = _random_graph(11)
    src, dst = (np.array(c, dtype=np.int64) for c in zip(*pairs))
    tol = 1e-4
    _, _, rounds = pagerank_arrays(src, dst, iterations=50, tol=tol)
    assert 2 < rounds < 50  # tol, not the cap, stops it
    e = spark.createDataFrame(pairs, "src long, dst long")
    kern = _kernel_ranks(monkeypatch, e, iterations=50, tol=tol)
    rel = _relational_ranks(spark, e, iterations=50, tol=tol)
    fixed = _kernel_ranks(monkeypatch, e, iterations=rounds)
    shorter = _kernel_ranks(monkeypatch, e, iterations=rounds - 1)
    for got in (kern, rel):
        assert max(abs(got[v] - fixed[v]) for v in got) <= 1e-12
        # one round fewer is measurably different: the round count is pinned
        assert max(abs(got[v] - shorter[v]) for v in got) > 1e-9


def test_kernel_ignores_null_endpoints_and_empty_graph(spark):
    e = spark.createDataFrame(
        [(0, 1), (1, 0), (None, 1), (2, None)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    assert set(got) == {0, 1}
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty, iterations=5).count() == 0
