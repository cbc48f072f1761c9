"""Randomized differential fuzz for connected components.

The deterministic tests pin a chain, a multi-component graph, and the
non-convergence raise (tests/test_pipeline_ops.py::TestConnectedComponents);
this fuzz sweeps MIXED random topologies — sparse random edges + a long
chain bridged into the core + a clique + isolated pairs in one graph —
against a union-find reference.

This fuzz found a real bug on its first run: the previous min-label +
pointer-jump implementation claimed O(log d) rounds, but when the
component minimum enters a chain MID-WAY (the bridge here), the far
side's labels collapse into a flat star pointing at a stale local
minimum — pointer chases gain nothing and convergence degenerates to
Θ(graph distance), tripping the 20-round cap on a diameter-90 graph
(29/34 rounds needed on these seeds). The operator now uses two-phase
large-star/small-star contraction (SoCC'14), which closes these graphs
in 6 rounds; this file stays as the regression pin for that topology.
"""

from __future__ import annotations

import random

import pytest


def _union_find_labels(edges) -> dict:
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min node of the component == its root under min-union
    return {n: find(n) for n in parent}


def _random_graph(seed: int) -> list:
    rng = random.Random(seed)
    edges = set()
    # sparse random core
    for _ in range(120):
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # a long chain on fresh ids (exercises the jump rounds)
    base = 1000
    chain_len = rng.randint(40, 70)
    edges.update((base + i, base + i + 1) for i in range(chain_len))
    # bridge the chain into the random core at a random point
    edges.add((rng.randrange(200), base + rng.randrange(chain_len)))
    # a clique on fresh ids
    cbase = 2000
    k = rng.randint(4, 8)
    edges.update(
        (cbase + i, cbase + j) for i in range(k) for j in range(i + 1, k)
    )
    # isolated pairs and a self-contained triangle
    edges.update({(3000, 3001), (3010, 3011), (3020, 3021)})
    edges.update({(4000, 4001), (4001, 4002), (4000, 4002)})
    return sorted(edges)


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.slow
def test_connected_components_match_union_find(spark, seed):
    from php_ec_spark.operators.dedup import connected_components
    from php_ec_spark.session import release_checkpoint_caches

    edges = _random_graph(seed)
    ref = _union_find_labels(edges)
    # the operator returns non-center rows only (centers label themselves)
    want = {d: lab for d, lab in ref.items() if d != lab}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    stats: dict = {}
    try:
        got = {
            r.doc: r.label
            for r in connected_components(
                # fastpath off: the round-count pin below is about the
                # distributed star loop, which these small graphs would
                # otherwise never reach (round-15 driver fast path)
                pairs, stats=stats, driver_fastpath_max_edges=0
            ).collect()
        }
        # the default-path (driver union-find) labeling must agree with
        # both the reference and the star loop on the same topology
        fast_stats: dict = {}
        got_fast = {
            r.doc: r.label
            for r in connected_components(
                pairs, stats=fast_stats
            ).collect()
        }
    finally:
        release_checkpoint_caches(spark)
    assert got == want, (
        f"seed={seed}: {sum(1 for d in want if got.get(d) != want[d])} "
        f"of {len(want)} nodes mislabeled"
    )
    assert got_fast == want, f"seed={seed}: driver fastpath mislabeled"
    assert fast_stats["rounds"] == 0
    assert fast_stats["fastpath_edges"] == len(edges)
    # round-count pin (round 14): star contraction closes these graphs
    # logarithmically (measured 6 rounds; bound ceil(log2(|V|)) + 2 ≈ 11
    # for ~300 nodes). A regression back toward Θ(diameter) behavior —
    # the bug this file exists for, diameter ~90 here — must trip this
    # telemetry assertion even if it still converges under max_iters.
    import math

    bound = math.ceil(math.log2(len(ref))) + 2
    assert stats["converged"] and stats["rounds"] <= bound, (
        f"seed={seed}: {stats['rounds']} rounds for {len(ref)} nodes "
        f"(bound {bound}) — star contraction degenerated"
    )
