"""Iterative graph operator tests (operators/graph.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.operators.graph import pagerank


def test_pagerank_two_node_closed_form(spark):
    """Symmetric 2-node graph: each node's rank is exactly 0.5 at
    every iteration (the fixed point from the start)."""
    e = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(e, iterations=3).collect()}
    assert got[1] == pytest.approx(0.5, abs=1e-12)
    assert got[2] == pytest.approx(0.5, abs=1e-12)


def test_pagerank_ranks_sum_to_one_and_order_by_centrality(spark):
    """Star graph (hub 0 connected to 1..4, symmetric): ranks sum to 1
    (no dangling mass with symmetric edges) and the hub outranks every
    leaf."""
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank(e, iterations=15).collect()
    total = sum(r.rank for r in rows)
    assert total == pytest.approx(1.0, abs=1e-9)
    got = {r.node: r.rank for r in rows}
    assert all(got[0] > got[i] for i in range(1, 5))
    # leaves are symmetric -> identical ranks
    assert len({round(got[i], 12) for i in range(1, 5)}) == 1


def test_pagerank_weighted_edges_shift_mass(spark):
    """Node 1 sends 90% of its weight to node 2 and 10% to node 3:
    node 2 must outrank node 3."""
    e = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
        "src long, dst long, w double",
    )
    got = {r.node: r.rank for r in pagerank(e, weight="w").collect()}
    assert got[2] > got[3]


def test_pagerank_validates_params(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError, match="iteration"):
        pagerank(e, iterations=0)


def test_triangle_count_golden(spark):
    """K4 minus one edge: triangles {1,2,3} and {1,2,4} (edge 3-4
    missing). Per-node: 1->2, 2->2, 3->1, 4->1; global = 6/3 = 2.
    Mixed/duplicated edge directions must canonicalize away."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (1, 4), (2, 3), (4, 2), (2, 4)],
        "src long, dst long",
    )
    got = {r.node: r.n_triangles for r in triangle_count(e).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}
    assert sum(got.values()) % 3 == 0


def test_triangle_count_no_triangles(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    # path graph 1-2-3-4: wedges exist, no triangle closes
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert triangle_count(e).count() == 0


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: after a few rounds
    each clique converges to its minimum member label; determinism
    across reruns."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    clique1 = [(1, 2), (2, 3), (1, 3)]
    clique2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    und = clique1 + clique2 + bridge
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.label for r in label_propagation(e, iterations=6).collect()}
    again = {
        r.node: r.label for r in label_propagation(e, iterations=6).collect()
    }
    assert got == again  # deterministic
    # each clique internally agrees on one label
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1


def test_label_propagation_validates_iterations(spark):
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="iteration"):
        label_propagation(e, iterations=0)


def test_kcore_peels_tail(spark):
    """Triangle {1,2,3} plus pendant 3-4: with k=2 the pendant node 4
    peels (degree 1), which drops 3's degree to 2 — the triangle
    survives as the 2-core with degree 2 everywhere."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import kcore

    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.degree for r in kcore(e, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_everything_peels(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import kcore

    # path graph: no 2-core at all
    und = [(1, 2), (2, 3), (3, 4)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    assert kcore(e, k=2, rounds=4).count() == 0


def test_kcore_validates_params(spark):
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.graph import kcore

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="k must be"):
        kcore(e, k=0)
    with _pytest.raises(ValueError, match="round"):
        kcore(e, rounds=0)


def test_label_propagation_keep_prev_exposes_round_delta(spark):
    """keep_prev=True returns (node, label, prev_label) where
    prev_label is round N-1's assignment — equal to a separate
    (N-1)-iteration run, enabling the stability probe without
    re-running the loop."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    und = [(1, 2), (2, 3), (1, 3), (3, 10), (10, 11), (11, 12), (10, 12)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    both = {
        r.node: (r.label, r.prev_label)
        for r in label_propagation(e, iterations=3, keep_prev=True).collect()
    }
    l3 = {
        r.node: r.label
        for r in label_propagation(e, iterations=3).collect()
    }
    l2 = {
        r.node: r.label
        for r in label_propagation(e, iterations=2).collect()
    }
    assert {k: v[0] for k, v in both.items()} == l3
    assert {k: v[1] for k, v in both.items()} == l2


def _lpa_model(edges, iterations):
    """Pure-Python synchronous LPA over a directed edge list: the
    labels after each round 0..iterations. Every edge (duplicates and
    self-loops included) is one vote for its source's label; the most
    votes win, the smallest label on ties; a node without in-edges
    keeps its label."""
    nodes = {n for edge in edges for n in edge}
    rounds = [{n: n for n in nodes}]
    for _ in range(iterations):
        labels = rounds[-1]
        votes = {}
        for s, d in edges:
            tally = votes.setdefault(d, {})
            tally[labels[s]] = tally.get(labels[s], 0) + 1
        rounds.append(
            {
                n: min(votes[n], key=lambda lab: (-votes[n][lab], lab))
                if n in votes
                else labels[n]
                for n in nodes
            }
        )
    return rounds


def test_label_propagation_matches_directed_reference_model(spark):
    """The graded oracle only sees symmetric edges; this grades the
    directed cases against ``_lpa_model``: source-only nodes (1, 5,
    11), sink-only nodes (4, 13), a tie the smallest label wins (node
    13 in round 1: one vote each from 11 and 12), a duplicate edge
    outvoting a smaller label (node 23: 22 twice, 21 once), self-loops
    (31, 32; node 32 keeps its label on two self-votes), plus a seeded
    random directed graph."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(7)
    edges = (
        [(1, 2), (2, 3), (3, 2), (2, 4), (5, 3)]
        + [(11, 13), (12, 13), (11, 12)]
        + [(21, 23), (22, 23), (22, 23), (23, 21), (23, 22)]
        + [(31, 31), (31, 32), (32, 32), (32, 32), (32, 31)]
        + [(rng.randrange(100, 116), rng.randrange(100, 116)) for _ in range(40)]
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    for iterations in range(1, 5):
        want = _lpa_model(edges, iterations)
        got = {
            r.node: r.label
            for r in label_propagation(e, iterations=iterations).collect()
        }
        assert got == want[iterations], iterations
        got = {
            r.node: (r.label, r.prev_label)
            for r in label_propagation(
                e, iterations=iterations, keep_prev=True
            ).collect()
        }
        assert got == {
            n: (want[iterations][n], want[iterations - 1][n])
            for n in want[0]
        }, iterations


def test_label_propagation_drops_edges_with_a_null_endpoint(spark):
    """A NULL id is not a node: its edges neither vote nor receive
    votes, so node 3 (voted for only by NULL) is not in the output and
    node 2 takes only 1's vote."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    e = spark.createDataFrame(
        [(1, 2), (None, 2), (None, 3), (2, None)], "src long, dst long"
    )
    got = {
        r.node: (r.label, r.prev_label)
        for r in label_propagation(e, iterations=3, keep_prev=True).collect()
    }
    assert got == {1: (1, 1), 2: (1, 1)}


def test_label_propagation_round_is_one_aggregate_and_cuts_sparsely(
    spark, monkeypatch
):
    """A 5-round call cuts lineage at most 4 times (the edge table,
    the source-only nodes, rounds 3 and 5), and a round's optimized
    plan is a join plus a ``mode`` aggregate, with no ``Window``."""
    from gcp_food_delivery_data_pipeline_spark.operators import graph

    plans = []
    real_ckpt = graph._ckpt

    def counting_ckpt(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real_ckpt(df)

    monkeypatch.setattr(graph, "_ckpt", counting_ckpt)
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    assert graph.label_propagation(e, iterations=5).count() == 4
    assert len(plans) <= 4
    rounds = [p for p in plans if "mode(" in p]
    assert rounds
    assert not any("Window" in p for p in rounds)


def test_kcore_survivor_degrees_detect_instability(spark):
    """The survivors' returned degree IS their degree inside the
    surviving subgraph, so `degree < k` counts exactly what one more
    peel round would remove: with rounds=1 on a pendant chain the
    truncated peel leaves an under-k survivor; at the fixed point the
    count is zero."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import kcore

    # chain 1-2-3 + triangle {3,4,5}: k=2 peels 1 (deg 1), then 2
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 5)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    one_round = kcore(e, k=2, rounds=1)
    assert one_round.filter(F.col("degree") < 2).count() == 1  # node 2
    fixed = kcore(e, k=2, rounds=3)
    assert fixed.filter(F.col("degree") < 2).count() == 0
    assert {r.node for r in fixed.collect()} == {3, 4, 5}


def test_pagerank_checkpoint_cadence_preserves_values(spark):
    """Checkpoint frequency is a plan-materialization choice, not an
    arithmetic one: 10-iteration ranks on a small graph equal the
    closed-form stationary distribution regardless of cadence."""
    und = [(1, 2), (2, 3), (1, 3)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(e, iterations=10).collect()}
    # symmetric triangle: uniform stationary distribution
    for v in got.values():
        assert abs(v - 1.0 / 3.0) < 1e-9


def test_bfs_distances_chain_golden(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        bfs_distances,
    )

    # path 1-2-3-4-5 plus isolated 6-7: distances from seed {1}
    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)]]
        + [(b, a) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)]],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, seeds, max_hops=3).collect()
    }
    # 5 is 4 hops away -> absent at max_hops=3; 6/7 unreachable
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_multi_source_takes_min(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,), (4,)], ["node"])
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, seeds, max_hops=5).collect()
    }
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


def test_link_prediction_square_golden(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        link_prediction_scores,
    )

    # square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    # non-adjacent pairs; each shares BOTH its neighbors -> cn=2,
    # jaccard = 2 / (2 + 2 - 2) = 1.0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"]
    )
    rows = {
        (r.node_a, r.node_b): (r.cn, r.jaccard)
        for r in link_prediction_scores(edges).collect()
    }
    assert rows == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_link_prediction_excludes_existing_edges(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        link_prediction_scores,
    )

    # triangle: every distance-2 pair is ALSO an edge -> empty result
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], ["src", "dst"]
    )
    assert link_prediction_scores(edges).count() == 0


def test_hits_bipartite_golden(spark):
    """Hand-computable HITS: star bipartite graph where hub u1 buys
    every part and u2 buys one. Integer half-steps checked exactly."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        hits_bipartite,
    )

    # u1 -> {p1, p2}, u2 -> {p1}
    edges = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101)], ["src", "dst"]
    )
    # h0 = (1, 1); a1 = (p1: 2, p2: 1); h1 = (u1: 3, u2: 2)
    # a2 = (p1: 5, p2: 3); h2 = (u1: 8, u2: 5)
    # a3 = (p1: 13, p2: 8); h3 = (u1: 21, u2: 13)
    # a4 = (p1: 34, p2: 21); h4 = (u1: 55, u2: 34)  (Fibonacci!)
    out = {
        (r.role, r.node): r.score
        for r in hits_bipartite(edges, iterations=4).collect()
    }
    assert out[("authority", 101)] == 34 / 55
    assert out[("authority", 102)] == 21 / 55
    assert out[("hub", 1)] == 55 / 89
    assert out[("hub", 2)] == 34 / 89


def test_hits_dedups_edges_and_validates(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        hits_bipartite,
    )

    dup = spark.createDataFrame(
        [(1, 101), (1, 101), (2, 101)], ["src", "dst"]
    )
    clean = spark.createDataFrame([(1, 101), (2, 101)], ["src", "dst"])
    got = {
        (r.role, r.node): r.score for r in hits_bipartite(dup).collect()
    }
    want = {
        (r.role, r.node): r.score for r in hits_bipartite(clean).collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        hits_bipartite(clean, iterations=0)


def test_personalized_pagerank_concentrates_on_seed_component(spark):
    """Two disconnected 2-cycles; seeding one leaves the other at
    exactly 0 (dropped). Hand-unrolled: symmetric 2-cycle from a seed
    keeps all mass in the component, split by the walk."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    out = {
        r.node: r.rank
        for r in personalized_pagerank(
            edges, seeds, iterations=8
        ).collect()
    }
    # unreachable component dropped entirely
    assert set(out) == {1, 2}
    # hand-unroll: r(1)=a_t, r(2)=b_t; a_{t+1}=0.15 + 0.85*b_t,
    # b_{t+1}=0.85*a_t, a_0=1, b_0=0
    a, b = 1.0, 0.0
    for _ in range(8):
        a, b = 0.15 + 0.85 * b, 0.85 * a
    assert abs(out[1] - a) < 1e-12 and abs(out[2] - b) < 1e-12
    # total mass stays bounded by 1 (leaks only via teleport norm)
    assert 0.0 < out[1] + out[2] <= 1.0 + 1e-9


def test_personalized_pagerank_validates_seeds(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    no_seed = spark.createDataFrame([(99,)], ["node"])
    with pytest.raises(ValueError):
        personalized_pagerank(edges, no_seed)


def test_rank_operators_drop_edges_with_a_null_endpoint(spark):
    """A NULL id is not a node: ``pagerank`` and
    ``personalized_pagerank`` over edges with NULL endpoints return the
    ranks of the same graph without those edges — no ``node=NULL``
    row, and PageRank's ranks still sum to 1."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    pairs = [(1, 2), (2, 1), (2, 3), (3, 2)]
    schema = "src long, dst long"
    dirty = spark.createDataFrame(pairs + [(3, None), (None, 1)], schema)
    clean = spark.createDataFrame(pairs, schema)
    seeds = spark.createDataFrame([(1,)], "node long")

    def ranks(df):
        return {r.node: r.rank for r in df.collect()}

    got = ranks(pagerank(dirty))
    assert set(got) == {1, 2, 3}
    assert got == ranks(pagerank(clean))
    assert abs(sum(got.values()) - 1.0) < 1e-12
    got = ranks(personalized_pagerank(dirty, seeds))
    assert set(got) == {1, 2, 3}
    assert got == ranks(personalized_pagerank(clean, seeds))


def test_personalized_pagerank_counts_a_repeated_seed_once(spark):
    """Seeds ``[1, 1]`` are the seed set {1}: one row per node, the
    same ranks as seeds ``[1]``, summing to 1 on this leak-free
    graph."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    once = spark.createDataFrame([(1,)], "node long")
    twice = spark.createDataFrame([(1,), (1,)], "node long")
    rows = personalized_pagerank(e, twice).collect()
    assert sorted(r.node for r in rows) == [1, 2, 3]
    got = {r.node: r.rank for r in rows}
    assert got == {
        r.node: r.rank for r in personalized_pagerank(e, once).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_personalized_pagerank_seeded_everywhere_is_pagerank(spark):
    """PPR is PageRank's recursion with a per-node teleport base:
    seeded with every node, its ranks equal ``pagerank``'s row for row
    in exact doubles. Each node has at most two in-edges, so every
    round's in-flow sum is independent of summation order."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 2.0), (2, 3, 1.0), (3, 1, 1.0), (4, 3, 3.0),
         (3, 4, 0.5)],
        "src long, dst long, w double",
    )
    every = e.select(F.col("src").alias("node")).distinct()
    pr = sorted(pagerank(e, iterations=8, weight="w").collect())
    ppr = personalized_pagerank(e, every, iterations=8, weight="w")
    assert sorted(ppr.collect()) == pr
    assert len(pr) == 4


def test_rank_operators_lineage_cuts_are_pinned(spark, monkeypatch):
    """The shared rank loop adds no cut: ``pagerank(iterations=10)``
    cuts 7 times (edge copy, fractions, nodes, rounds 3/6/9 and the
    last) and ``personalized_pagerank(iterations=8)`` 8 times (edge
    copy, fractions, nodes, seeds, the seed-folded node table, rounds
    3/6 and the last). An edge view over already-materialized blocks
    skips the edge copy, NULL-endpoint filter included."""
    from gcp_food_delivery_data_pipeline_spark.operators import graph

    calls = []
    real_ckpt = graph._ckpt

    def counting_ckpt(df):
        calls.append(1)
        return real_ckpt(df)

    monkeypatch.setattr(graph, "_ckpt", counting_ckpt)
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    graph.pagerank(e, iterations=10).count()
    assert len(calls) == 7
    calls.clear()
    graph.personalized_pagerank(e, seeds, iterations=8).count()
    assert len(calls) == 8
    calls.clear()
    graph.pagerank(real_ckpt(e).select("src", "dst"), iterations=10).count()
    assert len(calls) == 6


def test_materialize_verifies_rdd_state_not_node_type(spark):
    """A LogicalRDD leaf alone must NOT skip the checkpoint: frames
    built via spark.createDataFrame / df.rdd round-trips analyze to
    LogicalRDD while remaining pure lineage, and skipping there would
    re-execute that lineage once per consuming branch. Only a leaf
    whose RDD is verifiably checkpointed/persisted may be reused."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        _materialize,
    )

    # unmaterialized LogicalRDD (python-list createDataFrame)
    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()
    assert _materialize(df) is not df

    # rdd round-trip: also LogicalRDD, also unmaterialized
    rt = spark.createDataFrame(df.rdd, df.schema)
    assert _materialize(rt) is not rt

    # genuinely checkpointed frame + narrow view: reuse, no copy
    base = df.localCheckpoint(eager=True)
    view = base.select("src", "dst")
    assert _materialize(view) is view

    # anything wide over the checkpoint still re-materializes
    agg = base.groupBy("src").count()
    assert _materialize(agg) is not agg
