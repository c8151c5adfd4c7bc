"""Iterative graph algorithms over edge-list DataFrames.

The engine's second iterative operator family (the first is
``dedup.py``'s min-label connected components): driver-coordinated
fixed-point loops where each round is one co-partitioned join + one
keyed aggregation, and ``localCheckpoint`` truncates the lineage so
round t+1's plan does not replay rounds 1..t.

Scale notes (100 TB / 1000 executors):

* The static tables every round reads (edge fractions, node set) are
  HASH-PARTITIONED ON THEIR JOIN KEY before the one-time checkpoint
  (``localCheckpoint`` preserves the physical partitioning in the
  resulting plan), so the per-round join needs NO edge-side exchange
  — only the contribution aggregation shuffles, and that stream is
  map-side combinable. Rank state is one row per node. Measured at
  sf0.1: 10 PageRank rounds 10.8 s → 5.2 s from this plus the
  skip-redundant-copy rule below, identical ranks.
* ``localCheckpoint(eager=True)`` per round bounds plan depth and
  memory. Every cut goes through ``checkpointing.materialize``, so a
  cluster that must survive executor loss across a long loop sets the
  session conf ``spark.foodPipeline.checkpointMode=reliable`` once and
  every loop here writes its cuts to the checkpoint dir
  (result-identical by construction; pinned by
  tests/test_checkpoint_modes.py).
* When the caller hands in an ALREADY-materialized edge list (a
  narrow projection over a checkpointed RDD — e.g. a memoized shared
  edge table), ``_materialize`` skips the redundant second copy under
  ``'local'``: re-deriving a projection of a materialized RDD is free,
  copying millions of edge rows again is not. Under ``'reliable'`` the
  skip is off: a caller-materialized view's blocks may be
  executor-local, and the deployment asked for every cut to be
  durable, which costs one copy.
* No driver-side collection: the driver holds loop control only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.checkpointing import (
    _resolve_mode,
    materialize as _ckpt,
)

_NARROW_OPS = ("Project", "Filter", "SubqueryAlias", "LogicalRDD")


def _materialize(df: DataFrame) -> DataFrame:
    """``checkpointing.materialize(df)`` — unless the mode is
    ``'local'`` and ``df`` is already a narrow view (projections/
    filters only) over a materialized RDD, in which case every
    downstream branch re-reads the existing blocks and a second copy
    buys nothing, so ``df`` comes back untouched. Conservative: any
    operator outside the narrow set (joins, aggregates, distinct,
    repartition) falls through to a real checkpoint. Under
    ``'reliable'`` every call cuts: the input's blocks may be
    executor-local, and the deployment asked for durable cuts."""
    if _resolve_mode(df) == "local" and _reads_materialized_blocks(df):
        return df
    return _ckpt(df)


def _reads_materialized_blocks(df: DataFrame) -> bool:
    """True when ``df`` is a narrow view over materialized blocks.

    "Materialized" is VERIFIED, not inferred from the node type: a
    ``LogicalRDD`` also appears for ``spark.createDataFrame(rdd)`` /
    ``df.rdd`` round-trips whose RDD is plain lineage — skipping the
    checkpoint there would re-execute that lineage once per consuming
    branch (and let a nondeterministic source show different branches
    different edge snapshots). So every LogicalRDD leaf must report
    its RDD as checkpointed or persisted (local checkpoints set
    MEMORY_AND_DISK, so either signal means downstream branches read
    blocks, not lineage); any leaf that can't prove it falls through
    to a real checkpoint."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        plan = analyzed.toString()
        if "LogicalRDD" not in plan:
            return False
        for ln in plan.splitlines():
            op = ln.lstrip(" +-:")
            if op and not op.startswith(_NARROW_OPS):
                return False
        leaves = analyzed.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                return False
            rdd = leaf.rdd()
            lvl = rdd.getStorageLevel()
            if not (rdd.isCheckpointed() or lvl.useMemory() or lvl.useDisk()):
                return False
    except Exception:  # noqa: BLE001 — connect-mode / unknown plan shape
        return False
    return True


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count. Returns
    ``(node, rank)`` where ranks sum to ~1 over the node set (exactly
    1 when every node has at least one out-edge — true for symmetric
    edge lists).

    Contribution fractions (edge weight over the source's total
    out-weight) are precomputed ONCE and reused every round, so the
    per-iteration work is one join + one aggregation. A fixed
    ``iterations`` (rather than a convergence test) keeps the result
    a pure function of the input — which is what lets an unrolled SQL
    oracle reproduce it.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"pagerank: damping must be in (0,1), got {damping}")
    if iterations < 1:
        raise ValueError("pagerank: need at least one iteration")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    )
    # Materialize the edge list ONCE before deriving frac and nodes:
    # both derive from e, and without this checkpoint each eager
    # derivation re-runs the caller's (possibly expensive) edge
    # pipeline — profiled at 2x a full co-occurrence self-join here.
    # (_materialize skips the copy when the caller's edges are
    # already a view over a checkpointed RDD.)
    e = _materialize(e)
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_out"))
    frac = (
        e.join(out_w, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_out")).alias("_frac"))
    )
    # cache the (static) fraction table ALREADY PARTITIONED on the
    # per-round join key: localCheckpoint preserves the hash
    # partitioning, so no iteration ever exchanges the edge side
    frac = _ckpt(frac.repartition("_src"))
    nodes = _ckpt(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition("node")
    )
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for it in range(iterations):
        contribs = (
            frac.join(ranks, frac["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("_frac") * F.col("rank")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
            ).alias("rank"),
        )
        # Checkpoint every 3rd round (and the last): lineage stays
        # bounded at <= 3 join+agg rounds, but the loop pays a third
        # of the materializations of the original per-round eager
        # checkpoint (round-5 profiling: 10x checkpoint cost dominated
        # the wall time at small SF; cadence sweep this round measured
        # 2/3/5 within noise of each other and 10 — no checkpoints
        # until the end — slower again from plan-depth analysis cost).
        # Checkpoint frequency never changes the arithmetic — only
        # where the plan is cut.
        if it % 3 == 2 or it == iterations - 1:
            ranks = _ckpt(ranks)
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over an undirected graph
    (edges may arrive in either or both directions; they canonicalize
    to ``a < b`` first). Returns ``(node, n_triangles)`` for every
    node in at least one triangle; the global count is
    ``sum(n_triangles) / 3``.

    The classic wedge-close shape: canonical edges e(a,b) join
    e(b,c) on the middle node — giving each candidate wedge
    ``a < b < c`` exactly once — then a semi-style join against
    e(a,c) closes it. Ordering by node id bounds each triangle to ONE
    orientation (no 6x duplication); the production refinement is
    ordering by DEGREE instead of id, which provably caps wedge count
    at O(m^1.5) on skewed graphs — same plan, different sort key
    (noted here because id-ordering is what the oracle mirrors).
    All three joins are keyed equi-joins; nothing is all-pairs.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1._b") == F.col("e2._a"))
        .select(
            F.col("e1._a").alias("_x"),
            F.col("e1._b").alias("_y"),
            F.col("e2._b").alias("_z"),
        )
    )
    tris = wedges.join(
        e.alias("e3"),
        (F.col("_x") == F.col("e3._a")) & (F.col("_z") == F.col("e3._b")),
    ).select("_x", "_y", "_z")
    return (
        tris.select(
            F.explode(F.array("_x", "_y", "_z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    keep_prev: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation: every
    node starts as its own label; each round it adopts the most
    frequent label among its neighbors, ties broken by SMALLEST label
    — the deterministic variant of Raghavan et al.'s LPA (random
    tie-breaks don't replay and can't be oracle-checked). Returns
    ``(node, label)`` after a fixed number of rounds.

    Edges are treated as directed as given — pass both directions for
    an undirected graph (isolated-in-degree nodes keep their label via
    the left join). Integer labels end to end: unlike PageRank there
    is NO floating-point state, so the fixed point is bit-trivially
    reproducible.

    Scale shape per round: one join (edges x labels, keyed on src),
    one (node, label) count aggregation, one row_number window
    partitioned by node — all map-side-combinable or hash-partitioned;
    ``localCheckpoint`` truncates lineage as in ``pagerank``.
    """
    if iterations < 1:
        raise ValueError("label_propagation: need at least one iteration")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    # checkpointed pre-partitioned on the per-round join key: the
    # neighbor-count join never exchanges the edge side again
    e = _ckpt(e.repartition("_s"))
    nodes = _ckpt(
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    from pyspark.sql import Window

    prev = labels
    for _ in range(iterations):
        counts = (
            e.join(labels, e["_s"] == labels["node"])
            .select(F.col("_d").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("_cnt").desc(), F.col("label")
        )
        best = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        # labels always covers every node (invariant from init), so
        # the carry-over is a single left join against the round's
        # winners
        prev = labels
        labels = _ckpt(
            labels.join(best, "node", "left")
            .select(
                "node", F.coalesce("_new", "label").alias("label")
            ),
            # Unlike ``pagerank`` (whose rank state is read ONCE per
            # round), labels is read twice per round — by the
            # neighbor-count join AND the carry-over join — so the
            # per-round checkpoint also deduplicates that double
            # evaluation, not just trims lineage. An A/B cadence
            # sweep measured every-3rd-round strictly slower here.
        )
    if keep_prev:
        # Stability-probe shape: expose round N-1's label next to
        # round N's so `label <> prev_label` counts the nodes still
        # moving — the fixed-point evidence for the fixed round count.
        return labels.join(
            prev.select("node", F.col("label").alias("prev_label")),
            "node",
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling over a SYMMETRIC edge list: each
    round drops every node whose current degree is below ``k``
    (removing its edges), which can push neighbors below the threshold
    for the next round. Returns ``(node, degree)`` of the survivors
    after ``rounds`` rounds.

    A fixed round count (rather than peel-until-stable) keeps the
    result a pure function of the input — the same trade PageRank and
    LPA make here, and what lets the oracle unroll the recursion; on
    most graphs a handful of rounds reaches the true k-core (each
    round strictly shrinks the edge set or the loop is already
    stable). Integer degrees only — no float state.

    Per round: one degree aggregation + two semi-joins (src side, dst
    side) — all keyed; ``localCheckpoint`` truncates lineage.
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError("kcore: need at least one round")
    e = _materialize(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    )
    for _ in range(rounds):
        keep = (
            e.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select(F.col("_s").alias("_keep"))
        )
        e = _ckpt(
            e.join(keep, e["_s"] == keep["_keep"], "left_semi")
            .join(
                keep.select(F.col("_keep").alias("_keep2")),
                F.col("_d") == F.col("_keep2"),
                "left_semi",
            ),
            # e is read twice per round (degree agg + the join), so
            # the per-round checkpoint deduplicates that double
            # evaluation as well as trimming lineage — the sparser
            # cadence that pays off in ``pagerank`` (single-reader
            # rank state) measured slower for this loop shape.
        )
    return e.groupBy(F.col("_s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY seed node to
    every node reachable within ``max_hops``. Returns ``(node, dist)``
    with ``dist`` in [0, max_hops]; unreachable nodes are absent.

    Frontier-style level-synchronous BFS: round t joins only the
    NEWLY-settled frontier (nodes first reached at distance t) against
    the edge list, so each edge is traversed at most once per incident
    frontier appearance, and settled nodes are anti-joined away —
    the standard Pregel/GraphX BFS schedule expressed as DataFrame
    ops. A fixed ``max_hops`` bound keeps the result a pure function
    of the input (oracle: a depth-bounded recursive SQL unroll).

    Scale shape (100 TB / 1000 executors): per round one keyed
    equi-join (edges on src x frontier) + one distinct + one anti-join
    against the settled set — all partitioned by node id; the frontier
    only ever holds ids, never payloads; ``localCheckpoint`` truncates
    lineage so round t+1 does not replay rounds 1..t. The driver
    holds loop control only (no collect).
    """
    if max_hops < 0:
        raise ValueError(f"bfs_distances: max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    # pre-partitioned on the frontier-join key (see module docstring)
    e = _ckpt(e.repartition("_s"))
    settled = _ckpt(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("dist"))
    )
    frontier = settled.select("node")
    for hop in range(1, max_hops + 1):
        reached = (
            e.join(frontier, e["_s"] == frontier["node"], "left_semi")
            .select(F.col("_d").alias("node"))
            .distinct()
        )
        new_nodes = reached.join(
            settled.select("node"), "node", "left_anti"
        ).select("node", F.lit(hop).alias("dist"))
        # settled is read three times per hop (anti-join, union,
        # frontier filter), so the per-hop checkpoint deduplicates
        # that triple evaluation as well as trimming lineage — see
        # the cadence note in ``pagerank``/``label_propagation``.
        settled = _ckpt(settled.unionByName(new_nodes))
        frontier = settled.filter(F.col("dist") == hop).select("node")
    return settled


def link_prediction_scores(
    edges: DataFrame,
    k: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbors link prediction: for every NON-adjacent node
    pair sharing at least one neighbor, the common-neighbor count and
    Jaccard coefficient |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    missing-edge ranking (Liben-Nowell & Kleinberg 2003). Returns the
    top ``k`` by (jaccard DESC, cn DESC, a, b) — a total order, so
    LIMIT is deterministic.

    Scale shape: candidate pairs come from the wedge join (two edges
    sharing a middle node), NEVER an all-pairs cross — only pairs at
    distance 2 are ever scored, which is exactly the support of the
    measure. One keyed self-join on the middle node + one degree agg
    broadcast-joined twice + one anti-join against the edge list.
    Like triangle counting, the skew axis is hub middle-nodes; the
    production refinement (degree-capped middle nodes) drops hubs
    that contribute O(deg²) wedges of near-zero jaccard.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    e = _ckpt(e)
    # symmetric adjacency (node, neighbor) for wedges + degrees
    adj = e.select(
        F.col("_a").alias("node"), F.col("_b").alias("nb")
    ).unionByName(
        e.select(F.col("_b").alias("node"), F.col("_a").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # distance-2 pairs via the middle node; canonical x < z
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), F.col("l.node") == F.col("r.node"))
        .filter(F.col("l.nb") < F.col("r.nb"))
        .groupBy(
            F.col("l.nb").alias("_x"), F.col("r.nb").alias("_z")
        )
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    # drop pairs that are already edges
    non_edges = wedges.join(
        e,
        (F.col("_x") == F.col("_a")) & (F.col("_z") == F.col("_b")),
        "left_anti",
    )
    scored = (
        non_edges.join(
            F.broadcast(deg.select(F.col("node"), F.col("deg").alias("deg_x"))),
            F.col("_x") == F.col("node"),
        )
        .drop("node")
        .join(
            F.broadcast(deg.select(F.col("node"), F.col("deg").alias("deg_z"))),
            F.col("_z") == F.col("node"),
        )
        .select(
            F.col("_x").alias("node_a"),
            F.col("_z").alias("node_b"),
            "cn",
            # UNROUNDED: small-integer ratios terminate on half
            # boundaries (1/128 = 0.0078125) where engine round()s
            # disagree; the raw IEEE quotient of two ints is
            # bit-identical everywhere
            (
                F.col("cn")
                / (F.col("deg_x") + F.col("deg_z") - F.col("cn"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(),
        F.col("cn").desc(),
        F.col("node_a"),
        F.col("node_b"),
    ).limit(k)


def hits_bipartite(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg 1999) on a bipartite edge list: hub scores for
    the source side, authority scores for the destination side —
    e.g. customers hub-scored by how broadly they buy influential
    parts, parts authority-scored by how many strong buyers order
    them. Returns ``(role, node, score)`` with role in
    {'hub', 'authority'} and each side's scores L1-normalized.

    Reproducibility contract: normalization happens ONCE at the end,
    so every intermediate score is an EXACT INTEGER (h0 = 1; each
    half-step is a sum of integers), meaning the per-round sums are
    order-insensitive — no float-regrouping drift no matter how an
    engine associates its aggregates — and the final score is an
    exact-integer ratio, emitted raw (never rounded: integer ratios
    terminate on round()'s half boundary where engines disagree).
    Integer growth is ~(mean degree)^(2*iterations); 4 iterations
    stays far under 2^53 at every tested SF (the docstringed bound:
    a corpus where sums could cross 2^53 needs per-round
    normalization and a tolerance-based check instead).

    Scale shape (100 TB): each half-step is ONE keyed equi-join of
    the edge list with the current one-row-per-node score frame plus
    one combinable aggregation — the PageRank loop's profile with a
    static edge table; ``localCheckpoint`` bounds lineage. No driver
    collection, no cross join, no global window.
    """
    if iterations < 1:
        raise ValueError("hits_bipartite: need at least one iteration")
    # One checkpointed copy of the (deduped) edge list. The 100 TB
    # refinement — when score frames outgrow broadcast — is TWO
    # copies hash-partitioned per half-step key (_u and _p), buying
    # zero edge-side exchanges per round for 2x edge storage; at
    # bench scale the score frames broadcast, so the dual layout's
    # two extra materializations measured strictly slower (5.2 s →
    # 7.1 s at sf0.1) and the single copy is kept.
    e = _ckpt(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_p"))
        .distinct()
    )
    hubs = e.select("_u").distinct().select(
        "_u", F.lit(1).cast("long").alias("_h")
    )
    auth = None
    for it in range(iterations):
        auth = (
            e.join(hubs, "_u")
            .groupBy("_p")
            .agg(F.sum("_h").alias("_a"))
        )
        hubs = (
            e.join(auth, "_p")
            .groupBy("_u")
            .agg(F.sum("_a").alias("_h"))
        )
        # lineage cut every other round (each round adds 2 join+agg
        # layers; the cadence keeps plan depth <= 4 layers)
        if it % 2 == 1 or it == iterations - 1:
            auth = _ckpt(auth)
            hubs = _ckpt(hubs)
    a_tot = auth.agg(F.sum("_a").alias("_t"))
    h_tot = hubs.agg(F.sum("_h").alias("_t"))
    a_rows = auth.crossJoin(F.broadcast(a_tot)).select(
        F.lit("authority").alias("role"),
        F.col("_p").alias("node"),
        (F.col("_a").cast("double") / F.col("_t")).alias("score"),
    )
    h_rows = hubs.crossJoin(F.broadcast(h_tot)).select(
        F.lit("hub").alias("role"),
        F.col("_u").alias("node"),
        (F.col("_h").cast("double") / F.col("_t")).alias("score"),
    )
    return a_rows.unionByName(h_rows)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 8,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Personalized PageRank: like ``pagerank``, but the teleport mass
    returns to the SEED set instead of everywhere — rank concentrates
    around the seeds, which is the similarity/recommendation reading
    of PageRank ("parts related to THESE parts"). ``seeds`` is a
    one-column DataFrame of node ids; ranks start at 1/|S| on seeds
    (0 elsewhere) and every round adds (1-damping)/|S| to seeds only.
    Nodes unreachable from the seed set stay at exactly 0.0 and are
    dropped from the output.

    Same fixed-iteration / unrolled-oracle contract and the same
    per-round shape as ``pagerank``: one keyed join of the static
    fraction table with the rank frame + one combinable aggregation;
    the seed base joins in keyed on node (the seed frame is tiny and
    broadcasts). ``localCheckpoint`` cadence bounds lineage.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(
            f"personalized_pagerank: damping must be in (0,1), got {damping}"
        )
    if iterations < 1:
        raise ValueError("personalized_pagerank: need at least one iteration")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = _materialize(
        edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
        )
    )
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_out"))
    # static tables checkpointed pre-partitioned on their per-round
    # join keys (see module docstring) — no edge-side exchange per round
    frac = _ckpt(
        e.join(out_w, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_out")).alias("_frac"))
        .repartition("_src")
    )
    nodes = _ckpt(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition("node")
    )
    seed_nodes = _ckpt(seeds.toDF("node").join(nodes, "node"))
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError(
            "personalized_pagerank: no seed is a node of the graph"
        )
    base = (1.0 - damping) / n_seeds
    seed_base = seed_nodes.select("node", F.lit(base).alias("_base"))
    # Fold the (static) per-node teleport base into the checkpointed
    # node table ONCE instead of broadcast-joining seed_base in every
    # round: the loop's rank update becomes the same single keyed
    # left join as plain pagerank's, and the folded table keeps the
    # node hash-partitioning. Arithmetic identical — the round still
    # computes coalesced_base + damping * coalesced_in.
    nodes_b = _ckpt(
        nodes.join(F.broadcast(seed_base), "node", "left")
        .select(
            "node", F.coalesce("_base", F.lit(0.0)).alias("_base")
        )
        .repartition("node")
    )
    ranks = nodes_b.join(
        seed_nodes.select("node", F.lit(1.0 / n_seeds).alias("_r")),
        "node",
        "left",
    ).select("node", F.coalesce("_r", F.lit(0.0)).alias("rank"))
    for it in range(iterations):
        contribs = (
            frac.join(ranks, frac["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("_frac") * F.col("rank")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nodes_b.join(contribs, "node", "left").select(
            "node",
            (
                F.col("_base")
                + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
            ).alias("rank"),
        )
        last = it == iterations - 1
        if last:
            # Drop unreachable nodes BEFORE the final pin: the pin
            # then materializes strictly fewer rows, and the frame
            # the caller holds is the pin itself.
            ranks = ranks.filter(F.col("rank") > 0.0)
        if it % 3 == 2 or last:
            ranks = _ckpt(ranks)
    return ranks
