"""Iterative graph algorithms over edge-list DataFrames.

The engine's second iterative operator family (the first is
``dedup.py``'s min-label connected components): driver-coordinated
fixed-point loops where each round is one co-partitioned join + one
keyed aggregation, and ``localCheckpoint`` truncates the lineage so a
late round's plan does not replay the whole loop.

Scale notes (100 TB / 1000 executors):

* The static tables every round reads (edge fractions, node set) are
  HASH-PARTITIONED ON THEIR JOIN KEY before the one-time checkpoint
  (``localCheckpoint`` preserves the physical partitioning in the
  resulting plan), so the per-round join needs NO edge-side exchange
  — only the contribution aggregation shuffles, and that stream is
  map-side combinable. Rank state is one row per node. Measured at
  sf0.1: 10 PageRank rounds 10.8 s → 5.2 s from this plus the
  skip-redundant-copy rule below, identical ranks.
* ``pagerank`` and ``personalized_pagerank`` run ONE recursion,
  ``_rank_loop`` (per round: ``base + damping * coalesce(in-flow, 0)``
  per node, where ``base`` is a literal for PageRank and a per-node
  seed column for PPR), over the static tables ``_rank_inputs``
  builds. Both drop an edge with a NULL endpoint, as
  ``label_propagation`` does: a NULL id is not a node, so it neither
  holds rank nor votes.
* Lineage cuts (``localCheckpoint(eager=True)``) bound plan depth and
  memory, and each costs at least one Spark job, so their cadence
  follows how often a round reads the loop state. State read ONCE
  per round (``_rank_loop`` ranks,
  ``label_propagation`` labels) is cut every 3rd round and the last
  (``hits_bipartite``, two join+agg layers per round: every 2nd);
  state read more than once per round (``kcore`` edges, the
  ``bfs_distances`` settled set) is cut every round, because the cut
  also saves re-evaluating it per reader. Measured on
  ``label_propagation`` at sf0.01: going from a cut every round to
  every 3rd round, with one aggregate per round, took a 5-round call
  from 40 Spark jobs to 19. Every cut goes through
  ``checkpointing.materialize``, so a
  cluster that must survive executor loss across a long loop sets the
  session conf ``spark.foodPipeline.checkpointMode=reliable`` once and
  every loop here writes its cuts to the checkpoint dir
  (result-identical by construction; pinned by
  tests/test_checkpoint_modes.py).
* When the caller hands in an ALREADY-materialized edge list (a
  narrow view over a checkpointed RDD — e.g. a memoized shared edge
  table), ``_materialize`` skips the redundant second copy under
  ``'local'``: re-deriving a view of a materialized RDD is free,
  copying millions of edge rows again is not.
* No driver-side collection: the driver holds loop control only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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


def _rank_inputs(
    name: str,
    edges: DataFrame,
    damping: float,
    iterations: int,
    src: str,
    dst: str,
    weight: str | None,
) -> tuple[DataFrame, DataFrame]:
    """Validate a rank call and build its two static tables, each
    checkpointed hash-partitioned on its per-round join key: the
    fraction table ``(_src, _dst, _frac)`` (edge weight over the
    source's total out-weight) and the node table ``(node)``."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"{name}: damping must be in (0,1), got {damping}")
    if iterations < 1:
        raise ValueError(f"{name}: need at least one iteration")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    ).dropna(subset=["_src", "_dst"])
    # One edge copy before deriving frac and nodes, or each eager
    # derivation re-runs the caller's edge pipeline (profiled at 2x a
    # co-occurrence self-join). The NULL drop is a narrow Filter, so a
    # caller's already-materialized edge view still skips the copy.
    e = _materialize(e)
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_out"))
    # partitioned on the per-round join key: localCheckpoint preserves
    # the hash partitioning, so no round ever exchanges the edge side
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
    return frac, nodes


def _rank_loop(
    frac: DataFrame,
    nodes: DataFrame,
    base: Column,
    ranks: DataFrame,
    damping: float,
    iterations: int,
) -> DataFrame:
    """The module's one PageRank recursion: each round every node of
    ``nodes`` gets ``base + damping * in-flow``, the in-flow summing
    ``_frac * rank`` over its in-edges — one join of the static
    fraction table with the rank frame plus one combinable
    aggregation. ``base`` is a column of ``nodes`` (or a literal);
    ``ranks`` holds the start ``(node, rank)``. State is cut every 3rd
    round (a sweep measured 2/3/5 within noise; no cut at all was
    slower from plan depth); the last round comes back UNCUT so the
    caller can filter before its final pin."""
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
        rank = base + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
        ranks = nodes.join(contribs, "node", "left").select(
            "node", rank.alias("rank")
        )
        if it % 3 == 2 and it < iterations - 1:
            ranks = _ckpt(ranks)
    return ranks


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
    edge lists). An edge with a NULL endpoint is dropped.

    The rounds are ``_rank_loop``'s. A fixed ``iterations`` (rather
    than a convergence test) keeps the result a pure function of the
    input — which is what lets an unrolled SQL oracle reproduce it.
    """
    frac, nodes = _rank_inputs(
        "pagerank", edges, damping, iterations, src, dst, weight
    )
    n = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = F.lit((1.0 - damping) / n)
    return _ckpt(_rank_loop(frac, nodes, base, ranks, damping, iterations))


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edges ``(_a, _b)`` with ``_a < _b``: each
    pair once whichever direction(s) it arrived in, self-loops
    dropped."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )


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
    e = _undirected(edges, src, dst)
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
    an undirected graph. Each edge counts once per occurrence
    (duplicates weigh more; a self-loop votes for the node's own
    label); an edge with a NULL endpoint is dropped. A node with no
    in-edge has no neighbor to adopt from and keeps its own label.
    Integer labels end to end: unlike PageRank there is NO
    floating-point state, so the fixed point is bit-trivially
    reproducible.

    Scale shape per round: one join (edges x labels, keyed on src)
    and one ``groupBy(dst).agg(mode(label, deterministic=True))`` —
    Spark's built-in is exactly the most-frequent-smallest rule, and
    its partial aggregate combines map-side. Round 1 needs no join
    (every label is its node, so the neighbor labels are the sources
    themselves). The source-only nodes are computed once; each
    round's labels are its winners unioned with them. Lineage is cut
    on ``pagerank``'s cadence — every 3rd round and the last — plus
    round N-1 under ``keep_prev``, whose ``prev_label`` then reads
    blocks instead of replaying the round.
    """
    if iterations < 1:
        raise ValueError("label_propagation: need at least one iteration")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).dropna()
    # checkpointed pre-partitioned on the per-round join key: the
    # neighbor-label join never exchanges the edge side again
    e = _ckpt(e.repartition("_s"))
    # nodes with no in-edge: their label is their id in every round
    fixed = _ckpt(
        e.select(F.col("_s").alias("node"))
        .distinct()
        .join(e, F.col("node") == F.col("_d"), "left_anti")
        .select("node", F.col("node").alias("label"))
    )
    labels = prev = None
    last = iterations - 1
    for it in range(iterations):
        if it == 0:
            votes = e.select("_d", F.col("_s").alias("label"))
        else:
            votes = e.join(labels, e["_s"] == labels["node"]).select(
                "_d", "label"
            )
        prev = labels
        labels = (
            votes.groupBy(F.col("_d").alias("node"))
            .agg(F.mode("label", True).alias("label"))
            .unionByName(fixed)
        )
        # Each round reads its labels once, so (as in ``pagerank``)
        # the cut only bounds lineage; the cadence never changes the
        # arithmetic.
        if it % 3 == 2 or it == last or (keep_prev and it == last - 1):
            labels = _ckpt(labels)
    if keep_prev:
        # Stability-probe shape: expose round N-1's label next to
        # round N's so `label <> prev_label` counts the nodes still
        # moving — the fixed-point evidence for the fixed round count.
        if prev is None:
            return labels.withColumn("prev_label", F.col("node"))
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
        # the cadence note in the module docstring.
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
    e = _ckpt(_undirected(edges, src, dst))
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
    one-column DataFrame of node ids (a repeated id counts once);
    ranks start at 1/|S| on seeds (0 elsewhere) and every round adds
    (1-damping)/|S| to seeds only.
    Nodes unreachable from the seed set stay at exactly 0.0 and are
    dropped from the output. An edge with a NULL endpoint is dropped.

    The same recursion as ``pagerank`` (``_rank_loop``) with a
    per-node teleport base: seeding every node gives ``pagerank``'s
    ranks bit for bit.
    """
    frac, nodes = _rank_inputs(
        "personalized_pagerank", edges, damping, iterations, src, dst, weight
    )
    seed_nodes = _ckpt(seeds.toDF("node").distinct().join(nodes, "node"))
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError(
            "personalized_pagerank: no seed is a node of the graph"
        )
    base = (1.0 - damping) / n_seeds
    # Fold the static per-node teleport base and start rank into the
    # checkpointed node table ONCE: the round's rank update stays one
    # keyed left join, and the folded table keeps the node
    # hash-partitioning.
    seed_cols = seed_nodes.select(
        "node", F.lit(base).alias("_base"), F.lit(1.0 / n_seeds).alias("_r0")
    )
    nodes_b = _ckpt(
        nodes.join(F.broadcast(seed_cols), "node", "left")
        .fillna(0.0, subset=["_base", "_r0"])
        .repartition("node")
    )
    r0 = nodes_b.select("node", F.col("_r0").alias("rank"))
    ranks = _rank_loop(frac, nodes_b, F.col("_base"), r0, damping, iterations)
    # Drop unreachable nodes BEFORE the final pin: the pin then
    # materializes strictly fewer rows, and the frame the caller
    # holds is the pin itself.
    return _ckpt(ranks.filter(F.col("rank") > 0.0))
