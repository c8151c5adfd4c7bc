"""Similarity search over an embedding column (``array<float>``).

Seven top-k tiers, one result contract (top-k neighbors per query,
self-matches excluded, ranked by cosine DESC then neighbor_id):

* ``topk_exact``        — brute-force cosine; the oracle baseline.
* ``truncated_topk``    — exact cosine over a Matryoshka prefix.
* ``lsh_bucketed_topk`` — sign-random-projection LSH buckets
  (Charikar 2002); only pairs sharing a bucket are scored.
* ``ivf_topk``          — inverted-file index: each query scores only
  its ``n_probe`` nearest k-means cells.
* ``pq_topk``           — product-quantization ADC prune, exact re-rank.
* ``ivf_pq_topk``       — IVF cells + PQ ADC prune, exact re-rank.
* ``binary_topk``       — sign-bit hamming prune, exact re-rank.

Every tier runs the same recipe, one helper per step: project both
sides (``_sides``), broadcast the queries onto the candidates as a
cross join or on an index key and drop self-matches (``_probe``;
``_ivf_probe`` for the IVF cells), optionally prune each query to
``rerank`` rows (``_rerank_cut``; ``_adc_rerank`` for the PQ tiers),
and rank by cosine (``_rank_topk``). The rank window's partial
``WindowGroupLimit`` (pushed below the exchange by Spark's
``InferWindowGroupLimit``, pinned in tests) shrinks N·Q candidate rows
to ~partitions·Q·k before they cross the wire — the shape that
survives 100 TB: the wide shuffle carries only local winners.

Vector arithmetic is ``zip_with``+``aggregate`` (functions/vectors.py)
— JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.functions.lits import dense_lit
from gcp_food_delivery_data_pipeline_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
)


def _sides(
    candidates: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The candidate side ``(neighbor_id, _cvec)`` and the query side
    ``(query_id, _qvec)`` every tier searches."""
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    return c, q


def _probe(
    c: DataFrame, q: DataFrame, on: str | list[str] | None = None
) -> DataFrame:
    """Broadcast the queries onto the candidates — a cross join, or an
    equi-join on the index key ``on`` — and drop self-matches
    (query_id == neighbor_id)."""
    joined = (
        c.crossJoin(F.broadcast(q)) if on is None else c.join(F.broadcast(q), on)
    )
    return joined.filter(F.col("neighbor_id") != F.col("query_id"))


def _rank_topk(pairs: DataFrame, k: int, *keep: str) -> DataFrame:
    """Deterministic cosine top-k per query over ``_qvec``/``_cvec``
    pairs: (sim DESC, neighbor_id) order, ``keep`` columns carried
    between neighbor_id and cosine_sim."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        *keep,
        cosine_similarity("_qvec", "_cvec").alias("_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            *keep,
            F.round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def topk_exact(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (brute force, oracle baseline).

    One ranked window per query; Spark's ``InferWindowGroupLimit``
    (3.5+) plants a partial ``WindowGroupLimit`` BELOW the exchange, so
    each map task forwards only its local top-k per query and the wide
    shuffle carries ≤ partitions·|Q|·k rows (pinned in
    tests/test_plans.py, so a regression of the pushdown is caught).
    """
    return _rank_topk(_probe(*_sides(candidates, queries, id_col, vec_col)), k)


def _rerank_cut(approx: DataFrame, order_col: str, rerank: int) -> DataFrame:
    """Global top-``rerank`` rows per query by (``order_col`` ASC,
    neighbor_id) — the candidate cut ahead of an exact re-rank.

    One ranked window; the partial ``WindowGroupLimit`` Spark plants
    below the exchange caps what each map task forwards at
    ``rerank`` rows per query, so the shuffle stays ≤
    partitions·|Q|·rerank at any corpus size. The old manual local
    phase (a second window keyed by ``spark_partition_id()``) enforced
    the same bound with an extra exchange + two extra sorts of the
    same pruned rows (r16; see ``topk_exact``).
    """
    w_glob = Window.partitionBy("query_id").orderBy(
        F.col(order_col), F.col("neighbor_id")
    )
    return (
        approx.withColumn("_grn", F.row_number().over(w_glob))
        .filter(F.col("_grn") <= rerank)
    )


def _sign_bucket(vec_col: str, hyperplanes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id (Charikar SimHash for vectors):
    bit i = sign(v · h_i), packed into a LONG. Hyperplanes are embedded
    as literals — broadcast-free."""
    bucket = F.lit(0)
    for i, h in enumerate(hyperplanes):
        hp = dense_lit([float(x) for x in h], "array<double>")
        bucket = bucket + F.when(
            dot_product(F.col(vec_col), hp) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket.cast("long")


def with_lsh_bucket(
    df: DataFrame,
    hyperplanes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append a sign-random-projection bucket id (``_sign_bucket``).

    Hyperplanes arrive as plain Python floats (caller generates them
    deterministically).
    """
    return df.withColumn(bucket_col, _sign_bucket(vec_col, hyperplanes))


def _with_lsh_tables(
    df: DataFrame, tables: list[list[list[float]]], vec_col: str
) -> DataFrame:
    """Explode a row into one (table, bucket) pair per hash table."""
    entries = [
        F.struct(
            F.lit(t).alias("table"),
            _sign_bucket(vec_col, planes).alias("bucket"),
        )
        for t, planes in enumerate(tables)
    ]
    return df.withColumn("_tb", F.explode(F.array(*entries))).select(
        *df.columns, F.col("_tb.table").alias("table"), F.col("_tb.bucket").alias("bucket")
    )


def train_ivf_centroids(
    candidates: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_cap: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Train the IVF coarse quantizer the way ``train_pq_codebooks``
    trains its codebooks: a deterministic euclidean Lloyd k-means over
    a bounded hash-sampled draw, in numpy on the driver. This is the
    FAISS architecture verbatim — the coarse quantizer is ALWAYS fit
    on a fixed-size training sample (never the corpus), so the
    driver-side pull is bounded BY CONSTRUCTION at any corpus scale;
    only assignment and search distribute. It also replaces the Spark
    ML KMeans fit whose per-iteration job overhead dominated the
    local build (5.5 s of a 7 s index build on 2 000 vectors → ~10 ms
    here, same recall floor), and whose kmeans|| init depended on
    partition layout — this trainer is a pure function of the sample.

    The sample is the ``sample_cap`` rows with the smallest
    ``md5(seed || id)`` — a seeded uniform draw over the whole corpus
    (never the id-ordered prefix, which under-covers corpora whose id
    order correlates with content, e.g. ingestion-time or
    category-ordered embeddings), still deterministic, and still a
    bounded TakeOrderedAndProject (per-partition top-k + merge, no
    global sort) at any scale. ``seed`` keys the hash, so distinct
    seeds draw distinct-but-reproducible samples.

    The k-means is ``_lloyd`` (shared with ``train_pq_codebooks``),
    deterministic in every choice. Returns plain-float centroids
    destined to become plan literals.
    """
    import numpy as np

    sample_key = F.md5(
        F.concat(F.lit(f"ivf:{seed}:"), F.col(id_col).cast("string"))
    )
    sample = (
        candidates.select(id_col, vec_col)
        .orderBy(sample_key, F.col(id_col))
        .limit(sample_cap)
        .collect()
    )
    if not sample:
        raise ValueError("train_ivf_centroids: empty candidate frame")
    mat = np.asarray([r[1] for r in sample], dtype=np.float64)
    return _lloyd(mat, n_clusters, iters)


def _lloyd(mat, k: int, iters: int) -> list[list[float]]:
    """Deterministic Lloyd k-means over the rows of ``mat`` (a numpy
    float64 matrix), shared by the IVF and PQ trainers: seeds are the
    first ``k`` rows (padded by repetition on tiny samples), ``iters``
    fixed rounds, lowest-index tie-break, an empty cell keeps its
    previous centroid. Returns plain-float centroids."""
    import numpy as np

    cents = mat[: min(k, len(mat))].copy()
    if len(cents) < k:  # tiny sample: pad by repetition
        reps = -(-k // len(cents))
        cents = np.concatenate([cents] * reps)[:k]
    for _ in range(iters):
        d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # numpy argmin = lowest index
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cents]


def _nearest_cells(vec: str, cents: list[list[float]], n: int) -> Column:
    """Ids of the ``n`` nearest cells (squared-L2, cell-id tie-break)
    for the vector column — one codegen expression over the literal
    centroid table, shared by candidate assignment (n=1) and query
    probing (n=n_probe).

    Both sides of the (cell) probe join explode this list: the n=1
    list holds one element, so that explode is a 1:1 map. A ``[0]``
    alias on the candidate side instead lets the optimizer's
    constraint inference carry a filter over the candidate's vector
    column onto the probe side, which has no such column, and the plan
    fails at runtime (SCALE.md).

    The centroid table rides the plan as ONE folded literal
    (``dense_lit`` — a ``from_json`` of a single string literal that
    ConstantFolding collapses to one array Literal at optimization, so
    codegen sees the same constant as the old ``F.lit(list)``
    CreateArray route) zipped against a ``sequence`` of cell ids.
    Dropping the former per-cell (cell, cvec) STRUCT wrapping cut
    first-run compile (1.4 s → 0.5 s cold); the r15 dense-literal
    route removes the remaining n_clusters × dim scalar nodes from
    ANALYSIS, which dominated the ANN builders' wall time (guide
    §7.3; see OPTIMIZATION_r15.md). Ties still break to the LOWEST
    cell id via the (dist, cell) struct sort."""
    cent_lit = dense_lit(
        [[float(x) for x in c] for c in cents], "array<array<double>>"
    )
    dists = F.transform(
        cent_lit,
        lambda cv: F.aggregate(
            F.zip_with(
                cv,
                F.col(vec),
                lambda a, b: (a - b.cast("double"))
                * (a - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    cells = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    ranked = F.array_sort(
        F.arrays_zip(dists.alias("dist"), cells.alias("cell"))
    )
    return F.slice(F.transform(ranked, lambda s: s["cell"]), 1, n)


def _ivf_probe(
    c: DataFrame, q: DataFrame, cents: list[list[float]], n_probe: int
) -> DataFrame:
    """The IVF probe: each candidate joins under its one nearest cell,
    each query under its ``n_probe`` nearest, on the broadcast (cell)
    equi-join of ``_probe``."""
    indexed = c.withColumn(
        "_cell", F.explode(_nearest_cells("_cvec", cents, 1))
    )
    probed = q.withColumn(
        "_cells", _nearest_cells("_qvec", cents, n_probe)
    ).select(*q.columns, F.explode("_cells").alias("_cell"))
    return _probe(indexed, probed, "_cell")


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    n_clusters: int = 16,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: k-means
    centroids partition the corpus; each query scores only the
    ``n_probe`` nearest cells.

    Build: one bounded-sample deterministic Lloyd fit
    (``train_ivf_centroids``) + a ZERO-SHUFFLE cell-assignment
    projection on the candidates (the centroid table is plan
    literals) — amortized across queries, exactly like a persisted
    IVF index. Probe: queries broadcast with their n_probe cell ids;
    the (cell) equi-join bounds scored pairs to ~n_probe/n_clusters of
    the corpus. Recall grows with n_probe (n_probe == n_clusters is
    exact search). ``seed`` keys the quantizer's hash-sampled training
    draw (``train_ivf_centroids``) — same seed, same index.
    """
    cents = train_ivf_centroids(
        candidates, n_clusters, vec_col=vec_col, id_col=id_col, seed=seed
    )
    c, q = _sides(candidates, queries, id_col, vec_col)
    return _rank_topk(_ivf_probe(c, q, cents, n_probe), k)


def lsh_bucketed_topk(
    candidates: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket in at
    least one hash table (OR-amplification).

    ``tables`` is L lists of b hyperplanes each: a pair collides with
    probability 1-(1-p^b)^L where p = 1-θ/π — more tables raise
    recall, more bits per table cut candidates. The (table, bucket)
    equi-join replaces the cross join, so the shuffle is ∝ total
    bucket occupancy, not N·Q; colliding pairs are deduped BEFORE the
    similarity computation so each survivor is scored once.

    On near-random embeddings (the driver's synthetic table) the
    neighbor/background contrast is inherently small, so the gain is
    bounded; on real clustered embeddings the same machinery prunes
    orders of magnitude. Tests pin recall ≥ 0.5 @ 8 tables × 3 bits.
    """
    c, q = _sides(candidates, queries, id_col, vec_col)
    cb = _with_lsh_tables(c, tables, "_cvec")
    qb = _with_lsh_tables(q, tables, "_qvec")
    pairs = (
        _probe(
            cb.select("neighbor_id", "table", "bucket"),
            qb.select("query_id", "table", "bucket"),
            ["table", "bucket"],
        )
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(
        pairs.join(c, "neighbor_id").join(F.broadcast(q), "query_id"), k
    )


def _int8_grid(df: DataFrame, vec_col: str) -> tuple[Column, Column, Column]:
    """The per-dimension int8 grid of ``vec_col``: collects the d-row
    (min, max) stats table once and returns ``(mins, scales, centered)``
    — the mins and scale = (max-min)/255 as plan literals, and the
    vector minus its per-dim mins."""
    stats = (
        df.select(F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min(F.col("x").cast("double")).alias("mn"),
             F.max(F.col("x").cast("double")).alias("mx"))
        .orderBy("dim")
        .collect()
    )
    mins = dense_lit([float(r.mn) for r in stats], "array<double>")
    scales = dense_lit(
        [(float(r.mx) - float(r.mn)) / 255.0 for r in stats],
        "array<double>",
    )
    centered = F.zip_with(
        F.col(vec_col), mins, lambda x, mn: x.cast("double") - mn
    )
    return mins, scales, centered


def _int8_level(d: Column, sc: Column) -> Column:
    """The dequantized offset of centered coordinate ``d`` on a grid of
    step ``sc``: round(d/sc) clamped to [0, 255], times ``sc``."""
    return F.least(F.greatest(F.round(d / sc), F.lit(0.0)), F.lit(255.0)) * sc


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension scalar int8 quantization error profile — the
    memory lever for corpus-scale ANN (float32 → int8 is 4× less
    vector storage; IVF/LSH candidate scans then stream 4× more
    vectors per byte of I/O).

    Per-dim (min, max) over the corpus define scale = (max-min)/255;
    each coordinate quantizes to round((x-min)/scale) clamped to
    [0, 255] and dequantizes to q·scale + min. Output per vector:
    (id, round(max_abs_err, 6), round(mse, 6)) — the acceptance
    metric for "is int8 enough for this corpus".

    Scale shape: the d-row stats table collects to the driver and
    re-enters as PLAN LITERALS (the kmeans-assignment trick), so
    quantization itself is a zero-shuffle codegen projection; the only
    shuffle is the posexplode→groupBy(dim) stats pass, map-side
    combined to partitions×d rows. Constant dims (max == min) carry
    zero error by convention.
    """
    _, scales, centered = _int8_grid(df, vec_col)
    err = F.zip_with(
        centered,
        scales,
        lambda d, sc: F.when(sc == 0.0, F.lit(0.0)).otherwise(
            F.abs(_int8_level(d, sc) - d)
        ),
    )
    staged = df.select(F.col(id_col), err.alias("_err"))
    n = F.size("_err")
    return staged.select(
        F.col(id_col),
        F.round(F.array_max("_err"), 6).alias("max_abs_err"),
        F.round(
            F.aggregate(
                F.col("_err"), F.lit(0.0), lambda a, e: a + e * e
            )
            / n,
            6,
        ).alias("mse"),
    )


def with_dequantized_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding_q",
) -> DataFrame:
    """Round-trip the embedding column through int8 scalar quantization
    (same per-dim stats-as-literals construction as
    ``quantize_embeddings_int8``) — the vectors a compressed ANN index
    actually searches. Feeding these into ``topk_exact``/``ivf_topk``
    measures the REAL retrieval cost of the 4x memory saving (recall
    against the float baseline), not just per-coordinate error.
    """
    mins, scales, centered = _int8_grid(df, vec_col)
    quant = F.zip_with(
        centered,
        scales,
        lambda d, sc: F.when(sc == 0.0, F.lit(0.0)).otherwise(
            _int8_level(d, sc)
        ),
    )
    deq = F.zip_with(quant, mins, lambda q, mn: q + mn)
    return df.select(F.col(id_col), deq.alias(out_col))


def rp_sign_matrix(out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic ±1 sign matrix for random projection, derived
    from md5 of the (j, i) coordinates — engine-stable and
    reproducible everywhere (same trick as the MinHash shingle hash),
    so the projection is a pure function of the coordinates, not of a
    seeded RNG whose stream differs across engines."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"rp_{j}_{i}".encode()).hexdigest()[:8], 16
            )
            & 1
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def _rp_components(
    vec_col: str, out_dim: int, in_dim: int
) -> "list[F.Column]":
    """The out_dim projected components as Column expressions: each is
    a ``zip_with`` of the vector against its ±1 sign row (a literal
    array) folded left-to-right by ``aggregate`` from a 0.0 seed.

    The higher-order-function fold replaced a hand-unrolled 64-term
    ``+``/``-`` Column tree (~1,024 expression nodes total) that cost
    ~5 s of plan-compile/codegen per query at ANY data size; the fold
    form compiles in ~1 s with identical arithmetic: 0.0 + x == x and
    x * ±1.0 == ±x bit-exactly in IEEE 754, and ``aggregate`` folds in
    element order, so any engine chaining ``0.0 + t1 ± t2 ...`` in
    index order reproduces every double bit-for-bit.
    """
    import math

    signs = rp_sign_matrix(out_dim, in_dim)
    scale = 1.0 / math.sqrt(out_dim)
    comps = []
    for j in range(out_dim):
        sign_row = dense_lit(list(signs[j]), "array<double>")
        folded = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                sign_row,
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append(F.round(folded * F.lit(scale), 6))
    return comps


def random_project(
    df: DataFrame,
    in_dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``in_dim``
    float vectors to ``out_dim`` via a ±1 sign matrix scaled by
    1/sqrt(out_dim) (Achlioptas 2003 — database-friendly random
    projections). The ANN pre-reduction step: distances are preserved
    within (1±eps) w.h.p., so IVF/LSH build and probe on the short
    vectors and only the final re-rank touches full vectors.

    Scale shape: the matrix is out_dim x in_dim plan LITERALS (the
    quantization-stats pattern) — zero shuffle, zero driver state at
    execution time, pure per-row codegen arithmetic (see
    ``_rp_components`` for the fold-order contract that keeps the
    doubles engine-reproducible).
    """
    comps = _rp_components(vec_col, out_dim, in_dim)
    return df.select(id_col, F.array(*comps).alias("proj"))


def random_project_cols(
    df: DataFrame,
    in_dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``random_project`` with the projection as out_dim SCALAR
    columns (``proj_00`` .. ``proj_NN``) instead of one array column.

    This is the hash-auditable shape: an array-typed result column is
    representation-sensitive under order-insensitive value hashing
    (pandas cannot factorize list cells; engines disagree on list
    serialization), so the graded query and its SQL oracle both emit
    the wide scalar form — same doubles, scalar types only.
    """
    comps = _rp_components(vec_col, out_dim, in_dim)
    named = [c.alias(f"proj_{j:02d}") for j, c in enumerate(comps)]
    return df.select(id_col, *named)


def train_pq_codebooks(
    candidates: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_cap: int = 2048,
    iters: int = 5,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    the vector into ``n_subspaces`` contiguous sub-vectors and run a
    small deterministic Lloyd k-means per subspace over a bounded
    sample. Returns ``codebooks[s][c] = centroid`` (python floats,
    destined to become plan literals).

    The training sample is the first ``sample_cap`` vectors by id —
    deterministic and driver-sized BY CONSTRUCTION (PQ codebooks are
    always trained on a fixed sample, not the corpus; at 100 TB the
    only change is sampling that cap uniformly instead of by id
    prefix). Each subspace runs ``_lloyd`` (shared with
    ``train_ivf_centroids``), deterministic in every choice, so
    encode/score stay reproducible.
    """
    import numpy as np

    sample = (
        candidates.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_cap)
        .collect()
    )
    if not sample:
        raise ValueError("train_pq_codebooks: empty candidate frame")
    mat = np.asarray([r[1] for r in sample], dtype=np.float64)
    dim = mat.shape[1]
    if dim % n_subspaces:
        raise ValueError(
            f"train_pq_codebooks: dim {dim} not divisible by "
            f"{n_subspaces} subspaces"
        )
    sub_d = dim // n_subspaces
    return [
        _lloyd(mat[:, s * sub_d : (s + 1) * sub_d], n_codes, iters)
        for s in range(n_subspaces)
    ]


def _pq_sub(vec_col: str, s: int, sub_d: int) -> Column:
    """Double-cast sub-vector s (1-based slice) of ``vec_col``."""
    return F.transform(
        F.slice(F.col(vec_col), s * sub_d + 1, sub_d),
        lambda x: x.cast("double"),
    )


def _pq_book_dists(sub: Column, book: list[list[float]]) -> Column:
    """All-codeword squared distances of ``sub`` to one subspace's
    codebook, as ONE ``transform`` lambda over a literal
    array-of-arrays. The lambda body (zip_with + aggregate fold) is a
    single expression tree the engine compiles ONCE and evaluates per
    codeword — vs materializing n_codes separate fold trees, which
    made the encode plan ~16x larger and cost ~5 s of compile for 5 K
    rows (profiled at sf0.1). The codebook rides as ``dense_lit`` —
    one folded Literal instead of a CreateArray tree, removing its
    n_codes × sub_d scalar nodes from every analysis pass (see
    ``_nearest_cells`` / OPTIMIZATION_r15.md for the cost story)."""
    booklit = dense_lit(
        [[float(x) for x in c] for c in book], "array<array<double>>"
    )
    return F.transform(
        booklit,
        lambda cent: F.aggregate(
            F.zip_with(sub, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def with_pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append the PQ code array: per subspace, the index of the
    nearest codebook centroid (squared-euclid, lowest index on ties
    via the (dist, code) struct sort — matching numpy argmin).

    Pure codegen Column expressions: the codebooks ride in the plan as
    literals (n_subspaces x n_codes x sub_d doubles — a few KiB), so
    encoding is a zero-shuffle map over the corpus, embarrassingly
    parallel at any scale.
    """
    sub_d = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        dists = _pq_book_dists(_pq_sub(vec_col, s, sub_d), book)
        # first position of the min == lowest index on ties (numpy
        # argmin); exact double equality is safe — both sides are the
        # same computed value
        best = (
            F.array_position(dists, F.array_min(dists)) - 1
        ).cast("int")
        codes.append(best)
    return df.withColumn(code_col, F.array(*codes))


def _with_adc(
    c: DataFrame, q: DataFrame, books: list[list[list[float]]]
) -> tuple[DataFrame, DataFrame]:
    """The ADC sides: candidates with their ``pq_code`` and queries with
    their lookup table ``_dtab[s][c] = ||q_s - book[s][c]||^2``, computed
    once per query row and broadcast with it."""
    sub_d = len(books[0][0])
    dtab = F.array(
        *[
            _pq_book_dists(_pq_sub("_qvec", s, sub_d), book)
            for s, book in enumerate(books)
        ]
    )
    return with_pq_codes(c, books, "_cvec"), q.withColumn("_dtab", dtab)


def _adc_rerank(pairs: DataFrame, k: int, rerank: int) -> DataFrame:
    """Cosine top-k of the ``rerank`` pairs per query with the smallest
    asymmetric distance: the ``_dtab`` entries at the candidate's
    ``pq_code``, summed left to right."""
    adist = F.aggregate(
        F.zip_with(
            F.col("_dtab"),
            F.col("pq_code"),
            lambda tab, code: F.element_at(tab, code + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return _rank_topk(
        _rerank_cut(pairs.withColumn("_adist", adist), "_adist", rerank), k
    )


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 10,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via product quantization with exact re-rank:
    asymmetric distance computation (ADC) over PQ codes prunes the
    corpus to ``rerank`` candidates per query, then exact cosine
    ranks those. Same output contract as ``topk_exact``.

    Scale shape: encoding is zero-shuffle (codebooks are literals);
    each query's ADC lookup table (n_subspaces x n_codes doubles) is
    computed once per query row and broadcast with it; the scored
    stream carries only (query, candidate, approx-dist) and the
    ``rerank`` cut happens in the same map-side-limited window as
    ``topk_exact`` (``_rerank_cut``) — the exact cosine touches rerank·|Q|
    rows, not N·|Q|. Unlike IVF the index needs no cluster shuffle:
    codes live with the rows.
    """
    books = train_pq_codebooks(
        candidates, n_subspaces, n_codes, vec_col, id_col
    )
    c, q = _with_adc(*_sides(candidates, queries, id_col, vec_col), books)
    return _adc_rerank(_probe(c, q), k, rerank)


def truncated_topk(
    candidates: DataFrame,
    queries: DataFrame,
    prefix_dim: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncated retrieval (Kusupati et al. 2022):
    exact cosine top-k over only the FIRST ``prefix_dim`` components
    of each vector. With MRL-trained embeddings the prefix carries
    most of the signal, so this is the cheap first stage of adaptive
    retrieval (prefix search -> full-dim rerank); here it is exposed
    as its own operator because — unlike LSH/IVF/PQ — it is fully
    deterministic given the input, so the SQL oracle checks the
    neighbor lists themselves, not a recall bound.

    Same plan as ``topk_exact`` with vectors sliced BEFORE the scored
    cross join: per-pair work drops by dim/prefix_dim, and at scale
    the sliced candidate column is what ships to executors (the full
    vector is pruned out by Catalyst column pruning).
    """
    if prefix_dim < 1:
        raise ValueError(
            f"truncated_topk: prefix_dim must be >= 1, got {prefix_dim}"
        )
    cut = F.slice(F.col(vec_col), 1, prefix_dim)
    c = candidates.select(F.col(id_col), cut.alias(vec_col))
    q = queries.select(F.col(id_col), cut.alias(vec_col))
    return _rank_topk(_probe(*_sides(c, q, id_col, vec_col)), k)


def _sign_words(
    vec_col: str, dim: int = 64, word_bits: int = 32
) -> list[Column]:
    """Pack the sign pattern of ``vec_col`` (component > 0) into
    ``dim/word_bits`` BIGINT words, low component = low bit. 32 bits
    per word keeps every packed value well inside signed-64 range, so
    the same integers are representable in any engine.

    Pure codegen: the bit weights ride as a literal array and the fold
    is one ``zip_with`` + ``aggregate`` per word — zero shuffle, zero
    Python.
    """
    if dim % word_bits:
        raise ValueError(
            f"_sign_words: dim {dim} not divisible by {word_bits}"
        )
    pow2 = F.array(
        *[F.lit(1 << i).cast("long") for i in range(word_bits)]
    )
    words = []
    for w in range(dim // word_bits):
        seg = F.slice(F.col(vec_col), w * word_bits + 1, word_bits)
        bits = F.zip_with(
            seg,
            pow2,
            lambda x, p: F.when(x > 0, p).otherwise(F.lit(0).cast("long")),
        )
        words.append(
            F.aggregate(
                bits,
                F.lit(0).cast("long"),
                lambda acc, v: acc.bitwiseOR(v),
            )
        )
    return words


def binary_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization retrieval: 1-bit sign quantization
    (component > 0) packed into two BIGINT words, hamming-distance
    prune to ``rerank`` candidates per query, exact cosine re-rank to
    top ``k``. The cheapest quantization tier below int8/PQ — 64 dims
    become 8 bytes, and the prune distance is two XOR+popcount ops
    per pair (``bit_count``), no float math at all.

    Fully deterministic (hamming ASC, neighbor_id tie-break; then
    cosine DESC, neighbor_id), so the SQL oracle checks the neighbor
    lists themselves, unlike the recall-bounded ANN keys.

    Scale shape: packing is a zero-shuffle map (weights are plan
    literals); queries broadcast with their packed words; the pruned
    stream entering the cosine stage carries rerank·|Q| rows, not
    N·|Q| — and the window's map-side partial limit (``_rerank_cut``)
    keeps the global rank's shuffle to ~partitions·|Q|·rerank rows.
    """
    c, q = _sides(candidates, queries, id_col, vec_col)
    c_words = _sign_words("_cvec", dim)
    q_words = _sign_words("_qvec", dim)
    c = c.select(*c.columns, *[w.alias(f"_cb{i}") for i, w in enumerate(c_words)])
    q = q.select(*q.columns, *[w.alias(f"_qb{i}") for i, w in enumerate(q_words)])
    hamming = sum(
        (
            F.bit_count(F.col(f"_cb{i}").bitwiseXOR(F.col(f"_qb{i}")))
            for i in range(len(c_words))
        ),
        F.lit(0),
    ).cast("int")
    paired = _probe(c, q).withColumn("hamming", hamming)
    return _rank_topk(_rerank_cut(paired, "hamming", rerank), k, "hamming")


def ndcg_at_k(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality scorecard: NDCG@k of exact cosine top-k with
    BINARY relevance (neighbor label == query label). Per query:
    DCG = Σ_r rel_r / log2(r+1) over the returned ranks, IDCG = the
    same sum over the first min(k, n_rel) ranks all-relevant, and
    their ratio — the metric that grades an ANN tier's usefulness
    (not just its recall vs exact) on a labeled corpus.

    ``n_rel`` counts same-label candidates excluding the query itself
    when it appears in the candidate set (self-matches are never
    retrievable — ``topk_exact`` drops them).

    Engine-exactness: both DCG and IDCG are fixed-order folds in rank
    order (a sorted-array ``aggregate``, never an unordered SUM of
    doubles), so the only cross-engine noise is a possible last-ulp
    log2 difference — absorbed by round(6). NDCG is NULL when the
    query's label has no other members (IDCG = 0).

    Scale shape: rides ``topk_exact``'s map-side-limited rank
    (the wide shuffle carries only partition winners), then label joins —
    query labels, per-label counts (≤ |labels| rows), and the
    self-label lookup (SEMI-RESTRICTED to the query-id set before it
    is broadcast) fused into ONE |queries|-row broadcast joined before
    the aggregation, so every broadcast side is bounded by |queries|
    or |labels|, never by the corpus — and one k-row-per-query fold.
    Nothing quadratic past the scored candidates. A query whose label has no members in the candidate
    corpus still surfaces (n_rel = 0, NULL ndcg) via the left join on
    the label counts.
    """
    top = topk_exact(candidates, queries, k, id_col, vec_col)
    q_lab = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("_qlab")
    )
    c_lab = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_clab")
    )
    lab_n = candidates.groupBy(
        F.col(label_col).alias("_qlab")
    ).agg(F.count(F.lit(1)).alias("_nlab"))
    # Self-label lookup, restricted to the query ids BEFORE it is
    # broadcast: the raw (id, label) projection of candidates is one
    # row per corpus document — broadcasting that would OOM at 100×
    # scale — while this semi-joined slice is ≤ |queries| rows (the
    # semi join broadcasts the query-id set, also |queries|-bounded,
    # against the corpus).
    self_lab = candidates.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("_slab")
    ).join(
        F.broadcast(queries.select(F.col(id_col).alias("query_id"))),
        "query_id",
        "semi",
    )
    # Per-query metadata (label, corpus count of that label, the
    # query's own corpus label) fused into ONE |queries|-row broadcast
    # joined BEFORE the aggregation, instead of two extra broadcast
    # joins stacked on the aggregated stream (r16, guide §2.4): the
    # lab_n/self_lab left joins and the n_rel arithmetic are 1:1 per
    # query_id (queries and candidates are id-unique), so computing
    # _n_rel here and carrying it through the groupBy keys is
    # row-identical to joining it on afterwards — with two fewer join
    # operators and broadcast builds on the main stream.
    q_meta = (
        q_lab.join(F.broadcast(lab_n), "_qlab", "left")
        .join(F.broadcast(self_lab), "query_id", "left")
        .withColumn(
            "_n_rel",
            # left join + coalesce: a query label absent from the
            # candidate corpus yields n_rel = 0 / NULL ndcg instead
            # of silently dropping the query row.
            F.coalesce(F.col("_nlab"), F.lit(0).cast("bigint"))
            - F.when(F.col("_slab") == F.col("_qlab"), 1).otherwise(0),
        )
        .select("query_id", "_qlab", "_n_rel")
    )
    j = (
        top.join(F.broadcast(q_meta), "query_id")
        .join(c_lab, "neighbor_id")
        .withColumn(
            "_rel",
            (F.col("_clab") == F.col("_qlab")).cast("int"),
        )
    )
    per_q = j.groupBy("query_id", "_qlab", "_n_rel").agg(
        F.sort_array(
            F.collect_list(F.struct("rank", "_rel"))
        ).alias("_rr")
    )
    dcg = F.expr(
        "aggregate(_rr, 0D, (acc, x) -> "
        "acc + CAST(x._rel AS DOUBLE) / log2(x.rank + 1))"
    )
    idcg = F.when(
        F.col("_n_rel") > 0,
        F.expr(
            f"aggregate(sequence(1, least({int(k)}, _n_rel)), 0D, "
            "(acc, r) -> acc + 1.0D / log2(r + 1))"
        ),
    ).otherwise(F.lit(0.0))
    return per_q.select(
        "query_id",
        F.col("_qlab").alias("label"),
        F.col("_n_rel").cast("bigint").alias("n_rel"),
        F.round(dcg, 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.when(idcg > 0, F.round(dcg / idcg, 6)).alias("ndcg"),
    )


def ivf_pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 10,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ composite ANN (the FAISS `IVFx,PQy` architecture): an
    inverted-file KMeans index bounds WHICH candidates each query
    sees (n_probe nearest cells), and product-quantization ADC bounds
    the COST per candidate (code-table lookups instead of full-vector
    math); only the ``rerank`` ADC survivors per query touch full
    vectors for the exact cosine re-rank. Same output contract as
    ``topk_exact``.

    This is the tier that survives 100 TB where either trick alone
    stalls: IVF without PQ still reads full vectors for ~n_probe/
    n_clusters of the corpus; PQ without IVF still scans every code.
    Composed: scan cost ∝ corpus·(n_probe/n_clusters) code lookups,
    full-vector cost ∝ rerank·|Q|.

    All index state is plan literals (centroids + codebooks, a few
    KiB) — candidate cell-assignment and encoding are zero-shuffle
    maps; the probe is a (cell) equi-join against broadcast queries;
    the rerank cut rides the same map-side-limited window as
    ``topk_exact`` (``_rerank_cut``). Deterministic end to end:
    a bounded-sample Lloyd coarse quantizer (``train_ivf_centroids``,
    a pure function of the seed-keyed md5-sampled draw), codebooks
    trained on the id-ordered prefix (``train_pq_codebooks``), and
    (dist, id) tie-breaks.
    """
    cents = train_ivf_centroids(
        candidates, n_clusters, vec_col=vec_col, id_col=id_col, seed=seed
    )
    books = train_pq_codebooks(
        candidates, n_subspaces, n_codes, vec_col, id_col
    )
    c, q = _with_adc(*_sides(candidates, queries, id_col, vec_col), books)
    return _adc_rerank(_ivf_probe(c, q, cents, n_probe), k, rerank)
