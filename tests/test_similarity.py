"""Similarity search tests: golden cosine values, exact == scalable
plan equivalence, ANN recall floor against the exact baseline."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
    topk_exact,
)
from tests.conftest import SF_DIR


def test_vector_functions_golden(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 0.0, 1.0])], ["a", "b"]
    )
    row = df.select(
        dot_product("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()[0]
    assert row["dot"] == 4.0
    assert row["na"] == 3.0
    assert abs(row["cos"] - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12


def test_cosine_zero_norm_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], ["a", "b"])
    assert df.select(cosine_similarity("a", "b").alias("c")).collect()[0]["c"] is None


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_topk_exact_self_excluded_and_ranked(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    out = topk_exact(embeddings, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15  # 3 queries × 5
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine_sim))
    for sims in by_q.values():
        ranks = [r for r, _ in sorted(sims)]
        vals = [s for _, s in sorted(sims)]
        assert ranks == [1, 2, 3, 4, 5]
        assert vals == sorted(vals, reverse=True)


def _fixed_tables(
    n_tables: int = 8, bits: int = 3, dim: int = 64
) -> list[list[list[float]]]:
    x = 88172645463325252
    tables = []
    for _ in range(n_tables):
        planes = []
        for _ in range(bits):
            row = []
            for _ in range(dim):
                x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
                x ^= x >> 7
                x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
                row.append(((x % 2001) - 1000) / 1000.0)
            planes.append(row)
        tables.append(planes)
    return tables


def test_ann_recall_floor(embeddings):
    """Multi-table LSH ANN (8 tables × 3 bits, OR-amplified) must
    recover at least half of the true top-10 on the driver embeddings
    — a hard setting, since synthetic random vectors give neighbors
    barely above the background similarity."""
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = topk_exact(embeddings, queries, k=10)
    ann = lsh_bucketed_topk(embeddings, queries, _fixed_tables(), k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    found = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_ivf_recall_curve_and_exhaustive_exactness(embeddings):
    """IVF ANN: recall must rise with n_probe, and probing every cell
    must reproduce the exact top-k (the index never changes scores,
    only which pairs are scored)."""
    queries = embeddings.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in topk_exact(embeddings, queries, k=10).collect()
    }
    few = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            embeddings, queries, n_clusters=16, n_probe=4, k=10
        ).collect()
    }
    allp = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            embeddings, queries, n_clusters=16, n_probe=16, k=10
        ).collect()
    }
    assert len(few & truth) / len(truth) >= 0.5
    assert allp == truth


def test_ivf_training_sample_is_unbiased_and_seeded(spark):
    """The coarse quantizer's bounded sample is a seeded HASH draw
    over the whole corpus, not the id-ordered prefix: on a corpus
    whose id order correlates with content (ids 0..999 near the
    origin, ids 1000..1999 near (10, 10)) a prefix sample would never
    see the late-id cluster and every centroid would sit near the
    origin. The hash draw must place at least one centroid in each
    region; same seed → identical centroids; a different seed draws
    a different sample."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rows = []
    for i in range(2000):
        base = 0.0 if i < 1000 else 10.0
        # deterministic jitter so neither cluster is degenerate
        rows.append((i, [base + (i % 7) * 0.01, base + (i % 11) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(df, n_clusters=4, sample_cap=512)
    firsts = [c[0] for c in cents]
    assert any(x < 5.0 for x in firsts), firsts   # covers the early-id cluster
    assert any(x > 5.0 for x in firsts), firsts   # covers the late-id cluster
    assert train_ivf_centroids(df, n_clusters=4, sample_cap=512) == cents
    other = train_ivf_centroids(df, n_clusters=4, sample_cap=512, seed=7)
    assert other != cents  # distinct seed, distinct (but valid) draw
    assert any(c[0] > 5.0 for c in other)


def test_ann_sims_match_exact_values(embeddings):
    """Every pair the ANN path returns must carry the same cosine the
    exact path computes for that pair (the approximation is WHICH
    pairs are scored, never the score itself)."""
    queries = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in topk_exact(embeddings, queries, k=500).collect()
    }
    for r in lsh_bucketed_topk(
        embeddings, queries, _fixed_tables(n_tables=4), k=10
    ).collect():
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine_sim


def test_quantize_int8_error_bounded_by_half_step(embeddings):
    """|dequant - x| <= scale/2 everywhere (the definitional bound):
    with per-dim range r, scale = r/255 and max_abs_err <= r/510."""
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    out = quantize_embeddings_int8(embeddings)
    assert out.count() == embeddings.count()
    stats = (
        embeddings.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg((F.max("x") - F.min("x")).alias("r"))
        .agg(F.max("r"))
        .collect()[0][0]
    )
    worst = out.agg(F.max("max_abs_err")).collect()[0][0]
    assert worst <= stats / 510 + 1e-9
    assert worst > 0  # non-degenerate corpus actually quantizes


def test_quantize_int8_constant_dim_zero_error(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [1.0, 7.0])], ["vec_id", "embedding"]
    )
    got = {r.vec_id: r.max_abs_err for r in quantize_embeddings_int8(df).collect()}
    # dim 0 constant -> zero err; dim 1 endpoints quantize exactly
    assert got[0] == 0.0 and got[1] == 0.0


def test_quantized_topk_recall_against_float_baseline(embeddings):
    """End-to-end cost of int8 compression on RETRIEVAL: top-10 over
    dequantized vectors must keep >= 0.8 mean recall vs the float
    baseline (64-dim, 255-level grid — near-lossless here)."""
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        topk_exact,
        with_dequantized_embeddings,
    )

    queries = embeddings.filter(F.col("vec_id") < 5)
    base = {
        (r.query_id, r.neighbor_id)
        for r in topk_exact(embeddings, queries, k=10).collect()
    }
    dq = with_dequantized_embeddings(embeddings).withColumnRenamed(
        "embedding_q", "embedding"
    )
    dq_queries = dq.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.neighbor_id)
        for r in topk_exact(dq, dq_queries, k=10).collect()
    }
    recall = len(base & got) / len(base)
    assert recall >= 0.8, recall


def test_random_projection_preserves_distances(spark):
    """JL property on the synthetic embeddings: projected pairwise
    squared distances stay within a loose (1±0.75) band of the
    originals for the vast majority of sampled pairs — enough to prove
    the projection is a genuine isometry-ish map, not a fake."""
    import itertools

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        random_project,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").limit(30)
    orig = {r.vec_id: r.embedding for r in e.collect()}
    proj = {r.vec_id: r.proj for r in random_project(e).collect()}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = []
    for i, j in itertools.combinations(sorted(orig), 2):
        do, dp = d2(orig[i], orig[j]), d2(proj[i], proj[j])
        if do > 0:
            ratios.append(dp / do)
    inside = sum(1 for r in ratios if 0.25 <= r <= 1.75)
    assert inside / len(ratios) >= 0.9, (min(ratios), max(ratios))


def test_rp_sign_matrix_is_deterministic_and_balanced(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        rp_sign_matrix,
    )

    m1, m2 = rp_sign_matrix(16, 64), rp_sign_matrix(16, 64)
    assert m1 == m2
    flat = [s for row in m1 for s in row]
    assert set(flat) == {1.0, -1.0}
    # roughly balanced signs (md5 bits): within 20% of half
    pos = sum(1 for s in flat if s > 0)
    assert abs(pos - len(flat) / 2) < len(flat) * 0.2


def test_random_project_cols_matches_array_form(spark):
    """random_project_cols is the same projection as random_project,
    reshaped to wide scalar columns (the hash-auditable shape) —
    every component must match the array form bit-for-bit."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        random_project,
        random_project_cols,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").limit(20)
    arr = {r.vec_id: list(r.proj) for r in random_project(e).collect()}
    wide = random_project_cols(e).collect()
    assert wide, "projection produced no rows"
    cols = [c for c in wide[0].asDict() if c.startswith("proj_")]
    assert cols == sorted(cols) == [f"proj_{j:02d}" for j in range(16)]
    for r in wide:
        assert [r[c] for c in cols] == arr[r.vec_id]


def test_pq_codes_shape_and_determinism(embeddings):
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        train_pq_codebooks,
        with_pq_codes,
    )

    books = train_pq_codebooks(embeddings, n_subspaces=8, n_codes=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    books2 = train_pq_codebooks(embeddings, n_subspaces=8, n_codes=16)
    assert books == books2  # fully deterministic training
    coded = with_pq_codes(embeddings, books).select("pq_code").collect()
    for r in coded:
        assert len(r.pq_code) == 8
        assert all(0 <= c < 16 for c in r.pq_code)


def test_pq_topk_recall_floor(embeddings):
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        pq_topk,
        topk_exact,
    )

    q = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_exact(embeddings, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(embeddings, q, k=10, rerank=250).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.7
    # scores of true hits are exact (rerank recomputes real cosine)


def test_pq_rejects_indivisible_dim(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        train_pq_codebooks,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(df, n_subspaces=2, n_codes=2)


def test_truncated_topk_prefix_recall_and_validation(embeddings):
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        topk_exact,
        truncated_topk,
    )

    q = embeddings.filter(F.col("vec_id") < 5)
    full = {
        (r.query_id, r.neighbor_id)
        for r in topk_exact(embeddings, q, k=10).collect()
    }
    # full prefix == full search (sanity: slice of dim d is identity)
    dim = len(embeddings.select("embedding").first()[0])
    same = {
        (r.query_id, r.neighbor_id)
        for r in truncated_topk(embeddings, q, prefix_dim=dim, k=10).collect()
    }
    assert same == full
    # a 16-dim prefix still finds a nontrivial share of true neighbors
    pref = {
        (r.query_id, r.neighbor_id)
        for r in truncated_topk(embeddings, q, prefix_dim=16, k=10).collect()
    }
    assert len(pref & full) / len(full) >= 0.2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="prefix_dim"):
        truncated_topk(embeddings, q, prefix_dim=0)


def test_binary_topk_sign_words_pack_correctly(spark):
    """A hand-built vector whose positive components sit at known
    positions must pack to exactly those bits (low dim = low bit,
    32 dims per word)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        _sign_words,
    )

    vec = [0.0] * 64
    for i in (0, 5, 31, 32, 63):
        vec[i] = 1.0
    df = spark.createDataFrame([(vec,)], ["embedding"])
    w = _sign_words("embedding")
    row = df.select(w[0].alias("w0"), w[1].alias("w1")).collect()[0]
    assert row.w0 == (1 << 0) | (1 << 5) | (1 << 31)
    assert row.w1 == (1 << 0) | (1 << 31)  # dims 32 and 63


@pytest.mark.parametrize("tier", ["binary", "pq", "ivf_pq"])
def test_full_rerank_tier_matches_exact(embeddings, tier):
    """With rerank >= corpus size (and, for IVF-PQ, every cell probed)
    the prune drops nothing, so the tier must return exactly the exact
    top-k ranked neighbor lists — this pins the shared ``_rerank_cut``
    and, for the PQ tiers, ``_adc_rerank``."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        binary_topk,
        ivf_pq_topk,
        pq_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 3)
    n = embeddings.count()
    ann = {
        "binary": lambda: binary_topk(embeddings, queries, k=5, rerank=n),
        "pq": lambda: pq_topk(embeddings, queries, k=5, rerank=n),
        "ivf_pq": lambda: ivf_pq_topk(
            embeddings, queries, n_clusters=4, n_probe=4, k=5, rerank=n
        ),
    }[tier]()
    exact = topk_exact(embeddings, queries, k=5)
    a = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in exact.collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in ann.collect()
    )
    assert a == b


def test_binary_topk_recall_floor_and_hamming_sanity(embeddings):
    """At rerank=50 the sign-bit prune must keep >= 60% of the true
    top-10 (random-ish embeddings; Charikar sign bits preserve angle),
    and every reported hamming must be within [0, 64]."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        binary_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = topk_exact(embeddings, queries, k=10)
    bitq = binary_topk(embeddings, queries, k=10, rerank=50)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in bitq.collect():
        assert 0 <= r.hamming <= 64
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.6, f"binary recall {hits}/{total}"


def test_binary_topk_generalizes_over_dim(spark):
    """dim != 64 must work: 32 dims -> one packed word; hamming over
    a hand-built 32-dim pair is the exact bit-disagreement count."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        binary_topk,
    )

    a = [1.0] * 32
    b = [1.0] * 28 + [-1.0] * 4  # disagrees on the last 4 sign bits
    df = spark.createDataFrame([(0, a), (1, b)], ["vec_id", "embedding"])
    out = binary_topk(
        df, df.filter(F.col("vec_id") == 0), dim=32, k=1, rerank=2
    ).collect()
    assert len(out) == 1
    assert out[0].neighbor_id == 1 and out[0].hamming == 4


def test_ndcg_at_k_golden(spark):
    """Hand-checkable NDCG: 2D unit-ish vectors where query 0's true
    neighbors by cosine are known, binary relevance = label match."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ndcg_at_k,
    )

    # query 0 (label 1) at angle 0; candidates at increasing angles.
    # labels: id1 -> 1 (rank 1, rel), id2 -> 0 (rank 2), id3 -> 1
    # (rank 3, rel), id4 -> 0 (rank 4).
    import math as m

    def vec(deg):
        r = m.radians(deg)
        return [float(m.cos(r)), float(m.sin(r))]

    rows = [
        (0, vec(0), 1),
        (1, vec(10), 1),
        (2, vec(20), 0),
        (3, vec(30), 1),
        (4, vec(40), 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ndcg_at_k(df, df.filter(F.col("vec_id") == 0), k=3)
    r = out.collect()[0]
    assert r.query_id == 0 and r.label == 1
    # relevant pool: ids 1 and 3 (query itself excluded)
    assert r.n_rel == 2
    dcg = 1.0 / m.log2(2) + 0.0 + 1.0 / m.log2(4)
    idcg = 1.0 / m.log2(2) + 1.0 / m.log2(3)
    assert abs(r.dcg - round(dcg, 6)) < 1e-9
    assert abs(r.idcg - round(idcg, 6)) < 1e-9
    assert abs(r.ndcg - round(dcg / idcg, 6)) < 1e-9


def test_ndcg_no_relevant_pool_is_null(spark):
    """A query whose label appears nowhere else: n_rel = 0, IDCG = 0,
    NDCG = NULL (guarded division, engine-portable)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ndcg_at_k,
    )

    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    r = ndcg_at_k(df, df.filter(F.col("vec_id") == 0), k=2).collect()[0]
    assert r.n_rel == 0
    assert r.dcg == 0.0
    assert r.idcg == 0.0
    assert r.ndcg is None


def test_ndcg_disjoint_query_corpus_surfaces_query(spark):
    """A query frame DISJOINT from the candidate corpus — its label
    never appears among the candidates: the query must still surface
    with n_rel = 0 / NULL ndcg (left join on the label counts), not
    silently vanish from the scorecard."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ndcg_at_k,
    )

    schema = "vec_id long, embedding array<float>, label int"
    cands = spark.createDataFrame(
        [(1, [0.9, 0.1], 1), (2, [0.8, 0.2], 1), (3, [0.1, 0.9], 2)],
        schema,
    )
    qs = spark.createDataFrame([(100, [1.0, 0.0], 99)], schema)
    out = ndcg_at_k(cands, qs, k=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.query_id == 100 and r.label == 99
    assert r.n_rel == 0 and r.idcg == 0.0 and r.ndcg is None


def test_ivf_pq_recall_floor_and_shape(embeddings):
    """Composite IVF-PQ: recall@10 vs exact must clear the graded
    bound at full probe depth, and the output keeps the topk_exact
    contract (rank 1..k per query, self excluded)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
    )

    q = embeddings.filter(F.col("vec_id") < 5)
    ann = ivf_pq_topk(embeddings, q, n_probe=8, k=10, rerank=250)
    rows = ann.collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    exact = topk_exact(embeddings, q, k=10)
    e_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a_pairs = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(a_pairs & e_pairs) / len(e_pairs)
    assert recall >= 0.6, recall


_WARM_SESSION_IVFPQ = """
import sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as entry
from gcp_food_delivery_data_pipeline_spark.session import get_spark

spark = get_spark()
excluded = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
assert "InferFiltersFromConstraints" not in excluded, excluded
# bench.py's two warm-ups, in order
spark.range(1_000_000).selectExpr("sum(id)").collect()
n_cpus = spark.sparkContext.defaultParallelism
spark.range(n_cpus * 10).repartition(n_cpus).mapInPandas(
    lambda it: it, "id long"
).write.format("noop").mode("overwrite").save()
rows = entry.queries()["v_ivfpq_topk"](spark, sys.argv[2]).collect()
print("RESULT", sorted(tuple(r) for r in rows))
spark.stop()
"""


def test_ivf_pq_cell_join_in_warm_session_with_constraint_inference():
    """Regression: with InferFiltersFromConstraints on, a session that
    ran bench.py's two warm-ups used to fail ``v_ivfpq_topk`` every
    time with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (an inferred filter
    over the candidate's ``embedding`` planted on the probe side). The
    trigger is the session's expression-id history, so the check needs
    its own fresh JVM; a 1g heap keeps it beside the suite's."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _WARM_SESSION_IVFPQ, root, SF_DIR],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT [(5, True)]" in proc.stdout, proc.stdout[-2000:]


def test_with_lsh_bucket_packs_sign_bits(spark):
    """Single-table bucketizer: bit i of the LONG bucket is
    sign(v · h_i) — verified against a hand computation, including a
    boundary dot product (>= 0 sets the bit)."""
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        with_lsh_bucket,
    )

    planes = [[1.0, 0.0], [0.0, 1.0], [-1.0, 1.0]]
    rows = [
        (1, [2.0, -3.0]),   # dots: 2, -3, -5  -> bits 100 -> 1
        (2, [1.0, 1.0]),    # dots: 1, 1, 0    -> bits 111 -> 7 (0 counts)
        (3, [-1.0, -1.0]),  # dots: -1, -1, 0  -> bits 100 via plane 3 -> 4
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r.vec_id: r.bucket for r in with_lsh_bucket(df, planes).collect()
    }
    assert got == {1: 1, 2: 7, 3: 4}
