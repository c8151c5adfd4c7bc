"""Deduplication operators for training-data pipelines.

Beyond the reference (which has no dedup — SURVEY.md §2.6), these are
the corpus-hygiene operators an LLM-data pipeline runs over a
``documents(doc_id, text, ...)`` table:

* ``dedup_exact``      — exact duplicates by content hash, deterministic
                         keep-first (smallest id). One shuffle.
* ``with_minhash``/ ``lsh_candidate_pairs`` — near-duplicate
  candidate generation via MinHash + LSH banding: shingle → minhash →
  band → bucket-join. NEVER an all-pairs cross join: candidates come
  from an equi-join on (band_index, band_hash), so the shuffle is
  proportional to the data, not its square.
* ``near_dedup``       — greedy drop of any doc whose verified-similar
  neighbor has a smaller id.
* ``incremental_dedup`` / ``fuzzy_decontaminate`` — the same LSH join
  across two corpora. All three LSH operators are front-ends over one
  body, ``_lsh_join``: signatures cut once per input side, one band
  equi-join, one exact-Jaccard verify.

Each operator has one implementation. Most are Column expressions
(higher-order functions ``transform``/``filter``/``array_min`` —
JVM-side, no Python UDFs); the per-token hashing folds of SimHash and
of the MinHash behind ``lsh_candidate_pairs`` run as Arrow-batched
numpy kernels whose tokenizer and hash mirror the JVM ones exactly
(``_py_tokens``/``_py_shingle_hash``).

Determinism note: ``dropDuplicates`` keeps an arbitrary row; here the
survivor is always ``min(id)`` per key via ``row_number`` so reruns and
the DuckDB oracle agree bit-for-bit.

Hash design: shingle → 32-bit integer via the first 8 hex chars of
``md5`` (stable across engines and languages, unlike ``xxhash64``
seeds), then ``n`` universal-hash permutations ``(a*h + b) mod p`` with
fixed odd constants — the classic MinHash construction (Broder 1997).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.checkpointing import (
    materialize as _ckpt,
)
from gcp_food_delivery_data_pipeline_spark.operators.scale import (
    ensure_min_partitions,
)
from gcp_food_delivery_data_pipeline_spark.operators.text import tokens

# MinHash modulus: Mersenne prime 2^31-1, with the 32-bit shingle hash
# pre-reduced mod p BEFORE the affine map. The previous construction
# ((a*x+b) mod 2^61-1 with a < 2^30, x < 2^32) kept the product under
# 2^62 to avoid LONG overflow — but that means a*x wraps AT MOST ONCE
# mod p, leaving the hash nearly MONOTONE in x: every "permutation"
# picked (roughly) the same argmin, so near-identical docs whose one
# differing shingle had a small base hash matched in 0/64 slots and
# LSH missed pairs at jaccard 0.98 (found at sf0.1). With p = 2^31-1
# and x < p, the product a*x < 2^61 still fits a LONG but wraps ~2^30
# times — an actual scrambling, restoring the min-wise behavior the
# (1-t^r)^b recall math assumes.
_MERSENNE_P = (1 << 31) - 1
_SEED_A = 0x9E3779B1  # golden-ratio odd constant
_SEED_B = 0x85EBCA77


def _hash_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal hash functions."""
    params = []
    a, b = _SEED_A, _SEED_B
    for _ in range(n):
        # xorshift-style scramble; keep a odd and within 30 bits.
        a = ((a * 0x2545F491) ^ (a >> 13)) & ((1 << 30) - 1) | 1
        b = ((b * 0x27D4EB2F) ^ (b >> 15)) & ((1 << 30) - 1)
        params.append((a, b))
    return params


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of a token-array column.

    A doc with fewer than k tokens yields its whole token sequence as
    one shingle so short docs still participate (an empty array gives
    [""] — callers that must exclude blank docs filter on the TOKEN
    count, not the shingle count).

    Construction note (same rationale as ``ngrams_from_tokens``): the
    grams come from ``arrays_zip`` of k shifted slices, with the
    transform lambda touching only its element variable. An
    index-based ``slice(toks, i, k)`` inside the lambda re-evaluates
    the captured ``toks`` expression PER ELEMENT — when CollapseProject
    inlines the tokenizer, that re-splits the whole document once per
    shingle. As zip arguments the slices evaluate once per ROW.
    """
    m = F.size(toks) - (k - 1)
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, m).alias(f"_g{j}") for j in range(k)]
    )
    grams = F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s[f"_g{j}"] for j in range(k)]),
    )
    full = F.when(F.size(toks) >= k, grams).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(full)


def shingles(text_col: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles of a text column (array<string>).

    A doc with fewer than k tokens yields its whole token sequence as
    one shingle so short docs still participate.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return shingles_from_tokens(tokens(c), k)


def _shingle_hash(s: Column) -> Column:
    """Stable 32-bit hash of one shingle: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


# Python mirrors of ``text.tokens`` and ``_shingle_hash`` for the Arrow
# kernels (``with_simhash``, ``_minhash_frame_arrow``). Each mirrors a
# JVM semantic exactly:
# - Spark ``trim`` strips only ASCII spaces → ``str.strip(" ")``;
# - Java ``\s`` is ASCII-only → the explicit class below, NOT Python
#   ``\s`` (which also matches \x1c-\x1f and Unicode spaces);
# - ``split`` then drop-empty, so blank text has no tokens;
# - NULL text reads as '' — no tokens, as through ``tokens``/``shingles``;
# - Spark ``md5`` hashes the UTF-8 bytes → ``str.encode()``.
_JAVA_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_tokens(text: str | None) -> list[str]:
    """Whitespace tokens of ``text``, exactly as ``text.tokens``."""
    if text is None:
        return []
    return [t for t in _JAVA_WS_RE.split(text.strip(" ")) if t]


def _py_shingle_hash(s: str) -> int:
    """``_shingle_hash`` of one string, in Python."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _signature_from_hashes(hashes: Column, num_hashes: int) -> Column:
    """MinHash signature (array<long>) from a pre-hashed shingle array.

    Callers MUST materialize ``hashes`` as its own projection first
    (see ``with_minhash``): without a staged column the md5 of every
    shingle would be recomputed per hash function.
    """
    # Deliberately num_hashes SEPARATE expressions, not one
    # transform-over-j: multiple references to ``hashes`` stop
    # CollapseProject from inlining the staged md5 pass into the
    # signature (a single-reference form gets inlined and re-hashes
    # every shingle once PER hash function — measured 5× slower).
    sig = []
    for a, b in _hash_params(num_hashes):
        sig.append(
            F.coalesce(
                F.array_min(
                    F.transform(
                        hashes,
                        # pre-reduce the 32-bit hash mod p so the
                        # product wraps many times (see _MERSENNE_P)
                        lambda h: (
                            F.lit(a) * (h % F.lit(_MERSENNE_P)) + F.lit(b)
                        )
                        % F.lit(_MERSENNE_P),
                    )
                ),
                F.lit(_MERSENNE_P),
            )
        )
    return F.array(*sig)


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """Append a MinHash signature column, staged so each shingle is
    hashed exactly once. No shuffle, no UDF. Blank and NULL texts have
    no tokens, so their one shingle is '' and they all share its
    signature. Output = input columns + the signature; the staged
    shingle/hash temporaries are dropped (leaking the full shingle
    array would dominate every downstream shuffle)."""
    staged = df.withColumn("_sh", shingles(text_col, k=shingle_k)).withColumn(
        "_h", F.transform(F.col("_sh"), _shingle_hash)
    )
    return staged.withColumn(
        out_col, _signature_from_hashes(F.col("_h"), num_hashes)
    ).drop("_h", "_sh")


SIMHASH_BITS = 32  # positive-LONG-safe; 64 would need unsigned handling


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    out_col: str = "simhash",
) -> DataFrame:
    """Append a SimHash fingerprint (Charikar 2002) of the token stream.

    Token hash = first 8 hex of md5 (engine-stable, like MinHash).
    Near-identical texts differ in few fingerprint bits →
    Hamming-distance bucketing (group by bands of the fingerprint)
    finds near-dups without pairwise comparison. No shuffle.

    Bit b of the fingerprint is the sign of Σ_tokens (±1 by bit b of
    the token hash); repeated tokens count once per occurrence, and
    NULL/blank text → fingerprint 0. The per-doc sign-sums run as one
    vectorized numpy pass per Arrow batch (tokenizer and hash:
    ``_py_tokens``/``_py_shingle_hash``). The kernel round-trips every
    input column through pandas, so call it on a projected frame
    (id + text), not a wide one.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    bit_idx = np.arange(bits, dtype=np.int64)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType())]
    )

    def gen(batches):
        for pdf in batches:
            hash_chunks: list[np.ndarray] = []
            starts: list[int] = []
            offsets: list[int] = []
            pos = 0
            for text in pdf[text_col]:
                toks = _py_tokens(text)
                if not toks:
                    offsets.append(-1)
                    continue
                hash_chunks.append(
                    np.array(
                        [_py_shingle_hash(t) for t in toks], dtype=np.int64
                    )
                )
                offsets.append(pos)
                starts.append(pos)
                pos += len(toks)
            if hash_chunks:
                h_all = np.concatenate(hash_chunks)
                signs = ((h_all[:, None] >> bit_idx) & 1) * 2 - 1
                sums = np.add.reduceat(signs, np.array(starts), axis=0)
                fps_dense = (
                    ((sums > 0).astype(np.int64) << bit_idx).sum(axis=1)
                )
            fps = []
            row = 0
            for o in offsets:
                if o < 0:
                    fps.append(0)
                else:
                    fps.append(int(fps_dense[row]))
                    row += 1
            yield pdf.assign(**{out_col: fps})

    return df.mapInPandas(gen, out_schema)


def hamming_distance(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two LONG fingerprints (bit_count of XOR)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """All pairs whose SimHash fingerprints differ in ≤ ``max_hamming``
    bits — EXACT result through a banded candidate join, never an
    all-pairs comparison.

    Pigeonhole guarantee: with ``bands > max_hamming`` equal-width bit
    bands, two fingerprints within the Hamming budget cannot differ in
    every band, so any qualifying pair collides on at least one
    (band_idx, band_value) key and the equi-join has PERFECT recall —
    unlike probabilistic LSH banding, this prune loses nothing. This is
    the classic web-scale simhash dedup layout (Charikar 2002
    fingerprints with Manku-style band tables).

    Skew guard (Manku-style): the band join runs over DISTINCT
    fingerprints, not documents. Identical fingerprints (exact dups,
    empty docs) would otherwise all collide on every band key and one
    hot group would generate a quadratic candidate set inside a single
    task before any dedup could prune it; instead each fingerprint
    class enters the band join once, qualifying fingerprint pairs fan
    back out to member documents through plain equi-joins, and
    intra-class (hamming 0) pairs come from a self-join on the full
    fingerprint — genuine output rows, not candidate blow-up. At corpus
    scale run exact dedup first so fingerprint classes are
    near-singletons.
    """
    if bands <= max_hamming:
        raise ValueError(
            "bands must exceed max_hamming for the pigeonhole guarantee"
        )
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1
    # r12 (stage profiling): the simhash projection was recomputed by
    # THREE plan branches (classes, the member fan-out, the intra
    # self-join), each over a ONE-split scan — tiny parquet inputs
    # pack into a single partition via openCostInBytes, so three
    # concurrent single-task stages each re-paid the full token-fold
    # (~8 s apiece at sf0.1). Split the input to cluster width BEFORE
    # the expensive projection, then materialize the narrow
    # (id, simhash) frame ONCE (durability per checkpointMode conf);
    # every branch now reads blocks.
    src = ensure_min_partitions(df.select(id_col, text_col))
    sh = _ckpt(
        with_simhash(src, text_col, bits).select(
            F.col(id_col).alias("_id"), "simhash"
        )
    )
    classes = sh.select("simhash").distinct()
    banded = classes.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select("simhash", "_band.band_idx", "_band.band_val")
    a = banded.select(F.col("simhash").alias("_sha"), "band_idx", "band_val")
    b = banded.select(F.col("simhash").alias("_shb"), "band_idx", "band_val")
    ham = hamming_distance(F.col("_sha"), F.col("_shb")).cast("int")
    fpairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("_sha") < F.col("_shb"))
        .select("_sha", "_shb")
        .dropDuplicates(["_sha", "_shb"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
    )
    ma = sh.select(F.col("_id").alias("_ida"), F.col("simhash").alias("_sha"))
    mb = sh.select(F.col("_id").alias("_idb"), F.col("simhash").alias("_shb"))
    cross = (
        fpairs.join(ma, "_sha")
        .join(mb, "_shb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        sh.join(sh.select(F.col("_id").alias("_id2"), "simhash"), "simhash")
        .filter(F.col("_id") < F.col("_id2"))
        .select(
            F.col("_id").alias("id_a"),
            F.col("_id2").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(intra)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine ≥ t).

    Brute-force all-pairs — the oracle-checkable baseline; at corpus
    scale route through ``operators.similarity.lsh_bucketed_topk``
    buckets first and verify only candidates, exactly like the
    MinHash-LSH text path.
    """
    from gcp_food_delivery_data_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    from gcp_food_delivery_data_pipeline_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        ensure_min_partitions,
    )

    # Norms are staged per ROW (n evals), not per pair (n² evals) —
    # cosine per pair is then one dot product instead of three array
    # folds. The probe side is widened to cluster parallelism: a small
    # parquet input is one split, and a cross join inherits the left
    # side's partitioning, so without this the whole n² loop runs on
    # one core. (Numerically identical: same ops, same order.)
    a = ensure_min_partitions(
        df.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
            l2_norm(vec_col).alias("_na"),
        )
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom != 0.0, dot_product("_va", "_vb") / denom)
    # Explicit broadcast pins the plan to BroadcastNestedLoopJoin with
    # the (small) right side as build: without it AQE re-decides
    # between cartesian and BNLJ per run, and the cartesian pairing of
    # a 1-partition side schedules poorly. At corpus scale the right
    # side of an all-pairs pass wouldn't fit a broadcast — which is the
    # cue to use the LSH/IVF path instead, not to drop the hint.
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_rows: int = 4096,
    n_blocks: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine pairs, fully DISTRIBUTED — no driver
    collect, no broadcast of the corpus (the scale ceiling of the BNLJ
    variant, ``embedding_near_dup_pairs``).

    Block-partitioned pairwise BLAS: every vector hashes to one of B
    blocks; each of the B·(B+1)/2 unordered block pairs becomes one
    ``applyInPandas`` group whose kernel computes a dense ``A @ B.T``.
    Each row is shuffled B+1 times (once per block pair it belongs to)
    — total shuffle ~ n²/block_rows vector-bytes, a factor block_rows
    smaller than materializing pairs, and the compute spreads evenly
    across executors because blocks are hash-uniform. Exact all-pairs
    is inherently O(n²) similarity evaluations at ANY architecture;
    this kernel distributes them. For sub-quadratic behavior use the
    LSH candidate route (``lsh_bucketed_topk``) — approximate, so it
    is an explicit caller choice, not a silent default.

    ``group_col`` restricts pairs to rows sharing that column (the
    SemDeDup shape: pairwise only WITHIN a cluster): the block-pair id
    simply composes with the group key in the ``applyInPandas``
    grouping, so each group runs its own independent block grid and
    the default ``n_blocks`` sizes to the LARGEST group — replication
    per row is ~group_size/block_rows + 1, not corpus/block_rows.

    Thresholding/rounding happen in the SAME Spark-side expressions as
    ``embedding_near_dup_pairs``, so results are engine-identical
    (asserted in tests).
    """
    import math

    import numpy as np

    spark = df.sparkSession
    group_cols = [group_col] if group_col else []
    base = df.select(*group_cols, id_col, vec_col)
    if n_blocks is None:
        # One scalar aggregate to size the grid (metadata-cheap on
        # parquet; NOT a data collect). Floor at enough blocks to give
        # every core a task even when the corpus is small.
        if group_col:
            n = (
                base.groupBy(group_col)
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
                or 0
            )
        else:
            n = base.count()
        par = spark.sparkContext.defaultParallelism
        min_blocks = math.ceil(math.sqrt(2 * par))
        n_blocks = max(math.ceil(n / block_rows), min_blocks, 1)

    # A row in block b is side-A of pairs (b, j>=b) and side-B of pairs
    # (i<=b, b); the diagonal group (b, b) gets it on BOTH sides. The
    # assignment is a sequence+transform+explode — ONE corpus scan and
    # ONE shuffle (a union of two join branches would scan the input
    # twice), and being a higher-order expression it stays O(1) in plan
    # size no matter how many blocks a large corpus needs.
    blk = F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("long")
    as_a = F.transform(
        F.sequence(blk, F.lit(n_blocks - 1)),
        lambda j: F.struct(
            (blk * n_blocks + j).alias("_pid"), F.lit(0).alias("_side")
        ),
    )
    as_b = F.transform(
        F.sequence(F.lit(0), blk),
        lambda i: F.struct(
            (i * n_blocks + blk).alias("_pid"), F.lit(1).alias("_side")
        ),
    )
    both = base.select(
        *group_cols,
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(F.concat(as_a, as_b)).alias("_a"),
    ).select(
        *group_cols,
        F.col("_a._pid").alias("_pid"),
        F.col("_a._side").alias("_side"),
        "_id",
        "_v",
    )

    id_t = df.schema[id_col].dataType.simpleString()
    # slack below the threshold pre-round so the authoritative
    # Spark-side round+filter sees every boundary pair
    slack = threshold - 1e-7
    a_chunk = 1024  # bounds the per-kernel cos matrix to ~32 MB f64

    def kernel(pdf):
        import pandas as pd

        pid = int(pdf["_pid"].iat[0])
        diag = (pid // n_blocks) == (pid % n_blocks)
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []})
        a_ids_all = a["_id"].to_numpy()
        b_ids = b["_id"].to_numpy()
        a_mat_all = np.array(list(a["_v"]), dtype=np.float64)
        b_mat = np.array(list(b["_v"]), dtype=np.float64)
        b_norms = np.sqrt(np.einsum("ij,ij->i", b_mat, b_mat))
        outs = []
        for s in range(0, len(a_ids_all), a_chunk):
            a_ids = a_ids_all[s : s + a_chunk]
            a_mat = a_mat_all[s : s + a_chunk]
            a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
            dots = a_mat @ b_mat.T
            denom = np.outer(a_norms, b_norms)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom != 0.0, dots / denom, -np.inf)
            if diag:
                # both sides are the same set: a<b picks each pair once
                keep = (a_ids[:, None] < b_ids[None, :]) & (cos >= slack)
                ai, bi = np.nonzero(keep)
                lo, hi = a_ids[ai], b_ids[bi]
            else:
                # disjoint blocks: every (a, b) is a distinct pair seen
                # exactly once; emit in canonical (min, max) id order
                ai, bi = np.nonzero(cos >= slack)
                lo = np.minimum(a_ids[ai], b_ids[bi])
                hi = np.maximum(a_ids[ai], b_ids[bi])
            if len(ai):
                outs.append(
                    pd.DataFrame({"id_a": lo, "id_b": hi, "_cos": cos[ai, bi]})
                )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []})
        return pd.concat(outs, ignore_index=True)

    pairs = both.groupBy(*group_cols, "_pid").applyInPandas(
        kernel, schema=f"id_a {id_t}, id_b {id_t}, _cos double"
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("_cos"), 6).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def embedding_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP: drop every vector that
    has a near-duplicate with a smaller id (the canonical keep-lowest
    survivor rule — deterministic, and single-pass unlike clustering).

    Pairs come from the distributed blocked-BLAS kernel
    (``embedding_near_dup_pairs_blocked`` — exact, no driver collect,
    no corpus broadcast). The drop-set is tiny relative to the corpus,
    so it rides into the anti-join as a broadcast.
    """
    pairs = embedding_near_dup_pairs_blocked(df, id_col, vec_col, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(F.broadcast(losers), id_col, "left_anti")


def dedup_exact(
    df: DataFrame, key: Column | str, id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the smallest-``id_col`` row per ``key``.

    One shuffle on the key; ``row_number`` (not ``dropDuplicates``)
    makes the survivor deterministic. Skew-safe: content-hash keys are
    uniform unless the corpus is pathological, and AQE splits any hot
    hash bucket.
    """
    k = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(k).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _minhash_frame_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """(_id, _shingles, _sig) via one Arrow-batched kernel, cut once.

    Row for row equal to the staged-expression path (``shingles`` +
    ``with_minhash``; asserted in tests) but ~10× cheaper: the
    260k-shingle × 64-permutation min-fold that Spark evaluates as
    interpreted higher-order functions becomes one vectorized numpy
    ``(H·A + B) mod p`` + ``minimum.reduceat`` per Arrow batch.

    The frame is returned through an eager ``checkpointing.materialize``
    cut: every branch that reads it (band table, shingle re-attach, id
    spine) reads the blocks, so the kernel runs once per input side.

    Beyond the shared tokenizer/hash notes (``_py_tokens``):
    ``array_distinct`` keeps first-occurrence order →
    ``dict.fromkeys``; 0/1-token docs (blank and NULL text included)
    yield their whole token join as the single shingle
    (``greatest(n-k+1, 1)``), so blank text yields [""].
    """
    import numpy as np

    params = _hash_params(num_hashes)
    a_vec = np.array([p[0] for p in params], dtype=np.int64)
    b_vec = np.array([p[1] for p in params], dtype=np.int64)
    p_mod = _MERSENNE_P
    id_t = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            sh_out: list[list[str]] = []
            hash_chunks: list[np.ndarray] = []
            starts: list[int] = []
            pos = 0
            for text in pdf[text_col]:
                toks = _py_tokens(text)
                grams = [
                    " ".join(toks[i : i + shingle_k])
                    for i in range(max(len(toks) - (shingle_k - 1), 1))
                ]
                sh = list(dict.fromkeys(grams))
                sh_out.append(sh)
                hash_chunks.append(
                    np.array([_py_shingle_hash(g) for g in sh], dtype=np.int64)
                )
                starts.append(pos)
                pos += len(sh)
            h_all = np.concatenate(hash_chunks) % p_mod
            # h < p (2^31-1), a < 2^30 → products < 2^61: exact in
            # int64, same arithmetic as the Column expression path.
            perms = (h_all[:, None] * a_vec[None, :] + b_vec[None, :]) % p_mod
            mins = np.minimum.reduceat(perms, np.array(starts), axis=0)
            yield pd.DataFrame(
                {"_id": pdf[id_col], "_shingles": sh_out, "_sig": mins.tolist()}
            )

    src = ensure_min_partitions(df.select(id_col, text_col))
    return _ckpt(
        src.mapInPandas(
            gen,
            schema=f"_id {id_t}, _shingles array<string>, _sig array<bigint>",
        )
    )


def _band_hashes(with_sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(_id, band, band_hash) rows from a (_id, _sig) signature frame —
    the ids-only side ``_lsh_join`` shuffles on."""
    return with_sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("_sig", b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select("_id", "bh.band", "bh.band_hash")


def _attach_sets(
    pairs: DataFrame, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """``pairs`` (id_a, id_b) with each side's set re-attached as
    ``_sa``/``_sb``; ``sets_a``/``sets_b`` are two-column (id, set)
    frames. The verify step of ``_lsh_join`` and ``containment_join``.

    Width-pinned (the ``prefix_similarity_join`` lesson): deduped
    id-pairs compress to well under a byte per row, so AQE's
    byte-based coalescing shrank these exchanges to 3 partitions — at
    50k docs 3 tasks absorbed 162 s of LSH verify CPU (x100 profile)
    while 29 cores idled, and containment's verify ran 7 of a 10 s
    sf0.1 run in 3 tasks. A per-join-key repartition with a user
    partition count pins each sort-merge exchange at cluster width —
    AQE cannot coalesce a stage whose exchange carries a
    user-specified count. The second pin moves set arrays of the
    candidate rows only, so it stays candidate-sized at every scale.
    """
    n_par = pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs.repartition(n_par, "id_a")
        .join(sets_a.toDF("id_a", "_sa"), "id_a")
        .repartition(n_par, "id_b")
        .join(sets_b.toDF("id_b", "_sb"), "id_b")
    )


def _lsh_join(
    sig_a: DataFrame,
    sig_b: DataFrame | None,
    num_hashes: int,
    bands: int,
    broadcast_b: bool = False,
) -> DataFrame:
    """(id_a, id_b, jaccard) for every pair of docs sharing a band hash,
    with the exact, UNROUNDED shingle-set Jaccard — the one
    filter-then-verify join behind ``lsh_candidate_pairs`` (``sig_b``
    None: a self-join, id_a < id_b), ``incremental_dedup`` and
    ``fuzzy_decontaminate``. Inputs are ``_minhash_frame_arrow``
    frames.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    the candidate join is an equi-join on (band, band_hash) that moves
    ONLY (id, band, band_hash) — never the (large) shingle arrays;
    those are re-attached to the deduped candidate pairs only
    (``_attach_sets``). ``broadcast_b`` broadcasts the b side's band
    table, so the a side never shuffles for the band join.

    Lifetime rule (shared with every multi-branch operator, see
    ``checkpointing``): the signatures are cut eagerly, the returned
    frame is lazy above them. Each action a caller runs re-executes
    the band join + verify from the cut blocks — the kernel never
    re-runs. A count-then-write consumer pays the verify twice; if you
    need several actions, materialize the result yourself
    (``df.localCheckpoint(eager=False)`` keeps blocks lineage-scoped
    and defers the job to the first action).
    """
    rows = num_hashes // bands
    self_join = sig_b is None
    band_a = _band_hashes(sig_a, bands, rows)
    if self_join:
        sig_b, band_b = sig_a, band_a
    else:
        band_b = _band_hashes(sig_b, bands, rows)
    band_b = band_b.alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.band_hash") == F.col("b.band_hash")
    )
    if self_join:
        on = on & (F.col("a._id") < F.col("b._id"))
    pairs = (
        band_a.alias("a")
        .join(F.broadcast(band_b) if broadcast_b else band_b, on)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # same pair from several bands
    )
    verified = _attach_sets(
        pairs,
        sig_a.select("_id", "_shingles"),
        sig_b.select("_id", "_shingles"),
    )
    jaccard = F.size(F.array_intersect("_sa", "_sb")) / F.size(
        F.array_union("_sa", "_sb")
    )
    return verified.select("id_a", "id_b", jaccard.alias("jaccard"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate CANDIDATE pairs via LSH banding (``_lsh_join``
    self-join).

    Docs sharing any band hash become a candidate pair; shuffle ∝
    corpus size. The returned pairs carry the exact shingle-set
    Jaccard (``array_intersect``/``array_union`` on the two shingle
    arrays) rounded to 6 decimals, so callers threshold on the true
    similarity, not the LSH estimate.

    Output: (id_a, id_b, jaccard) with id_a < id_b, distinct.

    Recall: a pair at Jaccard ``t`` is missed with probability
    ``(1 - t^(num_hashes/bands))^bands`` — 64 hashes / 16 bands gives
    ~2e-4 at t=0.8; pass ``bands=32`` (rows-per-band 2) when you need
    effectively-exhaustive recall at 0.8 (miss ≈ 6e-15) and can afford
    the extra low-similarity candidates the wider bands admit.
    """
    sig = _minhash_frame_arrow(df, text_col, id_col, num_hashes, shingle_k)
    return _lsh_join(sig, None, num_hashes, bands).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Greedy near-dedup: drop every doc with a verified neighbor
    (jaccard ≥ threshold) of smaller id.

    Not a transitive closure (A~B, B~C, A≁C keeps A and C — standard
    greedy semantics; full clustering would need iterative connected
    components). The drop set is ids only: it is cut eagerly and rides
    into the anti-join as a broadcast — no payload shuffle. Left lazy,
    it would re-run the whole band join + verify under every
    downstream partition probe (``scale.ensure_min_partitions`` runs
    each shuffle stage of its input to read the count;
    ``chunk_documents`` probes).
    """
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
    )
    to_drop = _ckpt(
        pairs.filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias("_drop_id"))
        .distinct()
    )
    return df.join(
        F.broadcast(to_drop), df[id_col] == F.col("_drop_id"), "left_anti"
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Transitive dup clustering: label every vertex with the MINIMUM id
    reachable through the near-dup pair graph (A~B, B~C ⇒ one cluster,
    even when A≁C directly — the closure ``near_dedup``'s greedy rule
    deliberately skips).

    Min-label propagation, the Pregel pattern on DataFrames: each
    round, a vertex takes ``min(own label, neighbors' labels)``; rounds
    needed = graph diameter (near-dup graphs are forests of shallow
    blobs, so a handful). Each round is one join + one aggregation —
    both shuffle on the vertex id, so co-partitioning carries across
    rounds. ``localCheckpoint`` cuts lineage every round: without it
    the plan doubles per iteration and round ~15 dies in the optimizer
    long before any data-size limit. Convergence is a driver-side count
    of changed labels (a 1-row job per round — the loop control the
    DataFrame API can't express declaratively).
    """
    # Materialize the edge list ONCE: `pairs` usually carries a whole
    # candidate-generation pipeline (shingle→MinHash→LSH→verify) in its
    # lineage, and without the checkpoint that pipeline re-executes
    # every round — the dominant cost of the whole operator. Both
    # directions come from ONE read of `pairs`: a union of two selects
    # shares the pipeline's exchanges but runs the verify above them
    # once per branch. The pair set itself is tiny relative to the
    # corpus.
    both_ways = F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
    )
    edges = _ckpt(
        pairs.select(F.explode(both_ways).alias("_e")).select("_e.src", "_e.dst")
    )
    labels = _ckpt(
        vertices.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("comp")
        )
    )
    for _ in range(max_iterations):
        neighbor = edges.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "comp")
        new_labels = _ckpt(
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("comp", "comp_old"), "id"
            )
            .filter(F.col("comp") != F.col("comp_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias(id_col), F.col("comp").alias("component")
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column | None = None,
    max_dist: int = 3,
) -> DataFrame:
    """Fuzzy-duplicate candidate pairs by edit distance with blocking.

    Pairs are generated ONLY within a blocking key (default: the last
    whitespace token of ``name_col``), then scored with Levenshtein
    distance and kept when ``<= max_dist``. The blocking key is part
    of the operator's semantics — like LSH banding, it converts the
    quadratic all-pairs comparison into per-block joins; block sizes
    are bounded by the key's selectivity, and the join is a plain
    equi-join the optimizer can shuffle OR broadcast. Emits
    (id_a, id_b, name_a, name_b, edit_dist) with id_a < id_b.

    Scoring uses the THRESHOLD form ``levenshtein(l, r, max_dist)``
    (banded DP, O(len·k) instead of the O(len²) full matrix, early
    exit once a row of the band exceeds the bound; -1 above the
    bound, the exact distance otherwise — so kept rows are
    byte-identical to the unbounded form) evaluated ONCE per pair
    via a named column the keep-filter reads. Measured at sf0.1
    (12.5M in-block pairs, 11.0M true matches): 58 s → ~44 s,
    identical output.
    """
    if block_expr is None:
        block_expr = F.element_at(F.split(F.trim(F.col(name_col)), r"\s+"), -1)
    base = df.select(
        F.col(id_col).alias("_fid"),
        F.col(name_col).alias("_fname"),
        block_expr.alias("_fblock"),
    )
    a = base.select(
        F.col("_fid").alias("id_a"),
        F.col("_fname").alias("name_a"),
        F.col("_fblock").alias("_ba"),
    )
    b = base.select(
        F.col("_fid").alias("id_b"),
        F.col("_fname").alias("name_b"),
        F.col("_fblock").alias("_bb"),
    )
    return (
        a.join(b, (F.col("_ba") == F.col("_bb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b", max_dist)
        )
        .filter(F.col("edit_dist") != -1)
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
    )


def prefix_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    small_universe_max_vocab: int = 64,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    deterministic complement to MinHash-LSH (``lsh_candidate_pairs``):
    no banding probabilities, zero false negatives by construction.

    Standard AllPairs/PPJoin-family algorithm (Bayardo, Ma, Srikant,
    WWW 2007 "Scaling Up All Pairs Similarity Search"; Vernica, Carey,
    Li, SIGMOD 2010 give this exact MapReduce/Spark shape): order every
    document's distinct tokens by GLOBAL rarity (count ASC, token ASC —
    a total order), keep only the first ``n - ceil(t*n) + 1`` tokens as
    the doc's prefix, and equi-join docs on shared prefix tokens. Any
    pair with Jaccard >= t must share a prefix token under a common
    total order, so the join is a complete candidate generator; the
    exact-Jaccard verify then keeps true pairs only.

    Scale shape: token frequencies are one combinable shuffle; the
    candidate join is an equi-join on (rare) prefix tokens — rarity
    ordering makes hot tokens land at the END of prefixes or outside
    them, which is what keeps the join off the quadratic cliff that a
    join on arbitrary tokens would hit. Every step is a Column
    expression; no Python in the path.

    SMALL-UNIVERSE fast path: when the GLOBAL vocabulary fits in one
    machine word (≤ ``small_universe_max_vocab`` ≤ 64 distinct tokens
    — categorical attribute/tag sets, or a synthetic benchmark
    corpus), each document's token set becomes a single 64-bit mask
    (bit position = the same global rarity rank) and the verify step
    is ``bit_count(a & b) / bit_count(a | b)`` over two longs instead
    of hash-set intersections over string arrays — identical exact
    Jaccard, measured 139 s → ~32 s at sf0.1 where 57% of all pairs
    verify. Natural-language corpora exceed 64 tokens and take the
    general array path; the probe is one bounded ``limit(65)``
    collect whose rows double as the literal frequency table on the
    small path. Pass ``small_universe_max_vocab=0`` to force the
    general path (the equality of both paths is pytest-pinned).

    DETERMINISTIC-SOURCE assumption (small path only): the probe
    collect and the main query are two separate jobs over ``df``. If
    ``df`` is non-deterministic between jobs (a re-sampled source, a
    re-read mutable table) or its vocabulary crosses 64 tokens
    between them, tokens absent from the literal frequency frame are
    silently dropped by the inner ``tok_rows.join(freq)`` — wrong
    Jaccards, not an error. Feed the small path a deterministic
    snapshot (parquet read, checkpointed frame); for anything else
    pass ``small_universe_max_vocab=0`` — the general path reads the
    source under one job and has no cross-job consistency surface.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    to 6, only pairs >= ``threshold``; blank docs drop out.
    """
    if small_universe_max_vocab > 64:
        # shiftleft wraps its shift amount mod 64: bit ranks >= 64
        # would silently alias onto bits 0..n and inflate every
        # Jaccard. Fail loudly instead.
        raise ValueError(
            "prefix_similarity_join: small_universe_max_vocab must be "
            f"<= 64 (one machine word), got {small_universe_max_vocab}"
        )
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(tokens(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") > 0)

    tok_rows = toks.select("_id", F.explode("_toks").alias("_tok"))
    freq = tok_rows.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tf"))
    small_universe = False
    if small_universe_max_vocab > 0:
        # The probe bounds the COLLECT, not the scan — the frequency
        # aggregate's map side runs in full. When the vocab fits, the
        # probe rows ARE the whole frequency table (<= 64 rows), so
        # rebuild freq as a literal local frame: both downstream uses
        # (the rarity join and the bit ranking) read driver literals
        # and the main plan never recomputes the aggregate — no
        # session-lifetime persist() to leak. On the general path the
        # probe's aggregate is recomputed once by the main plan; that
        # one combinable pass is the price of a leak-free probe.
        probe_rows = freq.limit(small_universe_max_vocab + 1).collect()
        small_universe = len(probe_rows) <= small_universe_max_vocab
        if small_universe:
            freq = df.sparkSession.createDataFrame(
                probe_rows, schema=freq.schema
            )
    ordered = (
        tok_rows.join(freq, "_tok")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_tf"), F.col("_tok")))
            ).alias("_ord")
        )
    )
    n = F.size("_ord")
    plen = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    prefixes = ordered.select(
        "_id",
        F.explode(F.slice("_ord", F.lit(1), plen)).alias("_ps"),
    ).select("_id", F.col("_ps._tok").alias("_tok"))

    # Dedup the candidate pairs FIRST (narrow 2-int rows), then verify
    # the survivors: measured faster than verifying inline in the
    # candidate join, whose pre-dedup output is ~7x wider than the
    # deduped pair set (the dedup shuffle dominates, so keep its rows
    # minimal). Shared by both verify paths.
    #
    # r12 parallelism fix, found by stage-level profiling (REST
    # metrics; the scale curve's "per-candidate cost growth"): the
    # prefixes exchange is rows-heavy but BYTES-LIGHT (87k rows =
    # 0.6 MiB at 15k docs — narrow int/string rows compress to well
    # under a byte per row), so AQE's byte-based coalescing shrank
    # the candidate join's input to ONE partition and a single task
    # generated all 50M candidates, deduped them, verified them, and
    # counted — 19-25 s of a 31 s run on one core with 31 idle,
    # scaling linearly with pair volume. On the small-universe path
    # (where the token frequency table is already a <= 64-row driver
    # literal) the join is therefore SALTED per token, the repo's
    # blocked_linkage_salted discipline: nsalt_t sized from the
    # posting count so each (token, bucket) cell emits ~PAIRS_PER_TASK
    # candidates, the contained side hashes into a bucket, the other
    # side replicates across its token's buckets — every pair meets
    # exactly once per shared token, and the pair SET is identical
    # (dedup + exact verify follow), so results cannot change. The
    # salted exchanges and the pair-dedup exchange carry EXPLICIT
    # partition counts because AQE would re-coalesce them on the
    # same byte misestimate (user-specified counts are exempt by
    # contract). The general path keeps the planner's token
    # equi-join: on real (unbounded-vocabulary) corpora the prefixes
    # exchange is large in bytes and AQE sizes it correctly.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    if small_universe:
        # ~candidates per (token, bucket) task; C(p,2)/PAIRS_PER_TASK
        # buckets per token, capped so a-side replication stays tiny
        PAIRS_PER_TASK = 1_500_000
        salt_rows = [
            (
                r["_tok"],
                max(
                    1,
                    min(
                        64,
                        -(-(r["_tf"] * (r["_tf"] - 1) // 2)
                          // PAIRS_PER_TASK),
                    ),
                ),
            )
            for r in probe_rows
        ]
        salt = df.sparkSession.createDataFrame(
            salt_rows, schema="_tok string, _ns int"
        )
        a_side = (
            prefixes.join(F.broadcast(salt), "_tok")
            .select(
                "_tok",
                F.col("_id").alias("id_a"),
                F.explode(
                    F.sequence(F.lit(0), F.col("_ns") - 1)
                ).alias("_g"),
            )
            .repartition(n_par, "_tok", "_g")
        )
        b_side = (
            prefixes.join(F.broadcast(salt), "_tok")
            .select(
                "_tok",
                F.col("_id").alias("id_b"),
                F.pmod(F.xxhash64("_id"), F.col("_ns"))
                .cast("int")
                .alias("_g"),
            )
            .repartition(n_par, "_tok", "_g")
        )
        cands = (
            a_side.join(b_side, ["_tok", "_g"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
    else:
        cands = (
            prefixes.alias("a")
            .join(
                prefixes.alias("b"),
                (F.col("a._tok") == F.col("b._tok"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
            )
        )
    # Pair dedup over an EXPLICIT hash exchange on the pair key: in
    # the salted plan a pair's per-token copies land in different
    # tasks, so map-side partial dedup saves nothing — a user-pinned
    # width keeps the final dedup AND the verify that chains on it at
    # full parallelism instead of AQE's 1-2 byte-sized partitions.
    cands = cands.repartition(n_par, "id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )
    if small_universe:
        # bit position = the same (rarity, token) total order the
        # prefixes use; the window runs over <= 64 rows. bit_or (not
        # sum) composes the per-token powers: immune to the signed-
        # overflow ANSI trap at bit 63, and idempotent by definition.
        rank_w = Window.orderBy("_tf", "_tok")
        ranked = freq.select(
            "_tok", (F.row_number().over(rank_w) - 1).alias("_bit")
        )
        masks = (
            tok_rows.join(F.broadcast(ranked), "_tok")
            .groupBy("_id")
            .agg(
                F.bit_or(F.expr("shiftleft(1L, _bit)")).alias("_mask")
            )
        )
        verified = cands.join(
            masks.select(
                F.col("_id").alias("id_a"), F.col("_mask").alias("_ma")
            ),
            "id_a",
        ).join(
            masks.select(
                F.col("_id").alias("id_b"), F.col("_mask").alias("_mb")
            ),
            "id_b",
        )
        jaccard = F.bit_count(
            F.col("_ma").bitwiseAND(F.col("_mb"))
        ) / F.bit_count(F.col("_ma").bitwiseOR(F.col("_mb")))
    else:
        verified = cands.join(
            toks.select(
                F.col("_id").alias("id_a"), F.col("_toks").alias("_ta")
            ),
            "id_a",
        ).join(
            toks.select(
                F.col("_id").alias("id_b"), F.col("_toks").alias("_tb")
            ),
            "id_b",
        )
        jaccard = F.size(F.array_intersect("_ta", "_tb")) / F.size(
            F.array_union("_ta", "_tb")
        )
    return (
        verified.select(
            "id_a", "id_b", F.round(jaccard, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Cross-corpus FUZZY decontamination: flag every corpus document
    whose shingle-set Jaccard with ANY benchmark document reaches
    ``threshold`` — the near-duplicate form of benchmark leakage that
    exact n-gram matching (``corpus.ngram_contamination``) misses when
    eval text was lightly paraphrased (the overlap-removal step
    described for GPT-3, Brown et al. 2020, arXiv:2005.14165 §C).

    Same machinery as the self-join near-dup path (``_lsh_join``),
    pointed across two corpora: the BENCHMARK side's band table is
    broadcast (eval suites are tiny next to a training corpus) so the
    training side never shuffles for the band join; candidates verify
    on the exact, unrounded Jaccard. bands=32 (2-row bands) makes the
    miss probability at t=0.8 ~6e-15: effectively exhaustive, which is
    what lets an all-pairs oracle grade it.

    Output: (doc_id, contaminated) for every corpus row. NULL and
    blank text read as '' (one shingle, [""]), so blank corpus docs
    are contaminated by any blank benchmark doc (Jaccard 1.0).
    """
    c_sig, b_sig = (
        _minhash_frame_arrow(side, text_col, id_col, num_hashes, shingle_k)
        for side in (corpus, benchmark)
    )
    hits = (
        _lsh_join(c_sig, b_sig, num_hashes, bands, broadcast_b=True)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        c_sig.select(F.col("_id").alias(id_col))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def span_dedup_profile(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-SPAN profile: for every k-token window of every
    document, how many of the document's windows also occur verbatim
    elsewhere in the corpus (including another position of the same
    document). Returns ``(doc_id, n_spans, n_dup_spans, dup_frac)``
    for documents with at least ``k`` tokens.

    This is the substring-granularity view of duplication from "the
    train set repeats itself" literature (Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*): whole
    -document hashes miss boilerplate repeated INSIDE otherwise-unique
    pages, and MinHash answers "are these documents similar", not
    "which exact spans repeat". The profile is the audit/score stage;
    a removal pass would drop or mask flagged spans.

    Scale shape: windows are generated JVM-side
    (``transform``+``slice`` over the token array — no Python, no
    quadratic work: exactly ``L-k+1`` spans per doc), the corpus-wide
    occurrence count is a single window aggregation partitioned by
    span text (ONE shuffle, map-side-combinable count), and the
    per-doc rollup shuffles once more on doc_id. Nothing is ever
    joined all-pairs. At 100 TB the span strings dominate shuffle
    width; production would pre-hash spans to 64-bit
    (``xxhash64(span)``) and count by hash — identical result modulo
    ~2^-64 collisions; the string form is kept here so the result is
    bit-exact against the SQL oracle.
    """
    if k < 1:
        raise ValueError(f"span_dedup_profile: k must be >= 1, got {k}")
    # ensure_min_partitions here spreads the interpreted tokenizer
    # lambdas across cores on narrow inputs (d has a single consumer
    # in THIS function — the exchange-reuse benefit the same staging
    # buys drop_duplicate_spans does not apply). The >=k filter still
    # pushes below the exchange (Catalyst pushes deterministic
    # filters through repartitions), so a bounded 2x-per-DOCUMENT
    # tokenize remains — the per-output-row re-evaluation class this
    # repo pins in SCALE.md is what must never appear, and doesn't.
    d = ensure_min_partitions(
        documents.select(id_col, tokens(F.col(text_col)).alias("_toks"))
    ).filter(F.size("_toks") >= k)
    spans = d.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, k)),
            )
        ).alias("_span"),
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("_span"))
    return (
        spans.withColumn("_n", n)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_n") > 1).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
    )


def drop_duplicate_spans(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove duplicated k-token spans from documents, keeping the
    corpus-global FIRST occurrence of each span — the removal stage of
    exact-substring dedup (Lee et al. 2022): later verbatim copies of
    boilerplate are cut out of otherwise-kept documents instead of the
    whole document being dropped.

    Semantics (deterministic): span occurrences order globally by
    (doc_id, position); an occurrence is a *duplicate* iff an earlier
    occurrence of the same span text exists anywhere in the corpus. A
    token is removed iff at least one duplicate occurrence covers it;
    surviving tokens rejoin with single spaces. Overlap between a kept
    and a duplicate span resolves to removal (covered-by-any-duplicate)
    — the aggressive choice, biased against repetition.

    Returns ``(doc_id, n_tokens, n_removed, text_clean)`` for
    documents with ≥ k tokens (shorter documents have no spans and
    pass through untouched — callers union them back if needed).

    Scale shape: occurrence marking is ONE window pass partitioned by
    span (row_number in global (doc_id, pos) order); duplicate
    occurrences expand to at most k covered positions each (output ∝
    duplication, never corpus²); the cover join and final rebuild key
    on (doc, position). No all-pairs anywhere. As with
    ``span_dedup_profile``, production would pre-hash spans to 64-bit
    for shuffle width; strings keep the oracle bit-exact.
    """
    if k < 1:
        raise ValueError(f"drop_duplicate_spans: k must be >= 1, got {k}")
    # ensure_min_partitions: (a) spreads the interpreted tokenizer
    # lambdas across cores on narrow inputs, and (b) makes the staged
    # projection an EXCHANGE that identical downstream branches reuse
    # (drop_duplicate_spans reads d twice — without the exchange each
    # branch re-tokenizes the corpus). The >=k filter itself still
    # pushes below the exchange (Catalyst pushes deterministic
    # filters through repartitions), so a bounded 2x-per-DOCUMENT
    # tokenize remains — the per-output-row re-evaluation class this
    # repo pins in SCALE.md is what must never appear, and doesn't.
    d = ensure_min_partitions(
        documents.select(id_col, tokens(F.col(text_col)).alias("_toks"))
    ).filter(F.size("_toks") >= k)
    occ = d.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, k)),
            )
        ).alias("_pos0", "_span"),
    ).select(id_col, (F.col("_pos0") + 1).alias("_pos"), "_span")
    w = Window.partitionBy("_span").orderBy(id_col, "_pos")
    dup_occ = (
        occ.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col, "_pos")
    )
    covered = dup_occ.select(
        id_col,
        F.explode(
            F.sequence(F.col("_pos"), F.col("_pos") + (k - 1))
        ).alias("_p"),
    ).distinct()
    tokpos = d.select(
        id_col, F.posexplode("_toks").alias("_p0", "_tok")
    ).select(id_col, (F.col("_p0") + 1).alias("_p"), "_tok")
    flagged = tokpos.join(
        covered.withColumn("_rm", F.lit(1)), [id_col, "_p"], "left"
    )
    kept_struct = F.when(
        F.col("_rm").isNull(), F.struct(F.col("_p"), F.col("_tok"))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.coalesce(F.sum("_rm"), F.lit(0)).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["_tok"],
            ),
        ).alias("text_clean"),
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus: drop every batch
    document whose shingle-Jaccard with ANY corpus document reaches
    ``threshold``; batch-internal duplicates are untouched (run
    ``near_dedup`` on the batch for those). Returns the kept batch
    rows with their original columns.

    This is the daily-ingest shape of near-dedup: re-deduping the
    whole (corpus + batch) union per arrival re-pays the corpus-sized
    minhash + band join every day, while the incremental form only
    minhashes the batch and joins it against the corpus's band table.
    Unlike ``fuzzy_decontaminate`` (whose benchmark side is small by
    construction and broadcast), NEITHER side is broadcastable here —
    the band join is a plain keyed equi-join, shuffle ∝ batch + the
    corpus band partitions it touches.

    ONE-ACTION contract (the ``_lsh_join`` lifetime rule): the returned
    frame is lazy above the two cut signature frames, so each action a
    caller runs re-executes the band join + Jaccard verify, never the
    minhash pass.

    100 TB shape: the corpus band table is a pure function of the
    corpus, so production materializes it ONCE (bucketed by
    (band, band_hash)) and every batch joins against the bucketed
    table shuffle-free on the corpus side, then appends its own kept
    docs' bands — the corpus is never re-minhashed. Recall follows
    the banding bound (bands=32 of 2 rows: miss ~6e-15 at t=0.8 —
    effectively exhaustive, gradeable against an all-pairs oracle).
    """
    c_sig, b_sig = (
        _minhash_frame_arrow(side, text_col, id_col, num_hashes, shingle_k)
        for side in (corpus, batch)
    )
    dup_ids = (
        _lsh_join(b_sig, c_sig, num_hashes, bands)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return batch.join(dup_ids, id_col, "left_anti")


def ngram_novelty(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrival-order span novelty: for every k-token window of every
    document, whether that exact span FIRST occurred in an earlier
    document (by ascending ``id_col`` — the arrival surrogate).
    Returns ``(doc_id, n_spans, n_stale, novelty_frac)`` for
    documents with at least ``k`` tokens, where ``n_stale`` counts
    spans whose first corpus occurrence is an earlier document and
    ``novelty_frac = 1 - n_stale / n_spans``.

    This is the corpus-growth view of duplication (the "how much of
    today's crawl is genuinely new text" curve): ``span_dedup_profile``
    answers WHETHER a span repeats anywhere; novelty attributes each
    repeated span to its first arrival, so later copies score stale
    while the original stays novel — the quantity that decides
    whether ingesting a new source is worth it.

    Scale shape: identical to the profile — spans generated JVM-side
    (L-k+1 per doc), ONE window aggregation partitioned by span text
    (min(doc_id) instead of count), one per-doc rollup. Production
    pre-hashes spans to 64-bit before the shuffle (same note as the
    profile); the string form keeps the SQL oracle bit-exact.
    """
    if k < 1:
        raise ValueError(f"ngram_novelty: k must be >= 1, got {k}")
    from gcp_food_delivery_data_pipeline_spark.operators.scale import (
        ensure_min_partitions,
    )

    d = ensure_min_partitions(
        documents.select(id_col, tokens(F.col(text_col)).alias("_toks"))
    ).filter(F.size("_toks") >= k)
    spans = d.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, k)),
            )
        ).alias("_span"),
    )
    first_seen = F.min(id_col).over(Window.partitionBy("_span"))
    return (
        spans.withColumn("_first", first_seen)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                (F.col("_first") < F.col(id_col)).cast("long")
            ).alias("n_stale"),
        )
        .withColumn(
            "novelty_frac",
            F.round(1 - F.col("n_stale") / F.col("n_spans"), 6),
        )
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 3,
) -> DataFrame:
    """EXACT asymmetric containment join: ordered pairs (a, b) where
    C(a→b) = |Sa ∩ Sb| / |Sa| >= threshold over k-token shingle sets —
    "document a is (nearly) contained in document b". The quote/
    subset/extraction detector Jaccard misses by construction: a short
    doc fully quoted inside a long one has low Jaccard (the union is
    large) but containment 1.0.

    Candidate generation is the containment variant of prefix
    filtering (same total order as ``prefix_similarity_join``): if
    C(a→b) >= t then |Sa ∩ Sb| >= ceil(t·|Sa|), so a's prefix — its
    first |Sa| − ceil(t·|Sa|) + 1 shingles under the global (rarity,
    shingle) order — must contain a shared shingle. Because only the
    CONTAINED side is constrained, the prefix joins against the
    container side's FULL posting list, not its prefix; rarity
    ordering still parks hot shingles at prefix tails, which is what
    keeps the join off the quadratic cliff. Zero false negatives;
    exact containment verifies the survivors.

    Scale shape: shingle frequencies are one combinable shuffle; the
    candidate join is an equi-join on (rare) prefix shingles whose
    fan-out is bounded by rare-shingle posting lengths; every step is
    a Column expression, no Python in the path. The frequency/prefix/
    candidate stages all carry the 32-bit shingle HASH, not the
    string — at corpus scale that is the difference between shuffling
    8-byte and ~25-byte keys three times. Correct because (a) any
    consistent total order works for prefix filtering, (count, hash)
    included, and (b) hash collisions only ADD candidates (equal
    strings always hash equal), which the exact string-set verify
    removes. Emits the RAW double quotient (exact-integer ratio —
    bit-identical across engines; rounding would re-introduce the
    .5-boundary class).

    The shingle table is MATERIALIZED once (eager localCheckpoint —
    the graph family's ``_materialize`` pattern): the plan references
    it from five branches (frequency, rarity join, candidate
    container side, both verify sides), and as a lazy subtree each
    branch re-scanned and re-shingled the source — 10 parquet scans
    of the corpus text in the executed plan, which at 100 TB is nine
    scans too many (Catalyst reuses exchanges, not arbitrary common
    subtrees). Checkpointing also pins ONE snapshot for every branch,
    the same non-deterministic-source consistency argument
    ``operators/graph.py`` documents. Measured at sf0.1, local[32]:
    8.4 s → 3.8 s cold, 3.8 s → 3.1 s warm, identical rows. The call
    therefore RUNS the tokenize+shingle job eagerly, and the
    checkpoint blocks live OUTSIDE the SQL cache manager —
    ``spark.catalog.clearCache()`` does not release them; they are
    freed by the ContextCleaner once the returned frame (and its
    lineage) is dropped, which a JVM ``System.gc()`` between timed
    units (bench.py's inter-unit hygiene) drives promptly. Two
    cluster-scale caveats of that choice: (1) calling this builder
    executes the tokenize+shingle Spark job EAGERLY even if the
    returned frame is never acted on — callers composing plans
    speculatively should defer the call, not the action; (2)
    ``localCheckpoint`` blocks are NOT fault-tolerant — they truncate
    lineage, so losing an executor that holds blocks fails the query
    instead of recomputing. On a 1000-executor run where executor
    loss is routine, set the session conf
    ``spark.foodPipeline.checkpointMode=reliable`` (after
    ``spark.sparkContext.setCheckpointDir(...)``; durable, one extra
    write per cut); the single-JVM bench harness here cannot lose an
    executor, so the zero-copy local form is the right local[32]
    default. (The
    ``prefix_similarity_join`` ≤64-vocab single-long bitmask verify
    does NOT transfer here: it bounds the TOKEN universe, while this
    operator's verify sets are k-token SHINGLES — a 31-token corpus
    vocabulary already yields ~16k distinct 3-shingles, two orders of
    magnitude past one machine word.)
    """
    src = ensure_min_partitions(df.select(id_col, text_col))
    # Tokenize ONCE, then filter and shingle from the token array.
    # Token-less (blank/NULL-text) docs are EXCLUDED: shingles() gives
    # them the single phantom shingle [""], whose containment in any
    # other blank doc is trivially 1.0 — m blank rows would emit
    # m·(m-1) pairs and hand the "" shingle a hot key the rarity
    # ordering cannot park (it is the doc's only shingle).
    sh = (
        src.select(
            F.col(id_col).alias("_id"),
            tokens(F.col(text_col)).alias("_tk"),
        )
        .filter(F.size("_tk") > 0)
        .select("_id", shingles_from_tokens(F.col("_tk"), k).alias("_sh"))
    )
    sh = _ckpt(sh)

    rows = sh.select("_id", F.explode("_sh").alias("_str")).select(
        "_id", _shingle_hash(F.col("_str")).alias("_s")
    )
    freq = rows.groupBy("_s").agg(F.count(F.lit(1)).alias("_f"))
    ordered = (
        rows.join(freq, "_s")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_f"), F.col("_s")))
            ).alias("_ord")
        )
    )
    n = F.size("_ord")
    plen = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    prefixes = ordered.select(
        "_id",
        F.explode(F.slice("_ord", F.lit(1), plen)).alias("_ps"),
    ).select("_id", F.col("_ps._s").alias("_s"))

    cands = (
        prefixes.alias("a")
        .join(
            rows.alias("b"),
            (F.col("a._s") == F.col("b._s"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = _attach_sets(cands, sh, sh)
    containment = (
        F.size(F.array_intersect("_sa", "_sb")).cast("double")
        / F.size("_sa")
    )
    return verified.select(
        "id_a", "id_b", containment.alias("containment")
    ).filter(F.col("containment") >= threshold)


def edit_distance_join(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance-1 similarity self-join via the SymSpell deletion
    neighborhood (Garbe 2012): two strings are within Levenshtein
    distance 1 iff they share a member of {s} ∪ {s minus one char} —
    substitution at i means both sides delete i; an insert/delete pair
    means the longer side's deletion IS the shorter string. Candidates
    come from a hash equi-join on deletion variants — a SUPERSET
    generator: sharing a deletion variant does NOT imply distance ≤ 1
    (equal-length strings can share a variant at distance 2, e.g.
    ``ab``/``ba`` both delete to ``b``). The trailing
    ``levenshtein() <= 1`` filter is therefore LOAD-BEARING — it
    removes real false candidates, not hypothetical hash collisions —
    and must never be dropped in a refactor.

    Why not q-grams: on corpora with a long shared prefix (ids,
    URLs, "Customer#0000…"), every hot q-gram is shared by EVERY
    string — the candidate join degenerates to all-pairs through the
    hot key. A deletion variant is shared only by true neighbors, so
    the candidate multiplicity IS the output size: shuffle ∝ n·L
    variant rows, pairs ∝ answers, never n².

    Returns one row per unordered pair: (id_a, id_b, val_a, val_b,
    dist) with id_a < id_b and dist ∈ {0, 1} (0 = exact duplicates).

    ``max_dist`` must be 1: the d=2 neighborhood is the O(L²)
    two-deletion set — same join shape, quadratically more variant
    rows; add it only with a length gate.
    """
    if max_dist != 1:
        raise ValueError(
            "edit_distance_join: only max_dist=1 is supported (the "
            "d=2 deletion neighborhood is O(L^2) variants per string; "
            "see docstring)"
        )
    v = F.col("_v")
    # variant i=0 is the string itself; i>=1 deletes character i
    variants = F.transform(
        F.sequence(F.lit(0), F.length(v)),
        lambda i: F.when(i == F.lit(0), v).otherwise(
            F.concat(
                v.substr(F.lit(1), (i - 1).cast("int")),
                v.substr(
                    (i + 1).cast("int"), (F.length(v) - i).cast("int")
                ),
            )
        ),
    )
    # split tiny single-file inputs before the O(L) variant explode —
    # openCostInBytes packs small scans into one partition and the
    # whole neighborhood generation serialized onto one core (r12
    # stage profiling: a 2.9 s single-task stage in a 5 s sf0.1 run)
    src = ensure_min_partitions(
        df.filter(F.col(col).isNotNull()).select(
            F.col(id_col).alias("_id"), F.col(col).alias("_v")
        )
    )
    rows = src.select("_id", "_v", F.explode(variants).alias("_del"))
    cands = (
        rows.alias("a")
        .join(
            rows.alias("b"),
            (F.col("a._del") == F.col("b._del"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._v").alias("val_a"),
            F.col("b._v").alias("val_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # Threshold form (banded DP, early exit; -1 above the bound) —
    # exact distance for kept rows, so output is identical to the
    # unbounded filter. The verify stays LOAD-BEARING (see above).
    dist = F.levenshtein("val_a", "val_b", max_dist)
    return cands.withColumn("dist", dist).filter(
        F.col("dist") != -1
    )


def blocked_linkage(
    reference: DataFrame,
    records: DataFrame,
    block_cols: list[str],
    id_col: str,
    val_col: str,
    keep_unmatched: bool = False,
) -> DataFrame:
    """Record linkage with blocking: match each incoming record to its
    best reference entry by Levenshtein distance, comparing ONLY
    within the record's block — the standard entity-resolution shape
    (census/master-data dedup), here as two DataFrames sharing block
    and value columns.

    Returns one row per record: ``(rec_id, matched_id, dist)`` with
    the reference candidate minimizing ``(dist, matched_id)`` — a
    deterministic 1-NN argmin via a map-side-combinable
    ``min(struct)`` aggregation (see ``_linkage_argmin``). Records
    whose block has no reference entry are dropped by default;
    ``keep_unmatched=True`` surfaces them with NULL
    ``matched_id``/``dist`` via a left join of the DISTINCT record-id
    spine (thin rows; the argmin side is already ≤ one row per
    record, and deduping the spine keeps that contract when the
    records frame itself carries duplicate ids).

    NULL-distance semantics (changed in the argmin re-plan): a
    candidate whose value column is NULL yields a NULL Levenshtein
    distance and is EXCLUDED from the argmin — a record whose every
    in-block candidate is NULL produces no row (or a NULL-matched
    spine row under ``keep_unmatched``). The earlier window-based
    implementation ordered NULLs first and would return a
    NULL-dist match row instead; callers relying on that should
    filter/coalesce the value column explicitly.

    Scale shape: candidate pairs are Σ_blocks |ref_b|·|rec_b| — the
    blocking key bounds the quadratic, never all-pairs across the
    dataset (the linkage twin of the LSH band join). Skewed blocks
    are the known hazard: a block holding 1% of 100 TB is still
    quadratic inside, so production blocks compose several weak keys
    (here: every block col equi-joined at once) or the salted twin
    ``blocked_linkage_salted``; the argmin aggregation partial-
    combines before its shuffle, so the exchange carries at most one
    thin row per (record, mapper), never the candidate set.
    """
    ref = reference.select(
        *block_cols,
        F.col(id_col).alias("_ref_id"),
        F.col(val_col).alias("_ref_val"),
    )
    rec = _parallelize_records(
        records.select(
            *block_cols,
            F.col(id_col).alias("rec_id"),
            F.col(val_col).alias("_rec_val"),
        )
    )
    cand = rec.join(ref, block_cols).select(
        "rec_id",
        F.col("_ref_id").alias("matched_id"),
        F.levenshtein("_rec_val", "_ref_val").alias("dist"),
    )
    best = _linkage_argmin(cand)
    if keep_unmatched:
        best = rec.select("rec_id").distinct().join(best, "rec_id", "left")
    return best


def _parallelize_records(df: DataFrame) -> DataFrame:
    """``ensure_min_partitions`` for the linkage record side: the
    quadratic candidate stage (levenshtein over every in-block pair)
    pipelines onto the record side's partitions under a broadcast-
    reference join, so a small-file scan arriving as 1 split would run
    the whole blow-up in 1 task. A no-op at scale (natural splits
    exceed the parallelism). ensure_min_partitions is round-robin —
    deliberately NOT block-keyed here: hashing on the block key would
    land a hot block's records in one partition, the exact skew the
    salted variant exists to break. Measured at sf0.1 (1-split scan,
    local[32]): argmin linkage 7.2 s → 1.0 s, identical rows."""
    return ensure_min_partitions(df)


def _linkage_argmin(cand: DataFrame) -> DataFrame:
    """Deterministic per-record ``(dist, matched_id)`` argmin as a
    KEYED AGGREGATION rather than a row_number window: structs order
    field-by-field, so ``min(struct(dist, matched_id))`` IS the
    argmin — and unlike the window (which shuffles and sorts EVERY
    candidate row before discarding all but one per record), the
    aggregate partial-combines map-side, so the shuffle carries at
    most one row per (record, mapper task) instead of the full
    Σ_blocks |ref_b|·|rec_b| candidate set. Same rows, same schema;
    at 100 TB candidate volumes the exchange drops by the mean
    block fan-out. Candidates with a NULL distance (a NULL value
    column) are excluded — a record whose every candidate is NULL
    yields no row, same as a record with no block partner."""
    return (
        cand.filter(F.col("dist").isNotNull())
        .groupBy("rec_id")
        .agg(F.min(F.struct("dist", "matched_id")).alias("_best"))
        .select(
            "rec_id",
            F.col("_best.matched_id").alias("matched_id"),
            F.col("_best.dist").alias("dist"),
        )
    )


def blocked_linkage_salted(
    reference: DataFrame,
    records: DataFrame,
    block_cols: list[str],
    id_col: str,
    val_col: str,
    pairs_per_task: int = 1_000_000,
    max_salt: int = 64,
    keep_unmatched: bool = False,
) -> DataFrame:
    """``blocked_linkage`` with PER-BLOCK ADAPTIVE SALTING — the
    mitigation for the hot-block hazard the base operator documents:
    a block holding 1% of a 100 TB corpus is still quadratic inside,
    and without salting every one of its |ref_b|·|rec_b| comparisons
    lands in ONE task (the classic skew straggler; AQE's skew-join
    split only rebalances shuffle partitions, not the intra-key
    blow-up of a block join).

    Mechanics: one thin count-aggregation per side sizes every
    block's candidate product; blocks whose product exceeds
    ``pairs_per_task`` get a salt factor
    ``nsalt = min(max_salt, ceil(product / pairs_per_task))``. The
    record side splits by ``xxhash64(rec_id) % nsalt`` (deterministic
    — no rand(), replays identically) and ONLY the hot blocks'
    reference rows replicate across the nsalt salt values, so the
    equi-join key becomes (block, salt) and the hot block's work
    spreads over ~nsalt tasks of ≤ pairs_per_task comparisons each.

    Cost accounting vs the base operator: candidate-pair count is
    IDENTICAL (each (record, in-block reference) pair meets exactly
    once — the record carries one salt value, the reference carries
    all of them); the only extra data motion is Σ_hot |ref_b|·(nsalt−1)
    replicated reference rows plus two map-side-combinable count aggs
    and a broadcast of the hot-block map (≤ |hot blocks| rows, empty
    on unskewed data — cold blocks take salt 0 and replicate
    nothing). Same deterministic (dist, matched_id) argmin, same
    output contract as ``blocked_linkage``.
    """
    if pairs_per_task < 1:
        raise ValueError("blocked_linkage_salted: pairs_per_task >= 1")
    if max_salt < 1:
        raise ValueError("blocked_linkage_salted: max_salt >= 1")
    ref = reference.select(
        *block_cols,
        F.col(id_col).alias("_ref_id"),
        F.col(val_col).alias("_ref_val"),
    )
    rec = _parallelize_records(
        records.select(
            *block_cols,
            F.col(id_col).alias("rec_id"),
            F.col(val_col).alias("_rec_val"),
        )
    )
    # Per-block salt factor from the candidate product. Only blocks
    # that actually need splitting enter the (broadcast) hot map.
    ref_n = ref.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_fn"))
    rec_n = rec.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_rn"))
    hot = (
        ref_n.join(rec_n, block_cols)
        .select(
            *block_cols,
            F.least(
                F.lit(max_salt),
                F.ceil(
                    (F.col("_fn") * F.col("_rn"))
                    / F.lit(float(pairs_per_task))
                ),
            )
            .cast("int")
            .alias("_nsalt"),
        )
        .filter(F.col("_nsalt") > 1)
    )
    rec_s = (
        rec.join(F.broadcast(hot), block_cols, "left")
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64("rec_id"), F.coalesce(F.col("_nsalt"), F.lit(1))
            ).cast("int"),
        )
        .drop("_nsalt")
    )
    ref_s = (
        ref.join(F.broadcast(hot), block_cols, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.sequence(
                    F.lit(0), F.coalesce(F.col("_nsalt"), F.lit(1)) - 1
                )
            ),
        )
        .drop("_nsalt")
    )
    cand = rec_s.join(ref_s, [*block_cols, "_salt"]).select(
        "rec_id",
        F.col("_ref_id").alias("matched_id"),
        F.levenshtein("_rec_val", "_ref_val").alias("dist"),
    )
    best = _linkage_argmin(cand)
    if keep_unmatched:
        best = rec.select("rec_id").distinct().join(best, "rec_id", "left")
    return best
