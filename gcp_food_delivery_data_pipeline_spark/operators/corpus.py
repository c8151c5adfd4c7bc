"""Corpus-preparation operators for LLM training-data pipelines.

The reference ends at cleaned per-order rows (SURVEY.md §2); a
training-data pipeline additionally needs the corpus-shaping steps
between "deduplicated documents" and "token stream on the trainer":

* ``chunk_documents``   — fixed-token-window chunks with overlap
                          (posexplode of slice() windows; no Python)
* ``redact_pii``        — email / phone / IPv4 scrub via chained
                          ``regexp_replace`` (codegen, scan-pruned)
* ``assign_split``      — deterministic hash train/val/test assignment
                          (engine-stable md5 bucket, reproducible
                          across runs AND engines — never ``rand()``)
* ``ngram_contamination`` — fraction of a doc's word n-grams present in
                          a benchmark set (broadcast semi-join on
                          n-gram hashes — the eval-leak check)
* ``pack_sequences``    — contiguous greedy packing of docs into
                          fixed-token-budget training bins (cumulative
                          sum over a deterministic order)

Everything is Column expressions over DataFrames: chunking explodes
JVM-side, packing is a window aggregation, contamination is an
equi-join — each shape survives a 1000-executor corpus. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.checkpointing import (
    materialize as _ckpt,
)
from gcp_food_delivery_data_pipeline_spark.operators.scale import (
    ensure_min_partitions,
)
from gcp_food_delivery_data_pipeline_spark.operators.text import (
    token_count,
    tokens,
)

# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into ``chunk_tokens``-token windows stepping
    ``chunk_tokens - overlap`` tokens, rejoined with single spaces.

    Output: (id, chunk_idx, chunk_text, n_tokens). The final window may
    be short (its remaining tokens), and a document shorter than one
    window yields exactly one chunk; empty docs yield none. Pure
    ``sequence``+``transform``+``posexplode`` — the explode multiplies
    rows ~n_tokens/step ×, which is the output's true size; nothing
    else is amplified, and the scan is pruned to (id, text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # Window starts: 1, 1+step, ... while start <= max(n - overlap, 1).
    # The cap keeps a trailing window that would ONLY repeat overlap
    # tokens from spawning (it must add at least one new token).
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(step)
    )
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, chunk_tokens), " ")
    )
    # higher-order-function lambdas evaluate interpreted (outside
    # codegen); a single-split input file would serialize that onto
    # one core — exact no-op once the input has enough splits
    src = ensure_min_partitions(df.select(id_col, text_col))
    out = src.select(
        F.col(id_col), F.posexplode(F.when(n > 0, chunks)).alias(
            "chunk_idx", "chunk_text"
        )
    )
    return out.select(
        id_col,
        "chunk_idx",
        "chunk_text",
        token_count(F.col("chunk_text")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# ASCII-only patterns: Java regex (Spark) and RE2 (DuckDB) agree on
# these; \b word boundaries are supported by both.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()\-]{7,}[0-9]"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
) -> DataFrame:
    """Replace emails → ``[EMAIL]``, phone-like digit runs → ``[PHONE]``,
    IPv4 literals → ``[IP]``; adds a ``pii_hits`` count of replacements.

    Order matters and is part of the contract: emails first (so the
    digits inside one can't half-match the phone pattern), then IPs,
    then phones. Three chained ``regexp_replace`` — whole-stage
    codegen over the scan, no Python.
    """
    c = F.col(text_col)
    after_email = F.regexp_replace(c, EMAIL_RE, "[EMAIL]")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "[IP]")
    after_phone = F.regexp_replace(after_ip, PHONE_RE, "[PHONE]")
    n_hits = (
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(after_ip, F.lit(PHONE_RE), F.lit(0)))
    )
    return df.withColumn(out_col, after_phone).withColumn("pii_hits", n_hits)


# ---------------------------------------------------------------------------
# deterministic split assignment
# ---------------------------------------------------------------------------


def split_bucket(id_col: Column | str, buckets: int = 100) -> Column:
    """Engine-stable hash bucket in [0, buckets): first 8 md5 hex chars
    of the id string, mod buckets. Same construction as the MinHash
    token hash (operators/dedup.py) — DuckDB computes the identical
    value, and reruns are reproducible (unlike ``rand(seed)``, whose
    stream depends on partitioning)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(buckets))


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    id hash: bucket < val_pct → ``val``; next ``test_pct`` → ``test``;
    rest → ``train``. A pure projection — no shuffle, no state, and the
    same doc lands in the same split on every engine and every rerun,
    which is what makes held-out sets trustworthy across pipeline
    versions."""
    b = split_bucket(id_col)
    split = (
        F.when(b < val_pct, F.lit("val"))
        .when(b < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def assign_split_by_group(
    df: DataFrame,
    group_col: str,
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Train/val/test assignment with GROUP integrity: the bucket is
    hashed from ``group_col`` (source, domain, author…), so every row
    of a group lands in the SAME split. Splitting per-document leaks
    when related documents straddle the held-out boundary — the model
    "generalizes" to val examples whose siblings it trained on; group
    splitting is the standard defense. Same pure-projection shape and
    determinism guarantees as ``assign_split``."""
    return assign_split(
        df, id_col=group_col, val_pct=val_pct, test_pct=test_pct
    )


def _global_ordered_rank_and_prefix(
    df: DataFrame,
    order_cols: list,
    val: Column,
    val2: Column | None = None,
) -> DataFrame:
    """Two-phase distributed global rank + exclusive prefix sum over a
    total order: range-repartition on the order key, rank/prefix-sum
    WITHIN each partition, then add each partition's (count, sum)
    offsets — computed once over ~#partitions rows. A bare
    ``Window.orderBy`` (no partition key) would funnel every row into
    ONE task; this shape keeps the sort distributed, and the result is
    identical regardless of where the range boundaries land because
    offsets come from actual partition totals. Appends ``_grank``
    (1-based) and ``_gbefore`` (exclusive running sum of ``val``);
    with ``val2`` a second prefix ``_gbefore2`` rides the SAME
    repartition/sort (two parallel CDFs — e.g. a KS test — cost one
    distributed sort, not two)."""
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    r = df.repartitionByRange(n_parts, *order_cols).withColumn(
        "_part", F.spark_partition_id()
    ).withColumn("_val", val).withColumn(
        "_val2", val2 if val2 is not None else F.lit(0)
    )
    # PIN one materialized partitioning: `r` is consumed by TWO
    # subtrees (local ranks and partition totals), and
    # repartitionByRange SAMPLES its boundaries — if the exchange is
    # not reused (AQE replanning, task retries under pressure), the
    # two consumers can see DIFFERENT partition boundaries and the
    # offsets no longer match the local ranks: corrupted global ranks
    # that vary run-to-run (observed once at sf0.1 under a loaded
    # session). The lineage cut makes both consumers read the same
    # materialized partitions unconditionally. Both durability modes
    # of the spark.foodPipeline.checkpointMode conf are safe here:
    # neither recomputes the pin from its sampled-boundary lineage
    # (see checkpointing.py).
    r = _ckpt(r)
    w_local = Window.partitionBy("_part").orderBy(*order_cols)
    local = r.withColumn("_lrank", F.row_number().over(w_local)).withColumn(
        "_lbefore",
        F.coalesce(
            F.sum("_val").over(
                w_local.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "_lbefore2",
        F.coalesce(
            F.sum("_val2").over(
                w_local.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    totals = r.groupBy("_part").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("_val").alias("_tot"),
        F.sum("_val2").alias("_tot2"),
    )
    # Exclusive prefix sums over ~#partitions rows (one per partition,
    # never data-sized) via a triangle join rather than a global-order
    # window: a window with no partition key funnels through one task
    # and WARNs; a 32×32 nested-loop join states the intent and keeps
    # the execution log clean for the warnings that flag REAL funnels.
    prior = totals.select(
        F.col("_part").alias("_p2"),
        F.col("_cnt").alias("_c2"),
        F.col("_tot").alias("_t2"),
        F.col("_tot2").alias("_t22"),
    )
    offsets = (
        totals.join(prior, F.col("_p2") < F.col("_part"), "left")
        .groupBy("_part")
        .agg(
            F.coalesce(F.sum("_c2"), F.lit(0)).alias("_rank_off"),
            F.coalesce(F.sum("_t2"), F.lit(0)).alias("_sum_off"),
            F.coalesce(F.sum("_t22"), F.lit(0)).alias("_sum_off2"),
        )
    )
    out = (
        local.join(F.broadcast(offsets), "_part")
        .withColumn("_grank", F.col("_lrank") + F.col("_rank_off"))
        .withColumn("_gbefore", F.col("_lbefore") + F.col("_sum_off"))
    )
    if val2 is not None:
        out = out.withColumn(
            "_gbefore2", F.col("_lbefore2") + F.col("_sum_off2")
        )
    return out.drop(
        "_part", "_val", "_val2", "_lrank", "_lbefore", "_lbefore2",
        "_rank_off", "_sum_off", "_sum_off2",
    )


def global_shuffle_rank(
    df: DataFrame, id_col: str = "doc_id", rank_col: str = "shuffle_rank"
) -> DataFrame:
    """Deterministic global shuffle order for training data: rank by the
    engine-stable md5 hash of the id (ties impossible — the id itself
    breaks them). Unlike ``orderBy(rand(seed))`` the order is identical
    across engines, reruns, and partition layouts, so a resumed or
    re-sharded training job reads the same epoch order. Distributed via
    the two-phase global rank (no single-task window)."""
    key = F.md5(F.col(id_col).cast("string"))
    out = _global_ordered_rank_and_prefix(
        df.withColumn("_okey", key), ["_okey", id_col], F.lit(0)
    )
    return out.withColumn(rank_col, F.col("_grank").cast("int")).drop(
        "_okey", "_grank", "_gbefore"
    )


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of a text column (array<string>);
    docs with fewer than n tokens yield none (they can't carry an
    n-gram of the benchmark). Gram construction (and its short-doc
    guard) lives in ``text.word_ngrams_all``; this distincts it.
    """
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        word_ngrams_all,
    )

    return F.array_distinct(word_ngrams_all(col, n))


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document benchmark contamination: the fraction of the doc's
    distinct word n-grams that appear anywhere in the benchmark set
    (eval-leak detection — docs scoring high quote the benchmark).

    Output: (id, n_ngrams, n_contaminated, contamination) with
    contamination = n_contaminated / n_ngrams (docs with no n-grams
    report 0.0). The benchmark's distinct n-grams are aggregated once
    and joined (left) against the exploded corpus n-grams — at scale
    the optimizer broadcasts the benchmark side (eval sets are small
    by construction); the corpus side streams through one explode +
    one re-aggregation on the id, never a cross join.
    """
    # N-grams are never materialized as strings: each gram is the
    # xxhash64 of its token-array SLICE (tokens cannot contain spaces,
    # so slice equality ≡ joined-string equality), built inside one
    # transform. The broadcast table is 8 bytes/gram and the probe
    # compares longs. A cross-gram collision needs ~2^32 distinct
    # benchmark grams for coin-flip odds; the string-exact oracle gate
    # pins the result.
    def gram_hashes(col: Column) -> Column:
        # arrays_zip of n shifted slices (the shingles_from_tokens
        # construction): the tokenizer and the slices evaluate once
        # per ROW; an index-based slice(toks, i, n) inside the lambda
        # re-evaluates the captured toks expression per GRAM.
        toks = tokens(col)
        m = F.size(toks) - (n - 1)
        zipped = F.arrays_zip(
            *[F.slice(toks, j + 1, m).alias(f"_g{j}") for j in range(n)]
        )
        hs = F.transform(
            zipped,
            lambda s: F.xxhash64(
                F.array(*[s[f"_g{j}"] for j in range(n)])
            ),
        )
        return F.when(F.size(toks) >= n, F.array_distinct(hs)).otherwise(
            F.array().cast("array<bigint>")
        )

    bench = (
        benchmark.select(F.explode(gram_hashes(F.col(text_col))).alias("_gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # the per-row gram hashing runs interpreted (lambda HOFs); spread
    # a narrow input before it — no-op at real split counts
    doc_grams = ensure_min_partitions(
        corpus.select(id_col, text_col)
    ).select(
        F.col(id_col),
        F.explode_outer(gram_hashes(F.col(text_col))).alias("_gh"),
    )
    joined = doc_grams.join(F.broadcast(bench), "_gh", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.col("_gh")).alias("n_ngrams"),
        F.count(F.col("_hit")).alias("n_contaminated"),
        F.round(
            F.coalesce(
                F.count(F.col("_hit"))
                / F.nullif(F.count(F.col("_gh")), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    context_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concatenate-and-slice sequence packing (how LLM training data is
    actually packed): documents are laid out as one continuous token
    stream in ``id_col`` order, and the stream is cut into
    ``context_tokens``-sized training windows. Each doc reports the
    window its FIRST token lands in and its offset inside that window;
    long docs straddle windows, exactly as in real packed pretraining
    batches. (Greedy never-split packing — reset the bin at overflow —
    is a sequential recurrence; this closed form is the variant with a
    scalable plan AND the semantics trainers actually use.)

    Output: (id, n_tokens, bin_id, bin_offset) with
    bin_id = floor(tokens_before / budget),
    bin_offset = tokens_before mod budget. The global prefix sum runs
    as the two-phase distributed rank (range repartition → local
    cumsum → per-partition offsets), never a single-task
    ``Window.orderBy`` over the whole corpus.
    """
    nt = token_count(F.col(text_col))
    # prune to (id, token count) BEFORE the rank: the helper now pins
    # its partitioning with a localCheckpoint, so every carried column
    # is materialized — shipping the text through it would serialize
    # the whole corpus for a projection that never reads it again
    out = _global_ordered_rank_and_prefix(
        df.select(F.col(id_col), nt.alias("_nt")), [id_col], F.col("_nt")
    )
    before = F.col("_gbefore")
    return out.select(
        F.col(id_col),
        F.col("_nt").cast("int").alias("n_tokens"),
        F.floor(before / context_tokens).cast("long").alias("bin_id"),
        F.pmod(before, F.lit(context_tokens)).cast("long").alias("bin_offset"),
    )


def resample_source_mix(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain-mixture resampling: downsample each source
    so the surviving corpus hits the target mixture ``weights`` (the
    static domain-weighting step of Pile/DoReMi-style data recipes).

    ``weights`` are integer mixture parts (e.g. {"web": 3, "code": 1}
    = 75/25). The kept-count math is ALL-INTEGER so every engine and
    rerun agrees exactly: M = min over sources of n_s // w_s (the
    largest number of "mixture units" every source can fill), and each
    source keeps quota_s = w_s * M documents. Sources absent from
    ``weights`` (or with weight 0) are dropped; conversely a WEIGHTED
    source with no rows forces M = 0 (empty result) — the mixture is a
    contract, not a best effort.

    WHICH documents survive is decided by rank within source on the
    engine-stable (md5(id), id) order — reproducible, content-
    independent, and partition-layout-free, unlike ``df.sample``.

    Scale shape: one tiny groupBy for per-source counts (rows =
    #sources, broadcast back), one window rank partitioned BY SOURCE
    (each source sorts in parallel; no global single-task window). At
    100 TB the rank sort is the cost — it shares the shuffle with the
    count side's partitioning, and a per-source range repartition
    keeps any mega-source from one task via AQE skew handling.
    """
    if not weights or all(w <= 0 for w in weights.values()):
        raise ValueError("resample_source_mix: need a positive weight")
    wlit = F.create_map(
        *[
            x
            for s, w in sorted(weights.items())
            for x in (F.lit(s), F.lit(int(w)))
        ]
    )
    weighted = df.withColumn(
        "_w", F.coalesce(wlit[F.col(source_col)], F.lit(0))
    ).filter(F.col("_w") > 0)
    counts = weighted.groupBy(source_col).agg(F.count(F.lit(1)).alias("_ns"))
    # M ranges over EVERY positively-weighted source in the declared
    # mixture, not just sources present in the data: a weighted source
    # with zero rows can fill zero mixture units, so M = 0 and the
    # result is EMPTY — the strict reading of "hit the target mixture".
    # (Minimizing only over present sources would silently ship a
    # 100/0 mix when one declared source is missing.)
    spark = df.sparkSession
    declared = spark.createDataFrame(
        [(s,) for s, w in sorted(weights.items()) if w > 0], [source_col]
    )
    m_units = (
        declared.join(counts, source_col, "left")
        .select(
            source_col,
            F.coalesce("_ns", F.lit(0)).alias("_ns"),
            wlit[F.col(source_col)].alias("_w"),
        )
        .agg(F.min(F.floor(F.col("_ns") / F.col("_w"))).alias("_m"))
    )
    w_rank = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        weighted.withColumn("_rk", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(m_units))
        .filter(F.col("_rk") <= F.col("_w") * F.col("_m"))
        .drop("_w", "_rk", "_m")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement, deterministic:
    Efraimidis-Spirakis A-ES — each row gets sort key u^(1/w) (kept in
    log form, ln(u)/w) with u a uniform derived from the engine-stable
    md5 of its id; the k largest keys ARE a weighted sample without
    replacement. The training-data "importance sampling" primitive:
    upweight high-quality/rare documents without a second pass or any
    ``rand()`` (whose stream binds to partition layout).

    Scale shape: a pure projection plus a global top-k —
    TakeOrderedAndProject computes per-partition top-k and merges k
    rows per partition on the driver; no full sort, no single-task
    window. Rows with weight <= 0 are excluded (zero probability).

    Determinism note: u = (h+1)/2^32 over the first 8 md5 hex chars —
    exactly representable, identical in any engine; the only
    cross-engine float step is one ln() and one division, and the
    chance two rows' keys land within libm's last-ulp disagreement is
    ~n^2/2^52 — the same (accepted) risk class as every
    float-ordered top-k in this repo.
    """
    if k <= 0:
        raise ValueError("weighted_sample: k must be positive")
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_sk", key)
        .orderBy(F.col("_sk").desc(), F.col(id_col))
        .limit(k)
        .drop("_sk")
    )


def length_buckets(
    df: DataFrame,
    batch_size: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batching: group documents of similar token
    count into fixed-size batches so same-batch sequences pad to
    similar lengths (padding waste is what length bucketing exists to
    kill — batching a 10-token doc with a 4096-token doc burns 99% of
    the batch on pad tokens).

    bucket = floor(log2(n_tokens)) (powers-of-two length bands);
    batch_id = the doc's md5-rank within its bucket, divided by
    ``batch_size``. Output: (id, n_tokens, bucket, batch_id).

    Scale shape: one window rank PARTITIONED BY BUCKET — ~log2(max_len)
    independent parallel sorts, never a global one; the md5 order makes
    batch membership rerun/engine/layout-stable (deterministic "random"
    within a band, as recommended for shuffled-but-bucketed loaders).
    """
    if batch_size <= 0:
        raise ValueError("length_buckets: batch_size must be positive")
    nt = token_count(F.col(text_col))
    bucket = F.floor(F.log2(F.greatest(nt, F.lit(1)))).cast("int")
    staged = df.select(
        F.col(id_col), nt.cast("int").alias("n_tokens"), bucket.alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return staged.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )


def temporal_split(
    df: DataFrame,
    ts_col: str = "ts",
    test_frac: float = 0.2,
    embargo_seconds: int = 86400,
) -> DataFrame:
    """Time-based train/test split with an EMBARGO gap: test = the
    latest ``test_frac`` of rows by event time (cutoff = exact
    time-quantile), train = rows at least ``embargo_seconds`` BEFORE
    the cutoff, and rows inside the embargo band are labeled
    ``embargo`` and excluded from both sides.

    Random splits leak for time-correlated data (a model "predicts" a
    test event it effectively saw seconds earlier in train); the
    embargo band is the standard defense (purged/embargoed splits in
    financial ML, forward-chaining eval elsewhere). Deterministic: the
    cutoff is a pure quantile of the data, not a sampled boundary.

    Scale shape: ONE exact-percentile aggregate produces the scalar
    cutoff (swap to approx_percentile at extreme row counts), which
    broadcasts back as a literal-like scalar join; labeling is a pure
    projection. Integer-microsecond arithmetic end to end.
    """
    if not 0.0 < test_frac < 1.0:
        raise ValueError(
            f"temporal_split: test_frac must be in (0,1), got {test_frac}"
        )
    micros = F.unix_micros(F.col(ts_col))
    cut = df.agg(
        F.expr(
            f"percentile(unix_micros({ts_col}), {1.0 - test_frac})"
        ).alias("_cut")
    )
    emb = embargo_seconds * 1_000_000
    split = (
        F.when(micros > F.col("_cut"), F.lit("test"))
        .when(micros <= F.col("_cut") - F.lit(float(emb)), F.lit("train"))
        .otherwise(F.lit("embargo"))
    )
    return df.crossJoin(F.broadcast(cut)).withColumn(
        "split", split
    ).drop("_cut")


def sample_negatives(
    positives: DataFrame,
    items: DataFrame,
    n_neg: int = 4,
    user_col: str = "user_id",
    item_col: str = "item",
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    for each user with positives, up to ``n_neg`` pseudo-random items
    the user did NOT interact with. Candidate for slot j is
    ``md5(user + '_' + j) mod |items|`` mapped through a dense item
    index; candidates colliding with a positive are dropped by
    anti-join semantics (LEFT JOIN + null filter), NOT resampled — a
    single-pass bound (≤ n_neg per user) instead of a rejection loop,
    which is the scalable trade every large-corpus sampler makes.
    md5-derived "randomness" keeps the sample rerun- and engine-stable
    (the same reason ``assign_split`` never uses rand()).

    Scale shape: the dense item index comes from the two-phase
    distributed rank (never a global-order window); the candidate
    frame is |users| x n_neg rows joined on the index and
    anti-joined on (user, item) — all keyed equi-joins.
    """
    if n_neg < 1:
        raise ValueError(f"sample_negatives: n_neg must be >= 1, got {n_neg}")
    ranked = _global_ordered_rank_and_prefix(
        items.select(item_col), [item_col], F.lit(0)
    ).select(
        F.col(item_col).alias("_item"), (F.col("_grank") - 1).alias("_idx")
    )
    n = items.agg(F.count(F.lit(1)).cast("long").alias("_ni"))
    users = positives.select(user_col).distinct()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_", F.col(user_col).cast("string"),
                    F.col("slot").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        users.select(
            user_col,
            F.explode(
                F.sequence(F.lit(0), F.lit(n_neg - 1))
            ).alias("slot"),
        )
        .crossJoin(F.broadcast(n))
        .select(user_col, "slot", F.pmod(h, F.col("_ni")).alias("_idx"))
    )
    pos = positives.select(
        F.col(user_col), F.col(item_col).alias("_pitem"), F.lit(1).alias("_hit")
    ).distinct()
    # Explicit string aliases on both sides: `cand` and `pos` share
    # lineage (both derive from `positives`), so a dataframe-object
    # equality predicate makes the analyzer warn about a trivially-
    # true self-join equality and correctness would hinge on
    # dataset-id disambiguation. Qualified column names resolve
    # unambiguously regardless of analyzer version.
    return (
        cand.alias("c")
        .join(ranked, "_idx")
        .join(
            pos.alias("p"),
            (F.col(f"c.{user_col}") == F.col(f"p.{user_col}"))
            & (F.col("_item") == F.col("_pitem")),
            "left",
        )
        .filter(F.col("_hit").isNull())
        .select(
            F.col(f"c.{user_col}"), "slot", F.col("_item").alias(item_col)
        )
    )


def _largest_remainder_quotas(
    targets: DataFrame,
    key_col: str,
    tgt_col: str = "_tgt",
    total_col: str = "_total",
) -> DataFrame:
    """Integer apportionment of a scalar total over fractional
    per-key targets by largest remainder — deterministic tie-break
    (remainder DESC, key ASC). ``targets`` carries one row per key
    with the fractional target and the SAME total on every row; the
    result keeps every other input column and appends ``_quota``.
    Shared by the mixture family (``temperature_mix``,
    ``upsample_epochs``, ``token_budget_mix``) and ``neyman_sample``;
    each oracle unrolls this exact CTE shape."""
    passthrough = [
        c for c in targets.columns if c not in (tgt_col, total_col)
    ]
    based = targets.select(
        *passthrough,
        F.col(total_col),
        F.floor(tgt_col).cast("long").alias("_base"),
        (F.col(tgt_col) - F.floor(tgt_col)).alias("_rem"),
    )
    leftover = based.agg(
        (F.first(total_col) - F.sum("_base")).cast("long").alias("_left")
    )
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col(key_col))
    return (
        based.withColumn("_rr", F.row_number().over(w_rem))
        .crossJoin(F.broadcast(leftover))
        .select(
            *passthrough,
            (
                F.col("_base")
                + (F.col("_rr") <= F.col("_left")).cast("long")
            ).alias("_quota"),
        )
    )


def temperature_mix(
    df: DataFrame,
    total: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled domain mixture: sample ``total`` documents
    with per-source quotas proportional to n_s^alpha — the
    multilingual-LM sampling rule (XLM-R / mT5: alpha < 1 upweights
    low-resource domains relative to their raw share; alpha = 1 is
    proportional, alpha = 0 uniform). Fractional targets become
    integer quotas by largest-remainder apportionment (deterministic
    tie-break: remainder DESC, source ASC), each capped at n_s (no
    replacement; capped surplus is NOT redistributed — the quota is a
    contract per source). WHICH documents survive is the same
    engine-stable (md5(id), id) rank ``resample_source_mix`` uses.

    Everything stays in-plan: per-source counts are a tiny groupBy,
    the share normalizer folds the SORTED share list left-to-right
    JVM-side (one fixed summation order, so any engine folding the
    same order reproduces the doubles bit-for-bit), apportionment is
    a window over the #sources-row frame, and quotas broadcast back
    to the ranked corpus. alpha = 0.5 uses ``sqrt`` explicitly — IEEE
    requires correctly-rounded sqrt, while ``pow`` may differ in the
    last ulp across libm implementations (other alphas use ``pow``
    and carry that caveat).

    Scale shape: identical to ``resample_source_mix`` — the window
    rank partitioned by source is the only corpus-sized work.
    """
    if total < 1:
        raise ValueError(f"temperature_mix: total must be >= 1, got {total}")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"temperature_mix: alpha must be in [0,1], got {alpha}")
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("_ns")
    )
    share = (
        F.sqrt(F.col("_ns").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("_ns").cast("double"), F.lit(alpha))
    )
    shared = counts.withColumn("_sh", share)
    norm = shared.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(source_col), F.col("_sh")))
                ),
                lambda s: s["_sh"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_S")
    )
    targets = shared.crossJoin(F.broadcast(norm)).select(
        source_col,
        "_ns",
        F.lit(total).cast("long").alias("_total"),
        (F.lit(float(total)) * F.col("_sh") / F.col("_S")).alias("_tgt"),
    )
    quotas = _largest_remainder_quotas(targets, source_col).select(
        source_col,
        F.least(F.col("_quota"), F.col("_ns")).alias("_quota"),
    )
    w_rank = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w_rank))
        .join(F.broadcast(quotas), source_col)
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Dataset-card summary in long format ``(metric, value)`` — the
    release-report layer of a corpus pipeline (doc volume, source/
    language diversity, majority-language share, exact-duplicate rate,
    mean length). ONE aggregation pass over the corpus; the single
    result row is then unpivoted with ``stack`` (a projection), so the
    whole card costs one scan + one 1-row shuffle at any scale. Every
    metric is an exact-integer count or an exact ratio of counts —
    nothing float-accumulated — so the card is engine-reproducible.
    """
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct(source_col).alias("_src"),
        F.countDistinct(lang_col).alias("_lang"),
        F.countDistinct(F.md5(text_col)).alias("_uniq"),
        F.count(F.when(F.col(lang_col) == "en", 1)).alias("_en"),
        F.sum(chars_col).alias("_chars"),
    )
    # try_divide: under ANSI mode a plain / raises DIVIDE_BY_ZERO on an
    # empty corpus; the card should report NULL ratios instead of dying
    return agg.selectExpr(
        """stack(6,
           'n_docs',         CAST(_n AS DOUBLE),
           'n_sources',      CAST(_src AS DOUBLE),
           'n_langs',        CAST(_lang AS DOUBLE),
           'exact_dup_rate', 1.0 - try_divide(CAST(_uniq AS DOUBLE), _n),
           'en_share',       try_divide(CAST(_en AS DOUBLE), _n),
           'mean_chars',     try_divide(CAST(_chars AS DOUBLE), _n)
        ) AS (metric, value)"""
    )


def shard_assign_balanced(
    df: DataFrame,
    n_shards: int = 8,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Size-balanced shard assignment for corpus export: rank docs by
    (weight DESC, id) and deal them to shards in SNAKE order
    (0..k-1, k-1..0, ...) — the classic one-pass LPT approximation
    that keeps every shard's total weight within one max-document of
    optimal, where round-robin systematically overloads shard 0 on
    skewed sizes and hash assignment ignores size entirely (the
    [[c_split_assign]] hash split is the right tool for STATISTICAL
    splits; this one is for equal-COST output files).

    The global ordering uses the two-phase distributed rank (range
    repartition -> local ranks -> partition-count offsets), never a
    single-task global window; the snake arithmetic is a pure
    projection on the rank. Deterministic: the (weight, id) order is
    total, so the same corpus always deals the same shards.
    """
    if n_shards < 1:
        raise ValueError(
            f"shard_assign_balanced: n_shards must be >= 1, got {n_shards}"
        )
    keyed = df.withColumn("_negw", -F.col(weight_col).cast("long"))
    ranked = _global_ordered_rank_and_prefix(
        keyed, ["_negw", id_col], F.lit(0)
    )
    r0 = F.col("_grank") - 1
    cycle = F.floor(r0 / n_shards)
    pos = r0 % n_shards
    shard = F.when(
        cycle % 2 == 0, pos
    ).otherwise(n_shards - 1 - pos)
    return ranked.select(
        id_col,
        F.col(weight_col),
        shard.cast("int").alias("shard"),
    )


def upsample_epochs(
    df: DataFrame,
    total: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature repeat-factor UPsampling: expand the corpus to
    exactly ``total`` rows with per-source quotas proportional to
    n_s^alpha — the training-mixture counterpart of
    ``temperature_mix`` when low-resource sources must be repeated
    (fractional epochs), not just kept. Every document in source s
    appears ``quota_s div n_s`` times, and the first
    ``quota_s mod n_s`` documents by the engine-stable (md5(id), id)
    rank appear once more — so the output hits each quota EXACTLY
    (never in expectation), deterministically, with max repeat spread
    of 1 within a source (no doc repeats twice before every doc
    repeats once: the round-robin epoch discipline training loaders
    expect). Emits ``(id, source, epoch)`` with epoch 0-based.

    Quota arithmetic is ``temperature_mix``'s largest-remainder
    apportionment minus the n_s cap (upsampling's whole point is
    quota > n_s), same sorted left-fold share normalizer, same
    deterministic tie-breaks.

    Scale shape: the per-source rank window is the only corpus-sized
    work (parallel per-key sorts); quotas are a #sources-row frame
    broadcast back; the repeat expansion is a per-row
    ``explode(sequence(...))`` — no join, no shuffle, output rows ∝
    ``total``.
    """
    if total < 1:
        raise ValueError(f"upsample_epochs: total must be >= 1, got {total}")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(
            f"upsample_epochs: alpha must be in [0,1], got {alpha}"
        )
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("_ns")
    )
    share = (
        F.sqrt(F.col("_ns").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("_ns").cast("double"), F.lit(alpha))
    )
    shared = counts.withColumn("_sh", share)
    norm = shared.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(source_col), F.col("_sh")))
                ),
                lambda s: s["_sh"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_S")
    )
    targets = shared.crossJoin(F.broadcast(norm)).select(
        source_col,
        "_ns",
        F.lit(total).cast("long").alias("_total"),
        (F.lit(float(total)) * F.col("_sh") / F.col("_S")).alias("_tgt"),
    )
    quotas = _largest_remainder_quotas(targets, source_col)
    w_rank = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = (
        df.select(id_col, source_col)
        .withColumn("_rk", F.row_number().over(w_rank))
        .join(F.broadcast(quotas), source_col)
    )
    n_rep = (
        F.expr("_quota div _ns")
        + (F.col("_rk") <= F.col("_quota") % F.col("_ns")).cast("long")
    )
    return (
        ranked.withColumn("_reps", n_rep)
        .filter(F.col("_reps") > 0)
        .select(
            id_col,
            source_col,
            F.explode(
                F.sequence(F.lit(0), (F.col("_reps") - 1).cast("int"))
            ).alias("epoch"),
        )
    )


def token_budget_mix(
    df: DataFrame,
    total_tokens: int | None = None,
    alpha: float = 0.5,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled mixture by TOKEN budget: apportion a total
    token budget across sources proportional to (source token
    count)^alpha, then keep the longest prefix of each source's
    engine-stable (md5(id), id) order whose cumulative token count
    fits its quota. Doc-count quotas (``temperature_mix``) overweight
    sources with long documents; training mixtures are specified in
    tokens, so the quota must be too. ``total_tokens=None`` budgets
    half the corpus (computed in-plan — no driver count).

    The keep rule is the strict PREFIX rule: the first doc that
    overflows the quota stops its source (no skip-ahead best-fit) —
    deterministic, one keyed window, and order-stable when the
    corpus grows.

    Reproducibility: token counts, cumulative sums, quotas, and the
    budget are all exact integers; the only doubles are the n^alpha
    shares, folded in sorted-source order (the ``temperature_mix``
    normalizer contract).

    Scale shape: one token-count projection, one per-source window
    cumsum (parallel per-key sorts), a #sources-row quota frame
    broadcast back. No corpus-sized join or global window.
    """
    if total_tokens is not None and total_tokens < 1:
        raise ValueError(
            f"token_budget_mix: total_tokens must be >= 1, got {total_tokens}"
        )
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(
            f"token_budget_mix: alpha must be in [0,1], got {alpha}"
        )
    toks = df.select(
        id_col,
        source_col,
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    counts = toks.groupBy(source_col).agg(
        F.sum("n_tokens").alias("_ns")
    )
    if total_tokens is None:
        budget = counts.agg(
            F.expr("sum(_ns) div 2").cast("long").alias("_budget")
        )
    else:
        budget = counts.sparkSession.range(1).select(
            F.lit(total_tokens).cast("long").alias("_budget")
        )
    share = (
        F.sqrt(F.col("_ns").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("_ns").cast("double"), F.lit(alpha))
    )
    shared = counts.withColumn("_sh", share)
    norm = shared.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(source_col), F.col("_sh")))
                ),
                lambda s: s["_sh"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_S")
    )
    targets = (
        shared.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(budget))
        .select(
            source_col,
            "_budget",
            (
                F.col("_budget").cast("double")
                * F.col("_sh")
                / F.col("_S")
            ).alias("_tgt"),
        )
    )
    quotas = _largest_remainder_quotas(
        targets, source_col, total_col="_budget"
    )
    w_rank = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    cum = (
        toks.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w_rank.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        cum.join(F.broadcast(quotas), source_col)
        .filter(F.col("cum_tokens") <= F.col("_quota"))
        .select(id_col, source_col, "n_tokens", "cum_tokens")
    )


def neyman_sample(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    id_col: str,
    total: int,
) -> DataFrame:
    """Neyman-allocation stratified sampling: a ``total``-row sample
    whose per-stratum quotas are proportional to N_h * sigma_h — the
    variance-optimal allocation for estimating the population mean
    (Neyman 1934): volatile strata earn more of the budget than their
    raw share, constant strata almost none. Proportional sampling is
    what you do without variance information; this is what you do
    with it.

    Quotas are integers via the shared largest-remainder apportioner
    (capped at N_h); WHICH rows survive is the engine-stable
    (md5(id), id) rank — the same determinism contract as the mixture
    family. sigma_h is the population standard deviation rounded to 6
    decimals BEFORE the share arithmetic, and the share normalizer is
    the sorted left-fold, so the allocation is engine-reproducible.
    All-zero-variance inputs fall back to proportional allocation
    (share N_h) rather than dividing by zero.

    Scale shape: one combinable per-stratum moment pass, a
    #strata-row quota frame broadcast back, one per-stratum rank
    window — the ``temperature_mix`` profile.
    """
    if total < 1:
        raise ValueError(f"neyman_sample: total must be >= 1, got {total}")
    stats = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("_nh"),
        F.round(F.stddev_pop(value_col), 6).alias("_sd"),
    )
    share = F.col("_nh") * F.col("_sd")
    shared = stats.withColumn("_sh", share)
    norm = shared.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(stratum_col), F.col("_sh"))
                    )
                ),
                lambda s: s["_sh"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_S"),
        F.sum("_nh").alias("_N"),
    )
    tgt = F.when(
        F.col("_S") > 0.0,
        F.lit(float(total)) * F.col("_sh") / F.col("_S"),
    ).otherwise(
        F.lit(float(total)) * F.col("_nh") / F.col("_N")
    )
    targets = shared.crossJoin(F.broadcast(norm)).select(
        stratum_col,
        "_nh",
        F.lit(total).cast("long").alias("_total"),
        tgt.alias("_tgt"),
    )
    quotas = _largest_remainder_quotas(targets, stratum_col).select(
        stratum_col,
        F.least(F.col("_quota"), F.col("_nh")).alias("_quota"),
    )
    w_rank = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w_rank))
        .join(F.broadcast(quotas), stratum_col)
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )
