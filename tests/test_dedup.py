"""Dedup operator tests: exact keep-first determinism, MinHash-LSH
candidate generation on planted near-duplicates, greedy near-dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    lsh_candidate_pairs,
    near_dedup,
    shingles,
    with_minhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
# Near-dup: one word APPENDED → only one new shingle, jaccard ≈ 0.96
# (a mid-text substitution would replace 3 shingles → jaccard ≈ 0.77)
NEAR = BASE + " indeed"
# Unrelated text
OTHER = (
    "completely different content about distributed query engines and "
    "columnar execution with vectorized operators and shuffle exchange"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1
        (4, OTHER),
        (5, BASE),          # another exact dup of 1
        (6, OTHER + " with extra trailing words appended here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_smallest_id(corpus):
    kept = dedup_exact(corpus.withColumn("fp", F.md5("text")), "fp")
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    # 1 survives for {1,2,5}; 3, 4, 6 unique
    assert ids == [1, 3, 4, 6]


def test_dedup_exact_is_deterministic(corpus):
    a = dedup_exact(corpus.withColumn("fp", F.md5("text")), "fp")
    b = dedup_exact(
        corpus.orderBy(F.col("doc_id").desc()).withColumn("fp", F.md5("text")),
        "fp",
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "just two")], ["doc_id", "text"])
    sh = df.select(shingles("text", k=3).alias("s")).collect()[0]["s"]
    assert sh == ["just two"]  # <k tokens → whole sequence, one shingle


def test_minhash_signature_shape_and_determinism(corpus):
    sig = with_minhash(corpus, num_hashes=64).select("doc_id", "minhash")
    rows = {r.doc_id: r.minhash for r in sig.collect()}
    assert all(len(v) == 64 for v in rows.values())
    assert rows[1] == rows[2] == rows[5]  # identical text → identical sig
    assert rows[1] != rows[4]
    # near-dup shares most minhash slots with the original
    shared = sum(1 for x, y in zip(rows[1], rows[3]) if x == y)
    assert shared >= 48  # jaccard ~0.96 → E[shared] ≈ 61/64


def test_lsh_finds_planted_pairs(corpus):
    pairs = lsh_candidate_pairs(corpus)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # exact dups: jaccard 1.0
    assert got[(1, 2)] == 1.0 and got[(1, 5)] == 1.0 and got[(2, 5)] == 1.0
    # planted near-dup found with high jaccard
    assert (1, 3) in got and got[(1, 3)] > 0.8
    # unrelated docs never become verified high-jaccard pairs
    assert all(
        j < 0.5 for (a, b), j in got.items() if (a in (4, 6)) != (b in (4, 6))
    )


def test_near_dedup_drops_copies_keeps_originals(corpus):
    kept = near_dedup(corpus, threshold=0.8)
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    # 2, 3, 5 all near/exact-dup of 1 → dropped; 6 vs 4 below threshold
    assert ids == [1, 4, 6]


def test_embedding_dedup_keeps_lowest_id(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        embedding_dedup,
    )

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),   # near-dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 2),
        (5, [0.0, 0.999, 0.02], 1),   # near-dup of 3 -> dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    kept = sorted(
        r.vec_id for r in embedding_dedup(df, threshold=0.95).collect()
    )
    assert kept == [1, 3, 4]


def test_connected_components_transitive_closure(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2, 2-3 (transitive cluster), pair 5-6, isolated 4
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    vertices = spark.createDataFrame(
        [(i,) for i in range(1, 7)], ["doc_id"]
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_embedding_pair_kernels_all_match_expr_baseline(spark):
    """The distributed blocked kernel behind ``embedding_dedup`` (no
    driver collect, no corpus broadcast) must produce the same pairs as
    the pure-Column BNLJ ``embedding_near_dup_pairs`` on the sf0.001
    embeddings table."""
    import os

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_blocked,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    e = load_table(spark, sf, "embeddings")
    want = sorted(
        map(tuple, embedding_near_dup_pairs(e, threshold=0.35).collect())
    )
    # force a multi-block grid so diagonal AND off-diagonal kernel
    # branches both execute
    got_blocked = sorted(
        map(
            tuple,
            embedding_near_dup_pairs_blocked(
                e, threshold=0.35, n_blocks=5
            ).collect(),
        )
    )
    assert got_blocked == want and len(want) > 0


# NULL, empty, whitespace-only, each ASCII whitespace Java's \s splits
# on, \x1c (whitespace to Python's \s, not Java's) and non-ASCII.
EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\ta\tb\t",
    "a\x0bb c",
    "a\x0cb c d",
    "a\rb\r\nc",
    "a\x1cb c",
    "héllo wörld ünïcode text",
    "日本語 テキスト",
    " x y z ",
    "a b c d e",
]


def test_minhash_kernel_matches_column_path_row_for_row(spark):
    """The Arrow MinHash kernel behind ``lsh_candidate_pairs`` must give
    every document, NULL and blank text included, the shingles of
    ``shingles`` and the signature of ``with_minhash``."""
    import os

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        _minhash_frame_arrow,
    )
    from tests.conftest import SF_DIR
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_SMALL", SF_DIR)
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    top = d.agg(F.max("doc_id")).collect()[0][0]
    edge = spark.createDataFrame(
        [(top + 1 + i, t) for i, t in enumerate(EDGE_TEXTS)],
        "doc_id long, text string",
    )
    df = d.unionByName(edge)
    kernel = {
        r._id: (r._shingles, list(r._sig))
        for r in _minhash_frame_arrow(df, "text", "doc_id", 64, 3).collect()
    }
    column = {
        r.doc_id: (r.sh, list(r.minhash))
        for r in with_minhash(
            df.withColumn("sh", shingles("text", 3)), num_hashes=64
        ).collect()
    }
    assert len(kernel) == df.count() > len(EDGE_TEXTS)
    assert kernel == column


def test_lsh_pairs_treat_null_text_as_empty(spark):
    """NULL text shingles like '': the two NULL docs and the empty doc
    are exact duplicates of each other (jaccard 1.0). The rule is one
    for all three LSH operators, so blank docs also match ACROSS
    corpora: blank corpus docs are contaminated by a NULL benchmark
    doc, and a NULL batch doc is dropped against a blank corpus doc."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        fuzzy_decontaminate,
        incremental_dedup,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "a b c d"), (5, "a b c d")],
        "doc_id long, text string",
    )
    got = sorted(
        map(tuple, lsh_candidate_pairs(df, num_hashes=8, bands=4).collect())
    )
    assert got == [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (4, 5, 1.0)]

    # old side: NULL, blank, text; new side: NULL, text
    old, new = df.filter("doc_id IN (1, 3, 4)"), df.filter("doc_id IN (2, 5)")
    null_bench = df.filter("doc_id = 1")
    flags = fuzzy_decontaminate(df, null_bench, num_hashes=8, bands=4)
    assert sorted(map(tuple, flags.collect())) == [
        (1, True), (2, True), (3, True), (4, False), (5, False)
    ]
    kept = incremental_dedup(old, new, num_hashes=8, bands=4)
    assert kept.count() == 0  # NULL 2 matches blank/NULL, 5 matches 4
    kept = incremental_dedup(
        df.filter("doc_id = 4"), new, num_hashes=8, bands=4
    )
    assert sorted(r.doc_id for r in kept.collect()) == [2]


def test_simhash_banded_pairs_equal_brute_force(spark):
    """The pigeonhole guarantee is testable: banded candidates must
    reproduce the all-pairs hamming<=3 result exactly."""
    import os

    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        hamming_distance,
        simhash_near_dup_pairs,
        with_simhash,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    got = sorted(
        map(tuple, simhash_near_dup_pairs(d, max_hamming=3, bands=4).collect())
    )
    sh = with_simhash(d, "text").select("doc_id", "simhash")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming_distance(F.col("sa"), F.col("sb")).cast("int").alias("h"),
        )
        .filter(F.col("h") <= 3)
    )
    want = sorted(map(tuple, brute.collect()))
    assert got == want and len(want) > 0


def test_simhash_banded_pairs_validates_params(spark):
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=4, bands=4)
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, bands=5)


def test_lsh_recall_is_perfect_on_planted_near_dups(spark):
    """Regression for the min-wise failure: with the old (a*x+b) mod
    2^61-1 construction the product wrapped at most once, the hash was
    nearly monotone in x, and a planted pair whose one differing
    shingle hashed small matched in 0/64 slots — so SOME planted pair
    was missed with high probability. Sound mixing loses none of 40
    pairs at jaccard ~0.9 (model miss probability ~1e-20 each)."""
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    rows = []
    for i in range(40):
        base = " ".join(f"tok{i}_{j}" for j in range(40))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + f" extra{i} end{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = lsh_candidate_pairs(
        df, "text", "doc_id", num_hashes=64, bands=32
    ).filter("jaccard >= 0.8")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(2 * i, 2 * i + 1) for i in range(40)}
    missed = want - got
    assert not missed, f"LSH missed planted near-dup pairs: {sorted(missed)}"
    for r in pairs.collect():
        if (r.id_a, r.id_b) in want:
            # base: 38 shingles, variant adds 2 -> 38/40
            assert r.jaccard == _pytest.approx(38 / 40, abs=1e-4)


def test_prefix_similarity_join_equals_brute_force(spark):
    """Prefix filtering is EXACT: results must equal the all-pairs
    Jaccard join on a corpus with near-dups, exact dups, disjoint
    docs, short docs, and blanks."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over a lazy dog",
        "the quick brown fox leaps over the lazy dog today",
        "completely different words here entirely",
        "words here entirely different completely",
        "one",
        "one two",
        "",
        "the the the quick quick fox",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.6
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_similarity_join(df, threshold=t).collect()
    }

    def jac(a: str, b: str) -> float:
        sa, sb = set(a.split()), set(b.split())
        if not sa or not sb:
            return 0.0
        return len(sa & sb) / len(sa | sb)

    want = {}
    for i, a in enumerate(texts):
        for j in range(i + 1, len(texts)):
            v = jac(a, texts[j])
            if v >= t:
                want[(i, j)] = round(v, 6)
    assert got == want
    assert want  # the fixture must actually contain similar pairs


def test_fuzzy_decontaminate_flags_near_dup_of_benchmark(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        fuzzy_decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the capital of france is paris and it is large")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the capital of france is paris and it is big"),  # near-dup
            (2, "completely unrelated text about mountains and rivers"),
            (3, "the capital of france is paris and it is large"),  # exact
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.contaminated
        for r in fuzzy_decontaminate(
            corpus, bench, threshold=0.7
        ).collect()
    }
    assert got == {1: True, 2: False, 3: True}


def test_span_dedup_profile_golden(spark):
    """Hand-built corpus with a known repeated 3-token span: doc 1 and
    doc 2 share "a b c"; doc 2 also repeats it internally; doc 3 is
    span-unique; doc 4 is too short to have any span."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        span_dedup_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c x y"),        # spans: "a b c","b c x","c x y"
            (2, "a b c a b c"),      # "a b c","b c a","c a b","a b c"
            (3, "p q r s"),          # "p q r","q r s" — unique
            (4, "a b"),              # < k tokens: excluded
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac)
        for r in span_dedup_profile(docs, k=3).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (3, 1, round(1 / 3, 6))   # only "a b c" repeats
    assert got[2] == (4, 2, 0.5)               # its two "a b c" copies
    assert got[3] == (2, 0, 0.0)


def test_span_dedup_profile_rejects_bad_k(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        span_dedup_profile,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be >= 1"):
        span_dedup_profile(docs, k=0)


def test_drop_duplicate_spans_golden(spark):
    """doc 1 holds the first occurrence of "a b c"; doc 2's copy (and
    only it) is removed; overlap resolves to removal; span-unique and
    too-short docs pass through."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        drop_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c x y"),
            (2, "q a b c r"),    # duplicate "a b c" at pos 2-4 removed
            (3, "a b c a b c"),  # internal dup: second copy removed
            (4, "p q r"),        # unique — untouched
            (5, "a b"),          # < k: no spans, excluded
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in drop_duplicate_spans(docs, k=3).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == (5, 0, "a b c x y")  # global first occurrence kept
    assert got[2] == (5, 3, "q r")
    # doc 3: BOTH of its "a b c" occurrences duplicate doc 1's global
    # first (pos 1 covers tokens 1-3, pos 4 covers 4-6) -> empty doc
    assert got[3] == (6, 6, "")
    assert got[4] == (3, 0, "p q r")


def test_span_profile_and_removal_invariants(spark):
    """Cross-operator invariants on a random-ish corpus: dup spans
    never exceed total spans; removal is conservative (n_removed <=
    n_tokens, cleaned token count = n_tokens - n_removed); a doc with
    zero dup spans is untouched by removal."""
    import random

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        drop_duplicate_spans,
        span_dedup_profile,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    prof = {r.doc_id: r for r in span_dedup_profile(df, k=3).collect()}
    rem = {r.doc_id: r for r in drop_duplicate_spans(df, k=3).collect()}
    assert set(prof) == set(rem)
    for i in prof:
        assert 0 <= prof[i].n_dup_spans <= prof[i].n_spans
        r = rem[i]
        assert 0 <= r.n_removed <= r.n_tokens
        kept = r.text_clean.split() if r.text_clean else []
        assert len(kept) == r.n_tokens - r.n_removed
        if prof[i].n_dup_spans == 0:
            assert r.n_removed == 0


def test_incremental_dedup_drops_only_cross_matches(spark):
    """A batch doc near-identical to a corpus doc is dropped; a batch
    doc only duplicated INSIDE the batch is kept (incremental dedup
    is new-vs-corpus, never batch-internal); unique docs survive."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark shuffles here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),                       # dup of corpus doc 1
            (11, "novel sentence with its own unique vocabulary set"),
            (12, "an in batch twin sentence repeated word for word ok"),
            (13, "an in batch twin sentence repeated word for word ok"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in incremental_dedup(corpus, batch, threshold=0.8).collect()
    }
    assert kept == {11, 12, 13}


def test_incremental_dedup_empty_batch_and_corpus(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "some text here for the corpus side")],
        "doc_id long, text string",
    )
    empty = docs.filter("doc_id < 0")
    assert incremental_dedup(docs, empty).count() == 0
    # empty corpus: everything in the batch is kept
    assert incremental_dedup(empty, docs).count() == 1


def test_ngram_novelty_attributes_first_arrival(spark):
    """Doc 1 originates a span; doc 2 repeats it verbatim plus new
    tokens. Doc 1 scores fully novel; doc 2's repeated windows are
    stale while its genuinely-new windows stay novel."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        ngram_novelty,
    )

    s = "a b c d e f g h"          # exactly one 8-token span
    docs = spark.createDataFrame(
        [(1, s), (2, s + " x y z")],  # doc 2: 4 spans, 1 copied
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_spans, r.n_stale, r.novelty_frac)
        for r in ngram_novelty(docs, k=8).collect()
    }
    assert got[1] == (1, 0, 1.0)
    assert got[2] == (4, 1, 0.75)


def test_ngram_novelty_short_docs_excluded(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        ngram_novelty,
    )

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = ngram_novelty(docs, k=8)
    assert [r.doc_id for r in out.collect()] == [2]


def test_containment_join_quote_detection(spark):
    """A short doc fully quoted inside a longer one: containment of
    (short -> long) is 1.0 while Jaccard is low; the reverse direction
    falls below threshold; an unrelated doc never pairs."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        containment_join,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "intro words here now " + quote + " trailing content words "
        "one two three four five six seven eight nine ten"
    )
    rows = [
        (1, quote),
        (2, long_doc),
        (3, "totally different vocabulary nothing shared at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.id_a, r.id_b): r.containment for r in
           containment_join(df, threshold=0.8).collect()}
    assert (1, 2) in out and out[(1, 2)] == 1.0
    assert (2, 1) not in out       # long is not contained in short
    assert all(3 not in pair for pair in out)


def test_containment_join_matches_bruteforce(spark):
    """Prefix filtering must lose nothing: the result equals the
    brute-force all-pairs containment on the sf0.001 documents."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        containment_join,
        shingles,
    )
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        load_table,
    )
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    fast = {
        (r.id_a, r.id_b): r.containment
        for r in containment_join(d, threshold=0.8).collect()
    }
    sh = d.select(
        F.col("doc_id").alias("_id"), shingles(F.col("text")).alias("_sh")
    ).filter(F.size("_sh") > 0)
    brute = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a._id") != F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            (
                F.size(F.array_intersect("a._sh", "b._sh")).cast("double")
                / F.size("a._sh")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )
    slow = {(r.id_a, r.id_b): r.containment for r in brute.collect()}
    assert fast == slow and len(fast) > 0


def test_edit_distance_join_planted_typos(spark):
    """Deletion-neighborhood candidates find exactly the planted
    substitution / insertion / deletion neighbors — and nothing else."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        edit_distance_join,
    )

    rows = [
        (1, "spark"),
        (2, "spork"),    # substitution
        (3, "sparks"),   # insertion
        (4, "spak"),     # deletion (wrt spark)
        (5, "duck"),     # unrelated
        (6, "spark"),    # exact duplicate of 1
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_join(df, "name", "id").collect()
    }
    assert got == {
        (1, 2): 1, (1, 3): 1, (1, 4): 1, (1, 6): 0,
        (2, 6): 1, (3, 6): 1, (4, 6): 1,
        # NOT (2,3)/(2,4)/(3,4): spork-sparks etc. are distance 2
    }


def test_edit_distance_join_rejects_d2(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        edit_distance_join,
    )

    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    with pytest.raises(ValueError):
        edit_distance_join(df, "name", "id", max_dist=2)


def test_blocked_linkage_matches_within_block_only(spark):
    """1-NN linkage: each dirty record matches its best reference by
    (levenshtein, id) WITHIN its block; cross-block lookalikes are
    never candidates, and block-less records drop out."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
    )

    ref = spark.createDataFrame(
        [
            ("b1", 1, "alpha"),
            ("b1", 2, "gamma"),
            ("b2", 3, "alpha"),   # identical value, different block
        ],
        ["blk", "id", "name"],
    )
    rec = spark.createDataFrame(
        [
            ("b1", 10, "alphax"),  # 1 edit from alpha (id 1)
            ("b1", 11, "gamm"),    # 1 edit from gamma (id 2)
            ("b2", 12, "alpha"),   # exact, but only id 3 is in b2
            ("b9", 13, "alpha"),   # no reference block -> dropped
        ],
        ["blk", "id", "name"],
    )
    got = {
        r.rec_id: (r.matched_id, r.dist)
        for r in blocked_linkage(
            ref, rec, block_cols=["blk"], id_col="id", val_col="name"
        ).collect()
    }
    assert got == {10: (1, 1), 11: (2, 1), 12: (3, 0)}


def test_blocked_linkage_tiebreak_is_lowest_id(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
    )

    ref = spark.createDataFrame(
        [("b", 5, "aaa"), ("b", 2, "aab")], ["blk", "id", "name"]
    )
    rec = spark.createDataFrame([("b", 9, "aac")], ["blk", "id", "name"])
    r = blocked_linkage(
        ref, rec, block_cols=["blk"], id_col="id", val_col="name"
    ).collect()[0]
    # both refs are distance 1; the lower reference id wins
    assert (r.matched_id, r.dist) == (2, 1)


def test_blocked_linkage_salted_identical_to_base_on_skew(spark):
    """Adaptive salting is a pure execution-shape change: on a
    fixture with one hot block (every pair product over the budget)
    and several cold ones, the salted operator's rows must be
    IDENTICAL to the base operator's — each (record, in-block
    reference) pair meets exactly once because the record carries one
    salt value and the reference carries all of them."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
        blocked_linkage_salted,
    )

    rows_ref, rows_rec, rid = [], [], 0
    for b in range(4):
        n = 40 if b == 0 else 5
        for i in range(n):
            rows_ref.append((b, rid, f"name_{b}_{i:04d}"))
            rows_rec.append((b, 1000 + rid, f"name_{b}_{i:04d}"[:-1]))
            rid += 1
    ref = spark.createDataFrame(rows_ref, "blk int, id long, val string")
    rec = spark.createDataFrame(rows_rec, "blk int, id long, val string")
    base = sorted(
        map(
            tuple,
            blocked_linkage(
                ref, rec, ["blk"], "id", "val"
            ).collect(),
        )
    )
    hot = sorted(
        map(
            tuple,
            blocked_linkage_salted(
                ref, rec, ["blk"], "id", "val",
                pairs_per_task=50, max_salt=8,
            ).collect(),
        )
    )
    assert hot == base and len(base) == len(rows_rec)
    # unskewed path (budget never exceeded): hot map empty, same rows
    cold = sorted(
        map(
            tuple,
            blocked_linkage_salted(
                ref, rec, ["blk"], "id", "val"
            ).collect(),
        )
    )
    assert cold == base


def test_blocked_linkage_salted_validates_params(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage_salted,
    )

    df = spark.createDataFrame([("b", 1, "x")], ["blk", "id", "val"])
    with pytest.raises(ValueError):
        blocked_linkage_salted(
            df, df, ["blk"], "id", "val", pairs_per_task=0
        )
    with pytest.raises(ValueError):
        blocked_linkage_salted(df, df, ["blk"], "id", "val", max_salt=0)


def test_parallelize_records_is_conditional(spark):
    """The under-split guard repartitions ONLY when the frame has
    fewer partitions than the cluster's default parallelism — an
    already-parallel frame must pass through untouched (at scale the
    record table's natural splits make this a no-op, and an
    unconditional repartition would be a full-table shuffle)."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        _parallelize_records,
    )

    p = spark.sparkContext.defaultParallelism
    few = spark.range(10).repartition(1)
    out = _parallelize_records(few)
    assert out.rdd.getNumPartitions() == p
    many = spark.range(10).repartition(p + 4)
    assert _parallelize_records(many) is many


def test_blocked_linkage_keep_unmatched(spark):
    """keep_unmatched=True surfaces block-less records with NULL
    matched_id/dist instead of dropping them — both twins."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
        blocked_linkage_salted,
    )

    ref = spark.createDataFrame(
        [("b1", 1, "alpha")], ["blk", "id", "name"]
    )
    rec = spark.createDataFrame(
        [("b1", 10, "alphax"), ("b9", 11, "orphan")],
        ["blk", "id", "name"],
    )
    for fn in (blocked_linkage, blocked_linkage_salted):
        got = {
            r.rec_id: (r.matched_id, r.dist)
            for r in fn(
                ref, rec, block_cols=["blk"], id_col="id",
                val_col="name", keep_unmatched=True,
            ).collect()
        }
        assert got == {10: (1, 1), 11: (None, None)}, fn.__name__


def test_blocked_linkage_keep_unmatched_distinct_spine(spark):
    """Duplicate rec_ids in the records frame must not yield
    duplicate spine rows under keep_unmatched — the argmin side is
    <= one row per rec_id, and the left-join spine is deduped to
    keep that contract (both twins)."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
        blocked_linkage_salted,
    )

    ref = spark.createDataFrame(
        [("b1", 1, "alpha")], ["blk", "id", "name"]
    )
    rec = spark.createDataFrame(
        [
            ("b1", 10, "alphax"),
            ("b1", 10, "alphax"),   # exact duplicate record row
            ("b9", 11, "orphan"),
            ("b9", 11, "orphan2"),  # same id, different value, no block
        ],
        ["blk", "id", "name"],
    )
    for fn in (blocked_linkage, blocked_linkage_salted):
        rows = fn(
            ref, rec, block_cols=["blk"], id_col="id",
            val_col="name", keep_unmatched=True,
        ).collect()
        assert len(rows) == 2, (fn.__name__, rows)
        got = {r.rec_id: (r.matched_id, r.dist) for r in rows}
        assert got == {10: (1, 1), 11: (None, None)}, fn.__name__


def test_blocked_linkage_null_value_candidates_excluded(spark):
    """The documented NULL-dist contract: a record whose every
    in-block candidate has a NULL value column yields NO match row
    (or a NULL-matched spine row under keep_unmatched) — never a
    NULL-dist match."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
    )

    ref = spark.createDataFrame(
        [("b1", 1, None), ("b2", 2, "beta")],
        "blk string, id int, name string",
    )
    rec = spark.createDataFrame(
        [("b1", 10, "x"), ("b2", 11, "betaz")],
        "blk string, id int, name string",
    )
    assert {
        r.rec_id: (r.matched_id, r.dist)
        for r in blocked_linkage(
            ref, rec, block_cols=["blk"], id_col="id", val_col="name"
        ).collect()
    } == {11: (2, 1)}
    assert {
        r.rec_id: (r.matched_id, r.dist)
        for r in blocked_linkage(
            ref, rec, block_cols=["blk"], id_col="id", val_col="name",
            keep_unmatched=True,
        ).collect()
    } == {10: (None, None), 11: (2, 1)}


def test_prefix_join_bitmask_path_equals_general_path(spark):
    """The small-universe bitmask verify (global vocab <= 64 -> one
    64-bit mask per doc, bit_count Jaccard) must return byte-identical
    rows to the general array path on the same corpus — including a
    vocabulary of exactly 64 tokens using bit 63 (the sign bit)."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    vocab = [f"w{i:02d}" for i in range(64)]
    rows = []
    for d in range(40):
        toks = [vocab[(d * 7 + k) % 64] for k in range(24)]
        rows.append((d, " ".join(toks)))
    rows.append((100, " ".join(vocab)))  # uses every bit incl. 63
    rows.append((101, " ".join(vocab)))  # exact dup of the full set
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8):
        fast = sorted(
            map(
                tuple,
                prefix_similarity_join(df, threshold=t).collect(),
            )
        )
        general = sorted(
            map(
                tuple,
                prefix_similarity_join(
                    df, threshold=t, small_universe_max_vocab=0
                ).collect(),
            )
        )
        assert fast == general, t
    # the full-vocab twins are an exact pair at any threshold
    assert any(
        a == 100 and b == 101 and j == 1.0 for a, b, j in general
    )


def test_prefix_join_leaves_no_persisted_frames(spark):
    """The small-universe probe must not leak a session-lifetime
    cache: after building AND materializing the plan, no NEW
    persistent RDD id exists on either path. (Diffing ids, not
    comparing census sizes — the shared session's ContextCleaner can
    asynchronously release unrelated entries between samples, which
    would flake a size-equality assert without any leak here.)"""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    rows = [(d, f"w{d % 5} w{(d + 1) % 5} w{(d + 2) % 5}") for d in range(20)]
    big = [(100 + d, " ".join(f"u{d}_{k}" for k in range(10))) for d in range(12)]
    jsc = spark.sparkContext._jsc

    def persistent_ids() -> set:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    for data in (rows, rows + big):  # small-universe path, general path
        df = spark.createDataFrame(data, "doc_id long, text string")
        before = persistent_ids()
        prefix_similarity_join(df, threshold=0.5).count()
        assert persistent_ids() - before == set()


def test_prefix_join_empty_and_blank_corpora(spark):
    """Degenerate corpora through the literal-frame probe path: an
    EMPTY frame (0-row probe -> small-universe with an empty literal
    table) and an all-blank frame (every doc filtered on token count)
    both yield zero pairs without erroring."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert prefix_similarity_join(empty).count() == 0
    blank = spark.createDataFrame(
        [(1, ""), (2, None), (3, "  ")], "doc_id long, text string"
    )
    assert prefix_similarity_join(blank).count() == 0


def test_prefix_join_large_vocab_takes_general_path(spark):
    """A corpus whose global vocabulary exceeds the 64-token universe
    must produce correct exact results through the general path (the
    probe is a bounded limit(65) collect — no full vocab scan)."""
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    vocab = [f"tok{i:03d}" for i in range(80)]
    rows = [
        (0, " ".join(vocab[0:20])),
        (1, " ".join(vocab[0:18] + vocab[70:72])),  # J = 18/22
        (2, " ".join(vocab[40:60])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_similarity_join(df, threshold=0.7).collect()
    }
    assert got == {(0, 1): round(18 / 22, 6)}


def test_prefix_join_rejects_oversized_universe(spark):
    """small_universe_max_vocab > 64 would silently alias bit ranks
    through shiftleft's mod-64 wrap — the operator must refuse it."""
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        prefix_similarity_join,
    )

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        prefix_similarity_join(df, small_universe_max_vocab=100)
