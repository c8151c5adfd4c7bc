"""Corpus-preparation operators (operators/corpus.py): chunking,
PII redaction, split assignment, contamination, sequence packing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
    assign_split,
    chunk_documents,
    ngram_contamination,
    pack_sequences,
    redact_pii,
    word_ngrams,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_chunk_windows_overlap_and_tail(spark):
    # 10 tokens, chunk 4, overlap 1 -> step 3: starts 1,4,7 (start 10
    # would only re-serve overlap) -> chunks of 4,4,4... wait: start 7
    # covers 7..10, start 10 is past n-overlap=9.
    text = " ".join(f"w{i}" for i in range(1, 11))
    out = chunk_documents(
        _docs(spark, [(1, text)]), chunk_tokens=4, overlap=1
    ).collect()
    assert [r.chunk_idx for r in out] == [0, 1, 2]
    assert out[0].chunk_text == "w1 w2 w3 w4"
    assert out[1].chunk_text == "w4 w5 w6 w7"
    assert out[2].chunk_text == "w7 w8 w9 w10"
    assert [r.n_tokens for r in out] == [4, 4, 4]


def test_chunk_short_and_empty_docs(spark):
    out = chunk_documents(
        _docs(spark, [(1, "only two"), (2, ""), (3, "   ")]),
        chunk_tokens=64,
        overlap=8,
    ).collect()
    # short doc -> exactly one (short) chunk; blank docs -> no rows
    assert len(out) == 1
    assert out[0].doc_id == 1 and out[0].n_tokens == 2


def test_chunk_rejects_bad_overlap(spark):
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "x")]), chunk_tokens=8, overlap=8)


def test_redact_pii_all_three_kinds(spark):
    out = redact_pii(
        _docs(
            spark,
            [(1, "mail a.b@x.org or 10.0.0.1, call +1 (555) 010-1234 now")],
        )
    ).collect()[0]
    assert out.text_redacted == "mail [EMAIL] or [IP], call [PHONE] now"
    assert out.pii_hits == 3


def test_redact_email_digits_not_double_counted(spark):
    out = redact_pii(_docs(spark, [(1, "x12345678901@example.com")])).collect()[0]
    assert out.text_redacted == "[EMAIL]"
    assert out.pii_hits == 1


def test_assign_split_deterministic_and_partitioned(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.split for r in assign_split(df).collect()}
    b = {r.doc_id: r.split for r in assign_split(df).collect()}
    assert a == b
    counts = {s: sum(1 for v in a.values() if v == s) for s in set(a.values())}
    # 10/10/80 within generous hash tolerance
    assert 50 <= counts["val"] <= 150
    assert 50 <= counts["test"] <= 150
    assert counts["train"] >= 700


def test_word_ngrams_short_doc_yields_none(spark):
    out = (
        _docs(spark, [(1, "a b"), (2, "a b c d")])
        .select("doc_id", word_ngrams("text", 3).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    assert out[0].g == []
    assert out[1].g == ["a b c", "b c d"]


def test_contamination_fraction_and_empty_docs(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma zz"),  # grams: abg(hit), bgz, gzz -> wait
            (2, "totally different words here"),
            (3, "x"),  # no 3-grams
        ],
    )
    rows = {
        r.doc_id: r
        for r in ngram_contamination(corpus, bench, n=3).collect()
    }
    # doc 1 grams: "alpha beta gamma"(hit), "beta gamma zz", "gamma zz ?" ->
    # only 2 grams exist for 4 tokens: positions 1..2
    assert rows[1].n_ngrams == 2 and rows[1].n_contaminated == 1
    assert rows[1].contamination == pytest.approx(0.5)
    assert rows[2].n_contaminated == 0
    assert rows[3].n_ngrams == 0 and rows[3].contamination == 0.0


def test_pack_sequences_stream_semantics(spark):
    # budgets: 5 tokens; docs of 3,3,4 tokens in id order ->
    # starts at 0,3,6 -> bins 0,0,1; offsets 0,3,1
    docs = _docs(
        spark, [(1, "a b c"), (2, "d e f"), (3, "g h i j")]
    )
    out = {r.doc_id: r for r in pack_sequences(docs, context_tokens=5).collect()}
    assert (out[1].bin_id, out[1].bin_offset) == (0, 0)
    assert (out[2].bin_id, out[2].bin_offset) == (0, 3)
    assert (out[3].bin_id, out[3].bin_offset) == (1, 1)
    assert out[3].n_tokens == 4


def test_global_shuffle_rank_deterministic_permutation(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        global_shuffle_rank,
    )

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.shuffle_rank for r in global_shuffle_rank(df).collect()}
    b = {r.doc_id: r.shuffle_rank for r in global_shuffle_rank(df).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, 501))
    # actually permuted, not identity order
    assert [a[i] for i in range(500)] != list(range(1, 501))


def test_bm25_hand_computed(spark):
    import math

    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        bm25_scores,
    )

    # corpus: 2 docs, query = ["cat"]; doc 1 has tf=2, dl=4; doc 2 no hit
    docs = _docs(spark, [(1, "cat dog cat bird"), (2, "fish dog owl frog")])
    out = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["cat"]).collect()}
    n, df, tf, dl, avgdl, k1, b = 2, 1, 2, 4, 4.0, 1.2, 0.75
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    want = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    assert set(out) == {1}  # no-hit docs are omitted
    assert out[1] == pytest.approx(round(want, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# group-integrity split / length buckets
# ---------------------------------------------------------------------------


def test_split_by_group_keeps_groups_whole(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        assign_split_by_group,
    )

    rows = [(i, f"src{i % 7}") for i in range(70)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = assign_split_by_group(df, "source")
    # every source maps to exactly one split
    assert (
        out.select("source", "split").distinct().groupBy("source").count()
        .filter("count > 1").count() == 0
    )
    # and re-running with different partitioning agrees
    again = assign_split_by_group(df.repartition(5), "source")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_length_buckets_bands_and_batches(spark):
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        length_buckets,
    )

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [1, 1, 2, 3, 4, 7, 8, 15, 16, 100]
    )]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.n_tokens, r.bucket) for r in length_buckets(
        df, batch_size=2
    ).collect()}
    assert out[0] == (1, 0) and out[2] == (2, 1) and out[3] == (3, 1)
    assert out[4] == (4, 2) and out[5] == (7, 2)
    assert out[6] == (8, 3) and out[7] == (15, 3)
    assert out[8] == (16, 4) and out[9] == (100, 6)
    # batches within a band never exceed batch_size
    sizes = (
        length_buckets(df, batch_size=2)
        .groupBy("bucket", "batch_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert all(r.n <= 2 for r in sizes)


def test_length_buckets_rejects_bad_batch_size(spark):
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        length_buckets,
    )

    df = spark.createDataFrame([(0, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        length_buckets(df, batch_size=0)


def test_temporal_split_embargo_band(spark):
    """10 hourly events, test_frac=0.2, 2h embargo: cutoff at the 0.8
    time-quantile; the band (cut-2h, cut] is in NEITHER split, and
    every train ts < every test ts with a gap >= embargo."""
    from datetime import datetime

    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        temporal_split,
    )

    rows = [
        (i, datetime(2024, 1, 1, 8 + i), 1, "view", 0.0) for i in range(10)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = temporal_split(ev, test_frac=0.2, embargo_seconds=7200)
    got = {r.event_id: r.split for r in out.select("event_id", "split").collect()}
    assert set(got.values()) == {"train", "test", "embargo"}
    trains = [i for i, s in got.items() if s == "train"]
    tests = [i for i, s in got.items() if s == "test"]
    embs = [i for i, s in got.items() if s == "embargo"]
    assert max(trains) < min(embs) < min(tests)  # strictly ordered bands
    # gap between last train ts and first test ts covers the embargo
    assert (min(tests) - max(trains)) >= 2
    with _pytest.raises(ValueError, match="test_frac"):
        temporal_split(ev, test_frac=1.5)


def test_sample_negatives_properties(spark):
    """Negatives never collide with positives, at most n_neg per user,
    items come from the catalog, and the sample is deterministic."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        sample_negatives,
    )

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12)], "user_id long, item long"
    )
    items = spark.createDataFrame(
        [(i,) for i in range(10, 20)], "item long"
    )
    out1 = sample_negatives(pos, items, n_neg=3).collect()
    out2 = sample_negatives(pos, items, n_neg=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # rerun-stable
    pos_set = {(1, 10), (1, 11), (2, 12)}
    catalog = set(range(10, 20))
    per_user: dict[int, int] = {}
    for r in out1:
        assert (r.user_id, r.item) not in pos_set
        assert r.item in catalog
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert all(n <= 3 for n in per_user.values())
    assert set(per_user) <= {1, 2}


def test_temperature_mix_quotas_and_determinism(spark):
    """alpha=0.5 upweights the small source relative to proportional
    sampling; quotas sum to the total (when uncapped) and the kept
    set is identical across reruns."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, total=100, alpha=0.5)
    per = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert sum(per.values()) == 100
    # proportional would be 90/10; sqrt scaling gives 75/25
    assert per["small"] == 25 and per["big"] == 75
    again = {r.doc_id for r in temperature_mix(df, total=100, alpha=0.5).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_temperature_mix_caps_at_available(spark):
    """A source smaller than its quota contributes everything it has
    (capped, not redistributed)."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )

    rows = [(i, "big") for i in range(400)] + [(900 + i, "tiny") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, total=100, alpha=0.5)
    per = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    # sqrt shares: 20 vs 2 -> targets ~90.9/9.1 -> tiny capped at 4
    assert per["tiny"] == 4
    assert per["big"] <= 91


def test_temperature_mix_validates(spark):
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with _pytest.raises(ValueError, match="total"):
        temperature_mix(df, total=0)
    with _pytest.raises(ValueError, match="alpha"):
        temperature_mix(df, total=10, alpha=1.5)


def test_dataset_card_golden(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        dataset_card,
    )

    df = spark.createDataFrame(
        [
            (1, "hello world", "en", "a", 11),
            (2, "hello world", "en", "a", 11),   # exact dup of 1
            (3, "bonjour", "fr", "b", 7),
            (4, "hola mundo", "es", "b", 10),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {r.metric: r.value for r in dataset_card(df).collect()}
    assert got["n_docs"] == 4.0
    assert got["n_sources"] == 2.0
    assert got["n_langs"] == 3.0
    assert got["exact_dup_rate"] == 0.25   # 3 unique of 4
    assert got["en_share"] == 0.5
    assert got["mean_chars"] == 39 / 4


def test_shard_assign_balances_weights(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        shard_assign_balanced,
    )

    # skewed sizes: 100, 99, ..., 1 over 4 shards — snake dealing keeps
    # every shard's total within one max-document of the mean
    rows = [(i, 101 - i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    out = shard_assign_balanced(df, n_shards=4)
    sums = {
        r.shard: r.s
        for r in out.groupBy("shard").agg(
            __import__("pyspark").sql.functions.sum("n_chars").alias("s")
        ).collect()
    }
    assert set(sums) == {0, 1, 2, 3}
    assert max(sums.values()) - min(sums.values()) <= 100  # one max doc
    # round-robin comparison: snake is strictly tighter on this ramp
    assert max(sums.values()) - min(sums.values()) <= 8


def test_shard_assign_validates(spark):
    import pytest as _pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        shard_assign_balanced,
    )

    df = spark.createDataFrame([(1, 5)], ["doc_id", "n_chars"])
    with _pytest.raises(ValueError, match="n_shards"):
        shard_assign_balanced(df, n_shards=0)


def test_upsample_epochs_exact_quotas_and_spread(spark):
    """Quota contract: output size == total exactly; per-source rows
    hit the largest-remainder quota; repeat spread within a source is
    at most 1 (round-robin epochs)."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        upsample_epochs,
    )

    rows = [(i, "big") for i in range(90)] + [
        (100 + i, "small") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    total = 300
    out = upsample_epochs(df, total=total, alpha=0.5).collect()
    assert len(out) == total
    # alpha=0.5 shares: sqrt(90)=9.4868, sqrt(10)=3.1623 -> targets
    # 224.99 / 75.01 -> base 224/75, remainder 1 -> big (larger rem)
    per_src = {}
    per_doc = {}
    for r in out:
        per_src[r.source] = per_src.get(r.source, 0) + 1
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert per_src == {"big": 225, "small": 75}
    big_reps = [n for d, n in per_doc.items() if d < 100]
    small_reps = [n for d, n in per_doc.items() if d >= 100]
    # 225 over 90 docs: 2 or 3 each; 75 over 10 docs: 7 or 8 each
    assert set(big_reps) == {2, 3} and sum(big_reps) == 225
    assert set(small_reps) == {7, 8} and sum(small_reps) == 75
    # epoch indices are 0..reps-1 per doc (round-robin discipline)
    epochs = {}
    for r in out:
        epochs.setdefault(r.doc_id, []).append(r.epoch)
    for d, es in epochs.items():
        assert sorted(es) == list(range(len(es)))


def test_upsample_epochs_validates(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        upsample_epochs,
    )

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        upsample_epochs(df, total=0)
    with pytest.raises(ValueError):
        upsample_epochs(df, total=10, alpha=1.5)


def test_token_budget_mix_prefix_rule_and_quotas(spark):
    """Quota arithmetic by hand: two sources with 60/15 tokens, budget
    half (37): shares sqrt(60)/sqrt(15) = 2:1 -> targets 24.67/12.33
    -> base 24/12, leftover 1 -> 'a' (larger remainder .67). Prefix
    rule: per-source cumulative tokens never exceed the quota, and the
    FIRST overflowing doc stops the source."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )

    rows = [(i, "a", "w " * 10) for i in range(6)] + [
        (100 + i, "b", "w " * 5) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = token_budget_mix(df, alpha=0.5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # a: quota 25 -> two 10-token docs fit (cum 20), third would be 30
    assert sum(r.n_tokens for r in by_src["a"]) == 20
    # b: quota 12 -> two 5-token docs fit (cum 10)
    assert sum(r.n_tokens for r in by_src["b"]) == 10
    for src, rs in by_src.items():
        rs = sorted(rs, key=lambda r: r.cum_tokens)
        # cumulative column is the running sum of the kept prefix
        running = 0
        for r in rs:
            running += r.n_tokens
            assert r.cum_tokens == running
        assert rs[-1].cum_tokens <= {"a": 25, "b": 12}[src]


def test_token_budget_mix_validates(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )

    df = spark.createDataFrame([(1, "a", "x")], ["doc_id", "source", "text"])
    with pytest.raises(ValueError):
        token_budget_mix(df, total_tokens=0)
    with pytest.raises(ValueError):
        token_budget_mix(df, alpha=2.0)


def test_token_budget_mix_keeps_an_all_blank_corpus(spark):
    """Every document has 0 tokens, so every share is 0: the budget is
    split by document count (the shared zero-share rule) instead of
    dividing by zero, and each doc is kept with cum_tokens 0."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )

    rows = [(1, "a", ""), (2, "a", "   "), (3, "b", ""), (4, "c", "\t")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    for budget in (None, 10):
        out = token_budget_mix(df, total_tokens=budget).collect()
        assert sorted((r.doc_id, r.n_tokens, r.cum_tokens) for r in out) == [
            (1, 0, 0), (2, 0, 0), (3, 0, 0), (4, 0, 0)
        ]


@pytest.mark.parametrize(
    "counts,total",
    [
        # every share 0: quotas proportional to rows (3:1 of 8)
        ([("a", 0.0, 3), ("b", 0.0, 1)], 8),
        # three equal remainders (1/3 each): the key order breaks ties
        ([("c", 1.0, 5), ("a", 1.0, 5), ("b", 1.0, 5)], 7),
        # one key takes the whole total
        ([("only", 2.5, 4)], 9),
        # total below the number of keys: some keys get 0
        ([("a", 1.0, 2), ("b", 2.0, 2), ("c", 3.0, 2), ("d", 0.5, 2)], 2),
        # a NULL key ties 'a' and 'b' on remainder: it sorts first on
        # both engines, so NULL and 'a' take the two leftover units
        ([("b", 1.0, 2), (None, 1.0, 2), ("a", 1.0, 2)], 2),
    ],
)
def test_apportion_matches_its_sql_twin(spark, counts, total):
    """``_apportion`` in Spark and ``_quota_sql`` in DuckDB give the
    same integer quota per key, and the quotas sum to ``total``."""
    import duckdb

    from __spark_entry__ import _quota_sql
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        _apportion,
    )

    df = spark.createDataFrame(counts, "k string, sh double, n long")
    got = {
        r.k: r._quota
        for r in _apportion(
            df, "k", F.col("sh"), F.col("n"), F.lit(total)
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE c (k VARCHAR, sh DOUBLE, n BIGINT)")
    con.executemany("INSERT INTO c VALUES (?, ?, ?)", counts)
    want = dict(
        con.execute(
            "WITH " + _quota_sql("c", "k", "sh", "n", str(total))
            + " SELECT k, quota FROM q"
        ).fetchall()
    )
    assert got == want
    assert sum(got.values()) == total


def test_quota_samplers_keep_a_null_key_quota(spark):
    """A NULL stratum or source is a key like any other: its quota is
    joined back null-safely instead of silently dropping its rows."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        neyman_sample,
        token_budget_mix,
        upsample_epochs,
    )

    strata = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 3.0), (3, "b", 2.0), (4, "b", 5.0)],
        "event_id long, event_type string, value double",
    )
    out = neyman_sample(strata, "event_type", "value", "event_id", total=2)
    assert sorted((r.event_type or "") for r in out.collect()) == ["", "b"]

    docs = spark.createDataFrame(
        [(1, None, "x y"), (2, None, "x y"), (3, "b", "x y"), (4, "b", "x y")],
        "doc_id long, source string, text string",
    )
    ups = upsample_epochs(docs, total=8).collect()
    assert sorted((r.doc_id, r.epoch) for r in ups) == [
        (d, e) for d in (1, 2, 3, 4) for e in (0, 1)
    ]
    kept = token_budget_mix(docs, total_tokens=8).collect()
    assert sorted(r.doc_id for r in kept) == [1, 2, 3, 4]


def test_neyman_sample_allocates_by_variance(spark):
    """Two equal-size strata, one constant and one volatile: Neyman
    pushes (almost) the whole budget to the volatile stratum, exact
    total, quotas capped at stratum size."""
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        neyman_sample,
    )

    rows = [(i, "flat", 10.0) for i in range(100)] + [
        (100 + i, "wild", float((i * 97) % 1000)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = neyman_sample(
        df, "event_type", "value", "event_id", total=60
    ).collect()
    assert len(out) == 60
    by = {}
    for r in out:
        by[r.event_type] = by.get(r.event_type, 0) + 1
    # sigma(flat)=0 -> share 0 -> all 60 to 'wild'
    assert by == {"wild": 60}
    # all-constant input falls back to proportional, still exact total
    flat = spark.createDataFrame(
        [(i, "a", 1.0) for i in range(30)]
        + [(100 + i, "b", 1.0) for i in range(10)],
        ["event_id", "event_type", "value"],
    )
    out2 = neyman_sample(flat, "event_type", "value", "event_id", total=20)
    by2 = {}
    for r in out2.collect():
        by2[r.event_type] = by2.get(r.event_type, 0) + 1
    assert by2 == {"a": 15, "b": 5}


def test_neyman_sample_validates(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        neyman_sample,
    )

    df = spark.createDataFrame([(1, "a", 1.0)], ["event_id", "event_type", "value"])
    with pytest.raises(ValueError):
        neyman_sample(df, "event_type", "value", "event_id", total=0)
