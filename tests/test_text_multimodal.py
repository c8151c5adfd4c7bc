"""Golden-value tests for text analysis and multimodal operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
    attach_fake_payload,
    extract_features,
    filter_by_meta,
)
from gcp_food_delivery_data_pipeline_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat is on the mat and it is warm"),   # en
        (2, "le chat est sur le tapis et la table"),   # fr
        (3, "el gato es un animal y la mesa es del patio"),  # es
        (4, "der hund und die katze sind mit dem ball"),     # de
        (5, ""),                                        # empty
        (6, "zzz qqq xxx"),                             # no stopwords → und
        (7, "  spaced   out\ttokens  "),               # whitespace soup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count_edges(docs):
    got = {
        r.doc_id: r.n
        for r in docs.select("doc_id", token_count("text").alias("n")).collect()
    }
    assert got[1] == 10
    assert got[5] == 0          # empty string → 0, not 1
    assert got[7] == 3          # multi-whitespace collapsed


def test_language_id_and_tiebreak(docs):
    got = {r.doc_id: r.lang_pred for r in language_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "fr"
    assert got[3] == "es"
    assert got[4] == "de"
    assert got[5] == "und"      # zero hits
    assert got[6] == "und"


def test_quality_score_bounds_and_empty(docs):
    out = quality_score(docs)
    for r in out.collect():
        assert 0.0 <= r.quality_score <= 1.0
        if r.doc_id == 5:
            assert r.n_tokens == 0 and r.quality_score == 0.3
            # (0 tokens → only the punct term contributes: 1.0 * 0.3)


def test_tfidf_survives_empty_documents(spark):
    """Empty/whitespace-only docs must not crash tf-idf with
    DIVIDE_BY_ZERO under ANSI mode (tokens('') is [] — no phantom ''
    term reaches the explode)."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        tf_idf_top_terms,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "   "), (4, "beta gamma")],
        ["doc_id", "text"],
    )
    out = tf_idf_top_terms(df).collect()
    assert {r.doc_id for r in out} == {1, 4}  # token-less docs emit no terms
    assert all(r.tfidf is not None for r in out)


def test_fingerprint_reflow_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "hello   WORLD ")],
        ["doc_id", "text"],
    )
    out = fingerprint(df).collect()
    md5s = {r.doc_id: r.fp_md5 for r in out}
    norms = {r.doc_id: r.fp_norm for r in out}
    assert len(set(md5s.values())) == 3       # all byte-distinct
    assert len(set(norms.values())) == 1      # reflow-equivalent


@pytest.fixture(scope="module")
def multimodal(spark, docs):
    return attach_fake_payload(docs.filter(F.col("doc_id") != 5))


def test_payload_schema_and_meta(multimodal):
    assert [f.name for f in multimodal.schema] == ["doc_id", "payload", "meta"]
    row = multimodal.filter(F.col("doc_id") == 1).collect()[0]
    text = "the cat is on the mat and it is warm"
    assert bytes(row.payload) == text.encode()
    assert row.meta.n_bytes == len(text.encode())
    assert row.meta.media_type == "image"
    assert 1 <= row.meta.width <= 64


def test_filter_by_meta(multimodal):
    pngs = filter_by_meta(multimodal, formats=["png"]).collect()
    assert all(r.meta.format == "png" for r in pngs)
    assert all(r.meta.n_bytes % 2 == 0 for r in pngs)


def test_extract_features_fake(multimodal):
    feats = extract_features(multimodal, dim=8)
    rows = {r.doc_id: r for r in feats.collect()}
    text = "the cat is on the mat and it is warm"
    r1 = rows[1]
    assert r1.n_bytes == len(text)
    assert len(r1.features) == 8
    # deterministic golden: fold byte histogram by hand
    expected = [0.0] * 8
    for i, b in enumerate(text.encode()):
        expected[i % 8] += b / 255.0
    for got, want in zip(r1.features, expected):
        assert abs(got - want) < 1e-5   # float32 storage


def test_bpe_token_count_golden(spark):
    """Matches the Python `re` reference split of the same pattern."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        bpe_token_count,
    )

    df = spark.createDataFrame(
        [(1, "It's 2024, isn't it?  yes"), (2, ""), (3, "   "), (4, "a1b")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", bpe_token_count("text").alias("n")
    ).collect()}
    # re.findall on doc 1 yields: It,'s, 2024, ',', ' isn', 't, ' it', ?, '  ', yes
    assert got == {1: 10, 2: 0, 3: 1, 4: 3}


def test_rolling_fingerprint_properties(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        rolling_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "b a"), (3, "a  b "), (4, ""), (5, "a b c")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.fp for r in df.select(
        "doc_id", rolling_fingerprint("text").alias("fp")
    ).collect()}
    assert got[1] != got[2]          # order-sensitive
    assert got[1] == got[3]          # whitespace-reflow invariant
    assert got[4] == 0               # empty doc -> init value
    assert got[5] != got[1]          # extension changes the hash
    assert all(0 <= v < (1 << 31) for v in got.values())


def test_resize_payload_cycles_bytes(multimodal):
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        resize_payload,
    )

    out = {r.doc_id: r for r in resize_payload(multimodal, 4, 2).collect()}
    src = "the cat is on the mat and it is warm".encode()
    want = (src * (8 // len(src) + 1))[:8]
    assert bytes(out[1].payload) == want
    assert out[1].meta.width == 4 and out[1].meta.height == 2
    assert out[1].meta.n_bytes == 8
    # format/media_type carried through from the input meta
    assert out[1].meta.media_type == "image"


def test_resize_payload_keeps_null_meta_row(multimodal):
    """A NULL ``meta`` keeps its row next to a normal one: the payload
    is resized as usual, the target size is filled in, and
    ``media_type`` / ``format`` come back NULL."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        resize_payload,
    )

    null_meta = multimodal.filter(F.col("doc_id") == 1).select(
        F.lit(99).cast("long").alias("doc_id"),
        "payload",
        F.lit(None).cast(multimodal.schema["meta"].dataType).alias("meta"),
    )
    out = {
        r.doc_id: r
        for r in resize_payload(multimodal.unionByName(null_meta), 4, 2)
        .collect()
    }
    assert bytes(out[99].payload) == bytes(out[1].payload)
    m = out[99].meta
    assert (m.media_type, m.format) == (None, None)
    assert (m.width, m.height, m.n_bytes) == (4, 2, 8)
    assert out[1].meta.media_type == "image"


def test_sample_frames_even_split(multimodal):
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        sample_frames,
    )

    fr = sample_frames(multimodal, n_frames=4)
    rows = sorted(
        ((r.doc_id, r.frame_idx, bytes(r.frame)) for r in fr.collect())
    )
    by_doc = {}
    for doc_id, idx, frame in rows:
        by_doc.setdefault(doc_id, []).append(frame)
    src = "the cat is on the mat and it is warm".encode()
    frames = by_doc[1]
    assert len(frames) == 4
    assert b"".join(frames) == src          # slices reassemble the payload
    sizes = [len(f) for f in frames]
    assert max(sizes) - min(sizes) <= 1     # even split
    assert sizes == sorted(sizes, reverse=True)  # remainder goes first


def test_sentence_udtf_matches_native_split(spark):
    """The Python-UDTF extension point produces exactly what the native
    posexplode path produces — custom table functions are for semantics
    Spark can't express, and when used they must agree with the
    spec."""
    from pyspark.sql.functions import col, lit, posexplode, udtf

    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        sentences,
    )

    @udtf(returnType="sentence_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            parts = (p.strip() for p in (text or "").split("."))
            for i, s in enumerate(p for p in parts if p):
                yield i, s

    docs = [(1, "One. Two sentences.  Three."), (2, ""), (3, "No dot here")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    native = df.select(
        "doc_id", posexplode(sentences("text")).alias("sentence_idx", "sentence")
    )
    spark.udtf.register("split_sentences", SplitSentences)
    df.createOrReplaceTempView("t_docs_udtf")
    via_udtf = spark.sql(
        "SELECT doc_id, s.sentence_idx, s.sentence "
        "FROM t_docs_udtf, LATERAL split_sentences(text) s"
    )
    assert sorted(map(tuple, native.collect())) == sorted(
        map(tuple, via_udtf.collect())
    )


def test_repetition_signals_edges(spark):
    """Hand-checked dup-word and top-bigram fractions; empty and
    one-word docs yield zero signals, degenerate repetition flags."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),   # dup 6/8, 'a b' = 4/7 bigrams
            (2, "v w x y z"),          # all distinct
            (3, ""),                    # empty: all-zero signals
            (4, "solo"),                # one word: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (
            r.n_words,
            r.dup_word_frac,
            r.top_bigram_frac,
            r.is_repetitive,
        )
        for r in repetition_signals(df).collect()
    }
    assert out[1] == (8, 0.75, round(4 / 7, 6), True)
    assert out[2] == (5, 0.0, 0.25, True)  # tiny doc: 1/4 bigram share
    assert out[3] == (0, 0.0, 0.0, False)
    assert out[4] == (1, 0.0, 0.0, False)


def test_sparse_nn_tfidf_mutual_nearest_pair(spark):
    """Two docs sharing a rare term are each other's nearest
    neighbors; the corpus-wide idf ignores the query restriction."""
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        sparse_nn_tfidf,
    )

    docs = spark.createDataFrame(
        [
            (1, "zebra quantum flux common"),
            (2, "zebra quantum flux common"),
            (3, "common words only here"),
            (4, "entirely disjoint vocabulary set"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.nn_doc_id, r.cosine_sim) for r in sparse_nn_tfidf(docs).collect()}
    assert out[1][0] == 2 and out[2][0] == 1
    assert out[1][1] == out[2][1] == 1.0  # identical tf-idf vectors
    # doc 4 shares no term with anyone -> no pair row at all
    assert 4 not in out
    # query_pred restricts the query side but not the neighbor side
    restricted = {
        r.doc_id: r.nn_doc_id
        for r in sparse_nn_tfidf(docs, query_pred=F.col("_id") == 1).collect()
    }
    assert restricted == {1: 2}


def test_phash_identical_images_same_hash_groups(spark):
    """Docs whose ids share (width, height) geometry produce the same
    gradient image shape, hence the same perceptual hash (the base
    shade cancels out of the above-mean rule); phash_groups collects
    them with keep-first min id."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_png_payload,
        phash_groups,
        phash_png,
    )

    # ids 0 and 48 share id%16 and id%12 -> identical geometry
    docs = spark.createDataFrame(
        [(0,), (48,), (96,), (1,)], "doc_id long"
    )
    hashed = phash_png(attach_png_payload(docs))
    got = {r.doc_id: r.phash for r in hashed.collect()}
    assert got[0] == got[48] == got[96]
    assert got[1] != got[0]
    groups = phash_groups(hashed).collect()
    assert len(groups) == 1
    assert groups[0].n_images == 3 and groups[0].min_doc_id == 0


def test_phash_is_integer_above_mean_rule(spark):
    """Hand-check one image: doc_id=1 -> 2x2 gradient [c, c+1, c+1,
    c+2]; 7x7 sampling of a 2x2 image repeats pixels; bits follow the
    all-integer 49*sample > total rule exactly."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_png_payload,
        phash_png,
    )

    docs = spark.createDataFrame([(1,)], "doc_id long")
    got = phash_png(attach_png_payload(docs)).collect()[0]
    w, h = 1 % 16 + 1, 1 % 12 + 1
    assert (got.width, got.height) == (w, h)
    xs = [(i * w) // 7 for i in range(7)]
    ys = [(j * h) // 7 for j in range(7)]
    samples = [1 % 200 + x + y for x in xs for y in ys]
    total = sum(samples)
    expect = 0
    for k, s in enumerate(samples):
        if 49 * s > total:
            expect |= 1 << k
    assert got.phash == expect


def test_zipf_profile_natural_vs_uniform(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        zipf_profile,
    )

    # zipfy corpus: word_i appears ~N/i times; uniform corpus: all equal
    zipf_text = " ".join(
        w for i, w in enumerate(["alpha", "beta", "gamma", "delta", "eps"])
        for w in [f"w{i}"] * (32 // (i + 1))
    )
    uni_text = " ".join(f"u{i}" for i in range(10) for _ in range(3))
    df = spark.createDataFrame(
        [(1, zipf_text, "zipfy"), (2, uni_text, "uniform")],
        ["doc_id", "text", "source"],
    )
    rows = {r.source: r for r in zipf_profile(df).collect()}
    assert rows["zipfy"].zipf_slope < -0.5          # steep decay
    assert abs(rows["uniform"].zipf_slope) < 0.01   # flat
    assert rows["zipfy"].n_terms == 5
    assert 0.0 <= rows["zipfy"].fit_r2 <= 1.0


def test_zipf_profile_drops_tiny_groups(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        zipf_profile,
    )

    df = spark.createDataFrame(
        [(1, "a b c", "tiny"), (2, "q w e r t y u", "ok")],
        ["doc_id", "text", "source"],
    )
    got = {r.source for r in zipf_profile(df).collect()}
    assert got == {"ok"}  # 3 distinct words < min_rank_terms=5


def test_audio_frame_features_golden(spark):
    from gcp_food_delivery_data_pipeline_spark.functions.wav import (
        encode_wav_pcm16,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        audio_frame_features,
    )

    # clip A: 10 samples of value 2 with frame_size 4 -> 2 full frames,
    # each energy 4*4=16; trailing 2 samples discarded.
    # clip B: 3 samples -> shorter than one frame -> dropped.
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_wav_pcm16([2] * 10, 8000))),
            (2, bytearray(encode_wav_pcm16([9, 9, 9], 8000))),
        ],
        ["doc_id", "payload"],
    )
    rows = audio_frame_features(df, frame_size=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.n_frames, r.max_frame_energy, r.total_energy) == (
        1, 2, 16, 32
    )


def test_audio_frame_features_rejects_bad_frame_size(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        audio_frame_features,
    )

    df = spark.createDataFrame([(1, bytearray(b""))], ["doc_id", "payload"])
    with pytest.raises(ValueError, match="frame_size"):
        audio_frame_features(df, frame_size=0)


def test_decoders_keep_null_payload_rows_with_null_stats(spark):
    """One NULL-payload rule for the seven decoders: a NULL payload
    keeps its doc_id (and passthrough columns) with NULL stats next to
    a decoded row, instead of failing the job."""
    import gcp_food_delivery_data_pipeline_spark.operators.multimodal as mm

    docs = spark.createDataFrame([(10,)], "doc_id long")  # 20 wav samples
    null_row = spark.createDataFrame(
        [(2, None, "missing")], "doc_id long, payload binary, kind string"
    )

    def with_null(media):
        media = media.select("doc_id", "payload", F.lit("png").alias("kind"))
        return media.unionByName(null_row)

    cases = [
        (mm.decode_png_stats, mm.attach_png_payload),
        (mm.decode_png_rgb_stats, mm.attach_png_rgb_payload),
        (mm.decode_wav_stats, mm.attach_wav_payload),
        (mm.decode_gif_stats, mm.attach_gif_payload),
        (mm.gif_scene_cuts, mm.attach_gif_scene_payload),
        (mm.phash_png, mm.attach_png_payload),
        (mm.audio_frame_features, mm.attach_wav_payload),
    ]
    for decode, attach in cases:
        out = decode(with_null(attach(docs))).collect()
        rows = {r[0]: tuple(r)[1:] for r in out}
        assert set(rows) == {10, 2}, decode.__name__
        assert all(v is not None for v in rows[10]), decode.__name__
        assert all(v is None for v in rows[2]), decode.__name__

    carried = mm.decode_png_stats(
        with_null(mm.attach_png_payload(docs)), passthrough=("kind",)
    )
    rows = {r.doc_id: tuple(r) for r in carried.collect()}
    assert rows[2] == (2, None, None, None, "missing")
    assert rows[10][-1] == "png"


def test_map_rows_keeps_bigints_exact_next_to_nulls(spark):
    """``_map_rows`` builds each batch object-typed: a NULL and 2**60+1
    in one bigint column come back exact (a float64 column would round
    the value to 1.152921504606847e18)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        _map_rows,
    )

    big = 2**60 + 1
    schema = StructType(
        [StructField("k", LongType()), StructField("v", LongType())]
    )
    df = spark.createDataFrame([(1,)], "k long")
    # both tuples come from one input row, so they share one batch
    out = _map_rows(df, ("k",), lambda k: [(k, big), (k, None)], schema)
    assert sorted(
        (r.v is None, r.v) for r in out.collect()
    ) == [(False, big), (True, None)]

def test_distinctive_terms_golden(spark):
    """A term concentrated in one source must rank first there with
    the hand-computed smoothed rate ratio; terms below min_count are
    pruned."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        distinctive_terms,
    )

    # source A: 'spam' x6 + 'base' x6; source B: 'base' x12
    rows = [(1, "spam " * 6 + "base " * 6, "A"), (2, "base " * 12, "B")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = distinctive_terms(df, k=2, min_count=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    a_top = sorted(by_src["A"], key=lambda r: r.term_rank)[0]
    assert a_top.term == "spam" and a_top.n_in_source == 6
    # a=6, b=12 (A tokens), c=0 elsewhere, d=12 (B tokens):
    # ratio = (6*(12+1)) / (12*(0+1)) = 78/12 = 6.5
    assert a_top.ratio == 6.5
    # 'base' in B: a=12, b=12, c=6, d=12 -> (12*13)/(12*7) = 13/7
    b_top = sorted(by_src["B"], key=lambda r: r.term_rank)[0]
    assert b_top.term == "base"
    assert b_top.ratio == 156.0 / 84.0


def test_rake_keywords_golden(spark):
    """Hand-computed RAKE on two tiny docs: stopwords split phrases,
    degree/freq arithmetic by hand, repeated phrase counts once per
    occurrence."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "deep learning of deep learning"),
            (2, "deep systems"),
        ],
        ["doc_id", "text"],
    )
    out = {r.phrase: r for r in rake_keywords(docs, k=10).collect()}
    # phrases: "deep learning" x2 (split on 'of'), "deep systems" x1
    # freq: deep=3, learning=2, systems=1
    # degree: deep = 2+2+2 = 6, learning = 2+2 = 4, systems = 2
    # scores: deep=2.0, learning=2.0, systems=2.0
    # phrase scores: deep learning = 4.0, deep systems = 4.0
    assert out["deep learning"].n_occurrences == 2
    assert out["deep learning"].score == 4.0
    assert out["deep systems"].n_occurrences == 1
    assert out["deep systems"].score == 4.0


def test_rake_keywords_phrase_len_cap_and_lang_guard(spark):
    import pytest

    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    # one 6-token island, over the max_phrase_len=4 cap -> dropped
    assert rake_keywords(docs, k=10).count() == 0
    with pytest.raises(ValueError):
        rake_keywords(docs, lang="xx")


def test_pmi_collocations_golden(spark):
    """Hand-computed PMI: 'new york' always adjacent (strong
    collocation); 'the cat' diluted across contexts scores lower."""
    import math

    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        pmi_collocations,
    )

    docs = spark.createDataFrame(
        [(i, "new york " * 5) for i in range(2)]
        + [(10 + i, "the cat the dog the bird") for i in range(3)],
        ["doc_id", "text"],
    )
    out = {
        (r.w1, r.w2): r for r in pmi_collocations(docs, min_count=3).collect()
    }
    # doc "new york new york ...": bigrams = [new york] x5 + [york new] x4
    # over 2 docs: c(new,york)=10, c(york,new)=8
    # "the cat the dog the bird" x3: (the,cat)x3,(cat,the)x3,(the,dog)x3,
    # (dog,the)x3,(the,bird)x3 -> T = 18 + 15 = 33
    ny = out[("new", "york")]
    assert ny.n_pair == 10
    # nl(new)=10, nr(york)=10 -> pmi = ln(10*33/(10*10)) = ln(3.3)
    assert abs(ny.pmi - round(math.log(3.3), 6)) < 1e-9
    tc = out[("the", "cat")]
    # c=3, nl(the)=9, nr(cat)=3 -> ln(3*33/(9*3)) = ln(99/27)
    assert abs(tc.pmi - round(math.log(99 / 27), 6)) < 1e-9
    assert ny.pmi < tc.pmi  # repeated-run dilution: york<-new also common


def test_autocorr_periodic_series(spark):
    """A perfectly 2-hour-periodic series: lag-24 (even) autocorr is
    +1, lag-1 (odd) is -1 — on a zero-gap hourly grid."""
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_autocorr,
    )

    rows = [
        (h, "1970-01-%02d %02d:00:00" % (1 + h // 24, h % 24), "osc",
         10.0 if h % 2 == 0 else 20.0)
        for h in range(96)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "event_type", "value"]
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    out = {r.lag_hours: r for r in q_autocorr(df, lags=(1, 24)).collect()}
    assert out[1].n_pairs == 95 and out[24].n_pairs == 72
    # biased estimator: numerator has n-k pairs, denominator all n —
    # a perfect +-5 oscillation gives exactly +-(n-k)/n
    assert out[1].autocorr == round(-95 * 25 / (96 * 25), 6)
    assert out[24].autocorr == 72 * 25 / (96 * 25)  # 0.75 exactly


def test_vocab_profile_golden(spark):
    """Hand-counted lexical profile: tokens/types/hapaxes and the raw
    exact ratios."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        vocab_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a b c", "s1"),     # tokens 4, types 3, hapax {b, c}
            (2, "a d", "s1"),         # s1 total: tokens 6, types 4,
            (3, "x x x", "s2"),       #   hapax {b, c, d} = 3
        ],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in vocab_profile(docs).collect()}
    s1 = out["s1"]
    assert (s1.n_tokens, s1.n_types, s1.n_hapax) == (6, 4, 3)
    assert s1.type_token_ratio == 4 / 6
    assert s1.hapax_share == 3 / 4
    s2 = out["s2"]
    assert (s2.n_tokens, s2.n_types, s2.n_hapax) == (3, 1, 0)
    assert s2.hapax_share == 0.0


def test_lang_confusion_matrix(spark):
    """Confusion cells count docs per (gold, predicted); gold_frac
    row-normalizes exactly (raw integer quotient)."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        lang_confusion,
    )

    rows = [
        (1, "the cat and the dog in the house", "en"),
        (2, "the mouse is in it for the win", "en"),
        (3, "le chat et la souris de la maison", "fr"),
        (4, "xyzzy plugh", "fr"),       # no stopword hits -> 'und'
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r.lang_gold, r.lang_pred): (r.n_docs, r.gold_frac)
        for r in lang_confusion(df).collect()
    }
    assert got[("en", "en")] == (2, 1.0)
    assert got[("fr", "fr")] == (1, 0.5)
    assert got[("fr", "und")] == (1, 0.5)
    assert len(got) == 3


def test_gif_scene_cuts_golden(spark):
    """doc_id 1: nf=3, transitions f=1 ((1+1)%3!=0 -> drift +2) and
    f=2 ((1+2)%3==0 -> cut +25): exactly 1 cut, max_jump 25.
    doc_id 3: nf=5, f=1..4, cuts at f=3 ((3+3)%3==0) and ... (3+f)%3==0
    iff f%3==0 -> f=3 only: 1 cut. doc_id 7: nf=3, f=1,2: (7+f)%3==0
    iff f=2: 1 cut. All decoded through the real LZW codec; the cut
    decision is integer pixel-sum arithmetic."""
    from gcp_food_delivery_data_pipeline_spark.operators.multimodal import (
        attach_gif_scene_payload,
        gif_scene_cuts,
    )

    docs = spark.createDataFrame(
        [(1,), (3,), (7,), (6,)], ["doc_id"]
    )
    out = {
        r.doc_id: (r.n_frames, r.n_cuts, r.max_jump)
        for r in gif_scene_cuts(
            attach_gif_scene_payload(docs), threshold_px=20
        ).collect()
    }
    assert out[1] == (3, 1, 25)
    assert out[3] == (5, 1, 25)
    assert out[7] == (3, 1, 25)
    # doc 6: nf=2, single transition f=1, (6+1)%3 != 0 -> no cut,
    # max_jump is the drift step
    assert out[6] == (2, 0, 2)


def test_readability_golden(spark):
    """'The cat sat. The dog ran.' -> 6 words, 2 sentences, 6
    syllables (every word one vowel group): wps 3, spw 1, flesch =
    206.835 - 1.015*3 - 84.6 = 119.19. Empty doc -> NULLs."""
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        readability,
    )

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran."), (2, ""), (3, "beautiful.")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in readability(df).collect()}
    r = got[1]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (6, 2, 6)
    assert r.words_per_sentence == 3.0
    assert r.syllables_per_word == 1.0
    assert abs(r.flesch - (206.835 - 1.015 * 3 - 84.6)) < 1e-12
    assert got[2].n_words == 0 and got[2].flesch is None
    # beautiful -> eau + i + u ... vowel groups: 'eau', 'i', 'u' = 3
    assert got[3].n_syllables == 3
