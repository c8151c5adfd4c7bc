"""Empty-input robustness: every major operator family must return an
EMPTY result (never raise, never NaN) on a zero-row input with the
right schema — the state of a brand-new pipeline, a fully-filtered
partition, or a quiet streaming window."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)
EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


@pytest.fixture()
def empty_vecs(spark):
    return spark.createDataFrame([], EMB_SCHEMA)


def test_text_ops_on_empty(empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        bigram_lm_scores,
        bm25_scores,
        repetition_signals,
        tf_idf_top_terms,
    )

    assert bigram_lm_scores(empty_docs).count() == 0
    assert tf_idf_top_terms(empty_docs.select("doc_id", "text")).count() == 0
    assert repetition_signals(empty_docs).count() == 0
    assert bm25_scores(empty_docs, ["query"]).count() == 0


def test_dedup_ops_on_empty(empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        dedup_exact,
        fuzzy_decontaminate,
        lsh_candidate_pairs,
        simhash_near_dup_pairs,
    )

    d = empty_docs.withColumn("fp", F.md5("text"))
    assert dedup_exact(d, "fp").count() == 0
    assert lsh_candidate_pairs(empty_docs).count() == 0
    assert simhash_near_dup_pairs(empty_docs, max_hamming=3, bands=4).count() == 0
    # empty corpus: no rows; empty benchmark: every corpus row, clean
    docs = empty_docs.sparkSession.createDataFrame(
        [(1, "some corpus text here", "web")], empty_docs.schema
    )
    assert fuzzy_decontaminate(empty_docs, docs).count() == 0
    clean = fuzzy_decontaminate(docs, empty_docs).collect()
    assert [tuple(r) for r in clean] == [(1, False)]


def test_corpus_ops_on_empty(empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        assign_split,
        chunk_documents,
        length_buckets,
        pack_sequences,
        resample_source_mix,
        weighted_sample,
    )

    assert chunk_documents(empty_docs).count() == 0
    assert assign_split(empty_docs).count() == 0
    assert length_buckets(empty_docs).count() == 0
    assert pack_sequences(empty_docs).count() == 0
    assert resample_source_mix(empty_docs, {"src0": 1}).count() == 0
    w = empty_docs.withColumn("w", F.lit(1.0))
    assert weighted_sample(w, "w", k=5).count() == 0


def test_bpe_on_empty(empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.bpe import (
        bpe_segment,
        bpe_train,
        pair_counts,
        word_symbol_table,
    )

    wt = word_symbol_table(empty_docs)
    assert wt.count() == 0
    assert pair_counts(wt).count() == 0
    assert bpe_train(empty_docs, n_merges=3) == []
    assert bpe_segment(empty_docs, [("a", "b")]).count() == 0


def test_similarity_and_quantize_on_empty(empty_vecs):
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
        topk_exact,
    )

    assert topk_exact(empty_vecs, empty_vecs).count() == 0
    assert quantize_embeddings_int8(empty_vecs).count() == 0


def test_clustering_on_empty(empty_vecs, spark):
    from gcp_food_delivery_data_pipeline_spark.operators.clustering import (
        assign_clusters,
        seed_centroids,
        semantic_dedup,
    )

    assert seed_centroids(empty_vecs, 3) == []
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assert assign_clusters(empty_vecs, cents).count() == 0
    assert semantic_dedup(empty_vecs, cents).count() == 0


def test_quality_on_empty(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.quality import (
        check_constraints,
        not_null,
        unique,
    )

    df = spark.createDataFrame([], "id long, name string")
    out = {
        r.rule: (r.n_violations, r["pass"])
        for r in check_constraints(df, [not_null("id"), unique("id")]).collect()
    }
    # zero rows violate nothing — both rules hold vacuously
    assert out == {"not_null(id)": (0, True), "unique(id)": (0, True)}


def test_mad_outliers_on_empty(spark):
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_mad_outliers,
    )

    ev = spark.createDataFrame(
        [], "event_id long, event_type string, value double"
    )
    assert q_mad_outliers(ev).count() == 0


def test_round6_graph_ops_on_empty(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        bfs_distances,
        link_prediction_scores,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([], "node long")
    assert bfs_distances(edges, seeds, max_hops=2).count() == 0
    assert link_prediction_scores(edges).count() == 0
    # seeds over an empty edge list still emit distance-0 rows
    seeded = spark.createDataFrame([(7,)], ["node"])
    rows = bfs_distances(edges, seeded, max_hops=2).collect()
    assert [(r.node, r.dist) for r in rows] == [(7, 0)]


def test_round6_text_and_card_on_empty(spark, empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        dataset_card,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        zipf_profile,
    )

    assert zipf_profile(empty_docs).count() == 0
    # card needs the full documents schema (lang + n_chars too);
    # it still emits all 6 metric rows; ratios are NULL (0/0)
    full = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    card = {r.metric: r.value for r in dataset_card(full).collect()}
    assert card["n_docs"] == 0.0
    assert card["exact_dup_rate"] is None


def test_truncated_topk_on_empty_queries(empty_vecs, spark):
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        truncated_topk,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [0.5] * 4)], ["vec_id", "embedding"]
    )
    out = truncated_topk(vecs, vecs.filter(F.col("vec_id") < 0), prefix_dim=2)
    assert out.count() == 0


def test_interpolate_on_empty(spark):
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_hourly_interpolate,
    )

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    assert q_hourly_interpolate(ev).count() == 0


def test_session_new_ops_on_empty(spark, empty_docs, empty_vecs):
    """binary_topk / containment_join / distinctive_terms /
    countmin_profile / q_ols_trend all return empty, never raise, on
    zero-row inputs."""
    from pyspark.sql.types import TimestampType

    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        containment_join,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.rollup import (
        countmin_profile,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        binary_topk,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        distinctive_terms,
    )
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_ols_trend,
    )

    assert binary_topk(empty_vecs, empty_vecs).count() == 0
    assert containment_join(empty_docs).count() == 0
    assert distinctive_terms(empty_docs).count() == 0
    ev = spark.createDataFrame(
        [], StructType([StructField("user_id", LongType())])
    )
    assert countmin_profile(ev).count() == 0
    orders = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("o_orderpriority", StringType()),
                StructField("o_totalprice", DoubleType()),
                StructField("o_orderdate", TimestampType()),
            ]
        ),
    )
    assert q_ols_trend(orders).count() == 0


def test_round6_stats_ops_on_empty(spark):
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_bootstrap_ci,
        q_chi2_independence,
        q_cusum_changepoint,
        q_ks_drift,
        q_psi_drift,
        q_seasonal_naive,
        q_survival_km,
    )

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    for fn in (
        q_psi_drift,
        q_ks_drift,
        q_cusum_changepoint,
        q_seasonal_naive,
        q_chi2_independence,
        q_bootstrap_ci,
        q_survival_km,
    ):
        assert fn(ev).count() == 0, fn.__name__


def test_round6_mixture_and_join_ops_on_empty(spark, empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.corpus import (
        neyman_sample,
        temperature_mix,
        token_budget_mix,
        upsample_epochs,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        edit_distance_join,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        hits_bipartite,
    )

    assert token_budget_mix(empty_docs).count() == 0
    assert upsample_epochs(empty_docs, total=10).count() == 0
    assert temperature_mix(empty_docs, total=10).count() == 0
    ev = spark.createDataFrame(
        [], "event_id long, event_type string, value double"
    )
    assert neyman_sample(ev, "event_type", "value", "event_id", 10).count() == 0
    assert edit_distance_join(empty_docs, "text", "doc_id").count() == 0
    edges = spark.createDataFrame([], "src long, dst long")
    assert hits_bipartite(edges).count() == 0


def test_round8_stats_ops_on_empty(spark):
    """Every round-8 stats/causal op returns EMPTY (never a NULL/NaN
    row, never an ANSI divide throw) on a zero-row event stream."""
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_cuped_adjustment,
        q_did_estimate,
        q_mann_whitney,
        q_srm_check,
        q_welch_t,
    )

    ev = spark.createDataFrame(
        [],
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )
    for fn in (
        q_mann_whitney,
        q_welch_t,
        q_srm_check,
        q_did_estimate,
        q_cuped_adjustment,
    ):
        assert fn(ev).count() == 0, fn.__name__


def test_round8_text_similarity_ops_on_empty(spark, empty_docs):
    from gcp_food_delivery_data_pipeline_spark.operators.clustering import (
        centroid_drift,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.similarity import (
        ndcg_at_k,
    )
    from gcp_food_delivery_data_pipeline_spark.operators.text import (
        lang_confusion,
        readability,
    )

    docs = empty_docs.withColumn("lang", F.lit("en")).filter(
        F.lit(False)
    )
    assert lang_confusion(docs).count() == 0
    assert readability(empty_docs).count() == 0
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert ndcg_at_k(emb, emb, k=5).count() == 0
    assert centroid_drift(emb, F.col("vec_id") % 2).count() == 0
    blk = spark.createDataFrame([], "blk string, id long, name string")
    assert blocked_linkage(
        blk, blk, block_cols=["blk"], id_col="id", val_col="name"
    ).count() == 0


def test_blocked_linkage_salted_on_empty(spark):
    from gcp_food_delivery_data_pipeline_spark.operators.dedup import (
        blocked_linkage_salted,
    )

    blk = spark.createDataFrame([], "blk string, id long, name string")
    assert blocked_linkage_salted(
        blk, blk, block_cols=["blk"], id_col="id", val_col="name"
    ).count() == 0


def test_multimodal_ops_on_empty(spark, empty_docs):
    """All 15 Arrow kernels of ``operators.multimodal`` give zero rows
    with their declared schema on a zero-row input."""
    import gcp_food_delivery_data_pipeline_spark.operators.multimodal as mm

    meta = (
        "meta:struct<media_type:string,format:string,{}width:int,"
        "height:int,n_bytes:bigint>"
    )
    media = "struct<doc_id:bigint,payload:binary," + meta + ">"
    image, video = media.format(""), media.format("n_frames:int,")
    fake = mm.attach_fake_payload(empty_docs)
    png = mm.attach_png_payload(empty_docs)
    rgb = mm.attach_png_rgb_payload(empty_docs)
    wav = mm.attach_wav_payload(empty_docs)
    gif = mm.attach_gif_payload(empty_docs)
    scene = mm.attach_gif_scene_payload(empty_docs)
    cases = [
        (mm.extract_features(fake), mm.FEATURE_SCHEMA.simpleString()),
        (mm.resize_payload(fake, 4, 2), image),
        (mm.sample_frames(fake), mm.FRAME_SCHEMA.simpleString()),
        (png, image),
        (mm.decode_png_stats(png), mm.PNG_STATS_SCHEMA.simpleString()),
        (rgb, image),
        (mm.decode_png_rgb_stats(rgb), mm.PNG_RGB_STATS_SCHEMA.simpleString()),
        (wav, image),
        (mm.decode_wav_stats(wav), mm.WAV_STATS_SCHEMA.simpleString()),
        (gif, video),
        (mm.decode_gif_stats(gif), mm.GIF_STATS_SCHEMA.simpleString()),
        (
            scene,
            "struct<doc_id:bigint,payload:binary,n_frames:int,width:int,"
            "height:int>",
        ),
        (mm.gif_scene_cuts(scene), mm.SCENE_CUT_SCHEMA.simpleString()),
        (mm.phash_png(png), mm.PHASH_SCHEMA.simpleString()),
        (
            mm.audio_frame_features(wav),
            mm.AUDIO_FRAME_SCHEMA.simpleString(),
        ),
    ]
    for df, schema in cases:
        assert df.schema.simpleString() == schema
        assert df.count() == 0, schema
