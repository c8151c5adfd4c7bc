"""Durability parity: the session conf ``spark.foodPipeline.checkpointMode``
('local' | 'reliable') must be result-identical — the mode chooses where
materialized blocks live (executor-local or the checkpoint FS), never
what is computed (VERDICT r11 #4: the 1000-executor fault-tolerance
caveat became a setting; these tests pin that the setting cannot change
results).

The conf flips every lineage cut in the package without touching call
sites. It is exercised through graded ``queries()`` keys whose
implementations checkpoint — g_pagerank_parts, g_label_propagation and
g_lpa_stable (graph loops; the last on the ``keep_prev`` path),
d_containment (shingle-table pin), q_ntile_buckets
(two-phase rank pin), v_topk_ann (the ANN recall keys' exact-list
cut) — and through direct calls of the iterative operators.
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.checkpointing import (
    CONF_KEY,
    _resolve_mode,
    materialize,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

PARITY_KEYS = [
    "g_pagerank_parts",
    "g_label_propagation",
    "g_lpa_stable",
    "d_containment",
    "q_ntile_buckets",
    "v_topk_ann",
]


def _rows(df):
    """Order-insensitive exact snapshot (floats compared bit-exactly:
    the modes run the identical plan, so even float results must
    match to the last bit)."""
    return sorted(tuple(r) for r in df.collect())


def _run_key(spark, key):
    import __spark_entry__ as entry_mod

    return _rows(entry_mod.queries()[key](spark, SF_DIR))


@contextmanager
def _mode(spark, mode):
    spark.conf.set(CONF_KEY, mode)
    try:
        yield
    finally:
        spark.conf.unset(CONF_KEY)


def _ckpt_files(d):
    return sum(len(fs) for _, _, fs in os.walk(d))


@pytest.fixture(scope="module")
def ckpt_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reliable_ckpt"))
    spark.sparkContext.setCheckpointDir(d)
    return d


class _ReliableConf:
    def get(self, key, default=None):
        return "reliable"


class _NoDirCtx:
    def getCheckpointDir(self):
        return None


class _NoDirSession:
    conf = _ReliableConf()
    sparkContext = _NoDirCtx()


class _NoDirDF:
    """Duck-typed frame whose session selects 'reliable' but whose
    context reports NO checkpoint dir — the fail-fast path is testable
    in ANY order (a real context's dir cannot be unset once set, so a
    real-df version would silently degrade to a skip under
    reordering/xdist — ADVICE r12)."""

    sparkSession = _NoDirSession()


def test_reliable_mode_needs_checkpoint_dir():
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        materialize(_NoDirDF())


def test_invalid_mode_rejected(spark):
    """A typo and the removed 'persist' mode both fail at the first cut,
    naming the two valid values."""
    for bad in ("bogus", "persist"):
        with _mode(spark, bad):
            with pytest.raises(ValueError, match=rf"{bad}.*'local', 'reliable'"):
                materialize(spark.range(3))


def test_default_mode_is_local(spark):
    assert _resolve_mode(spark.range(1)) == "local"


@pytest.mark.parametrize("key", PARITY_KEYS)
def test_session_conf_reliable_parity(spark, ckpt_dir, key):
    base = _run_key(spark, key)
    assert base, f"{key} returned no rows at sf0.001"
    with _mode(spark, "reliable"):
        assert _run_key(spark, key) == base


def _run_operator(spark, opname):
    from gcp_food_delivery_data_pipeline_spark.operators import dedup, graph

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40) for i in range(160)], ["src", "dst"]
    )
    if opname == "personalized_pagerank":
        seeds = spark.createDataFrame([(1,), (2,)], ["node"])
        return graph.personalized_pagerank(edges, seeds, iterations=4)
    if opname == "hits_bipartite":
        return graph.hits_bipartite(edges, iterations=3)
    if opname == "kcore":
        # symmetric ring + chords: every node keeps degree 4, so a
        # k=2 core survives (the shared functional-graph edges have
        # out-degree 1 everywhere and would peel to empty)
        ring = [(i, (i + 1) % 40) for i in range(40)] + [
            (i, (i + 2) % 40) for i in range(40)
        ]
        sym = spark.createDataFrame(
            ring + [(b, a) for a, b in ring], ["src", "dst"]
        )
        return graph.kcore(sym, k=2, rounds=3)
    if opname == "link_prediction_scores":
        return graph.link_prediction_scores(edges, k=10)
    if opname == "label_propagation_keep_prev":
        lpa_edges = spark.createDataFrame(
            [(i % 17, (i * 5 + 2) % 17) for i in range(60)], ["src", "dst"]
        )
        return graph.label_propagation(lpa_edges, iterations=3, keep_prev=True)
    if opname == "label_propagation_keep_prev_one_round":
        return graph.label_propagation(edges, iterations=1, keep_prev=True)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 2)], ["id_a", "id_b"]
    )
    verts = spark.createDataFrame([(i,) for i in range(61)], ["doc_id"])
    return dedup.connected_components(pairs, verts)


@pytest.mark.parametrize(
    "opname",
    [
        "personalized_pagerank",
        "hits_bipartite",
        "kcore",
        "link_prediction_scores",
        "label_propagation_keep_prev",
        "label_propagation_keep_prev_one_round",
        "connected_components",
    ],
)
def test_operator_parity_local_vs_reliable(spark, ckpt_dir, opname):
    """Every iterative operator returns the same rows whether its
    lineage cuts are local checkpoints or reliable ones."""
    base = _rows(_run_operator(spark, opname))
    assert base, f"{opname} returned no rows"
    before = _ckpt_files(ckpt_dir)
    with _mode(spark, "reliable"):
        assert _rows(_run_operator(spark, opname)) == base
    assert _ckpt_files(ckpt_dir) > before, "reliable mode wrote no checkpoint"


def test_graph_materialize_reliable_conf_bypasses_skip(spark, ckpt_dir):
    """Under the 'reliable' conf a graph operator's already-materialized
    input is checkpointed again (the skip rule would silently keep the
    blocks executor-local — ADVICE r12); under 'local' the skip stands."""
    from gcp_food_delivery_data_pipeline_spark.operators.graph import (
        _materialize,
    )

    base = materialize(
        spark.range(100).selectExpr("id as src", "id + 1 as dst")
    )
    view = base.select("src", "dst")  # narrow view over pinned RDD
    assert _materialize(view) is view  # default path: skip stands
    before = _ckpt_files(ckpt_dir)
    with _mode(spark, "reliable"):
        out = _materialize(view)
    assert out is not view
    assert out.count() == 100
    assert _ckpt_files(ckpt_dir) > before


def test_entry_cuts_follow_the_mode(spark, ckpt_dir):
    """The entry module's own cuts — the shared graph-edge memo and
    the ANN recall keys' exact list — go through ``materialize``: under
    'reliable' both write to the checkpoint dir, and the edge memo never
    hands a reliable session its local cut."""
    import __spark_entry__ as entry_mod

    local = entry_mod._part_edges(spark, SF_DIR)
    before = _ckpt_files(ckpt_dir)
    with _mode(spark, "reliable"):
        reliable = entry_mod._part_edges(spark, SF_DIR)
        assert reliable is not local
        after_edges = _ckpt_files(ckpt_dir)
        assert after_edges > before
        entry_mod.queries()["v_topk_ann"](spark, SF_DIR).collect()
        assert _ckpt_files(ckpt_dir) > after_edges
    assert _rows(reliable) == _rows(local)


def test_reliable_writes_to_checkpoint_dir(spark, ckpt_dir):
    """'reliable' actually lands blocks in the configured directory —
    the durability claim is observable, not assumed."""
    before = _ckpt_files(ckpt_dir)
    with _mode(spark, "reliable"):
        out = materialize(spark.range(1000).withColumn("v", F.col("id") * 2))
    assert out.count() == 1000
    assert _ckpt_files(ckpt_dir) > before
