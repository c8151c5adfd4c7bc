"""Driver-contract smoke: the three functions the round driver calls
must keep their shapes — entry() produces rows with a stable schema,
every oracle key has a query, and query keys are unique and stable."""

from __future__ import annotations

import __spark_entry__ as entry


def test_entry_runs_and_has_stable_schema(spark):
    df = entry.entry(spark)
    assert df.columns == ["n_name", "revenue", "n_lineitems"]
    assert df.count() > 0


def test_every_oracle_key_has_a_query():
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {sorted(missing)}"


def test_every_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    rows_only = set(qs) - set(oracles)
    # Even the approximate ops (HLL sketch, LSH ANN) are graded via
    # self-computed accuracy bounds — nothing may be rows-only.
    assert rows_only == set(), f"lost oracles: {sorted(rows_only)}"


def test_grade_first_is_50_unique_known_keys():
    # The driver grades the first 50 keys of queries(); _GRADE_FIRST
    # pins that budget. Round-10 ADVICE found 3 duplicate entries that
    # silently shrank the pinned set to 47 — lock the invariant.
    g = entry._GRADE_FIRST
    assert len(g) == 50, f"expected exactly 50 pinned keys, got {len(g)}"
    assert len(set(g)) == len(g), "duplicate keys in _GRADE_FIRST"
    unknown = set(g) - set(entry.queries())
    assert not unknown, f"pinned keys with no query: {sorted(unknown)}"


def test_part_edges_memo_evicts_only_stopped_sessions(spark):
    """The shared-edge-table memo drops a foreign-app entry only when
    its OWNING session has actually stopped (a long-lived process
    cycling sessions must not accumulate dead localCheckpoint
    references) — while a foreign entry whose session is still LIVE
    must survive an insert, or two concurrently-live sessions
    alternating calls would evict each other's entries and thrash
    fresh checkpoint blocks every cycle."""
    entry._PART_EDGES_MEMO.clear()

    class _StoppedFrame:  # sparkSession access raises -> treated dead
        def __getattr__(self, name):
            raise RuntimeError("session stopped")

    dead_key = ("app-DEAD", "local", "/tmp/nowhere", True, 2, False)
    live_foreign_key = ("app-OTHER-LIVE", "local", "/tmp/elsewhere", True, 2, False)
    entry._PART_EDGES_MEMO[dead_key] = _StoppedFrame()
    # a frame owned by a LIVE session, keyed as another app id
    entry._PART_EDGES_MEMO[live_foreign_key] = spark.range(1)
    entry._part_edges(spark, "/root/testdata/sf0.001")
    assert dead_key not in entry._PART_EDGES_MEMO
    assert live_foreign_key in entry._PART_EDGES_MEMO
    assert any(
        k[0] == spark.sparkContext.applicationId
        for k in entry._PART_EDGES_MEMO
    )
    entry._PART_EDGES_MEMO.clear()


def test_bench_probe_verdict_adjudicates():
    """The bench artifact's self-adjudication (r12 missing #2): clean
    needs all four probe readings under their clean-band ceilings AND
    a near-zero hypervisor steal reading; any exceedance is 'drifted'
    with the worst ratio; a missing probe can never masquerade as
    clean."""
    import bench

    v, r = bench._probe_verdict([0.2, 0.25], [0.3, 0.35], 0.0)
    assert v == "clean" and r <= 1.0
    v, r = bench._probe_verdict([0.2, 0.6], [0.3, 0.35], 0.0)
    assert v == "drifted" and r == round(0.6 / bench.CAL_CLEAN_MAX, 3)
    v, r = bench._probe_verdict([0.2, 0.25], [0.3, 1.0], 0.0)
    assert v == "drifted" and r == round(1.0 / bench.CAL_IO_CLEAN_MAX, 3)
    # 'unknown' carries NO drift_ratio (ADVICE r13): a partial max
    # over the readings preceding the failed probe could read <= 1.0
    # and invite a consumer to treat a blind run as near-clean
    v, r = bench._probe_verdict([0.2, None], [0.3, 0.35], 0.0)
    assert v == "unknown" and r is None
    v, r = bench._probe_verdict([0.2, 0.25], [None, 0.35], 0.0)
    assert v == "unknown" and r is None
    v, r = bench._probe_verdict([None, None], [None, None], 0.0)
    assert v == "unknown" and r is None
    # in-run spread: both ends in band but start 1.85x end = "started
    # polluted, recovered" (the first r13 bench run's signature, which
    # carried 21% early-position inflation) -> drifted
    v, r = bench._probe_verdict([0.294, 0.159], [0.295, 0.179], 0.0)
    assert v == "drifted" and r > 1.0
    # the committed r12 clean base must stay clean under the spread rule
    v, r = bench._probe_verdict([0.239, 0.286], [0.273, 0.368], 0.0)
    assert v == "clean"
    # r14 post-mortem: an oversubscribed HOST ran both guest-side
    # probes in-band (drift 0.979) while headline queries read a
    # median 2.7x the clean base — the kernel's steal counter is the
    # only witness. 12.7% measured mid-run on the stolen host.
    v, r = bench._probe_verdict([0.2, 0.25], [0.3, 0.35], 12.7)
    assert v == "drifted" and r == round(12.7 / bench.STEAL_CLEAN_MAX_PCT, 3)
    # an unreadable steal counter cannot earn a clean bill
    v, r = bench._probe_verdict([0.2, 0.25], [0.3, 0.35], None)
    assert v == "unknown" and r is None
    # the default is None -> two-arg legacy calls read 'unknown'
    v, r = bench._probe_verdict([0.2, 0.25], [0.3, 0.35])
    assert v == "unknown" and r is None


def test_bench_steal_pct_reads_kernel_counter():
    """_read_steal_ticks/_steal_pct: the /proc/stat plumbing returns
    a sane percentage and degrades to None (never a crash) on missing
    snapshots."""
    import bench

    snap = bench._read_steal_ticks()
    assert snap is not None and snap[1] > snap[0] >= 0
    assert bench._steal_pct(None, snap) is None
    assert bench._steal_pct(snap, None) is None
    assert bench._steal_pct(snap, snap) is None  # no elapsed ticks
    pct = bench._steal_pct((100, 10_000), (200, 20_000))
    assert pct == 1.0
