"""Round-4 items: CC single-action rounds (VERDICT #5), within-phase
progress interpolation (VERDICT #7, reference phase_2.go:54 /
status.go:55-81), and the PipelineConfig.shuffle_partitions knob removal
(VERDICT #2)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.operators.connected_components import (
    connected_components,
)
from fast_duplicate_finder_spark.plans.progress import (
    ProgressReporter,
    StageProgressPoller,
)


def test_cc_change_detection_rides_the_checkpoint(spark, monkeypatch):
    """VERDICT round-3 #5: convergence counts must come from the SAME
    action that materializes each round (Observation metrics on the
    localCheckpoint), not separate filter(changed).count() jobs — at 100 TB
    those were 2-8 extra full-stage jobs per round of pure fixed cost.
    Pin: ZERO DataFrame.count calls during a multi-round CC run (the
    300-node shuffled path needs several outer rounds + doubling passes),
    with output identical to the single-component truth."""
    rng = random.Random(7)
    ids = [f"n{i:04d}" for i in range(300)]
    rng.shuffle(ids)
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)],
        "conv_id_a string, conv_id_b string",
    )

    calls = {"count": 0}
    orig_count = DataFrame.count

    def counting(self):
        calls["count"] += 1
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    comp = connected_components(pairs, max_iter=15)
    rows = comp.collect()
    assert calls["count"] == 0, (
        f"{calls['count']} separate count() actions during CC — change "
        "detection must ride the checkpoint materialization"
    )
    assert len(rows) == 300
    assert {r["component"] for r in rows} == {min(ids)}


def test_stage_progress_poller_emits_fractional_percent(spark):
    """Deterministic poller pin: a job of 8 staggered tasks (0.5-2.25 s)
    under a tagged job group must yield at least one status='progress'
    event with 0 < within_phase_percent < 100, and overall percent inside
    the phase's slice."""
    sc = spark.sparkContext

    def slow(batches):
        import time

        for pdf in batches:
            # STAGGERED task durations (0.5 s .. 2.25 s by partition id):
            # completions then spread over a >1 s window, so the poller
            # observes a mid-job count even under the listener's few-
            # hundred-ms publish throttle AND host-load jitter (a uniform
            # 1 s sleep made this flaky when the suite ran fully loaded)
            time.sleep(0.5 + 0.25 * int(pdf["id"].iloc[0] % 8))
            yield pdf

    # warm the Python workers so wave timing is the sleep, not worker spawn
    spark.range(0, 8, 1, 8).mapInPandas(lambda it: it, "id long").count()
    df = spark.range(0, 8, 1, 8).mapInPandas(slow, "id long")
    reporter = ProgressReporter()
    sc.setJobGroup("r4_unit_phase", "poller test")
    try:
        with StageProgressPoller(
            spark, reporter, "r4_unit_phase", 2, 4, interval=0.05
        ):
            assert df.count() == 8
    finally:
        sc.setJobGroup("", "")
    prog = [e for e in reporter.events if e["status"] == "progress"]
    assert prog, "no within-phase progress events for a 2-wave job"
    for e in prog:
        assert 0 < e["within_phase_percent"] < 100
        # phase 2 of 4 sweeps the (25%, 50%) overall slice
        assert 25.0 < e["percent"] < 50.0


def test_reporter_history_evicts_progress_before_lifecycle():
    """A long phase's ~100-event within-phase sweep must not flush the
    start/done audit trail out of the bounded history: when full, the
    oldest status='progress' event goes first. The ring-logger mirror
    carries lifecycle lines only for the same reason."""

    class Log:
        def __init__(self):
            self.lines = []

        def info(self, msg, **kw):
            self.lines.append(msg)

    log = Log()
    rep = ProgressReporter(max_events=4, logger=log)
    rep.phase_start("p", 1, 2)
    for i in range(1, 7):
        rep.phase_progress("p", 1, 2, i / 10)
    rep.phase_done("p", 1, 2, {"rows": 1, "seconds": 0.1})
    statuses = [e["status"] for e in rep.events]
    assert statuses == ["start", "progress", "progress", "done"]
    assert [e["within_phase_percent"] for e in rep.events[1:3]] == [50.0, 60.0]
    assert len(log.lines) == 2  # progress events skip the logger mirror


def test_stage_progress_poller_excludes_prior_runs_jobs(spark):
    """The status tracker is session-global and job groups are named by
    phase, so a SECOND run_pipeline in the same session would inherit the
    first run's completed jobs in its denominator (within_phase_percent
    born near 100, then stepping back). The poller snapshots pre-existing
    group job ids at construction and excludes them: after a completed job
    under the group, a fresh poller's fraction must be None (no NEW work),
    not 1.0."""
    sc = spark.sparkContext
    reporter = ProgressReporter()
    sc.setJobGroup("r4_stale_phase", "first run")
    try:
        assert spark.range(0, 8, 1, 8).count() == 8
    finally:
        sc.setJobGroup("", "")
    poller = StageProgressPoller(
        spark, reporter, "r4_stale_phase", 2, 4, interval=0.05
    )
    assert poller._stale_jobs, "tracker lost the completed group's jobs"
    assert poller._fraction() is None, (
        "a prior run's completed jobs leaked into a fresh poller's fraction"
    )


def test_pipeline_emits_within_phase_progress(spark, tmp_path):
    """Wiring pin (VERDICT #7 done-bar): run_pipeline surfaces fractional
    within-phase events for the long phases (p6/p7 legs on a real corpus;
    at sf0.1 they run for many seconds — here a generated corpus + a fast
    poll interval stands in)."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.corpus import generate_transcripts
    from fast_duplicate_finder_spark.plans.pipeline import run_pipeline

    df = generate_transcripts(spark, n_convs=1500, seed=11)
    reporter = ProgressReporter(poll_interval=0.02)
    run_pipeline(
        spark, df, PipelineConfig(), str(tmp_path / "ckpt"), resume=False,
        progress=reporter,
    )
    prog = [e for e in reporter.events if e["status"] == "progress"]
    assert prog, "pipeline produced no within-phase progress events"
    assert all(0 < e["within_phase_percent"] < 100 for e in prog)
    long_phases = {
        e["phase"]
        for e in prog
        if e["phase"].startswith(("p6", "p7", "p1", "p2", "p3", "p8"))
    }
    assert long_phases, f"progress only on {sorted({e['phase'] for e in prog})}"


def test_span_longest_run_occurrence_cap(spark):
    """VERDICT round-3 #4: a degenerate doc (thousands of copies of ONE
    token = one window value at ~N positions) must not detonate the
    positional self-join occ_a x occ_b. The within-doc occurrence cap
    (max_band_bucket) drops such groups WITH a visible counter; normal
    shared spans are untouched."""
    from fast_duplicate_finder_spark.queries import CFG, _span_longest_runs

    shared = " ".join(f"s{i}" for i in range(60))  # 60-token shared run
    adversarial = " ".join(["tok"] * 5000)  # >> max_band_bucket occurrences
    c = spark.createDataFrame(
        [
            (1, f"{' '.join(f'a{i}' for i in range(50))} {shared}"),
            (2, f"{shared} {' '.join(f'b{i}' for i in range(50))}"),
            (3, adversarial),
            (4, adversarial),
        ],
        "doc_id int, text string",
    )
    runs, overflow = _span_longest_runs(c, with_overflow=True)
    got = {(r["doc_id_a"], r["doc_id_b"]): r["longest_run_tokens"]
           for r in runs.collect()}
    # the planted 60-token run survives, exact
    assert got == {(1, 2): 60}
    # the adversarial docs' window group was dropped AND counted
    ovf = overflow.collect()
    assert {r["doc_id"] for r in ovf} == {3, 4}
    assert all(r["occurrences"] > CFG.max_band_bucket for r in ovf)


def test_shuffle_partitions_not_a_pipeline_parameter():
    """VERDICT round-3 #2: the dead knob is gone from the dataclass AND the
    fingerprint (it invalidated every checkpoint while changing nothing).
    Shuffle parallelism belongs to session.get_spark / spark-submit."""
    from dataclasses import fields

    from fast_duplicate_finder_spark.config import PipelineConfig

    assert "shuffle_partitions" not in {
        f.name for f in fields(PipelineConfig)
    }
    with pytest.raises(TypeError):
        PipelineConfig(shuffle_partitions=64)


def test_compute_heavy_exchanges_pin_explicit_width(
    spark, monkeypatch, tmp_path
):
    """AQE merge-skew guard (PLANS.md): the conv_id exchange feeding the
    feature stage and the key exchange inside capped_pairs use an EXPLICIT
    partition count — AQE's byte-targeted coalescing merged their even hash
    buckets into uneven ones (16->14 / 16->11 at local-cluster[8,1]), and
    the compute-heavy stages they feed then ran max-task ~2x median (a
    one-straggler tail invisible at low parallelism). Pin both the plan
    marker (REPARTITION_BY_NUM is never AQE-coalesced) and the runtime
    partition count on an input small enough that AQE would otherwise
    collapse it to 1."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.operators.lsh import capped_pairs
    from fast_duplicate_finder_spark.operators.neardup import (
        shingle_features,
    )

    cfg = PipelineConfig()
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.createDataFrame(
        [(f"c{i}", f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
        "conv_id string, doc string",
    )
    feats = shingle_features(docs, cfg)
    assert "REPARTITION_BY_NUM" in feats._jdf.queryExecution().toString()
    assert feats.rdd.getNumPartitions() == n_shuffle

    # a 1-file checkpoint (written as produced, no rebalance pass) still
    # feeds the kernel stage at the pinned width
    one_file = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(one_file)
    assert len(list((tmp_path / "docs").glob("*.parquet"))) == 1
    feats = shingle_features(spark.read.parquet(one_file), cfg)
    assert feats.rdd.getNumPartitions() == n_shuffle

    rows = spark.createDataFrame(
        [(f"c{i}", i % 5) for i in range(40)], "conv_id string, key int"
    )
    # capped_pairs' explicit-width exchange sits ABOVE its localCheckpoint
    # (every downstream plan starts at Scan ExistingRDD), so capture the
    # plan AT the checkpoint call. Aggregations downstream of the
    # checkpoint deliberately stay AQE-managed (PLANS.md) — only the
    # exchange feeding the bucket window + self-join must be pinned.
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    captured: list[str] = []
    orig_ck = ClassicDF.localCheckpoint

    def capturing(self, eager=True):
        captured.append(self._jdf.queryExecution().toString())
        return orig_ck(self, eager)

    monkeypatch.setattr(ClassicDF, "localCheckpoint", capturing)
    pairs, _ = capped_pairs(rows, ["key"], max_bucket=100, n_salt=2)
    assert captured and all("REPARTITION_BY_NUM" in s for s in captured)
    assert pairs.count() == sum(8 * 7 // 2 for _ in range(5))


def test_span_longest_overflow_query_matches_oracle(spark, tmp_path):
    """The occurrence-cap counter is a first-class oracle-checked query
    (span_longest_overflow): on a documents table holding a degenerate
    repeated-token doc, the Spark query and the DuckDB oracle must agree
    on the per-doc dropped-group counts — and they must be NONZERO (the
    sf* corpora are healthy, so the sweep only pins the empty case)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fast_duplicate_finder_spark.queries import _SPAN_TOKENS, CFG, ORACLES, QUERIES

    n_rep = CFG.max_band_bucket + 500
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 3, 7], pa.int64()),
            "text": pa.array(
                [
                    "alpha " * 30,  # < span_min_tokens words: no windows
                    " ".join(["tok"] * n_rep),  # one window value, n_rep-39 occ
                    " ".join(f"w{i}" for i in range(80)),  # all-unique windows
                ]
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_id"], r["n_overflow_groups"], r["max_occurrences"])
        for r in QUERIES["span_longest_overflow"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    exp = set(map(tuple, con.execute(ORACLES["span_longest_overflow"]).fetchall()))
    assert got == exp == {(3, 1, n_rep - _SPAN_TOKENS + 1)}


def test_mid_phase_cancel_surfaces_pipeline_cancelled(
    spark, tmp_path, monkeypatch
):
    """A cancel() landing MID-phase kills the job group, so the in-flight
    action raises a raw Spark job-cancelled error before the next boundary
    check runs; run_pipeline must convert it to PipelineCancelled (the C5
    contract) and leave NO manifest for the killed phase, so a later run
    recomputes it while resuming the phases completed before the cancel."""
    import os

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.corpus import generate_transcripts
    from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
    from fast_duplicate_finder_spark.plans.progress import (
        CancelToken,
        PipelineCancelled,
    )
    from fast_duplicate_finder_spark.storage import CheckpointStore

    df = generate_transcripts(spark, n_convs=40, seed=5)
    token = CancelToken(spark)
    orig = CheckpointStore.get_or_compute

    def interrupted(self, phase, compute, lineage, resume, **kw):
        if phase == "p2_partial":
            token.cancel()  # the kill and the raw error the dying job raises
            raise RuntimeError(
                "Job 7 cancelled part of cancelled job group p2_partial"
            )
        return orig(self, phase, compute, lineage, resume, **kw)

    monkeypatch.setattr(CheckpointStore, "get_or_compute", interrupted)
    ckpt = str(tmp_path / "c")
    with pytest.raises(PipelineCancelled, match="during phase p2_partial"):
        run_pipeline(
            spark, df, PipelineConfig(), ckpt, with_groups=False,
            with_near_dup=False, cancel=token,
        )
    assert not os.path.exists(
        os.path.join(ckpt, "p2_partial", "_MANIFEST.json")
    )
    monkeypatch.undo()
    rep = run_pipeline(
        spark, df, PipelineConfig(), ckpt, with_groups=False,
        with_near_dup=False,
    )
    resumed = {m["phase"] for m in rep.metrics if m.get("resumed")}
    assert "p1_docs" in resumed  # pre-cancel checkpoints reused
