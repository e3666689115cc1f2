"""Round-3 additions: bounded ring-buffer logger (C7), bounded progress
history, snapshot-strict resume, boundary-carrying format helpers,
single-job summarize, last-report cache, footer-based manifest counters."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.functions.format import (
    format_elapsed,
    humanize_bytes,
)
from fast_duplicate_finder_spark.plans.logging import RingLogger, get_logger
from fast_duplicate_finder_spark.plans.pipeline import (
    get_last_report,
    run_pipeline,
)
from fast_duplicate_finder_spark.plans.progress import ProgressReporter
from fast_duplicate_finder_spark.storage import CheckpointStore

CFG = PipelineConfig()


# --- C7: ring-buffer logger ------------------------------------------------

def test_ring_logger_capacity_eviction():
    log = RingLogger(capacity=5)
    for i in range(12):
        log.info(f"m{i}")
    entries = log.get_logs()
    assert len(entries) == 5  # oldest evicted, never grows past capacity
    assert [e["message"] for e in entries] == [f"m{i}" for i in range(7, 12)]
    assert [e["message"] for e in log.get_logs(2)] == ["m10", "m11"]
    assert json.loads(log.get_logs_json(1))[0]["message"] == "m11"


def test_ring_logger_callback_delivery_and_levels():
    log = RingLogger(capacity=10)
    seen = []
    log.subscribe(seen.append)
    log.debug("d")
    log.warn("w", context="ctx")
    log.error("e", data={"k": 1})
    log.log("BOGUS", "x")  # unknown level coerces to INFO
    assert [e["level"] for e in seen] == ["DEBUG", "WARN", "ERROR", "INFO"]
    assert seen[1]["context"] == "ctx"
    assert seen[2]["data"] == {"k": 1}
    assert seen == log.get_logs()


def test_progress_events_bounded_and_mirrored_to_logger(spark, tmp_path):
    log = RingLogger(capacity=100)
    progress = ProgressReporter(max_events=4, logger=log)
    df = generate_transcripts(spark, n_convs=40, seed=7)
    run_pipeline(
        spark, df, CFG, str(tmp_path / "c"), with_groups=False,
        with_near_dup=False, progress=progress,
    )
    # 6 phases x (start+done) = 12 lifecycle events emitted (round 4 adds
    # status='progress' interpolation events on top); history keeps last 4
    assert len(progress.events) == 4
    assert progress.events[-1]["percent"] == 100.0
    phase_lines = [
        e for e in log.get_logs()
        if e.get("context") == "pipeline"
        and e["data"]["status"] in ("start", "done", "resumed")
    ]
    assert len(phase_lines) == 12  # logger saw every event (its own bound)
    assert get_logger() is get_logger()  # process singleton


def test_last_report_cache(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=40, seed=7)
    rep = run_pipeline(
        spark, df, CFG, str(tmp_path / "c"), with_groups=False,
        with_near_dup=False,
    )
    assert get_last_report() is rep  # library.go:68,89 lastReport analogue


# --- snapshot-strict resume -------------------------------------------------

def test_resume_refused_when_manifest_lacks_snapshot(spark, tmp_path):
    base = str(tmp_path / "ck")
    legacy = CheckpointStore(spark, base, "fp", snapshot_id=None)
    legacy.write(spark.range(3).toDF("v"), "p0")
    assert legacy.exists("p0")
    # same fingerprint, but the caller now pins an input snapshot: a
    # manifest with no snapshot is unknown provenance -> not resumable
    pinned = CheckpointStore(spark, base, "fp", snapshot_id="abc123")
    assert not pinned.exists("p0")
    pinned.write(spark.range(3).toDF("v"), "p0")
    assert pinned.exists("p0")
    assert not CheckpointStore(
        spark, base, "fp", snapshot_id="zzz"
    ).exists("p0")


def test_manifest_counters_from_footers(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"), "fp")
    store.write(spark.range(1000).toDF("v").repartition(4), "p0")
    m = store.manifest("p0")
    assert m["rows"] == 1000 == sum(m["partitions"].values())
    assert len(m["partitions"]) >= 1


def test_checkpoint_is_one_write_as_produced(spark, tmp_path):
    """A small single-partition result is written once, as produced: one
    parquet file and no rebalance rewrite beside it (compute-heavy
    consumers pin their own exchange width instead)."""
    store = CheckpointStore(spark, str(tmp_path / "ck"), "fp")
    out = store.write(spark.range(10).coalesce(1), "p0")
    phase_dir = tmp_path / "ck" / "p0"
    assert len(list((phase_dir / "data").glob("*.parquet"))) == 1
    assert not (phase_dir / "data.rebal").exists()
    assert store.manifest("p0")["rows"] == 10 == out.count()


def test_placeholder_tables_run_no_python(spark, tmp_path, monkeypatch):
    """With groups and near-dup off, the top/pairs/clusters placeholders
    keep their schemas and zero rows, and neither they nor the summary
    plan built over them scan a Python RDD (a createDataFrame([]) scan
    costs defaultParallelism Python-worker tasks)."""
    from pyspark.sql.types import DataType

    from fast_duplicate_finder_spark.plans import report as report_mod

    plans: list[str] = []
    orig = report_mod.summarize

    def capturing(*args):
        out = orig(*args)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(report_mod, "summarize", capturing)
    df = generate_transcripts(spark, n_convs=40, seed=7)
    rep = run_pipeline(
        spark, df, CFG, str(tmp_path / "c"), with_groups=False,
        with_near_dup=False,
    )
    expect = {
        "top_folders": "folder string, sig long, cluster_id string, "
        "cluster_size long",
        "near_pairs": "conv_id_a string, conv_id_b string, kind string",
        "near_clusters": "conv_id string, component string",
    }
    for name, ddl in expect.items():
        frame = getattr(rep, name)
        assert frame.schema == DataType.fromDDL(ddl)
        assert frame.count() == 0
        plans.append(frame._jdf.queryExecution().executedPlan().toString())
    assert len(plans) == 4
    for plan in plans:
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert rep.summary["folder_sets"] == 0
    assert rep.summary["near_dup_clusters"] == 0


# --- format boundary carrying ----------------------------------------------

@pytest.mark.parametrize(
    "seconds,expect",
    [
        (0.9996, "1.0s"),      # was "1000ms"
        (59.96, "1m0.0s"),     # was "60.0s"
        (59.94, "59.9s"),
        (0.35, "350ms"),
        (4.2, "4.2s"),
        (3599.96, "1h0m0.0s"),
        (62.5, "1m2.5s"),
    ],
)
def test_format_elapsed_boundaries(seconds, expect):
    assert format_elapsed(seconds) == expect


def test_humanize_bytes_boundaries():
    assert humanize_bytes(1048575) == "1.0 MiB"   # was "1024.0 KiB"
    assert humanize_bytes(1536) == "1.5 KiB"
    assert humanize_bytes(1023) == "1023 B"
    assert humanize_bytes(1024**2 - 52429) == "972.8 KiB"
    assert humanize_bytes(1024**3 - 1) == "1.0 GiB"  # carries past MiB too


# --- summarize: one plan, no driver-side count() actions ----------------------

def test_summarize_single_collect(spark):
    from fast_duplicate_finder_spark.plans.report import summarize

    exact = spark.createDataFrame(
        [("a", "a", 10), ("b", "a", 10), ("c", "c", 4)],
        "conv_id string, cluster_id string, size long",
    )
    folders = spark.createDataFrame(
        [("f1", 1, "c1", 2), ("f2", 1, "c1", 2)],
        "folder string, sig long, cluster_id string, cluster_size long",
    )
    near = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("x", "x")],
        "conv_id string, component string",
    )
    row = summarize(exact, folders, near).collect()[0].asDict()
    assert row == {
        "file_sets": 2,
        "folder_sets": 1,
        "near_dup_clusters": 2,
        "wasted_space_chars": 10,
    }
    empty = summarize(exact.limit(0), None, None).collect()[0].asDict()
    assert empty["file_sets"] == 0
    assert empty["wasted_space_chars"] == 0
    assert empty["folder_sets"] == 0 and empty["near_dup_clusters"] == 0


# --- LSH band salting: hot-but-under-cap buckets split across tasks ----------

def test_salted_pairs_match_unsalted_and_split_tasks(spark):
    from dataclasses import replace

    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.operators.lsh import (
        candidate_pairs,
        two_level_pairs,
    )

    # one hot band bucket (300 members, under cap) + a small bucket
    rows = [(f"c{i:04d}", 0, 111) for i in range(300)]
    rows += [(f"z{i}", 1, 222) for i in range(4)]
    band_rows = spark.createDataFrame(
        rows, "conv_id string, band_id int, band_hash long"
    )
    salted_cfg = replace(CFG, band_salt_buckets=8, max_band_bucket=2000)
    plain_cfg = replace(CFG, band_salt_buckets=1, max_band_bucket=2000)
    got_salted, ovf_s = candidate_pairs(band_rows, salted_cfg)
    got_plain, ovf_p = candidate_pairs(band_rows, plain_cfg)
    a = {tuple(r) for r in got_salted.collect()}
    b = {tuple(r) for r in got_plain.collect()}
    assert a == b  # identical pair sets
    assert len(a) == 300 * 299 // 2 + 4 * 3 // 2
    assert ovf_s.count() == 0 == ovf_p.count()

    # skew evidence: the hot bucket's pair enumeration spans >= several
    # reducer tasks when salted (pre-distinct partition ids of the join).
    # AQE's small-partition coalescing would re-merge this TOY bucket into
    # one task (correct at this size); disable it for the evidence query —
    # a genuinely hot bucket's cells are too big to coalesce.
    hot = band_rows.filter(F.col("band_id") == 0).withColumn(
        "bucket_n", F.lit(300)
    )
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key)
    try:
        spark.conf.set(coalesce_key, "false")
        cells = (
            two_level_pairs(hot, ["band_id", "band_hash"], 8)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set(coalesce_key, old)
    assert cells >= 4  # 8 salt cells across >= 4 distinct tasks


def test_salted_pairs_respect_cap_overflow(spark):
    from dataclasses import replace

    from fast_duplicate_finder_spark.operators.lsh import candidate_pairs

    rows = [(f"c{i}", 0, 7) for i in range(50)]
    band_rows = spark.createDataFrame(
        rows, "conv_id string, band_id int, band_hash long"
    )
    cfg = replace(CFG, band_salt_buckets=4, max_band_bucket=10)
    pairs, overflow = candidate_pairs(band_rows, cfg)
    assert pairs.count() == 0  # whole bucket over cap: no pairs
    ovf = overflow.collect()
    assert len(ovf) == 1 and ovf[0]["bucket_n"] == 50  # counted, not silent


# --- Iceberg swap point: fail fast, never silently write parquet -------------

def test_iceberg_format_fails_fast_without_runtime(spark, tmp_path):
    from fast_duplicate_finder_spark.storage import iceberg_available

    assert not iceberg_available(spark)  # sandbox ships no iceberg jar
    store = CheckpointStore(
        spark, str(tmp_path / "ck"), "fp", table_format="iceberg"
    )
    with pytest.raises(RuntimeError, match="iceberg"):
        store.write(spark.range(3).toDF("v"), "p0")


# --- Bucketed checkpoints: distribution survives the write ------------------

def _mk_features(spark):
    return spark.range(0, 200).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") % 7).alias("v"),
    ).repartition("conv_id")


def test_bucketed_checkpoint_roundtrip_and_manifest(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"), "fpb")
    out = store.write(
        _mk_features(spark), "p6_features", bucket_by=["conv_id"]
    )
    assert out.count() == 200
    m = store.manifest("p6_features")
    assert m["bucket_by"] == ["conv_id"]
    assert m["n_buckets"] == 8  # session shuffle.partitions
    assert m["rows"] == 200
    # rows identical through the catalog read
    assert {r["conv_id"] for r in store.read("p6_features").collect()} == {
        f"c{i}" for i in range(200)
    }


def test_bucketed_read_reregisters_in_fresh_catalog(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"), "fpb2")
    store.write(_mk_features(spark), "p6_features", bucket_by=["conv_id"])
    name = store._table_name("p6_features")
    spark.sql(f"DROP TABLE IF EXISTS {name}")  # simulate a fresh session
    fresh = CheckpointStore(spark, str(tmp_path / "ck"), "fpb2")
    assert fresh.exists("p6_features")
    got = fresh.read("p6_features")
    assert got.count() == 200
    assert spark.catalog.tableExists(name)  # re-registered from manifest


def test_bucketed_checkpoint_join_skips_features_exchange(spark, tmp_path):
    """The at-scale contract: with candidates too big to broadcast, a
    conv_id join against the bucketed checkpoint shuffles ONLY the
    candidate side — the bucketed scan satisfies hashpartitioning."""
    store = CheckpointStore(spark, str(tmp_path / "ck"), "fpb3")
    feats = store.write(
        _mk_features(spark), "p6_features", bucket_by=["conv_id"]
    )
    cand = spark.range(0, 50).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            cand.join(feats, "conv_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("Exchange") == 1  # candidate side only
    # and an agg keyed on the bucket column needs no exchange at all
    agg_plan = (
        feats.groupBy("conv_id").agg(F.sum("v"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in agg_plan


def test_materialized_corpus_cache_is_session_scoped(spark):
    """dup_corpus/_emb_corpus materialize once per (session, sf_dir): the
    second call returns the SAME checkpointed plan (no re-read), different
    sf dirs get distinct entries, and rows are unchanged by caching."""
    from fast_duplicate_finder_spark import queries as q

    sf = "/root/testdata/sf0.001"
    q._MATERIALIZED.clear()
    a = q.dup_corpus(spark, sf)
    b = q.dup_corpus(spark, sf)
    assert a is b  # cache hit — one materialization per session+dir
    app = spark.sparkContext.applicationId
    assert (app, "corpus", sf) in q._MATERIALIZED
    # content identical to an uncached build (fresh key → fresh build)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = docs.count()
    planted = docs.filter(
        (F.col("doc_id") % 10 == 0)
        | (F.col("doc_id") % 10 == 1)
        | (F.col("doc_id") % 10 == 2)
    ).count()
    assert a.count() == n_docs + planted
    e1 = q._emb_corpus(spark, sf)
    assert (app, "emb", sf) in q._MATERIALIZED
    assert e1 is q._emb_corpus(spark, sf)


def test_portable_shingle_sets_is_exchange_free(spark):
    """The simhash query-leg input (md5-portable per-doc shingle hash
    sets) must stay scan -> project: shingling AND hashing run inside
    per-doc higher-order transforms, so no Exchange appears anywhere in
    the physical plan (the round-2 form shuffled every shingle row
    through a groupBy(doc_id).collect_list rebuild)."""
    from fast_duplicate_finder_spark.queries import portable_shingle_sets

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 F.col("id").cast("string")).alias("text"),
    )
    sets = portable_shingle_sets(docs)
    plan = sets._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # and the hashes are the documented md5-hi64 values
    import hashlib

    row = sets.filter(F.col("doc_id") == 7).collect()[0]
    from fast_duplicate_finder_spark.queries import CFG
    k = CFG.shingle_k
    words = "alpha beta gamma delta epsilon zeta 7".split(" ")
    expect = set()
    for i in range(len(words) - k + 1):
        s = " ".join(words[i : i + k])
        h = hashlib.md5(s.encode()).hexdigest()
        v = (int(h[:8], 16) << 32) | int(h[8:16], 16)
        expect.add(v - (1 << 64) if v >= 1 << 63 else v)
    assert set(row["shset"]) == expect


def test_ring_logger_get_logs_zero_returns_empty():
    log = RingLogger(capacity=5)
    for i in range(3):
        log.info(f"m{i}")
    assert log.get_logs(0) == []
    assert len(log.get_logs(2)) == 2
    assert len(log.get_logs()) == 3


def test_failed_checkpoint_write_invalidates_stale_manifest(spark, tmp_path):
    """A crash inside write() (after the old data is dropped, before the
    new manifest lands) must leave exists() False — a stale complete
    manifest over missing/partial data would make resume() silently read
    an empty table."""
    from pyspark.sql import functions as F

    ckpt = CheckpointStore(spark, str(tmp_path / "ck"), "fp")
    df = spark.range(10).select(F.col("id").alias("conv_id"))
    ckpt.write(df, "p_test")
    assert ckpt.exists("p_test")

    @F.udf("long")
    def boom(x):
        raise ValueError("simulated mid-write crash")

    bad = spark.range(4).select(boom(F.col("id")).alias("conv_id"))
    try:
        ckpt.write(bad, "p_test")
        raise AssertionError("write of exploding plan should fail")
    except Exception:
        pass
    assert not ckpt.exists("p_test")  # stale manifest must be gone


def test_connected_components_long_chain_and_nonconvergence():
    """Union-at-root + pointer doubling: a 120-node path graph converges
    in a few OUTER rounds (plain neighbor-min needs 119 > max_iter and
    previously returned SPLIT components silently); non-convergence still
    raises — max_iter=1 cannot finish any non-trivial graph (round 1
    always changes labels, so the loop must run at least twice to OBSERVE
    convergence). max_iter=2 now succeeds on this ordered path: round 1's
    root-union + full compression already labels the whole chain."""
    import pytest as _pytest

    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )
    from fast_duplicate_finder_spark.session import get_spark

    spark = get_spark("cc-chain", cores=4, shuffle_partitions=8)
    n = 120
    ids = [f"{i:05d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)],
        "conv_id_a string, conv_id_b string",
    )
    comp = connected_components(pairs, max_iter=15)
    labels = {r["component"] for r in comp.collect()}
    assert labels == {ids[0]}  # ONE component, min label everywhere

    assert {
        r["component"]
        for r in connected_components(pairs, max_iter=2).collect()
    } == {ids[0]}  # round-1 root-union + compression finishes the chain

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_read_dup_log_empty_and_missing(spark, tmp_path):
    """A duplicate-free stream writes only _SUCCESS markers; before the
    first batch nothing exists — both must read as an EMPTY log, not
    raise schema-inference errors — with the same schema a non-empty log
    reads with (``epoch_id`` bigint, not the partition-inferred int)."""
    import os as _os

    from fast_duplicate_finder_spark.streaming.incremental import (
        _dedup_batch,
        read_dup_log,
        run_incremental_dedup,
    )

    wd = str(tmp_path / "wd")
    assert read_dup_log(spark, wd).count() == 0  # nothing exists yet

    # corpus with NO duplicates at all
    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [(f"c{i}", 0, "user", f"unique text {i}", "", None) for i in range(8)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(inp)
    q = run_incremental_dedup(spark, inp, wd)
    q.awaitTermination(60)
    log = read_dup_log(spark, wd)
    assert log.count() == 0
    assert "first_conv_id" in log.columns

    dup_wd = tmp_path / "dup_wd"
    _dedup_batch(
        spark.createDataFrame(
            [(f"c{i}", 0, "user", "same text", "", None) for i in range(2)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        ),
        0,
        str(dup_wd / "state"),
        str(dup_wd / "dups"),
    )
    dups = read_dup_log(spark, str(dup_wd))
    assert dups.count() == 1
    assert dups.schema == log.schema


def test_simhash_pairs_invariant_under_salting(spark):
    """Salting changes pair PLACEMENT, never the pair set."""
    from fast_duplicate_finder_spark.functions.simhash import (
        simhash_candidate_pairs,
    )

    sims = spark.createDataFrame(
        [(f"c{i:02d}", (i % 3) * 17 + ((i % 2) << 50)) for i in range(24)],
        "conv_id string, simhash long",
    )
    p1, _ = simhash_candidate_pairs(sims, 3, max_bucket=100, n_salt=1)
    p8, _ = simhash_candidate_pairs(sims, 3, max_bucket=100, n_salt=8)
    r1 = sorted(tuple(r) for r in p1.collect())
    r8 = sorted(tuple(r) for r in p8.collect())
    assert r1 == r8 and len(r1) > 0


def test_capped_pairs_payload_carry_alignment(spark):
    """payload_cols ride through BOTH the cold self-join and the salted
    two-level branch with values aligned to (conv_id_a, conv_id_b) after
    the least/greatest id swap: payload_a must always be payload(conv_id_a).
    One hot bucket (> max_bucket // n_salt members) forces the salted
    branch; a cold bucket covers the plain join."""
    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.operators.lsh import capped_pairs

    rows = [(f"c{i:03d}", "hot") for i in range(40)] + [
        (f"d{i}", "cold") for i in range(4)
    ]
    df = (
        spark.createDataFrame(rows, "conv_id string, k string")
        .withColumn("payload", F.concat(F.lit("p:"), F.col("conv_id")))
    )
    pairs, overflow = capped_pairs(
        df, ["k"], max_bucket=2000, n_salt=8, payload_cols=["payload"]
    )
    got = pairs.collect()
    assert overflow.count() == 0
    n_hot, n_cold = 40, 4
    assert len(got) == n_hot * (n_hot - 1) // 2 + n_cold * (n_cold - 1) // 2
    for r in got:
        assert r["conv_id_a"] < r["conv_id_b"]
        assert r["payload_a"] == "p:" + r["conv_id_a"]
        assert r["payload_b"] == "p:" + r["conv_id_b"]
