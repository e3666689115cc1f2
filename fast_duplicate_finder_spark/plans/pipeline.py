"""The end-to-end pipeline — all phases, checkpointed, resumable.

Query lifecycle (SURVEY.md §3, mirroring the three reference entry points
converging on run_finder.go:23-85):

    run_pipeline(spark, transcripts, cfg, checkpoint_dir)
      p1_prefilter      size/turn-count groups >= 2       (phase_1.go)
      p2_partial        (size, partial-hash) groups >= 2  (phase_2.go)
      p3_exact          full-hash exact clusters          (phase_3.go)
      p4_group_sigs     Merkle folder signatures          (phase_4.go)
      p5_groups         nested suppression + file filter  (phase_5.go)
      p6_features       shingle/k-gram features           (north_star)
      p7_pairs          minhash/simhash/span/exact pairs  (north_star)
      p8_clusters       connected components              (north_star)
      report            summary + metrics

Each phase is one job writing one checkpoint table; a rerun with the same
config fingerprint skips completed phases (kill-after-phase-k resumability,
BASELINE.md). The returned Report object holds DataFrames (lazy) + the
driver-side summary.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.operators.exact_cascade import (
    exact_clusters,
    full_hash_stage,
    partial_hash_stage,
    prefilter,
)
from fast_duplicate_finder_spark.operators.group_dedup import (
    duplicate_folders,
    folder_clusters,
    folder_signatures,
    suppress_files_in_dup_folders,
    suppress_nested,
)
from fast_duplicate_finder_spark.operators.neardup import (
    exact_pairs_from_clusters,
    minhash_pairs,
    near_dup_features,
    simhash_pairs,
    span_pairs,
)
from fast_duplicate_finder_spark.operators.connected_components import (
    connected_components,
)
from fast_duplicate_finder_spark.plans import report as report_mod
from fast_duplicate_finder_spark.session import empty_frame
from fast_duplicate_finder_spark.sources.transcripts import (
    assemble_conversations,
    conv_stats,
)
from fast_duplicate_finder_spark.storage import CheckpointStore


@dataclass
class Report:
    summary: dict
    exact_clusters: DataFrame
    top_folders: DataFrame
    file_clusters_filtered: DataFrame
    near_pairs: DataFrame
    near_clusters: DataFrame
    metrics: list[dict]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    resume: bool = True,
    with_near_dup: bool = True,
    with_groups: bool = True,
    input_snapshot: str | None = None,
    progress=None,
    cancel=None,
) -> Report:
    """``input_snapshot``: storage.parquet_snapshot_id of the input (or an
    Iceberg snapshot id) — a resume refuses checkpoints of a different
    input. ``progress``: plans.progress.ProgressReporter (or None).
    ``cancel``: plans.progress.CancelToken (or None) — checked at every
    phase boundary, like the reference's ctx checks between phases
    (run_finder.go:45-79)."""
    from fast_duplicate_finder_spark.plans.logging import get_logger
    from fast_duplicate_finder_spark.plans.progress import (
        CancelToken,
        PipelineCancelled,
        ProgressReporter,
        StageProgressPoller,
    )

    progress = progress or ProgressReporter(logger=get_logger())
    cancel = cancel or CancelToken(spark)
    store = CheckpointStore(
        spark, checkpoint_dir, cfg.fingerprint(), snapshot_id=input_snapshot
    )
    n_phases = 6 + (3 if with_groups else 0) + (7 if with_near_dup else 0)
    counter = {"i": 0}

    def run_phase(phase, compute, lineage, **write_kwargs):
        """Phase boundary: cancellation check + job-group tagging + progress
        fanout around the checkpointed compute (run_finder.go:45-79's
        between-phase ctx checks; status.go:55-81's callback fanout)."""
        cancel.check()
        counter["i"] += 1
        cancel.enter_phase(phase)
        progress.phase_start(phase, counter["i"], n_phases)
        # within-phase interpolation: enter_phase tagged this phase's jobs
        # with a job group; the poller turns their task completion into
        # fractional progress events (reference phase_2.go:54 parity)
        try:
            with StageProgressPoller(
                spark, progress, phase, counter["i"], n_phases,
                interval=progress.poll_interval,
            ):
                out = store.get_or_compute(
                    phase, compute, lineage, resume, **write_kwargs
                )
        except PipelineCancelled:
            raise
        except Exception as e:
            # a MID-phase cancel() kills the job group, so the in-flight
            # action raises a raw Spark job-cancelled error before the next
            # boundary check can run — surface the cancellation the caller
            # asked for, not the collateral. The killed phase wrote no
            # manifest (storage.py's manifest-last ordering), so a later
            # run recomputes it cleanly.
            if cancel.cancelled:
                raise PipelineCancelled(
                    f"pipeline cancelled during phase {phase}"
                ) from e
            raise
        progress.phase_done(
            phase, counter["i"], n_phases,
            next(m for m in reversed(store.metrics) if m["phase"] == phase),
        )
        return out

    stats = run_phase(
        "p0_stats", lambda: conv_stats(transcripts), ["input"]
    )
    p1 = run_phase(
        "p1_prefilter", lambda: prefilter(stats, cfg), ["p0_stats"]
    )
    docs = run_phase(
        "p1_docs",
        lambda: assemble_conversations(transcripts, only_convs=p1),
        ["input", "p1_prefilter"],
    )
    p2 = run_phase(
        "p2_partial",
        lambda: partial_hash_stage(docs, cfg).select(
            "conv_id", "doc", "size", "n_turns"
        ),
        ["p1_docs"],
    )
    p3 = run_phase(
        "p3_exact",
        lambda: exact_clusters(full_hash_stage(p2)),
        ["p2_partial"],
    )

    if with_groups:
        conv_hashes = stats.select("conv_id").join(
            p3.select("conv_id", "fhash").withColumn("is_dup", F.lit(True)),
            "conv_id",
            "left",
        ).fillna({"is_dup": False})
        sigs = run_phase(
            "p4_group_sigs",
            lambda: folder_signatures(conv_hashes, cfg),
            ["p0_stats", "p3_exact"],
        )
        dups = duplicate_folders(sigs)
        top = run_phase(
            "p5_groups",
            lambda: folder_clusters(suppress_nested(dups, cfg.group_sep)),
            ["p4_group_sigs"],
        )
        files_kept = run_phase(
            "p5_files_filtered",
            lambda: suppress_files_in_dup_folders(
                p3, dups, cfg.group_sep
            ),
            ["p3_exact", "p4_group_sigs"],
        )
    else:
        top = empty_frame(
            spark,
            "folder string, sig long, cluster_id string, cluster_size long",
        )
        files_kept = p3

    if with_near_dup:
        # features are recomputed per near-dup phase group (cheap JVM
        # expressions) but docs come from the p1_docs checkpoint.
        # Near-dup legs consider ALL assembled docs, not only exact-cascade
        # survivors: near-dups differ in size, so assemble everything here.
        all_docs = run_phase(
            "p6_all_docs",
            lambda: assemble_conversations(transcripts),
            ["input"],
        )
        # ONE conv_id-partitioned pass computes every leg's features
        # (shset + minhash/simhash signatures + supershingle sets); the
        # positional gram arrays never leave it, so the p7 legs below
        # shuffle bytes-per-doc, not bytes-per-token, and re-run no Arrow
        # kernels (round 2 re-shuffled grams per leg — its largest stage)
        # bucketed by conv_id: near_dup_features' output is already
        # hash-partitioned on conv_id (shuffle.partitions tasks), so the
        # bucketed write adds no shuffle and ~one file per bucket — and
        # every later conv_id-keyed consumer of the WIDEST checkpoint
        # (the verify joins of each p7 leg once candidates outgrow
        # broadcast, and any resumed session) reads it exchange-free
        features = run_phase(
            "p6_features",
            lambda: near_dup_features(all_docs, cfg),
            ["p6_all_docs"],
            bucket_by=["conv_id"],
        )

        # Each near-dup leg is its own checkpointed phase: finer-grained
        # resume (kill mid-leg loses only that leg), and the fused
        # union-of-three-legs query measured ~2.5x slower than the legs run
        # as separate jobs at high core counts (three Arrow-UDF stage trees
        # competing inside one DAG). Overflow tables are side tables of
        # their leg's phase — the manifest row count IS the counter
        # (capped, counted, never silent) — written in the same pass: a
        # resume that finds either table missing recomputes the leg once.
        mh_pairs_df = run_phase(
            "p7a_minhash_pairs",
            lambda: (
                lambda mh, ovf: (
                    mh.select("conv_id_a", "conv_id_b", "jaccard"), ovf
                )
            )(*minhash_pairs(features, cfg)),
            ["p6_features"],
            side_phase="p7a_lsh_overflow",
        )
        sh_pairs_df = run_phase(
            "p7b_simhash_pairs",
            lambda: simhash_pairs(features, cfg),
            ["p6_features"],
            side_phase="p7b_simhash_overflow",
        )
        sp_pairs_df = run_phase(
            "p7c_span_pairs",
            lambda: span_pairs(features, cfg),
            ["p6_features"],
            side_phase="p7c_span_overflow",
        )

        pairs = run_phase(
            "p7_pairs",
            lambda: (
                mh_pairs_df.select(
                    "conv_id_a", "conv_id_b", F.lit("minhash").alias("kind")
                )
                .union(
                    sh_pairs_df.select("conv_id_a", "conv_id_b", F.lit("simhash"))
                )
                .union(
                    sp_pairs_df.select("conv_id_a", "conv_id_b", F.lit("span"))
                )
                .union(
                    exact_pairs_from_clusters(p3).select(
                        "conv_id_a", "conv_id_b", F.lit("exact")
                    )
                )
            ),
            ["p7a_minhash_pairs", "p7b_simhash_pairs", "p7c_span_pairs",
             "p3_exact"],
        )
        clusters = run_phase(
            "p8_clusters",
            lambda: connected_components(
                pairs.select("conv_id_a", "conv_id_b").distinct()
            ),
            ["p7_pairs"],
        )
    else:
        pairs = empty_frame(
            spark, "conv_id_a string, conv_id_b string, kind string"
        )
        clusters = empty_frame(spark, "conv_id string, component string")

    summary_df = run_phase(
        "report_summary",
        lambda: report_mod.summarize(p3, top, clusters),
        ["p3_exact", "p5_groups", "p8_clusters"],
    )
    summary = {k: v for k, v in summary_df.collect()[0].asDict().items()}
    report = Report(
        summary=summary,
        exact_clusters=p3,
        top_folders=top,
        file_clusters_filtered=files_kept,
        near_pairs=pairs,
        near_clusters=clusters,
        metrics=store.metrics,
    )
    global _LAST_REPORT
    _LAST_REPORT = report
    return report


_LAST_REPORT: Report | None = None


def get_last_report() -> Report | None:
    """Most recent completed Report in this process — the polling-client
    cache (reference library/library.go:68,89 ``lastReport`` /
    ``GetLastReportC``)."""
    return _LAST_REPORT
