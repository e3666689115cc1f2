"""Benchmark workloads. Each one builds its inputs from the seed, runs its
timed operation, and checks the outputs afterwards.

The library is driven only through its public calls: ``run_pipeline`` (with
a ``ProgressReporter`` whose phase events become spans), the
``run_incremental_*`` / ``read_*`` / ``compact_*_state`` streaming functions,
the corpus generator, and ``evaluation`` for the recall checks.

Sizes are small on purpose. On 4 vCPU a fresh JVM and its first Spark job
take ~15 s, and one ``run_pipeline`` takes 15-35 s even on a thousand
conversations (it runs a few hundred Spark jobs, each with a fixed cost).
The benchmark runs every workload 22 times inside one hour, so one run has to
fit in about a minute.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts_distributed
from fast_duplicate_finder_spark.evaluation import (
    ground_truth_tiers,
    planted_pairs,
    recall_report,
)
from fast_duplicate_finder_spark.plans.logging import get_logger
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.plans.progress import ProgressReporter
from fast_duplicate_finder_spark.sources.transcripts import assemble_conversations

from perfbench.trace import EventLog, SpanRecorder, covered_seconds

RECALL_GATE = 0.99

# Phases in run_pipeline order. batch_exact_groups runs p0-p5 and the report;
# batch_neardup runs all but the p4/p5 group phases.
PHASES = [
    "p0_stats", "p1_prefilter", "p1_docs", "p2_partial", "p3_exact",
    "p4_group_sigs", "p5_groups", "p5_files_filtered", "p6_all_docs",
    "p6_features", "p7a_minhash_pairs", "p7b_simhash_pairs", "p7c_span_pairs",
    "p7_pairs", "p8_clusters", "report_summary",
]
OVERFLOW_TABLES = ["p7a_lsh_overflow", "p7b_simhash_overflow", "p7c_span_overflow"]
PAIR_LEGS = ["p7a_minhash_pairs", "p7b_simhash_pairs", "p7c_span_pairs"]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A
    workload that does not run a layer reports 0 for it."""
    units: dict[str, str] = {}
    for p in PHASES:
        units[f"{p}.s"] = "s"
        units[f"{p}.self_s"] = "s"
        units[f"{p}.rows"] = "count"
    for t in OVERFLOW_TABLES:
        units[f"{t}.rows"] = "count"
    units["exact.partial_precision"] = "ratio"
    units["p4_group_sigs.jobs"] = "count"
    for k in ("run_s", "cpu_s", "py_gap_s"):
        units[f"p6_features.{k}"] = "s"
    units["p6_features.task_skew"] = "ratio"
    units["p6_features.shuffle_mb"] = "MB"
    units["p6_features.spill_mb"] = "MB"
    for leg in PAIR_LEGS:
        units[f"{leg}.shuffle_mb"] = "MB"
        units[f"{leg}.task_skew"] = "ratio"
    units["p8_clusters.jobs"] = "count"
    units["storage.written_mb"] = "MB"
    units["pipeline.wall_s"] = "s"
    units["pipeline.driver_gap_s"] = "s"
    units["trace.overhead_s"] = "s"
    units["engine.gc_s"] = "s"
    units["engine.py_gap_s"] = "s"
    units["engine.shuffle_mb"] = "MB"
    units["engine.spill_mb"] = "MB"
    return units


@dataclass
class Outcome:
    """One timed operation of a workload (a pipeline run or a stream drain)
    and what the checks found afterwards."""

    wall_s: float
    op_ms: list[float]  # latency of each unit operation inside it
    spans: SpanRecorder
    payload: object = None
    recall: float | None = None
    errors: list[str] = field(default_factory=list)


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def job_group(spark: SparkSession, name: str) -> None:
    spark.sparkContext.setJobGroup(name, f"perfbench {name}")


# ---------------------------------------------------------------------------
# Batch pipeline workloads
# ---------------------------------------------------------------------------


class _PipelineWorkload:
    """Shared timed operation of the two batch workloads: one full
    ``run_pipeline`` into a fresh checkpoint directory."""

    with_near_dup = True
    with_groups = True
    ops_per_run = 1
    extra_e2e_units: dict[str, str] = {}
    extra_layer_units: dict[str, str] = {}

    def __init__(self, tiny: bool):
        self.tiny = tiny
        self.cfg = PipelineConfig()
        self.transcripts: DataFrame | None = None
        self.n_turns = 0
        self._runs = 0

    def _pipeline(self, spark, work: str, tag: str) -> tuple[object, SpanRecorder, float]:
        spans = SpanRecorder()
        progress = ProgressReporter(logger=get_logger())
        progress.subscribe(spans.phase_subscriber("run_pipeline"))
        ckpt = os.path.join(work, f"ckpt_{tag}")
        _rm(ckpt)
        t0 = time.perf_counter()
        with spans.span("run_pipeline"):
            report = run_pipeline(
                spark, self.transcripts, self.cfg, ckpt, resume=False,
                with_near_dup=self.with_near_dup, with_groups=self.with_groups,
                progress=progress,
            )
        return report, spans, time.perf_counter() - t0

    def load(self, spark, seed: int, path: str) -> None:
        self.seed = seed
        self.transcripts = spark.read.parquet(path)

    def run_once(self, spark, work: str) -> Outcome:
        self._runs += 1
        report, spans, wall = self._pipeline(spark, work, f"run{self._runs}")
        return Outcome(wall, [wall * 1e3], spans, payload=report)

    def cleanup(self, work: str) -> None:
        for name in os.listdir(work):
            if name.startswith("ckpt_"):
                _rm(os.path.join(work, name))

    def layer_metrics(self, out: Outcome, log: EventLog) -> dict[str, float]:
        """Per-phase spans, rows and Spark task metrics of one traced
        pipeline run."""
        m: dict[str, float] = {}
        top = out.spans.get("run_pipeline")
        run_log = log.window(top.start, top.end)
        rows = {
            r["phase"]: r.get("rows", 0) for r in out.payload.metrics if "phase" in r
        }
        for p in PHASES:
            span = out.spans.get(p)
            if span is None:
                continue
            phase_log = run_log.group(p)
            m[f"{p}.s"] = span.seconds
            m[f"{p}.self_s"] = span.seconds - covered_seconds(
                phase_log.job_intervals(), span.start, span.end
            )
            m[f"{p}.rows"] = rows.get(p, 0)
            st = phase_log.stats()
            if p == "p6_features":
                for k in ("run_s", "cpu_s", "py_gap_s", "task_skew",
                          "shuffle_mb", "spill_mb"):
                    m[f"{p}.{k}"] = st[k]
            if p in PAIR_LEGS:
                m[f"{p}.shuffle_mb"] = st["shuffle_mb"]
                m[f"{p}.task_skew"] = st["task_skew"]
            if p in ("p4_group_sigs", "p8_clusters"):
                m[f"{p}.jobs"] = st["jobs"]
        for t in OVERFLOW_TABLES:
            if t in rows:
                m[f"{t}.rows"] = rows[t]
        if rows.get("p2_partial"):
            m["exact.partial_precision"] = rows.get("p3_exact", 0) / rows["p2_partial"]
        engine = run_log.stats()
        m["storage.written_mb"] = engine["written_mb"]
        m["pipeline.wall_s"] = top.seconds
        # self time of run_pipeline: driver work between the phase spans
        m["pipeline.driver_gap_s"] = out.spans.self_seconds("run_pipeline")
        m["engine.gc_s"] = engine["gc_s"]
        m["engine.py_gap_s"] = engine["py_gap_s"]
        m["engine.shuffle_mb"] = engine["shuffle_mb"]
        m["engine.spill_mb"] = engine["spill_mb"]
        return m


class BatchNearDup(_PipelineWorkload):
    """The paper's north-star path: the exact cascade then near-dup over the
    planted flat corpus (families of exact, edited and truncated copies).
    Group dedup is left to ``batch_exact_groups``: flat ids have no folders,
    and its phases would only add fixed cost to every run."""

    name = "batch_neardup"
    with_groups = False

    @property
    def n_convs(self) -> int:
        return 200 if self.tiny else 800

    def build(self, spark, seed: int, path: str) -> None:
        _rm(path)
        generate_transcripts_distributed(
            spark, self.n_convs, seed=seed, partitions=4
        ).write.parquet(path)

    def prepare_checks(self, spark) -> None:
        self.n_turns = self.transcripts.count()
        self.truth = ground_truth_tiers(
            assemble_conversations(self.transcripts),
            planted_pairs(spark, self.n_convs),
            self.cfg,
        ).localCheckpoint(eager=True)

    def check(self, spark, out: Outcome) -> None:
        report = out.payload
        planted = self.n_convs // 10  # two exact families per 20-conv block
        want = {"file_sets": planted, "folder_sets": 0, "near_dup_clusters": planted}
        for k, v in want.items():
            if report.summary.get(k) != v:
                out.errors.append(f"summary {k}={report.summary.get(k)} want {v}")
        rec = recall_report(self.truth, report.near_clusters, report.near_pairs)
        out.recall = rec.get("recall_clusters", 0.0)
        if out.recall < RECALL_GATE:
            out.errors.append(f"recall {out.recall:.4f} < {RECALL_GATE}")
        if rec.get("n_missing_input_pairs", 0):
            out.errors.append(f"{rec['n_missing_input_pairs']} planted pairs lost")


class BatchExactGroups(_PipelineWorkload):
    """Exact cascade + folder (group) dedup, near-dup bypassed. Conversations
    get path-style ids ``pNNNNN/sK/cJ`` (4 sessions of 4 conversations per
    project) and three kinds of copies are planted by project number:

    * ``proj % 8 == 1``: the whole project is copied to ``qNNNNN`` — one
      top-level folder set; its session pairs are nested and suppressed;
    * ``proj % 8 == 2``: session ``s0`` is copied to ``s0copy`` — one
      folder set;
    * ``proj % 8 == 3``: ``s0`` is copied to ``s0edit`` with member ``c0``
      changed — no folder set, three file sets.

    Only the generator's unique block slots (0-11 of every 20) are used, so
    every duplicate in the corpus is a planted copy.
    """

    name = "batch_exact_groups"
    with_near_dup = False
    MEMBERS = 4
    SESSIONS = 4

    @property
    def n_base(self) -> int:
        return 640 if self.tiny else 3200

    def _projects(self) -> int:
        unique = (self.n_base // 20) * 12
        return unique // (self.MEMBERS * self.SESSIONS)

    def expected(self) -> dict[str, int]:
        """Summary counts the planted copies imply. Every copied conversation
        forms one two-member file set with its original."""
        classes = [p % 8 for p in range(self._projects())]
        a, b, c = classes.count(1), classes.count(2), classes.count(3)
        return {
            "file_sets": (a * self.SESSIONS * self.MEMBERS + b * self.MEMBERS
                          + c * (self.MEMBERS - 1)),
            "folder_sets": a + b,
            "near_dup_clusters": 0,
        }

    def _corpus(self, spark, seed: int) -> tuple[DataFrame, DataFrame]:
        base = generate_transcripts_distributed(
            spark, self.n_base, seed=seed, partitions=4
        )
        i = F.substring("conv_id", 5, 9).cast("long")
        per_proj = self.MEMBERS * self.SESSIONS
        u = (i / 20).cast("long") * 12 + i % 20
        rows = (
            base.filter(i % 20 < 12)
            .withColumn("proj", (u / per_proj).cast("long"))
            .withColumn("sess", ((u / self.MEMBERS) % self.SESSIONS).cast("long"))
            .withColumn("mem", (u % self.MEMBERS).cast("long"))
            .filter(F.col("proj") < self._projects())
        )
        pname = F.concat(F.lit("p"), F.lpad(F.col("proj").cast("string"), 5, "0"))
        rel = F.concat(F.lit("/c"), F.col("mem").cast("string"))
        sess = F.concat(F.lit("/s"), F.col("sess").cast("string"))
        orig = rows.withColumn("orig_id", F.concat(pname, sess, rel))
        edited = F.col("mem") == 0
        # (which rows are copied, the copy's id, its text, is it a planted dup)
        copies = [
            (F.col("proj") % 8 == 1,
             F.concat(F.lit("q"), F.lpad(F.col("proj").cast("string"), 5, "0"), sess, rel),
             F.col("text"), F.lit(True)),
            ((F.col("proj") % 8 == 2) & (F.col("sess") == 0),
             F.concat(pname, F.lit("/s0copy"), rel), F.col("text"), F.lit(True)),
            ((F.col("proj") % 8 == 3) & (F.col("sess") == 0),
             F.concat(pname, F.lit("/s0edit"), rel),
             F.when(edited, F.concat("text", F.lit(" edited"))).otherwise(F.col("text")),
             ~edited),
        ]
        cols = ["turn_idx", "role", "text", "tool", "ts"]
        out = orig.select(F.col("orig_id").alias("conv_id"), *cols)
        pairs = None
        for cond, copy_id, text, is_dup in copies:
            c = orig.filter(cond).withColumn("copy_id", copy_id).withColumn("text", text)
            out = out.unionByName(c.select(F.col("copy_id").alias("conv_id"), *cols))
            p = c.filter(is_dup).select("orig_id", "copy_id")
            pairs = p if pairs is None else pairs.unionByName(p)
        return out, pairs.distinct()

    def build(self, spark, seed: int, path: str) -> None:
        _rm(path)
        self._corpus(spark, seed)[0].write.parquet(path)

    def prepare_checks(self, spark) -> None:
        self.n_turns = self.transcripts.count()
        self.pairs = self._corpus(spark, self.seed)[1].localCheckpoint(eager=True)

    def check(self, spark, out: Outcome) -> None:
        report = out.payload
        want = self.expected()
        for k in ("file_sets", "folder_sets", "near_dup_clusters"):
            if report.summary.get(k) != want[k]:
                out.errors.append(f"summary {k}={report.summary.get(k)} want {want[k]}")
        cl = report.exact_clusters.select("conv_id", "cluster_id")
        found = (
            self.pairs.join(cl.withColumnRenamed("conv_id", "orig_id"), "orig_id")
            .join(
                cl.select(F.col("conv_id").alias("copy_id"),
                          F.col("cluster_id").alias("copy_cluster")),
                "copy_id",
            )
            .filter(F.col("cluster_id") == F.col("copy_cluster"))
            .count()
        )
        out.recall = found / want["file_sets"]
        if found != want["file_sets"]:
            out.errors.append(f"found {found} of {want['file_sets']} planted copies")


# ---------------------------------------------------------------------------
# Streaming workload (not in BENCHMARK.json: one drain costs ~70 s warm)
# ---------------------------------------------------------------------------

STREAM_LEGS = ["exact", "lsh", "clusters"]


def stream_layer_units() -> dict[str, str]:
    units = {}
    for leg in STREAM_LEGS:
        units[f"stream.{leg}.batch_ms_p50"] = "ms"
        units[f"stream.{leg}.trigger_ms_p50"] = "ms"
        units[f"stream.{leg}.state_files"] = "count"
        units[f"stream.{leg}.state_mb"] = "MB"
        units[f"stream.{leg}.compact_s"] = "s"
        units[f"stream.{leg}.log_rows"] = "count"
    return units


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class StreamIncremental:
    """Closed-loop drain of K parquet files (``availableNow``,
    ``maxFilesPerTrigger=1``): the exact leg, then the MinHash/LSH leg, then
    the clusters leg over their pair logs, then compaction of all three.
    Each file holds a conv-id range, so later files carry copies of earlier
    files' content and the cross-epoch state joins do real work."""

    name = "stream_incremental"
    extra_e2e_units = {"batch_p50_ms": "ms"}
    extra_layer_units = stream_layer_units()

    def __init__(self, tiny: bool):
        self.tiny = tiny
        self.files = 2 if tiny else 4
        self.n_convs = 200 if tiny else 1000
        self.ops_per_run = len(STREAM_LEGS) * self.files  # micro-batches
        self.cfg = PipelineConfig()
        self._runs = 0

    def build(self, spark, seed: int, path: str) -> None:
        _rm(path)
        tr = generate_transcripts_distributed(
            spark, self.n_convs, seed=seed, partitions=4
        ).localCheckpoint(eager=True)
        per = self.n_convs // self.files
        for b in range(self.files):
            lo, hi = f"conv{b * per:09d}", f"conv{(b + 1) * per:09d}"
            tr.filter((F.col("conv_id") >= lo) & (F.col("conv_id") < hi)).coalesce(
                1
            ).write.parquet(os.path.join(path, "in", f"b{b:02d}.parquet"))

    def load(self, spark, seed: int, path: str) -> None:
        self.input = os.path.join(path, "in")
        self.transcripts = spark.read.parquet(os.path.join(self.input, "*"))

    def prepare_checks(self, spark) -> None:
        self.n_turns = self.transcripts.count()
        self.truth = ground_truth_tiers(
            assemble_conversations(self.transcripts),
            planted_pairs(spark, self.n_convs),
            self.cfg,
        ).localCheckpoint(eager=True)

    def _drain(self, spark, input_glob: str, wd: str) -> tuple[SpanRecorder, dict]:
        from fast_duplicate_finder_spark.streaming import incremental as inc

        spans = SpanRecorder()
        progress: dict[str, list[dict]] = {}
        _rm(wd)
        with spans.span("stream"):
            for leg, runner in (("exact", inc.run_incremental_dedup),
                                ("lsh", inc.run_incremental_lsh)):
                with spans.span(leg, "stream"):
                    q = runner(spark, input_glob, os.path.join(wd, leg),
                               max_files_per_trigger=1)
                    q.awaitTermination()
                progress[leg] = q.recentProgress
            with spans.span("feed", "stream"):
                feed = os.path.join(wd, "feed")
                self._pair_log(spark, wd).withColumn(
                    "is_overflow", F.lit(False)
                ).repartition(self.files, "epoch_id").write.partitionBy(
                    "epoch_id"
                ).parquet(feed)
            with spans.span("clusters", "stream"):
                q = inc.run_incremental_clusters(
                    spark, os.path.join(feed, "epoch_id=*"),
                    os.path.join(wd, "clusters"), max_files_per_trigger=1,
                )
                q.awaitTermination()
            progress["clusters"] = q.recentProgress
            self.state_usage = {
                leg: _dir_usage(os.path.join(wd, leg)) for leg in STREAM_LEGS
            }
            for leg, fn in (("exact", inc.compact_dedup_state),
                            ("lsh", inc.compact_lsh_state),
                            ("clusters", inc.compact_cluster_state)):
                with spans.span(f"compact_{leg}", "stream"):
                    fn(spark, os.path.join(wd, leg))
        return spans, progress

    def _pair_log(self, spark, wd: str) -> DataFrame:
        from fast_duplicate_finder_spark.streaming import incremental as inc

        lsh = inc.read_lsh_pair_log(spark, os.path.join(wd, "lsh")).filter(
            ~F.col("is_overflow")
        ).select("conv_id_a", "conv_id_b", "epoch_id")
        exact = inc.read_dup_log(spark, os.path.join(wd, "exact")).select(
            F.col("conv_id").alias("conv_id_a"),
            F.col("first_conv_id").alias("conv_id_b"),
            "epoch_id",
        )
        return lsh.unionByName(exact)

    def run_once(self, spark, work: str) -> Outcome:
        self._runs += 1
        wd = os.path.join(work, f"stream_run{self._runs}")
        t0 = time.perf_counter()
        spans, progress = self._drain(spark, os.path.join(self.input, "*"), wd)
        wall = time.perf_counter() - t0
        # per source file: the time each leg spent on that file's micro-batch
        per_leg = {
            leg: [p["batchDuration"] for p in progress[leg] if p["numInputRows"] > 0]
            for leg in STREAM_LEGS
        }
        op_ms = [
            float(sum(per_leg[leg][k] for leg in STREAM_LEGS if k < len(per_leg[leg])))
            for k in range(self.files)
        ]
        return Outcome(wall, op_ms, spans, payload=(wd, progress))

    def check(self, spark, out: Outcome) -> None:
        from fast_duplicate_finder_spark.streaming import incremental as inc

        wd, progress = out.payload
        # a mis-shaped input path streams zero rows without an error
        streamed = sum(p["numInputRows"] for p in progress["exact"])
        if streamed != self.n_turns:
            out.errors.append(f"exact leg streamed {streamed} rows, {self.n_turns} written")
        for leg in STREAM_LEGS:
            batches = sum(1 for p in progress[leg] if p["numInputRows"] > 0)
            if batches != self.files:
                out.errors.append(f"{leg} leg ran {batches} micro-batches, {self.files} files")
        labels = inc.read_cluster_labels(spark, os.path.join(wd, "clusters"))
        rec = recall_report(
            self.truth,
            labels.select("conv_id", F.col("label").alias("component")),
            self._pair_log(spark, wd),
        )
        out.recall = rec.get("recall_clusters", 0.0)
        if out.recall < RECALL_GATE:
            out.errors.append(f"recall {out.recall:.4f} < {RECALL_GATE}")
        self.log_rows = {
            "exact": inc.read_dup_log(spark, os.path.join(wd, "exact")).count(),
            "lsh": inc.read_lsh_pair_log(spark, os.path.join(wd, "lsh")).count(),
            "clusters": labels.count(),
        }

    def cleanup(self, work: str) -> None:
        for name in os.listdir(work):
            if name.startswith("stream_run"):
                _rm(os.path.join(work, name))

    def layer_metrics(self, out: Outcome, log: EventLog) -> dict[str, float]:
        _wd, progress = out.payload
        m: dict[str, float] = {}
        for leg in STREAM_LEGS:
            done = [p for p in progress[leg] if p["numInputRows"] > 0]
            m[f"stream.{leg}.batch_ms_p50"] = statistics.median(
                p["batchDuration"] for p in done
            )
            m[f"stream.{leg}.trigger_ms_p50"] = statistics.median(
                p["batchDuration"] - p["durationMs"].get("addBatch", 0) for p in done
            )
            files, size = self.state_usage[leg]
            m[f"stream.{leg}.state_files"] = files
            m[f"stream.{leg}.state_mb"] = size / float(1 << 20)
            m[f"stream.{leg}.compact_s"] = out.spans.get(f"compact_{leg}").seconds
            m[f"stream.{leg}.log_rows"] = self.log_rows[leg]
        top = out.spans.get("stream")
        engine = log.window(top.start, top.end).stats()
        m["storage.written_mb"] = engine["written_mb"]
        m["engine.gc_s"] = engine["gc_s"]
        m["engine.py_gap_s"] = engine["py_gap_s"]
        m["engine.shuffle_mb"] = engine["shuffle_mb"]
        m["engine.spill_mb"] = engine["spill_mb"]
        return m


WORKLOADS = {w.name: w for w in (BatchNearDup, BatchExactGroups, StreamIncremental)}
