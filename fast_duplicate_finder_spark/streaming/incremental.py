"""Structured Streaming legs: incremental exact dedup + sessionization.

The reference is strictly batch (SURVEY.md §2.9 — its channels are
intra-process pipelining, not event-time streaming). A 100 TB training-data
corpus, however, *arrives* incrementally; these operators make the exact
cascade incremental without reprocessing history:

* ``run_incremental_dedup`` — micro-batch ingest of transcript rows
  (a file stream over a parquet directory; Iceberg/Kafka sources swap in
  behind the same call). Each micro-batch assembles its conversations
  (window-ordered concat — the batch operator, reused verbatim), full-hashes
  them, and joins against the persistent *seen-hash* state table: hashes
  already seen are appended to a duplicates log, new hashes extend the state.
  State is a parquet table partitioned by (epoch_id, hash prefix):
  - the per-batch state read is PRUNED to the micro-batch's own hash
    prefixes (partition filter, no full-state scan per micro-batch);
  - a replayed epoch (at-least-once micro-batch restart) dynamic-overwrites
    exactly its own epoch partitions — state and dup log are both
    idempotent with NO per-batch epoch-probe job; the join simply excludes
    the current epoch's own partitions;
  - at scale this layout is the Iceberg MERGE target; the batch join is
    broadcast when the micro-batch is small, shuffle otherwise (AQE).
* ``run_incremental_simhash`` — the NEAR-dup analogue: per micro-batch
  SimHash signatures (same kernel as the batch leg), intra-batch pairs via
  the shared capped+salted generator, cross-batch pairs via a pigeonhole
  equi-join against the exploded chunk-index state table (partitioned by
  (epoch_id, cp = chunk_val % N_STATE_PREFIXES), read pruned to the
  batch's own prefixes), signatures carried on the rows so Hamming
  verification is inline. Pair set equals the batch operator's on an
  uncapped corpus; each pair is emitted once, at its later member's epoch.
* ``run_incremental_lsh`` — MinHash/LSH with exact-Jaccard verify, the
  wide-payload variant: band rows AND shingle sets are separate state
  tables ((epoch_id, band prefix) / (epoch_id, conv-id prefix)); the
  verify read is pruned to the prefixes of exactly the state convs the
  surviving band candidates name, so the wide sets never ride the band
  join and only the named slice is read back when candidates are few —
  the common incremental case. (Prefix pruning saturates at
  N_STATE_PREFIXES partitions for very large batches; the band-state
  join is the Iceberg MERGE / storage-partitioned-join seam at scale.)
* ``run_incremental_clusters`` — closes the pairs -> CLUSTERS loop
  incrementally: a stream of duplicate pairs (any leg's output) maintains
  cluster labels without re-running global connected components per batch.
  State is an epoch-append-only union-find — a ``base`` table (label at
  first sight, partitioned by (epoch_id, conv prefix)) plus a ``merges``
  log (old root -> new root, partitioned by (epoch_id, label prefix), a
  DAG strictly decreasing in label order). Each batch runs the existing
  connected_components operator over only the TOUCHED subgraph (new pairs
  + one conv->current-root edge per known conv); current labels are the
  DAG closure over base, compressed by path-doubling at read time.
* ``sessionize`` — event-time session windows (``F.session_window``) with a
  watermark for late data. The same expression works on a batch DataFrame
  (all sessions emitted) and on a stream (sessions emitted as the watermark
  closes them) — tests pin batch output; streaming is exercised with an
  ``availableNow`` trigger.

Exactly-once notes: the micro-batch sink gives at-least-once; the epoch
id is recorded in the state table so a replayed micro-batch can be
detected and its rows dropped (idempotent resume — same contract as the
phase checkpoints in storage.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.session import empty_frame
from fast_duplicate_finder_spark.sources.transcripts import (
    assemble_conversations,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over transcript parquet. ``path`` follows Spark's
    file-source listing rules: a directory of FLAT parquet files, or a glob
    over writer-produced subdirectories (``.../in/*``) — a plain directory
    whose parquet files sit one level down (each ``df.write.parquet`` makes
    a subdirectory) streams ZERO rows, silently."""
    return _file_stream(spark, TRANSCRIPT_SCHEMA, path, max_files_per_trigger)


def _file_stream(
    spark: SparkSession,
    schema: str,
    path: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


N_STATE_PREFIXES = 64  # hash-prefix partitions of the state table


def _require_local_fs(work_dir: str) -> None:
    """Fail fast on a URI-shaped ``work_dir`` (hdfs://, s3a://, ...): the
    state lifecycle here mixes Spark writes (which would work on any
    Hadoop filesystem) with driver-local ``os.walk`` / ``os.replace`` /
    ``shutil`` manipulation (``_has_parts``, the compaction rename dance in
    ``_crash_safe_swap``, the checkpoint listing in ``_require_quiesced``)
    that would silently no-op or mis-detect state on a remote URI. At
    cluster scale the state tables become Iceberg MERGE targets
    (storage.py's table_format seam) rather than this local parquet
    layout."""
    if "://" in work_dir:
        raise ValueError(
            "streaming state work_dir must be a local filesystem path "
            f"(got {work_dir!r}): state maintenance uses driver-local "
            "renames; use the Iceberg table_format seam for remote storage"
        )


def _has_parts(path: str) -> bool:
    """True when ``path`` holds at least one parquet part file. The
    existence of the DIRECTORY is not enough: a batch whose write produced
    zero rows leaves _SUCCESS (and, for partitioned writes, nothing else),
    and ``spark.read.parquet`` then fails schema inference forever — the
    same hazard the log readers guard against (_read_log), applied to
    every state table.

    Hidden entries (``_temporary``, ``.spark-staging-*``, dot-files) are
    pruned exactly as Spark's own reader prunes them: a batch killed MID
    write leaves only uncommitted parts under ``_temporary/``, and counting
    those would send the replay into a ``spark.read.parquet`` that lists
    zero visible files and fails schema inference on every trigger."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


# ---------------------------------------------------------------------------
# The shared leg skeleton: on-disk layout, runner, epoch-state I/O
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _Layout:
    """One leg's dirs under its ``work_dir``. ``state`` and ``out`` are
    handed to the leg's batch function in that order; ``folds`` lists the
    epoch-partitioned state tables compaction folds, as (path under
    ``state``, prefix column). The names are the restart contract: a
    renamed checkpoint dir silently reprocesses the whole stream."""

    checkpoint: str
    state: str
    out: str
    folds: tuple[tuple[str, str], ...] = ()


_DEDUP = _Layout("_stream_checkpoint", "state", "dups", (("data", "hp"),))
_SIMHASH = _Layout(
    "_simhash_stream_checkpoint", "sim_state", "near_pairs", (("data", "cp"),)
)
_LSH = _Layout(
    "_lsh_stream_checkpoint",
    "lsh_state",
    "lsh_pairs",
    (
        (os.path.join("bands", "data"), "bp"),
        (os.path.join("feats", "data"), "hp"),
    ),
)
_CLUSTERS = _Layout("_stream_checkpoint", "base", "merges")


def _start_leg(
    spark: SparkSession,
    layout: _Layout,
    schema: str,
    input_path: str,
    work_dir: str,
    batch_fn,
    available_now: bool,
    max_files_per_trigger: int | None,
):
    """The one runner behind every ``run_incremental_*``: stream
    ``input_path`` into ``batch_fn(df, epoch_id, state_dir, out_dir)``
    under the leg's checkpoint and return the StreamingQuery."""
    _require_local_fs(work_dir)
    dirs = [os.path.join(work_dir, d) for d in (layout.state, layout.out)]
    for d in dirs:
        os.makedirs(d, exist_ok=True)
    ckpt = os.path.join(work_dir, layout.checkpoint)
    writer = (
        _file_stream(spark, schema, input_path, max_files_per_trigger)
        .writeStream.foreachBatch(lambda df, eid: batch_fn(df, eid, *dirs))
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_log(
    spark: SparkSession, work_dir: str, sub: str, schema: str
) -> DataFrame:
    """A leg's epoch-partitioned output table, read with its declared
    schema (``epoch_id`` too, so an empty and a non-empty log have the
    same types). A stream that wrote no rows leaves only _SUCCESS markers
    (no part files, so no inferable schema) and before the first batch the
    dir does not exist — both mean an EMPTY log, not an error."""
    _require_local_fs(work_dir)
    path = os.path.join(work_dir, sub, "data")
    if not _has_parts(path):
        return empty_frame(spark, schema)
    return spark.read.schema(schema).parquet(path)


def _prefix(col):
    """The state partition of a 64-bit hash column."""
    return F.pmod(col, F.lit(N_STATE_PREFIXES)).cast("int")


def _prior_state(
    spark: SparkSession, path: str, epoch_id: int, prefix_col: str, prefixes
) -> DataFrame:
    """A state table pruned to ``prefixes`` (partition filter, no
    full-state scan per micro-batch) and to epochs other than
    ``epoch_id``: a replayed epoch must not see its own crashed
    half-write."""
    return (
        spark.read.parquet(path)
        .filter(F.col("epoch_id") != F.lit(epoch_id))
        .filter(F.col(prefix_col).isin(sorted(prefixes)))
    )


def _write_epoch(
    df: DataFrame, path: str, epoch_id: int, *prefix_cols: str
) -> None:
    """Epoch-partitioned dynamic-overwrite write: makes every state table
    and log idempotent under at-least-once replay — a re-run epoch
    (including a crash between a leg's writes) overwrites exactly its own
    epoch partitions instead of appending a second copy."""
    df.withColumn("epoch_id", F.lit(epoch_id)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch_id", *prefix_cols).parquet(path)


def _overflow_markers(
    rows: DataFrame, key: str, label: str, count, value_col: str
) -> DataFrame:
    """Pair-log counter rows for capped buckets: one per ``key`` value,
    holding ``count`` in the log's score column ``value_col``. They carry
    an explicit ``is_overflow`` flag so log consumers never mistake a
    counter row for a pair, and keep the ``'_overflow'`` id convention for
    grep-ability (capped, counted, never silent)."""
    return rows.groupBy(key).agg(count.alias(value_col)).select(
        F.lit("_overflow").alias("conv_id_a"),
        F.concat(F.lit(label), F.col(key)).alias("conv_id_b"),
        value_col,
        F.lit(True).alias("is_overflow"),
    )


def _dedup_batch(
    batch: DataFrame, epoch_id: int, state_dir: str, dups_dir: str
) -> None:
    """One micro-batch: assemble -> hash -> split into (seen = duplicate,
    unseen = new state). Runs on the executors; only paths and the batch's
    (tiny, <= N_STATE_PREFIXES) prefix list touch the driver.

    Replay safety without any epoch-probe job: the joins read only PRIOR
    epochs' partitions (epoch_id != current), so a replayed batch computes
    byte-identical dups/firsts from the same deterministic input, and both
    writes dynamic-overwrite exactly their own epoch partitions."""
    spark = batch.sparkSession
    docs = assemble_conversations(batch)
    # the batch's prefix list rides the checkpoint materialization as an
    # Observation metric (the connected_components._truncated_counted
    # pattern): per-trigger fixed cost is the stream's latency floor, and
    # a separate distinct+collect job per trigger is pure overhead
    obs = Observation()
    hashed = docs.select(
        "conv_id",
        F.xxhash64("doc").alias("fhash"),
        "size",
    ).withColumn("hp", _prefix(F.col("fhash"))).observe(
        obs, F.collect_set("hp").alias("hps")
    ).localCheckpoint(eager=True)  # reused by prefix scan + two joins
    state_data = os.path.join(state_dir, "data")
    have_state = _has_parts(state_data)
    if have_state:
        # the state read touches only this batch's own hash prefixes
        seen = _prior_state(spark, state_data, epoch_id, "hp", obs.get["hps"])
        dup_hits = hashed.join(
            seen.select("fhash", F.col("conv_id").alias("first_conv_id")),
            "fhash",
        ).select("conv_id", "fhash", "size", "hp", "first_conv_id")
        new_rows = hashed.join(seen.select("fhash"), "fhash", "left_anti")
    else:
        dup_hits = None
        new_rows = hashed
    # first occurrence per hash inside the batch becomes state; the rest are
    # intra-batch duplicates
    w_first = F.min("conv_id").over(Window.partitionBy("fhash"))
    tagged = new_rows.withColumn("first_conv_id", w_first)
    intra_dups = tagged.filter(F.col("conv_id") != F.col("first_conv_id"))
    dups = (
        dup_hits.unionByName(intra_dups) if dup_hits is not None else intra_dups
    )
    _write_epoch(
        dups.select("conv_id", "fhash", "size", "first_conv_id"),
        os.path.join(dups_dir, "data"),
        epoch_id,
    )
    firsts = tagged.filter(F.col("conv_id") == F.col("first_conv_id")).select(
        "fhash", "conv_id", "size", "hp"
    )
    _write_epoch(firsts, state_data, epoch_id, "hp")


def run_incremental_dedup(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    dedup stream. Returns the StreamingQuery."""
    return _start_leg(
        spark, _DEDUP, TRANSCRIPT_SCHEMA, input_path, work_dir, _dedup_batch,
        available_now, max_files_per_trigger,
    )


DUP_LOG_SCHEMA = (
    "conv_id string, fhash bigint, size int, first_conv_id string, "
    "epoch_id bigint"
)


def read_dup_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """(conv_id, fhash, size, first_conv_id, epoch_id) of every duplicate
    seen; a duplicate-free or not-yet-started stream reads as an EMPTY log
    (see _read_log)."""
    return _read_log(spark, work_dir, _DEDUP.out, DUP_LOG_SCHEMA)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time session windows per user. Works on batch and streaming
    DataFrames alike; on a stream the watermark bounds session state."""
    e = events
    if e.isStreaming:
        e = e.withWatermark(ts_col, watermark)
    return e.groupBy(
        F.col(user_col), F.session_window(F.col(ts_col), gap).alias("session")
    ).agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup (SimHash fuzz pass)
# ---------------------------------------------------------------------------

NEAR_PAIR_SCHEMA = (
    "conv_id_a string, conv_id_b string, hamming int, is_overflow boolean, "
    "epoch_id bigint"
)


def _simhash_batch_fn(
    batch: DataFrame, epoch_id: int, state_dir: str, pairs_dir: str, cfg
) -> None:
    """One micro-batch of the incremental SimHash fuzz pass.

    State is the EXPLODED pigeonhole index: one row per (chunk_id,
    chunk_val) of every conversation's 64-bit signature, partitioned by
    (epoch_id, cp = chunk_val % N_STATE_PREFIXES). The per-batch state
    read is pruned to the batch's own chunk prefixes AND to prior epochs
    (same replay contract as `_dedup_batch`: a re-run epoch never sees its
    own half-written rows, and both writes dynamic-overwrite exactly their
    own epoch partitions — byte-identical under at-least-once replay).

    Pairs per batch = (new x new) through the shared capped+salted
    generator (simhash_candidate_pairs, signatures riding as payload) +
    (new x state) as a pigeonhole equi-join with the 8-byte signatures
    carried on BOTH sides' rows, hamming verified inline — no signature
    re-attach join, no state-side re-read of documents. State-side
    buckets above cfg.max_band_bucket within the pruned slice are
    excluded and COUNTED into the pair log as a (chunk_id-keyed) overflow
    row flagged ``is_overflow = true`` (conv_id_a = '_overflow'; never
    silently dropped, never mistakable for a pair).
    """
    from fast_duplicate_finder_spark.functions.simhash import (
        hamming64,
        simhash_candidate_pairs,
        simhash_chunks,
        simhash_udf,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        shingle_features,
    )

    spark = batch.sparkSession
    docs = assemble_conversations(batch)
    sims = (
        shingle_features(docs, cfg, even_exchange=False)
        .filter(F.size("shset") > 0)
        .select("conv_id", simhash_udf("shset").alias("simhash"))
        .localCheckpoint(eager=True)  # feeds chunks + intra-batch self-join
    )
    n_chunks = cfg.simhash_hamming + 1
    chunks = sims.select(
        "conv_id",
        "simhash",
        F.posexplode(simhash_chunks(F.col("simhash"), n_chunks)).alias(
            "chunk_id", "chunk_val"
        ),
    ).withColumn("cp", _prefix(F.col("chunk_val")))
    # chunk-prefix list rides the checkpoint (see _dedup_batch)
    cp_obs = Observation()
    chunks = chunks.observe(
        cp_obs, F.collect_set("cp").alias("cps")
    ).localCheckpoint(eager=True)

    intra, intra_ovf = simhash_candidate_pairs(
        sims,
        cfg.simhash_hamming,
        max_bucket=cfg.max_band_bucket,
        n_salt=cfg.band_salt_buckets,
        even_exchange=False,  # micro-batch: let AQE coalesce-to-few
    )
    # INTRA-batch capped buckets are counted too — the batch pipeline
    # checkpoints them as the p7b overflow phase; the stream has no phase
    # table, so they ride the pair log like the state-side markers below
    intra = intra.withColumn("is_overflow", F.lit(False))
    intra_markers = _overflow_markers(
        intra_ovf, "chunk_id", "intra_chunk_",
        F.sum("bucket_n").cast("int"), "hamming",
    )
    pairs = intra.unionByName(intra_markers)
    state_data = os.path.join(state_dir, "data")
    if _has_parts(state_data):
        state = _prior_state(
            spark, state_data, epoch_id, "cp", cp_obs.get["cps"]
        )
        w_bucket = Window.partitionBy("chunk_id", "chunk_val")
        state = state.withColumn("bn", F.count("*").over(w_bucket))
        hot = _overflow_markers(
            state.filter(F.col("bn") > cfg.max_band_bucket),
            "chunk_id", "chunk_", F.count("*").cast("int"), "hamming",
        )
        cross = (
            state.filter(F.col("bn") <= cfg.max_band_bucket)
            .select(
                F.col("conv_id").alias("sc"),
                F.col("simhash").alias("ss"),
                "chunk_id",
                "chunk_val",
            )
            .join(
                chunks.select(
                    F.col("conv_id").alias("bc"),
                    F.col("simhash").alias("bs"),
                    "chunk_id",
                    "chunk_val",
                ),
                ["chunk_id", "chunk_val"],
            )
            .filter(F.col("sc") != F.col("bc"))
            .select(
                F.least("sc", "bc").alias("conv_id_a"),
                F.greatest("sc", "bc").alias("conv_id_b"),
                hamming64(F.col("ss"), F.col("bs")).alias("hamming"),
            )
            .filter(F.col("hamming") <= cfg.simhash_hamming)
            .withColumn("is_overflow", F.lit(False))
        )
        pairs = pairs.unionByName(cross).unionByName(hot)
    _write_epoch(pairs.distinct(), os.path.join(pairs_dir, "data"), epoch_id)
    _write_epoch(chunks, state_data, epoch_id, "cp")


def run_incremental_simhash(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    cfg=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    SimHash near-dup stream. Returns the StreamingQuery. Pair semantics
    equal the batch operator's on an uncapped corpus: every pair within
    ``cfg.simhash_hamming`` bits whose members ever co-exist in the stream
    is emitted exactly once (at the later member's epoch)."""
    from fast_duplicate_finder_spark.config import PipelineConfig

    cfg = cfg or PipelineConfig()
    return _start_leg(
        spark, _SIMHASH, TRANSCRIPT_SCHEMA, input_path, work_dir,
        partial(_simhash_batch_fn, cfg=cfg),
        available_now, max_files_per_trigger,
    )


def read_near_pair_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """Every near-dup pair the stream has emitted (see _read_log for the
    empty-log contract)."""
    return _read_log(spark, work_dir, _SIMHASH.out, NEAR_PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# Incremental near-dup (MinHash/LSH + exact-Jaccard verify)
# ---------------------------------------------------------------------------

LSH_PAIR_SCHEMA = (
    "conv_id_a string, conv_id_b string, jaccard double, is_overflow boolean, "
    "epoch_id bigint"
)


def _lsh_batch_fn(
    batch: DataFrame, epoch_id: int, state_dir: str, pairs_dir: str, cfg
) -> None:
    """One micro-batch of the incremental MinHash/LSH near-dup pass — the
    WIDE-payload streaming variant (cf. `_simhash_batch_fn`, whose 8-byte
    signatures ride the join rows). Two state tables:

    * ``bands/data`` — (conv_id, band_id, band_hash) rows partitioned by
      (epoch_id, bp = band_hash % N_STATE_PREFIXES): candidate generation;
      the per-batch read is pruned to the batch's own band prefixes.
    * ``feats/data`` — (conv_id, shset) partitioned by (epoch_id,
      hp = xxhash64(conv_id) % N_STATE_PREFIXES): exact-Jaccard verify
      payload. hp is DERIVABLE FROM THE ID, so the verify read is pruned
      to the prefixes of exactly the state conversations named by the
      surviving candidates — shingle sets are too wide to carry through
      the band join (the measured width rule, PLANS.md), and this layout
      reads back only the needed slice instead of the whole history.

    Pair semantics equal the batch operator's on an uncapped corpus:
    intra-batch pairs through `operators/neardup.minhash_pairs`'s exact
    path (capped+salted band join, array_intersect verify); cross-batch
    candidates from the band-state join (hot state buckets capped +
    counted as ``is_overflow = true`` marker rows), verified with the same
    exact Jaccard. Same replay contract as the exact leg: reads exclude the
    current epoch, writes dynamic-overwrite exactly their own epoch
    partitions — at-least-once replay is byte-identical."""
    from fast_duplicate_finder_spark.functions.minhash import (
        make_minhash_udf,
    )
    from fast_duplicate_finder_spark.operators.lsh import (
        candidate_pairs,
        lsh_band_rows,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        shingle_features,
    )
    from fast_duplicate_finder_spark.operators.verify import verify_jaccard

    spark = batch.sparkSession
    docs = assemble_conversations(batch)
    feats = (
        shingle_features(docs, cfg, even_exchange=False)
        .filter(F.size("shset") > 0)
        .select("conv_id", "shset")
        .localCheckpoint(eager=True)  # verify payload for BOTH pair legs
    )
    mh = make_minhash_udf(cfg.lsh_perms_used, cfg.minhash_seed)
    sigs = feats.select("conv_id", mh("shset").alias("minhash"))
    bp_obs = Observation()  # band-prefix list rides the checkpoint
    bands = (
        lsh_band_rows(sigs, cfg)
        .withColumn("bp", _prefix(F.col("band_hash")))
        .observe(bp_obs, F.collect_set("bp").alias("bps"))
        .localCheckpoint(eager=True)  # self-join + state join + state write
    )

    cands, overflow = candidate_pairs(
        bands, cfg, even_exchange=False  # micro-batch: AQE coalesce-to-few
    )
    intra = verify_jaccard(cands, feats, cfg.jaccard_tau).withColumn(
        "is_overflow", F.lit(False)
    )
    markers = _overflow_markers(
        overflow, "band_id", "band_", F.count("*").cast("double"), "jaccard"
    )
    pairs = intra.unionByName(markers)

    bands_data = os.path.join(state_dir, "bands", "data")
    feats_data = os.path.join(state_dir, "feats", "data")
    # BOTH state tables must exist before the cross-batch path runs: if the
    # first epoch crashed between the bands write and the feats write, the
    # replay would otherwise read a feats dir that does not exist yet and
    # wedge the stream forever. With only this epoch's (excluded) rows in
    # bands state, skipping the cross path loses nothing.
    if _has_parts(bands_data) and _has_parts(feats_data):
        sbands = _prior_state(
            spark, bands_data, epoch_id, "bp", bp_obs.get["bps"]
        )
        w_bucket = Window.partitionBy("band_id", "band_hash")
        sbands = sbands.withColumn("bn", F.count("*").over(w_bucket))
        state_markers = _overflow_markers(
            sbands.filter(F.col("bn") > cfg.max_band_bucket),
            "band_id", "state_band_", F.count("*").cast("double"), "jaccard",
        )
        cross_cand = (
            sbands.filter(F.col("bn") <= cfg.max_band_bucket)
            .select(
                F.col("conv_id").alias("sc"), "band_id", "band_hash"
            )
            .join(
                bands.select(
                    F.col("conv_id").alias("bc"), "band_id", "band_hash"
                ),
                ["band_id", "band_hash"],
            )
            .filter(F.col("sc") != F.col("bc"))
            .select("sc", "bc", _prefix(F.xxhash64("sc")).alias("hp"))
            .distinct()
        )
        hp_obs = Observation()  # state-conv prefixes ride the checkpoint
        cross_cand = cross_cand.observe(
            hp_obs, F.collect_set("hp").alias("hps")
        ).localCheckpoint(eager=True)  # feeds verify join (both sides)
        sfeats = _prior_state(
            spark, feats_data, epoch_id, "hp", hp_obs.get["hps"]
        ).select("conv_id", "shset")
        cross_pairs = (
            cross_cand.join(
                sfeats.select(
                    F.col("conv_id").alias("sc"),
                    F.col("shset").alias("shset_s"),
                ),
                "sc",
            )
            .join(
                feats.select(
                    F.col("conv_id").alias("bc"),
                    F.col("shset").alias("shset_b"),
                ),
                "bc",
            )
            .withColumn(
                "inter",
                F.size(F.array_intersect("shset_s", "shset_b")),
            )
            .withColumn(
                "uni",
                F.size("shset_s") + F.size("shset_b") - F.col("inter"),
            )
            .withColumn(
                "jaccard",
                F.when(
                    F.col("uni") > 0, F.col("inter") / F.col("uni")
                ).otherwise(F.lit(1.0)),
            )
            .filter(F.col("jaccard") >= cfg.jaccard_tau)
            .select(
                F.least("sc", "bc").alias("conv_id_a"),
                F.greatest("sc", "bc").alias("conv_id_b"),
                "jaccard",
            )
            .withColumn("is_overflow", F.lit(False))
        )
        pairs = pairs.unionByName(cross_pairs).unionByName(state_markers)

    _write_epoch(pairs.distinct(), os.path.join(pairs_dir, "data"), epoch_id)
    _write_epoch(bands, bands_data, epoch_id, "bp")
    _write_epoch(
        feats.withColumn("hp", _prefix(F.xxhash64("conv_id"))),
        feats_data,
        epoch_id,
        "hp",
    )


def run_incremental_lsh(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    cfg=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    MinHash/LSH near-dup stream. Returns the StreamingQuery."""
    from fast_duplicate_finder_spark.config import PipelineConfig

    cfg = cfg or PipelineConfig()
    return _start_leg(
        spark, _LSH, TRANSCRIPT_SCHEMA, input_path, work_dir,
        partial(_lsh_batch_fn, cfg=cfg),
        available_now, max_files_per_trigger,
    )


def read_lsh_pair_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """Every MinHash/LSH near-dup pair the stream has emitted (see
    _read_log for the empty-log contract)."""
    return _read_log(spark, work_dir, _LSH.out, LSH_PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# Incremental clustering: duplicate-pair stream -> cluster labels
# ---------------------------------------------------------------------------

PAIR_STREAM_SCHEMA = "conv_id_a string, conv_id_b string, is_overflow boolean"

CLUSTER_LABEL_SCHEMA = "conv_id string, label string"


def _resolve_labels(
    spark: SparkSession,
    merges_data: str,
    labels: DataFrame,
    epoch_id: int,
    prune_rounds: int = 4,
) -> DataFrame:
    """Follow the merge DAG from ``labels.label`` to each current root.

    Every stored merge edge pointed at the merging epoch's then-current
    root, so a label's chase length equals the number of LATER epochs that
    re-merged its component. Two regimes:

    * COMMON (chase depth ≤ ``prune_rounds``, i.e. recently compacted or
      rarely re-merged): per-hop merge-log reads pruned to the mp prefixes
      of the touched labels (the same partition-filter discipline as every
      other state read), one hop per round;
    * DEEP (long-lived stream, no compaction): after ``prune_rounds``
      pruned hops, fall back to ONE full-log compressed map
      (_compressed_merge_map: path doubling, log2(depth) rounds over the
      small one-row-per-dethroned-root log) and join it once — resolution
      therefore never fails on chase depth, no matter how many epochs have
      re-merged a hot component. compact_cluster_state resets the depth
      (and the fallback's full-log read cost) to zero.

    Label order strictly decreases along every edge (roots are component
    minima), so the DAG is acyclic and both regimes terminate.
    """
    if not _has_parts(merges_data):
        return labels
    for _ in range(prune_rounds):
        obs = Observation()
        cur = (
            labels.withColumn("mp", _prefix(F.xxhash64("label")))
            .observe(obs, F.collect_set("mp").alias("mps"))
            .localCheckpoint(eager=True)
        )
        prefixes = obs.get["mps"]
        if not prefixes:
            return cur.drop("mp")
        step = _prior_state(
            spark, merges_data, epoch_id, "mp", prefixes
        ).select(F.col("label_from").alias("label"), "label_to")
        hop = Observation()
        remapped = (
            cur.drop("mp")
            .join(step, "label", "left")
            .observe(
                hop,
                F.sum(F.col("label_to").isNotNull().cast("long")).alias(
                    "hits"
                ),
            )
            .localCheckpoint(eager=True)
        )
        labels = remapped.select(
            "conv_id", F.coalesce("label_to", "label").alias("label")
        )
        if not int(hop.get["hits"] or 0):
            return labels
    # deep chain: one full-log path-doubled map resolves every label in a
    # single join (the map sends any dethroned root to its FINAL root, so
    # partially-advanced labels finish in one hop)
    m = _compressed_merge_map(spark, merges_data, exclude_epoch=epoch_id)
    if m is None:  # raced a compaction's log removal: labels are current
        return labels
    return labels.join(
        m.select(F.col("label_from").alias("label"), "label_to"),
        "label",
        "left",
    ).select("conv_id", F.coalesce("label_to", "label").alias("label"))


def _clusters_batch(
    batch: DataFrame, epoch_id: int, base_dir: str, merges_dir: str
) -> None:
    """One micro-batch of duplicate PAIRS -> incrementally-maintained
    cluster labels, without re-running global connected components.

    State is an epoch-append-only union-find:

    * ``base`` (conv_id, label, epoch_id, cp) — each conv's label at FIRST
      sight (the component minimum at that time), partitioned by
      (epoch_id, conv-id prefix);
    * ``merges`` (label_from, label_to, epoch_id, mp) — one edge per
      component whose minimum dropped when batches connected it to a
      smaller id, partitioned by (epoch_id, label_from prefix). Edges
      always point old-root -> new-root, so current labels are the merge
      DAG's closure over base labels.

    Per batch: resolve the touched convs' current roots (prefix-pruned
    reads), run the EXISTING connected_components operator over just the
    touched subgraph — the batch's pairs plus one (conv -> current root)
    edge per known conv, so each current root stands in for its entire
    membership and merging relabels every member transitively — then
    append base rows for first-seen convs and merge edges for dethroned
    roots.

    Replay contract identical to the other legs (_dedup_batch): every
    state read excludes the batch's own epoch and both writes
    dynamic-overwrite exactly their own epoch partitions, so an
    at-least-once re-run (including a crash between the two writes)
    recomputes byte-identical rows from the same prior state.
    """
    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )

    spark = batch.sparkSession
    pairs = (
        batch.filter(~F.coalesce(F.col("is_overflow"), F.lit(False)))
        .select("conv_id_a", "conv_id_b")
        # marker convention, BOTH sides: our own legs put '_overflow' in
        # conv_id_a, but a foreign pair feed (or a flag-null row) may order
        # the marker second — a '_'-prefixed id must never be clustered as
        # a real conv, let alone become a component label
        .filter(~F.col("conv_id_a").startswith("_"))
        .filter(~F.col("conv_id_b").startswith("_"))
        .filter(F.col("conv_id_a") != F.col("conv_id_b"))
        .distinct()
    )
    obs = Observation()
    ids = (
        pairs.select(F.col("conv_id_a").alias("conv_id"))
        .union(pairs.select(F.col("conv_id_b")))
        .distinct()
        .withColumn("cp", _prefix(F.xxhash64("conv_id")))
        .observe(
            obs,
            F.collect_set("cp").alias("cps"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint(eager=True)  # prefix list + known split + CC input
    )
    if not int(obs.get["n"] or 0):
        return  # marker-only/empty batch: nothing to write
    base_data = os.path.join(base_dir, "data")
    merges_data = os.path.join(merges_dir, "data")
    known = None
    if _has_parts(base_data):
        known = (
            _prior_state(spark, base_data, epoch_id, "cp", obs.get["cps"])
            .select("conv_id", "label")
            .join(ids.select("conv_id"), "conv_id")
        )
        known = _resolve_labels(
            spark, merges_data, known, epoch_id
        ).localCheckpoint(eager=True)  # edges + merge rows + anti-join
    edges = pairs
    if known is not None:
        edges = edges.unionByName(
            known.filter(F.col("conv_id") != F.col("label")).select(
                F.col("conv_id").alias("conv_id_a"),
                F.col("label").alias("conv_id_b"),
            )
        )
    comp = connected_components(edges)  # (conv_id, component=min id)
    new_ids = (
        ids.join(known.select("conv_id"), "conv_id", "left_anti")
        if known is not None
        else ids
    )
    base_new = new_ids.join(comp, "conv_id").select(
        "conv_id", F.col("component").alias("label"), "cp"
    )
    _write_epoch(base_new, base_data, epoch_id, "cp")
    if known is not None:
        merges_new = (
            known.select(F.col("label").alias("label_from"))
            .distinct()
            .join(
                comp.select(
                    F.col("conv_id").alias("label_from"),
                    F.col("component").alias("label_to"),
                ),
                "label_from",
            )
            .filter(F.col("label_from") != F.col("label_to"))
            .withColumn("mp", _prefix(F.xxhash64("label_from")))
        )
        _write_epoch(merges_new, merges_data, epoch_id, "mp")


def run_incremental_clusters(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    clustering stream over a feed of duplicate pairs — any other leg's
    pair output re-published as flat parquet files of
    ``(conv_id_a, conv_id_b[, is_overflow])`` (marker rows and ``_``-prefixed
    ids are skipped). ``input_path`` follows the stream_transcripts listing
    rules (flat files or a glob). Returns the StreamingQuery; read results
    with read_cluster_labels."""
    return _start_leg(
        spark, _CLUSTERS, PAIR_STREAM_SCHEMA, input_path, work_dir,
        _clusters_batch, available_now, max_files_per_trigger,
    )


def _compressed_merge_map(
    spark: SparkSession,
    merges_data: str,
    max_rounds: int = 20,
    exclude_epoch: int | None = None,
) -> DataFrame | None:
    """(label_from -> current root) for every label that ever lost a merge:
    path-doubling over the whole merge DAG — both join sides compress each
    round, so chase depth halves per round and ``max_rounds=20`` covers
    chains ~10^6 deep. Small table (one row per dethroned root), joined
    exactly once against ``base`` (read_cluster_labels) or a batch's known
    labels (_resolve_labels' deep-chain fallback, which passes
    ``exclude_epoch`` so a replayed epoch never reads its own rows)."""
    if not _has_parts(merges_data):
        return None
    m = spark.read.parquet(merges_data)
    if exclude_epoch is not None:
        m = m.filter(F.col("epoch_id") != F.lit(exclude_epoch))
    m = m.select("label_from", "label_to")
    for _ in range(max_rounds):
        hop = Observation()
        nxt = (
            m.join(
                m.select(
                    F.col("label_from").alias("label_to"),
                    F.col("label_to").alias("_next"),
                ),
                "label_to",
                "left",
            )
            .observe(
                hop,
                F.sum(F.col("_next").isNotNull().cast("long")).alias("hits"),
            )
            .localCheckpoint(eager=True)
        )
        m = nxt.select(
            "label_from", F.coalesce("_next", "label_to").alias("label_to")
        )
        if not int(hop.get["hits"] or 0):
            return m
    raise RuntimeError(
        f"merge-map compression did not converge in {max_rounds} doubling "
        "rounds — compact the cluster state"
    )


def read_cluster_labels(spark: SparkSession, work_dir: str) -> DataFrame:
    """(conv_id, label) for every conv that ever appeared in a pair; label
    is the component's minimum conv_id — exactly connected_components'
    output over the union of all pair batches streamed so far. (Read
    between triggers, like the other read_* utilities: a half-written
    epoch is excluded by the NEXT batch's reads, not by this one.)"""
    labels = _read_log(
        spark, work_dir, _CLUSTERS.state, CLUSTER_LABEL_SCHEMA
    ).select("conv_id", "label")
    m = _compressed_merge_map(
        spark, os.path.join(work_dir, _CLUSTERS.out, "data")
    )
    if m is None:
        return labels
    return labels.join(
        m.select(F.col("label_from").alias("label"), "label_to"),
        "label",
        "left",
    ).select("conv_id", F.coalesce("label_to", "label").alias("label"))


COMPACTED_EPOCH = -2  # reserved epoch for rows folded by compaction


def compact_cluster_state(spark: SparkSession, work_dir: str) -> None:
    """Fold the merge-DAG closure into ``base`` and truncate the merge log.

    The per-batch chase follows only the merges appended SINCE each label
    was written, but a cold read (and a long-lived stream's worst-case
    label) walks the full history — compaction re-bases every conv on its
    CURRENT root under reserved epoch ``COMPACTED_EPOCH`` and removes the
    log, resetting chase depth to zero. The parquet analogue of the
    Iceberg MERGE maintenance the docstrings above defer to.

    MUST run against a QUIESCED stream whose last epoch committed cleanly:
    a pending at-least-once replay of epoch E excludes only epoch E's own
    partitions, and would read its crashed half-write back as prior state
    once folded into ``COMPACTED_EPOCH``; _require_quiesced refuses that
    state before any rewrite. (A committed epoch's replay never happens;
    re-running a committed epoch by hand stays a no-op — every conv
    resolves as known with its current root, so nothing is rewritten.)

    Crash-safe through _crash_safe_swap — the rewrite lands in
    ``.compact`` (completion marked by parquet's _SUCCESS), the live table
    is renamed ASIDE, the rewrite renamed INTO PLACE, and cleanup happens
    last; every window leaves the old state intact or a completed rewrite
    recoverable here. Ordering note: the merge log is removed only AFTER
    the base swap, and a crash that leaves it behind is harmless — its
    ``label_from`` values are dethroned roots that no longer occur as
    labels in the compacted base, so the closure join matches nothing."""
    import shutil

    _require_quiesced(work_dir, _CLUSTERS)
    base_data = os.path.join(work_dir, _CLUSTERS.state, "data")
    merges_data = os.path.join(work_dir, _CLUSTERS.out, "data")

    def write_rewrite(tmp: str) -> bool:
        resolved = read_cluster_labels(spark, work_dir).withColumn(
            "cp", _prefix(F.xxhash64("conv_id"))
        )
        resolved.withColumn("epoch_id", F.lit(COMPACTED_EPOCH)).write.mode(
            "overwrite"
        ).partitionBy("epoch_id", "cp").parquet(tmp)
        return True

    _crash_safe_swap(
        base_data,
        write_rewrite,
        on_complete=lambda: shutil.rmtree(merges_data, ignore_errors=True),
    )


def _fold_epoch_partitions(
    spark: SparkSession, data_path: str, partition_cols: list[str]
) -> None:
    """Rewrite an epoch-partitioned state table under the single reserved
    epoch ``COMPACTED_EPOCH``, preserving every row and the secondary
    prefix partitioning.

    Why: prefix pruning bounds the BYTES each micro-batch reads, but not
    the file/partition COUNT — every epoch's dynamic-overwrite adds one
    ``epoch_id=K`` directory (times N_STATE_PREFIXES prefix subdirs), so a
    long-lived stream (10^5 epochs) degrades every state read's listing
    and planning even though the data volume is flat. Folding resets the
    directory count to N_STATE_PREFIXES + 1 without changing a single row:
    the per-batch readers filter ``epoch_id != current`` and
    ``COMPACTED_EPOCH`` (-2) is never a real epoch id, so folded rows are
    always read back as prior state. The parquet analogue of Iceberg's
    rewrite_data_files maintenance, same as compact_cluster_state.

    Crash-safe through _crash_safe_swap: the rewrite lands in
    ``.compact`` (completion marked by parquet's _SUCCESS), the live table
    is renamed ASIDE, the rewrite renamed INTO PLACE, cleanup last. Every
    crash window leaves either the old table in place or a completed
    rewrite recoverable on the next call. No-ops (without a Spark job)
    when the table is already a single compacted epoch."""

    def write_rewrite(tmp: str) -> bool:
        visible = [
            d for d in os.listdir(data_path) if not d.startswith(("_", "."))
        ]
        if visible == [f"epoch_id={COMPACTED_EPOCH}"]:
            return False  # already compacted
        folded = (
            spark.read.parquet(data_path)
            .drop("epoch_id")
            .withColumn("epoch_id", F.lit(COMPACTED_EPOCH))
            # one task -> one part file per (epoch, prefix) directory: the
            # point of compaction is FILE count, not just directory count —
            # without this the fold preserves the read's task parallelism
            # and leaves ~N_epochs small files inside each folded prefix
            # dir. The prefix IS a hash slice, so the shuffle is even by
            # construction.
            .repartition("epoch_id", *partition_cols)
        )
        folded.write.mode("overwrite").partitionBy(
            "epoch_id", *partition_cols
        ).parquet(tmp)
        return True

    _crash_safe_swap(data_path, write_rewrite)


def _crash_safe_swap(
    data_path: str, write_rewrite, on_complete=None
) -> None:
    """The ONE crash-safe rewrite-and-swap state machine (shared by
    _fold_epoch_partitions and compact_cluster_state — two hand-maintained
    copies of this dance would have to keep their recovery branches in
    lockstep).

    ``write_rewrite(tmp)`` writes the replacement table into ``tmp``
    (parquet's _SUCCESS marks completion) and may return False to abort a
    no-op rewrite; ``on_complete`` (optional) runs once the rewrite is the
    live table — on the normal path AND when recovering a crash between
    the renames. Windows: a crash before the write leaves the live table
    untouched (stale ``tmp`` without _SUCCESS is removed next call); a
    crash between the renames leaves no live table but a COMPLETED
    rewrite, recovered here; a crash before final cleanup leaves ``.old``
    behind, removed next call."""
    import shutil

    tmp = data_path + ".compact"
    old = data_path + ".old"
    if not os.path.exists(data_path):
        # crashed between the renames iff the rewrite had completed
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.replace(tmp, data_path)
            shutil.rmtree(old, ignore_errors=True)
            if on_complete is not None:
                on_complete()
        return
    shutil.rmtree(old, ignore_errors=True)  # crash before final cleanup
    if not _has_parts(data_path):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(tmp, ignore_errors=True)  # stale/aborted rewrite
    if not write_rewrite(tmp):
        return
    os.replace(data_path, old)
    os.replace(tmp, data_path)
    if on_complete is not None:
        on_complete()
    shutil.rmtree(old)


def _require_quiesced(work_dir: str, layout: _Layout) -> None:
    """Enforce the compactors' contract before any rewrite: ``work_dir``
    is local (see _require_local_fs) and the leg's stream checkpoint holds
    no pending replay — its highest ``offsets/N`` has a matching
    ``commits/N``. An uncommitted epoch is replayed at least once on
    restart, and folding its half-write into ``COMPACTED_EPOCH`` would
    hand the replay its own rows as prior state. A missing checkpoint
    passes: state driven batch by batch (``_*_batch``) has none."""
    _require_local_fs(work_dir)
    ckpt = os.path.join(work_dir, layout.checkpoint)

    def batch_ids(sub: str) -> set[int]:
        d = os.path.join(ckpt, sub)
        if not os.path.isdir(d):
            return set()
        return {int(n) for n in os.listdir(d) if n.isdigit()}

    offsets = batch_ids("offsets")
    if offsets and max(offsets) not in batch_ids("commits"):
        raise RuntimeError(
            f"stream checkpoint {ckpt} has uncommitted batch {max(offsets)}: "
            "compaction requires a quiesced stream whose last epoch "
            "committed; restart the stream to replay it, then compact"
        )


def _compact_leg(spark: SparkSession, work_dir: str, layout: _Layout) -> None:
    _require_quiesced(work_dir, layout)
    for rel, prefix_col in layout.folds:
        _fold_epoch_partitions(
            spark, os.path.join(work_dir, layout.state, rel), [prefix_col]
        )


def compact_dedup_state(spark: SparkSession, work_dir: str) -> None:
    """Fold the exact leg's seen-hash state (``state/data``, partitioned by
    (epoch_id, hp)) into the reserved ``COMPACTED_EPOCH``.

    MUST run against a QUIESCED stream whose last epoch committed cleanly
    (same contract as compact_cluster_state, enforced by
    _require_quiesced): a pending at-least-once replay of epoch E excludes
    only epoch E's own partitions, and would read its crashed half-write
    back as prior state once folded — for this leg that means the
    replayed convs would join against their own hashes and be logged as
    duplicates of themselves. Requires a local-filesystem ``work_dir``
    (rename dance; see _require_local_fs)."""
    _compact_leg(spark, work_dir, _DEDUP)


def compact_simhash_state(spark: SparkSession, work_dir: str) -> None:
    """Fold the SimHash leg's exploded chunk-index state
    (``sim_state/data``, partitioned by (epoch_id, cp)) into the reserved
    ``COMPACTED_EPOCH``. Quiesce + local-FS contract as
    compact_dedup_state; a folded half-write would hand a replayed epoch
    its own chunks as prior state (self-pairs are filtered by the
    ``sc != bc`` guard, but the epoch's pair set would stop being
    byte-identical under replay)."""
    _compact_leg(spark, work_dir, _SIMHASH)


def compact_lsh_state(spark: SparkSession, work_dir: str) -> None:
    """Fold BOTH of the LSH leg's state tables — ``lsh_state/bands/data``
    (epoch_id, bp) and ``lsh_state/feats/data`` (epoch_id, hp) — into the
    reserved ``COMPACTED_EPOCH``. Quiesce + local-FS contract as
    compact_dedup_state.

    Two tables, one call: each folds independently through the same
    crash-safe rename dance, and a crash BETWEEN them (bands compacted,
    feats not) is consistent by construction — folding changes no row, so
    the band-state join and the named-slice feats read see exactly the
    rows they saw before; the next call finishes the feats fold (and
    no-ops on bands)."""
    _compact_leg(spark, work_dir, _LSH)
