"""Benchmark harness.

Default mode (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "turns_per_sec": ...}

``--compare REF_JSON`` mode: run the headline suite, then append a
mechanical per-query comparison against a recorded ``BENCH_r*.json``
(median-ratio host factor, flagged outliers, noise-band-vs-regression
verdict) under a ``compare`` key — see ``_compare``.

``--scaling`` mode: delegates to the documented N-vs-4N protocol
(``scripts/scaling_ladder.py`` — local-cluster executor JVMs, warm-up run
per leg, interleaved best-of-R; results belong in BENCH/BASELINE.md).

``--scaling-threads`` mode: the cheaper superseded threads-in-one-JVM
ladder (local[2/8/32] on the same corpus); writes
``BENCH/threads_ladder.json`` only — it must NOT overwrite the
local-cluster numbers in BENCH/BASELINE.md (round-2 lesson: one shared
heap + oversubscribed vCPUs measures the host, not the engine).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "exact_dup_clusters",
    "transcript_assembly_clusters",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "winnow_span_candidates",
    "connected_components_exact",
    "group_signature_dups",
    "embedding_ann_lsh",
    "embedding_ann_multitable",
    "events_sessionize",
    "tpch_q1",
    "tpch_q3",
    "lang_id_confusion",
    "regex_token_counts",
    "embedding_ivf_topk",
    "multimodal_meta",
]


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _count_turns(spark, sf_dir: str) -> int:
    """Corpus size proxy for turns/sec: total derived 10-word turns of the
    planted dup corpus (what transcript_assembly_clusters processes)."""
    from pyspark.sql import functions as F
    from fast_duplicate_finder_spark.queries import dup_corpus

    return (
        dup_corpus(spark, sf_dir)
        .select(F.ceil(F.size(F.split("text", " ")) / 10).alias("nt"))
        .agg(F.sum("nt"))
        .collect()[0][0]
    )


def _load_ref(ref_path: str) -> dict:
    """The reference of ``--compare``: a recorded BENCH_r*.json, bare or
    wrapped under ``parsed``. Exits non-zero when it carries no per-query
    timings, so a bad reference fails loudly."""
    with open(ref_path) as f:
        ref = json.load(f)
    if "queries" not in ref and isinstance(ref.get("parsed"), dict):
        ref = ref["parsed"]
    if not isinstance(ref.get("queries"), dict):
        sys.exit(f"--compare {ref_path}: no 'queries' dict in the reference")
    return ref


def _compare(per_query: dict[str, float], ref_path: str) -> dict:
    """Mechanical regression call against a recorded BENCH_r*.json.

    The r3<->r4 total comparison (19.8 -> 25.5 s) was only adjudicable by
    prose uniformity arguments; this encodes that heuristic: a HOST window
    shifts every query by a common factor, a PLAN regression is
    query-shaped. Per query, ratio = current_best / recorded_best; the
    MEDIAN ratio estimates the host factor; a query is flagged only when
    its ratio exceeds the median by >35% AND it lost >0.5 s beyond the
    host-factor prediction (sub-second queries live at the noise floor —
    identical suites on this shared host spread 42.8-67.7 s in round 2).
    Verdict 'noise-band' = totals may differ but uniformly; 'regression'
    names the queries that moved on their own."""
    import statistics

    ref = _load_ref(ref_path)
    ref_q = ref["queries"]
    common = sorted(set(per_query) & set(ref_q))
    if not common:
        # no shared query: a verdict would be 'noise-band' by default
        sys.exit(f"--compare {ref_path}: no query in common with the ref")
    # a recorded 0.0 (sub-millisecond query rounded away) cannot form a
    # ratio but must not be silently exempt from regression detection
    ratios = {q: round(per_query[q] / ref_q[q], 3) for q in common if ref_q[q]}
    zero_ref = [q for q in common if not ref_q[q]]
    host_factor = round(statistics.median(ratios.values()), 3) if ratios else 1.0
    flagged = sorted(
        [
            q
            for q, r in ratios.items()
            if r > host_factor * 1.35
            and per_query[q] - host_factor * ref_q[q] > 0.5
        ]
        + [q for q in zero_ref if per_query[q] > 0.5]
    )
    return {
        "ref": os.path.basename(ref_path),
        "ref_total": ref.get("value"),
        "per_query_ratio": ratios,
        "host_factor_median_ratio": host_factor,
        "flagged": flagged,
        "only_in_current": sorted(set(per_query) - set(ref_q)),
        "only_in_ref": sorted(set(ref_q) - set(per_query)),
        "verdict": (
            "regression: " + ", ".join(flagged) if flagged else "noise-band"
        ),
    }


def run_headline(compare_path: str | None = None) -> None:
    # validate the compare target BEFORE the 20-70 s suite runs: a typo'd
    # path failing after the benchmark would throw the whole run away
    if compare_path is not None:
        _load_ref(compare_path)
    from fast_duplicate_finder_spark.queries import QUERIES
    from fast_duplicate_finder_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=max(CPUS, 8))
    # warm the JVM/Arrow paths once so per-query numbers measure the plan,
    # not first-call initialization: one JVM-only query, plus one trivial
    # pandas UDF across all cores (spawns the Python workers and imports
    # pandas/numpy in each — otherwise the first UDF query pays ~30-45 s)
    QUERIES["exact_dup_clusters"](spark, SF_DIR).count()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    _warm = F.pandas_udf(lambda s: s, T.LongType())

    spark.range(CPUS * 4).repartition(CPUS).select(_warm("id")).count()

    # best-of-2 per query (two full passes over the suite): identical
    # back-to-back suites on this shared host were measured 67.7 s vs
    # 42.8 s — min-per-query estimates the plan's capability, not the
    # noisy neighbor's. Row counts are asserted identical across passes.
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    rows_seen: dict[str, int] = {}
    for pass_i in range(2):
        for name in HEADLINE:
            t0 = time.perf_counter()
            n = QUERIES[name](spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            passes[name].append(round(dt, 3))
            if name in rows_seen and rows_seen[name] != n:
                raise AssertionError(
                    f"{name}: non-deterministic rows across passes "
                    f"({rows_seen[name]} vs {n})"
                )
            rows_seen[name] = n
            print(
                f"# pass{pass_i} {name}: {dt:.2f}s ({n} rows)",
                file=sys.stderr,
            )
    # `queries` stays {name: best} (the driver contract); `passes` carries
    # every raw pass so cross-round comparisons can separate plan change
    # from host noise without consulting prose (round-3 VERDICT #8)
    per_query = {name: min(ts) for name, ts in passes.items()}
    total = sum(per_query.values())
    turns = _count_turns(spark, SF_DIR)
    spark.stop()
    out = {
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "runs_per_query": 2,
        "aggregation": "best-of-passes per query",
        "queries": per_query,
        "passes": passes,
        "sf": _sf_of(SF_DIR),
        "corpus_turns": turns,
        "turns_per_sec": round(turns / total, 1) if total else None,
    }
    if compare_path:
        out["compare"] = _compare(per_query, compare_path)
    print(json.dumps(out))


def _pipeline_leg(cores: int, corpus_path: str, ckpt_base: str) -> None:
    """One full dedup-pipeline run at a given parallelism (subprocess body);
    prints one JSON line."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
    from fast_duplicate_finder_spark.session import get_spark

    ckpt = os.path.join(ckpt_base, f"cores{cores}")
    shutil.rmtree(ckpt, ignore_errors=True)
    spark = get_spark(f"bench-scale-{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    transcripts = spark.read.parquet(corpus_path)
    n_turns = transcripts.count()
    # spawn + warm the Python UDF workers before the clock starts (a real
    # cluster's executors are long-running; cold 32-worker spawn storms
    # were measured adding 30-80 s to whichever UDF phase ran first)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    _warm = F.pandas_udf(lambda s: s, T.LongType())
    spark.range(cores * 4).repartition(cores).select(_warm("id")).count()
    t0 = time.perf_counter()
    rep = run_pipeline(
        spark, transcripts, PipelineConfig(), ckpt, resume=False
    )
    dt = time.perf_counter() - t0
    out = {
        "cores": cores,
        "seconds": round(dt, 2),
        "turns": n_turns,
        "turns_per_sec": round(n_turns / dt, 1),
        "summary": rep.summary,
        "phase_seconds": {
            m["phase"]: m["seconds"] for m in rep.metrics if "seconds" in m
        },
    }
    spark.stop()
    print(json.dumps(out))


def _pipeline_run(cores: int, corpus_path: str, ckpt_base: str) -> dict:
    """Run one pipeline leg in a FRESH subprocess: PySpark reuses the JVM
    gateway across sessions inside one Python process, so back-to-back legs
    would share (and progressively degrade) one heap — measured as the
    second leg running ~1.5x slower regardless of which config it was."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scaling-leg",
         str(cores), corpus_path, ckpt_base],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run_scaling(
    n_convs: int = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "120000")),
) -> None:
    """SUPERSEDED thread-ladder (kept as a cheap smoke check; the gate
    evidence is scripts/scaling_ladder.py's local-cluster protocol): each
    leg runs the FULL pipeline on identical input in a fresh JVM. Two
    ladders are measured:

    * local[2] -> local[8]  — the faithful proxy on this 32-vCPU shared-host
      sandbox: both legs' threads get whole cores, like separate executors.
    * local[8] -> local[32] — reported too, but local[32] oversubscribes the
      (shared, firecracker) host: measured 40% kernel time from futex/GC
      spin once 32 JVM threads + 32 Python workers contend, which separate
      executors on separate machines do not share.
    """
    from fast_duplicate_finder_spark.corpus import generate_transcripts_distributed
    from fast_duplicate_finder_spark.session import get_spark

    base = "/tmp/fdf_bench"
    corpus_path = os.path.join(base, f"corpus_{n_convs}")
    if not os.path.exists(corpus_path):
        spark = get_spark("bench-gen", cores=CPUS)
        generate_transcripts_distributed(spark, n_convs, partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        spark.stop()

    # best-of-2 per leg: the sandbox shares its host and identical legs
    # were measured 1.5-4x apart minutes apart; peak sustained throughput
    # is the meaningful figure for a noisy-neighbor box
    def best(cores: int) -> dict:
        runs = [_pipeline_run(cores, corpus_path, base) for _ in range(2)]
        return max(runs, key=lambda r: r["turns_per_sec"])

    legs = {c: best(c) for c in (2, 8, 32)}
    eff_2_8 = round(
        legs[8]["turns_per_sec"] / (4 * legs[2]["turns_per_sec"]), 3
    )
    eff_8_32 = round(
        legs[32]["turns_per_sec"] / (4 * legs[8]["turns_per_sec"]), 3
    )
    result = {
        "local2": legs[2],
        "local8": legs[8],
        "local32": legs[32],
        "scaling_efficiency_2_to_8": eff_2_8,
        "scaling_efficiency_8_to_32": eff_8_32,
    }
    print(json.dumps(result))

    os.makedirs("BENCH", exist_ok=True)
    # JSON artifact only: the headline BENCH/BASELINE.md carries the
    # local-cluster (real executor JVMs) protocol from
    # scripts/scaling_ladder.py and must not be clobbered by this
    # superseded single-JVM proxy.
    with open("BENCH/threads_ladder.json", "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    if "--scaling-leg" in sys.argv:
        i = sys.argv.index("--scaling-leg")
        _pipeline_leg(int(sys.argv[i + 1]), sys.argv[i + 2], sys.argv[i + 3])
    elif "--scaling-threads" in sys.argv:
        run_scaling()
    elif "--scaling" in sys.argv:
        import subprocess

        extra = [a for a in sys.argv[1:] if a != "--scaling"]
        # honor the documented corpus-size knob (otherwise the ladder's
        # own 800k-conv default silently replaces a requested small run)
        if (
            "SPARK_GRAFT_SCALE_CONVS" in os.environ
            and "--n-convs" not in extra
        ):
            extra += ["--n-convs", os.environ["SPARK_GRAFT_SCALE_CONVS"]]
        sys.exit(
            subprocess.call(
                [
                    sys.executable,
                    os.path.join(
                        os.path.dirname(os.path.abspath(__file__)),
                        "scripts",
                        "scaling_ladder.py",
                    ),
                ]
                + extra
            )
        )
    elif "--compare" in sys.argv:
        i = sys.argv.index("--compare")
        if i + 1 >= len(sys.argv):
            sys.exit("usage: bench.py --compare RECORDED_BENCH.json")
        run_headline(compare_path=sys.argv[i + 1])
    else:
        run_headline()
