from __future__ import annotations

import json
import os
import shutil

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.plans.report import (
    file_sets_report,
    jsonify_report,
    stringify_report,
)

CFG = PipelineConfig()


def _collect_sorted(df):
    cols = df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = generate_transcripts(spark, n_convs=200, seed=42)

    rep1 = run_pipeline(spark, df, CFG, ckpt, resume=True)
    assert rep1.summary["file_sets"] > 0
    assert rep1.summary["wasted_space_chars"] > 0
    clusters1 = _collect_sorted(rep1.near_clusters)
    exact1 = _collect_sorted(rep1.exact_clusters)

    # resume: all phases skip, outputs byte-identical
    rep2 = run_pipeline(spark, df, CFG, ckpt, resume=True)
    resumed = [m for m in rep2.metrics if m.get("resumed")]
    assert len(resumed) >= 8, rep2.metrics
    assert _collect_sorted(rep2.near_clusters) == clusters1
    assert _collect_sorted(rep2.exact_clusters) == exact1

    # kill-after-phase-k: wipe the pair phase checkpoint onward, recompute;
    # a leg whose overflow side table is gone recomputes as a whole
    for phase in ["p7b_simhash_overflow", "p7_pairs", "p8_clusters",
                  "report_summary"]:
        shutil.rmtree(os.path.join(ckpt, phase), ignore_errors=True)
    rep3 = run_pipeline(spark, df, CFG, ckpt, resume=True)
    assert _collect_sorted(rep3.near_clusters) == clusters1
    assert rep3.summary == rep1.summary
    by_phase = {m["phase"]: m for m in rep3.metrics}
    assert not by_phase["p7b_simhash_pairs"].get("resumed")
    assert "seconds" in by_phase["p7b_simhash_pairs"]
    assert by_phase["p7a_minhash_pairs"].get("resumed")
    assert os.path.exists(
        os.path.join(ckpt, "p7b_simhash_overflow", "_MANIFEST.json")
    )

    # manifests carry lineage + per-partition counters
    with open(os.path.join(ckpt, "p3_exact", "_MANIFEST.json")) as f:
        m = json.load(f)
    assert m["lineage"] == ["p2_partial"]
    assert m["rows"] == sum(m["partitions"].values())
    assert m["fingerprint"] == CFG.fingerprint()

    # config change invalidates checkpoints (different fingerprint)
    cfg2 = PipelineConfig(jaccard_tau=0.8)
    rep4 = run_pipeline(spark, df, cfg2, ckpt, resume=True)
    assert not any(m.get("resumed") for m in rep4.metrics)


def test_report_sinks(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=100, seed=42)
    rep = run_pipeline(
        spark, df, CFG, str(tmp_path / "c2"), with_near_dup=False,
        with_groups=False,
    )
    fs = [r.asDict() for r in file_sets_report(rep.exact_clusters).collect()]
    text = stringify_report(fs, [], rep.summary)
    assert "Set 1 (" in text and "Summary:" in text
    js = json.loads(jsonify_report(fs, [], rep.summary))
    assert js["success"] and js["report"]["summary"]["file_sets"] == len(
        {f["cluster_id"] for f in fs}
    )
