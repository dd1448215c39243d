"""Checkpoint-resume + lineage metrics behavior."""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from python_fmask_spark import pipeline  # noqa: E402
from python_fmask_spark.plans.lineage import StageRunner  # noqa: E402
from python_fmask_spark.sources import register_views  # noqa: E402

CLASSIFY_STAGES = {"pass1", "px", "dims", "ident", "final_class"}


def test_stage_runner_resume(spark, sf_small):
    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        runner = StageRunner(spark, wd, "t1")
        calls = []

        def build():
            calls.append(1)
            return spark.sql("SELECT doc_id, lang FROM documents")

        df1 = runner.run("s1", "fp-a", build)
        n1 = df1.count()
        # resume: same fingerprint -> no rebuild
        df2 = runner.run("s1", "fp-a", build)
        assert df2.count() == n1
        assert len(calls) == 1
        # changed fingerprint -> rebuild
        runner.run("s1", "fp-b", build)
        assert len(calls) == 2
        lin = runner.lineage().collect()
        assert {r.stage for r in lin} == {"s1"}
        assert all(r.rows_out == n1 for r in lin)
        assert all(r.max_partition_rows >= r.median_partition_rows for r in lin)


def test_classify_staged_resume(spark, sf_small):
    """classify(runner=...) stages pass 1, the pixel/dim/identity
    frames and the final classes; a second run in the same workdir
    resumes every stage and returns identical rows, equal bit-for-bit
    to the live (runner-free) plan."""
    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        r1 = StageRunner(spark, wd, "c1")
        out1 = pipeline.classify(spark, runner=r1).collect()
        assert {r.stage for r in r1.lineage().collect()} == CLASSIFY_STAGES
        # second run resumes from the final stage table: identical rows
        r2 = StageRunner(spark, wd, "c2")
        out2 = pipeline.classify(spark, runner=r2).collect()
        assert r2.lineage().filter("run_id = 'c2'").count() == 0
        assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
        assert len(out1) == 500
        # and the staged plan equals the live pipeline bit-for-bit
        live = pipeline.classify(spark).collect()
        assert sorted(map(tuple, out1)) == sorted(map(tuple, live))


def test_classify_resume_reruns_on_rewritten_input(spark, sf_small,
                                                    tmp_path):
    """Rewriting the input parquet at the SAME path and re-registering
    it must re-run every classify stage on resume: each stage
    fingerprint folds in the registered input identity, so the px /
    dims / ident / final_class tables of the old input are never read
    back over the new one."""
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    src.mkdir()
    docs = pq.read_table(f"{sf_small}/documents.parquet")
    pq.write_table(docs, src / "documents.parquet")
    wd = str(tmp_path / "wd")
    register_views(spark, str(src), tables=("documents",))
    assert pipeline.classify(
        spark, runner=StageRunner(spark, wd, "full")).count() == 500

    pq.write_table(docs.slice(0, 250), src / "documents.parquet")
    register_views(spark, str(src), tables=("documents",))
    r2 = StageRunner(spark, wd, "half")
    assert pipeline.classify(spark, runner=r2).count() == 250
    rerun = {r.stage for r in r2.lineage()
             .filter("run_id = 'half'").collect()}
    assert rerun == CLASSIFY_STAGES


def test_runner_fingerprint_covers_params(spark, sf_small):
    """ADVICE r4: the distributed-classify stage fingerprint folds in
    the FmaskParams fields (and the registered input identity + pass-1
    SQL) — resuming in the same workdir with unchanged params skips
    every stage, while changed params re-run ALL stage tables instead
    of silently reusing stale results."""
    from python_fmask_spark.operators.scene import FmaskParams
    from python_fmask_spark.operators.scene_dist import classify_distributed

    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        r1 = StageRunner(spark, wd, "f1")
        n1 = classify_distributed(spark, runner=r1).count()
        dist_stages = {"dist_p3", "dist_flags", "dist_px",
                       "dist_windows", "dist_bands"}
        assert {r.stage for r in r1.lineage()
                .filter("run_id = 'f1'").collect()} >= dist_stages
        # same params + same input -> full resume, nothing rebuilt
        r2 = StageRunner(spark, wd, "f2")
        assert classify_distributed(spark, runner=r2).count() == n1
        assert r2.lineage().filter("run_id = 'f2'").count() == 0
        # changed FmaskParams -> every distributed stage re-runs
        # (pass1 correctly resumes: it does not depend on FmaskParams)
        r3 = StageRunner(spark, wd, "f3")
        classify_distributed(
            spark, params=FmaskParams(cloud_buffer_px=0,
                                      shadow_buffer_px=0,
                                      min_cloud_size_px=1),
            runner=r3).count()
        rebuilt = {r.stage for r in r3.lineage()
                   .filter("run_id = 'f3'").collect()}
        assert rebuilt >= dist_stages
        assert "pass1" not in rebuilt


def test_distributed_classify_resumes(spark, sf_small):
    """classify_distributed(runner=...) materializes its five barriers
    as fingerprinted stage tables. Simulate a mid-job crash by wiping
    the LAST stages' markers: the rerun must (a) skip the completed
    early stages (their stage parquet untouched), (b) rebuild only the
    tail, (c) produce rows identical to the uninterrupted run and to
    the session-scoped localCheckpoint path."""
    import glob
    import os

    from python_fmask_spark.operators.scene_dist import classify_distributed

    register_views(spark, sf_small)
    baseline = sorted(
        map(tuple, classify_distributed(spark).collect()))

    with tempfile.TemporaryDirectory() as wd:
        r1 = StageRunner(spark, wd, "d1")
        out1 = sorted(map(tuple, classify_distributed(
            spark, runner=r1).collect()))
        assert out1 == baseline
        markers = sorted(glob.glob(os.path.join(wd, "stage_*.json")))
        stages = {os.path.basename(m) for m in markers}
        assert {"stage_dist_p3._fingerprint.json",
                "stage_dist_flags._fingerprint.json",
                "stage_dist_px._fingerprint.json",
                "stage_dist_windows._fingerprint.json",
                "stage_dist_bands._fingerprint.json"} <= stages

        early = os.path.join(wd, "stage_dist_p3")
        early_mtime = os.path.getmtime(os.path.join(early, "_SUCCESS"))
        # crash simulation: the windows + bands stages never finished
        for st in ("dist_windows", "dist_bands"):
            os.remove(os.path.join(wd, f"stage_{st}._fingerprint.json"))

        r2 = StageRunner(spark, wd, "d2")
        out2 = sorted(map(tuple, classify_distributed(
            spark, runner=r2).collect()))
        assert out2 == baseline
        # completed early stage was NOT rewritten on resume
        assert os.path.getmtime(
            os.path.join(early, "_SUCCESS")) == early_mtime
        # the torn-down tail stages were rebuilt
        lin = r2.lineage().filter("run_id = 'd2'").collect()
        assert {r.stage for r in lin} == {"dist_windows", "dist_bands"}
