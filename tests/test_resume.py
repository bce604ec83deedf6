"""T4 resume fixture (FIXTURES.md): kill after each stage boundary,
resume, assert identical final clusters and no recomputation of
completed partitions."""

from __future__ import annotations

import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.corpus import files_table
from sparkdedup.plans.checkpoint import KillSignal, StageRunner, resumable_run

N = 300


def _cfg(tmp_path, **kw):
    # containment off: the resume machinery is stage-agnostic and the
    # full suite already covers containment; keeps this module fast
    return DedupConfig(similarity="similar", containment=False,
                       work_dir=str(tmp_path), num_ingest_buckets=4, **kw)


def _clusters(res):
    return sorted((r["file_id"], r["cluster_id"])
                  for r in res.clusters.collect())


def test_uninterrupted_equals_plain_pipeline(spark, tmp_path):
    from sparkdedup.plans.pipeline import run as plain_run
    cfg = _cfg(tmp_path)
    files = files_table(spark, n=N, seed=42)
    res, runner = resumable_run(spark, cfg, files)
    plain = plain_run(spark, cfg, files)
    assert _clusters(res) == _clusters(plain)


def test_resume_stats_match_batch(spark, tmp_path):
    """The resumable path reports the same file counts as the batch path
    in ``stats()`` (the CLI's --work_dir mode writes this document), on
    a fresh run and on a full resume from committed stages, with a
    filled build/search duration block."""
    from sparkdedup.plans.pipeline import run as plain_run
    cfg = _cfg(tmp_path)
    files = files_table(spark, n=N, seed=42)
    plain = plain_run(spark, cfg, files).stats()
    for _ in range(2):                       # fresh run, then resume
        got = resumable_run(spark, cfg, files)[0].stats()
        assert got["total_files"] == plain["total_files"]
        assert (got["process"]["search"]["files_searched"]
                == plain["process"]["search"]["files_searched"] > 0)
        for step in ("build", "search"):
            assert got["process"][step]["duration"]["seconds_elapsed"] >= 0
    assert got["total_files"] > got["process"]["search"]["files_searched"]


def test_resumable_containment_matches_plain(spark, tmp_path):
    """Regression (round-2 advice): resumable_run at the CLI default
    (similarity='duplicates', containment on) must produce the SAME
    edges/clusters as the plain pipeline — containment has to run on
    _distinct_reps, not the full signature table."""
    from sparkdedup.plans.pipeline import run as plain_run
    cfg = DedupConfig(similarity="duplicates", containment=True,
                      work_dir=str(tmp_path), num_ingest_buckets=4)
    files = files_table(spark, n=N, seed=42)
    res, _ = resumable_run(spark, cfg, files)
    plain = plain_run(spark, cfg, files)
    assert _clusters(res) == _clusters(plain)
    res_edges = sorted((r["src"], r["dst"], r["kind"])
                       for r in res.edges.collect())
    plain_edges = sorted((r["src"], r["dst"], r["kind"])
                         for r in plain.edges.collect())
    assert res_edges == plain_edges
    assert any(k == "contained" for _, _, k in plain_edges)


@pytest.mark.parametrize("kill_stage",
                         ["invalid", "signatures", "edges", "clusters"])
def test_kill_and_resume_identical(spark, tmp_path, kill_stage):
    files = files_table(spark, n=N, seed=42)
    cfg = _cfg(tmp_path / kill_stage)
    with pytest.raises(KillSignal):
        resumable_run(spark, cfg, files, stop_after=kill_stage)
    res, runner = resumable_run(spark, cfg, files)

    # completed stages were NOT recomputed on resume
    done = {s.name: s for s in runner.stages}
    assert not done[kill_stage].computed
    if kill_stage == "signatures":
        assert done["signatures"].detail["buckets_skipped"] == 4
        assert done["signatures"].detail["buckets_computed"] == 0

    # resumed output identical to an uninterrupted fresh run
    cfg2 = _cfg(tmp_path / (kill_stage + "_fresh"))
    fresh, _ = resumable_run(spark, cfg2, files)
    assert _clusters(res) == _clusters(fresh)


def test_partial_bucket_resume(spark, tmp_path):
    """Delete two of four committed signature buckets: resume recomputes
    exactly those two."""
    import shutil
    files = files_table(spark, n=N, seed=42)
    cfg = _cfg(tmp_path)
    resumable_run(spark, cfg, files)
    root = StageRunner(spark, cfg).root
    shutil.rmtree(root / "signatures" / "bucket=1")
    shutil.rmtree(root / "signatures" / "bucket=3")
    # downstream stages must also recompute -> clear them
    shutil.rmtree(root / "edges")
    shutil.rmtree(root / "clusters")
    res, runner = resumable_run(spark, cfg, files)
    sig = {s.name: s for s in runner.stages}["signatures"]
    assert sig.detail == {"buckets_computed": 2, "buckets_skipped": 2}
    cfg2 = _cfg(tmp_path / "fresh")
    fresh, _ = resumable_run(spark, cfg2, files)
    assert _clusters(res) == _clusters(fresh)


def test_param_change_invalidates_checkpoints(spark, tmp_path):
    files = files_table(spark, n=N, seed=42)
    cfg = _cfg(tmp_path)
    resumable_run(spark, cfg, files)
    cfg2 = _cfg(tmp_path, shingle_k=9)  # same work_dir, new params
    _, runner2 = resumable_run(spark, cfg2, files)
    # nothing resumed: different params_hash namespaces the work dir
    assert all(s.computed for s in runner2.stages
               if s.name != "signatures")
    sig = {s.name: s for s in runner2.stages}["signatures"]
    assert sig.detail["buckets_skipped"] == 0


def test_lineage_records_buckets(spark, tmp_path):
    files = files_table(spark, n=N, seed=42)
    cfg = _cfg(tmp_path)
    _, runner = resumable_run(spark, cfg, files)
    lin = runner.lineage()
    buckets = [r for r in lin if r["granularity"] == "bucket"]
    assert {b["bucket"] for b in buckets} == {0, 1, 2, 3}
    stages = {r["stage"] for r in lin}
    assert {"invalid", "signatures", "edges", "clusters"} <= stages
