"""Resumable staged execution with per-partition lineage (north_rule).

Every stage materializes to a directory table under ``cfg.work_dir``
keyed by the config's ``params_hash``; a killed job resumes by reading
completed stages instead of recomputing them. The featurize stage —
the expensive one at 10^12-file scale — is split into
``num_ingest_buckets`` hash buckets of the input keyed by
``pmod(xxhash64(repo, path, commit), nb)``; each bucket commits
independently with its own success marker and lineage row, so resume
skips completed BUCKETS (per-partition lineage), not just whole stages.

Sandbox note: stage tables are parquet directories with JSON-lines
lineage (`_lineage.jsonl`). On a production cluster the same layout
maps 1:1 onto Iceberg tables (``df.writeTo(...).append()`` + a lineage
table); Iceberg's runtime jar is not in this environment, so the
format is pluggable at exactly one seam (`_write`/`_read`).

difPy has no resume facility at all (a killed run restarts from
scratch); this is required by BASELINE.json, not a reference port.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig


@dataclass
class StageInfo:
    name: str
    computed: bool          # False => resumed from checkpoint
    rows: int
    seconds: float
    detail: dict = field(default_factory=dict)


class StageRunner:
    """Materialize-or-resume runner for pipeline stages."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig):
        if not cfg.work_dir:
            raise ValueError("StageRunner requires cfg.work_dir")
        self.spark = spark
        self.cfg = cfg
        self.root = Path(cfg.work_dir) / cfg.params_hash()
        self.root.mkdir(parents=True, exist_ok=True)
        self.stages: list[StageInfo] = []

    # --- lineage -----------------------------------------------------
    def _lineage_path(self) -> Path:
        return self.root / "_lineage.jsonl"

    def _log_lineage(self, record: dict) -> None:
        with self._lineage_path().open("a") as f:
            f.write(json.dumps(record, sort_keys=True) + "\n")

    def lineage(self) -> list[dict]:
        p = self._lineage_path()
        if not p.exists():
            return []
        return [json.loads(line) for line in p.read_text().splitlines()]

    # --- stage materialization ---------------------------------------
    def _done(self, path: Path) -> bool:
        return (path / "_SUCCESS").exists()

    def stage(self, name: str, build) -> DataFrame:
        """Whole-stage granularity: compute+write once, read thereafter."""
        path = self.root / name
        t0 = time.monotonic()
        if self._done(path):
            df = self.spark.read.parquet(str(path))
            self.stages.append(StageInfo(name, False, -1,
                                         time.monotonic() - t0))
            return df
        df = build()
        df.write.mode("overwrite").parquet(str(path))
        out = self.spark.read.parquet(str(path))
        rows = out.count()
        secs = time.monotonic() - t0
        self.stages.append(StageInfo(name, True, rows, secs))
        self._log_lineage({"stage": name, "granularity": "stage",
                           "rows": rows, "seconds": round(secs, 3),
                           "params": self.cfg.params_hash()})
        return out

    def bucketed_stage(self, name: str, files: DataFrame, build
                       ) -> DataFrame:
        """Per-partition granularity for the featurize stage: the input
        is split into ``num_ingest_buckets`` deterministic hash buckets;
        each commits independently. ``build(bucket_df)`` returns the
        bucket's output DataFrame.

        The input is scanned ONCE: a staging write partitioned by the
        bucket column (the round-2 version re-filtered the full input
        per bucket — the ``_bucket`` column is computed, so nothing
        pruned at the source and resumable featurize cost nb full scans
        of a 100 TB table). Per-bucket reads of the staged table prune
        on the ``_bucket`` partition directory; the staging directory is
        removed once every bucket has committed. On Iceberg the same
        layout is a hidden-partitioned staging table.
        """
        nb = self.cfg.num_ingest_buckets
        base = self.root / name
        staging = self.root / f"_staging_{name}"
        computed = skipped = 0
        t0 = time.monotonic()
        missing = [b for b in range(nb)
                   if not self._done(base / f"bucket={b}")]
        skipped = nb - len(missing)
        if missing:
            if not self._done(staging):
                bucket_col = F.pmod(F.xxhash64("repo", "path", "commit"),
                                    F.lit(nb))
                (files.withColumn("_bucket", bucket_col)
                 .write.mode("overwrite").partitionBy("_bucket")
                 .parquet(str(staging)))
                self._log_lineage({"stage": name, "granularity": "staging",
                                   "seconds": round(time.monotonic() - t0, 3),
                                   "params": self.cfg.params_hash()})
            staged = self.spark.read.parquet(str(staging))
            for b in missing:
                bpath = base / f"bucket={b}"
                bdf = build(staged.filter(F.col("_bucket") == b)
                            .drop("_bucket"))
                bdf.write.mode("overwrite").parquet(str(bpath))
                rows = self.spark.read.parquet(str(bpath)).count()
                self._log_lineage({"stage": name, "granularity": "bucket",
                                   "bucket": b, "rows": rows,
                                   "params": self.cfg.params_hash()})
                computed += 1
            import shutil
            shutil.rmtree(staging, ignore_errors=True)
        out = self.spark.read.parquet(str(base / "bucket=*"))
        self.stages.append(StageInfo(
            name, computed > 0, out.count(), time.monotonic() - t0,
            {"buckets_computed": computed, "buckets_skipped": skipped}))
        return out


class KillSignal(Exception):
    """Raised by tests to simulate a mid-job crash after stage k."""


def resumable_run(spark: SparkSession, cfg: DedupConfig,
                  files: DataFrame, stop_after: str | None = None):
    """Checkpointed build+search. Returns (SearchResult, StageRunner).

    ``stop_after`` kills the job right after the named stage commits —
    the T4 resume fixture. A rerun with the same work_dir + config
    resumes from the committed stages.
    """
    from sparkdedup.plans.pipeline import (SearchResult, _distinct_reps,
                                           _duration)
    from sparkdedup.operators.components import connected_components
    from sparkdedup.operators.containment import containment_edges
    from sparkdedup.operators.exact import exact_edges
    from sparkdedup.operators.lsh import candidate_pairs, dedup_pairs
    from sparkdedup.operators.ranking import rank_clusters
    from sparkdedup.operators.verify import jaccard_edges
    from sparkdedup.plans.pipeline import build_signatures
    from sparkdedup.sources.files import split_invalid

    runner = StageRunner(spark, cfg)
    build_start = datetime.now()

    def _check(stage: str) -> None:
        if stop_after == stage:
            raise KillSignal(f"killed after stage {stage}")

    valid, invalid_live = split_invalid(files, cfg)
    invalid = runner.stage("invalid", lambda: invalid_live)
    _check("invalid")

    def featurize(bucket_df: DataFrame) -> DataFrame:
        # rows here are already valid; build_signatures' re-split is a no-op
        return build_signatures(spark, cfg, bucket_df)[0]

    sigs = runner.bucketed_stage("signatures", valid, featurize)
    n_sigs = runner.stages[-1].rows   # the stage counts its rows
    build_end = datetime.now()
    _check("signatures")

    def edges_build() -> DataFrame:
        # Mirror pipeline.search_clusters exactly: reps computed ONCE and
        # shared by the near and containment branches. Containment must
        # run on _distinct_reps even at threshold 0 (the CLI default) —
        # exact-dup mass would otherwise push anchor document frequency
        # past contain_df_cap and silently lose containment edges that a
        # non-resumable run finds (round-2 advice).
        e = exact_edges(sigs, cfg).withColumn("gen", F.lit("exact"))
        reps = _distinct_reps(sigs, cfg)
        near = jaccard_edges(dedup_pairs(candidate_pairs(reps, cfg)),
                             reps, cfg)
        e = e.unionByName(near)
        if cfg.containment:
            # containment stage frees its own transient storage
            e = e.unionByName(
                containment_edges(reps, cfg).withColumn(
                    "gen", F.lit("contain")))
        # struct tie-break: ties on dist are real (exact + all-lane near
        # both at 0.0) and min_by alone is nondeterministic on them — a
        # resumed run must reproduce the original stage byte-for-byte
        return e.groupBy("src", "dst").agg(
            F.min("dist").alias("dist"),
            F.min_by("kind", F.struct(F.col("dist"), F.col("kind")))
            .alias("kind"),
            F.min("gen").alias("gen"))

    edges = runner.stage("edges", edges_build)
    _check("edges")

    clusters = runner.stage("clusters",
                            lambda: connected_components(edges))
    search_end = datetime.now()
    _check("clusters")

    ranked = rank_clusters(clusters,
                           sigs.select("file_id", "repo", "path", "n_chars"))
    # same stats inputs as search_clusters: valid-file count and the
    # build/search spans (here they include reading resumed stages)
    res = SearchResult(cfg=cfg, edges=edges, clusters=clusters,
                       ranked=ranked, invalid=invalid, _n_files=n_sigs,
                       _durations={"build": _duration(build_start, build_end),
                                   "search": _duration(build_end,
                                                       search_end)})
    return res, runner
