"""Spans around the benchmark's calls into each engine layer, and the
per-layer table derived from them plus the Spark event log.

A span is recorded by the benchmark, never by the engine: the traced run
calls the layers one at a time in the order ``search_clusters`` uses,
materializing each step, and runs each step under its own Spark job group
so the event log can attribute tasks, task time and shuffle bytes to it.
Spans stay in memory until the run ends and are then written as JSON lines.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import functions as F

from sparkdedup.functions.hashing import (with_file_id, with_length_cols,
                                          with_sha256)
from sparkdedup.functions.shingles import with_signature
from sparkdedup.operators.components import connected_components
from sparkdedup.operators.containment import (anchor_subset_gate,
                                              containment_candidates,
                                              verify_containment)
from sparkdedup.operators.exact import exact_edges
from sparkdedup.operators.lsh import candidate_pairs, dedup_pairs
from sparkdedup.operators.ranking import rank_clusters
from sparkdedup.operators.verify import jaccard_edges
from sparkdedup.plans.pipeline import (SIGNATURE_COLS, SearchResult,
                                       _distinct_reps)
from sparkdedup.sources.files import split_invalid, widen_narrow_scan


class Tracer:
    """In-memory spans: name, start, end, parent, trace id, job group and
    the rows the step produced."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self.trace_id = uuid.uuid4().hex[:16]
        s = {"name": name, "trace_id": self.trace_id,
             "span_id": uuid.uuid4().hex[:16],
             "parent": parent["span_id"] if parent else None,
             "group": f"{self.trace_id}:{name}", "rows": None,
             "start": time.time(), "end": None}
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def write(self, path: Path) -> None:
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def traced_search(tr: Tracer, spark, cfg, files) -> dict:
    """One search, layer by layer (the order ``search_clusters`` uses),
    each step materialized under its own span. Returns the search's
    ``stats()["results"]`` so the caller can check it against the plain
    call."""
    cached = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df

    with tr.span("plans.search") as top:
        with tr.span("sources.split") as s:
            valid, invalid = split_invalid(files, cfg)
            valid = keep(widen_narrow_scan(valid))
            s["rows"] = valid.count()
        with tr.span("functions.featurize") as s:
            sigs = keep(with_signature(with_length_cols(with_sha256(
                with_file_id(valid))), cfg).select(*SIGNATURE_COLS))
            n_sigs = s["rows"] = sigs.count()
        with tr.span("operators.exact") as s:
            exact = (exact_edges(sigs, cfg).withColumn("gen", F.lit("exact"))
                     .localCheckpoint(eager=True))
            s["rows"] = exact.count()
        with tr.span("plans.reps") as s:
            reps = keep(_distinct_reps(sigs, cfg, n_rows=n_sigs))
            s["rows"] = reps.count()
        with tr.span("operators.lsh") as s:
            pairs = dedup_pairs(candidate_pairs(reps, cfg)) \
                .localCheckpoint(eager=True)
            s["rows"] = pairs.count()
        with tr.span("operators.verify") as s:
            near = jaccard_edges(pairs, reps, cfg, pairs_materialized=True) \
                .localCheckpoint(eager=True)
            s["rows"] = near.count()
        edges = exact.unionByName(near)
        with tr.span("operators.containment.candidates") as s:
            s["rows"] = 0
            if cfg.containment:
                rare: list = []
                cands = anchor_subset_gate(
                    containment_candidates(reps, cfg, rare), reps, cfg) \
                    .localCheckpoint(eager=True)
                for df in rare:
                    df.unpersist()
                s["rows"] = cands.count()
        with tr.span("operators.containment.verify") as s:
            s["rows"] = 0
            if cfg.containment:
                cont = verify_containment(cands, reps) \
                    .withColumn("gen", F.lit("contain")) \
                    .localCheckpoint(eager=True)
                s["rows"] = cont.count()
                edges = edges.unionByName(cont)
        with tr.span("plans.edge_merge") as s:
            edges = keep(edges.groupBy("src", "dst").agg(
                F.min("dist").alias("dist"),
                F.min_by("kind", F.struct(F.col("dist"), F.col("kind")))
                .alias("kind"),
                F.min("gen").alias("gen")))
            s["rows"] = edges.count()
        with tr.span("operators.components") as s:
            clusters = keep(connected_components(edges))
            s["rows"] = clusters.count()
        with tr.span("operators.ranking") as s:
            ranked = rank_clusters(
                clusters, sigs.select("file_id", "repo", "path", "n_chars"))
            s["rows"] = ranked.count()
        with tr.span("plans.stats") as s:
            res = SearchResult(cfg=cfg, edges=edges, clusters=clusters,
                               ranked=ranked, invalid=invalid,
                               _n_files=n_sigs)
            results = res.stats()["results"]
            s["rows"] = top["rows"] = results["matched_files"]
    for df in cached:
        df.unpersist()
    return results


def read_event_log(event_dir: Path) -> tuple[dict, dict]:
    """Per job group and per streaming batch: jobs, task seconds and
    shuffle-write bytes, from the uncompressed JSON event log."""
    job_group: dict[int, str] = {}
    job_batch: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    by_group: dict = defaultdict(lambda: {"jobs": 0, "task_ms": 0,
                                          "shuffle_write_b": 0})
    by_batch: dict = defaultdict(lambda: {"jobs": 0, "task_ms": 0,
                                          "shuffle_write_b": 0})

    def bucket(job):
        if job in job_group:
            return by_group[job_group[job]]
        if job in job_batch:
            return by_batch[job_batch[job]]
        return None

    logs = (p for p in event_dir.rglob("*")
            if p.is_file() and not p.name.startswith("."))
    for f in sorted(logs):
        with f.open(errors="replace") as lines:
            for line in lines:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    # a streaming epoch's jobs carry its batch id (their
                    # job group is the query's run id)
                    if props.get("streaming.sql.batchId") is not None:
                        job_batch[job] = int(props["streaming.sql.batchId"])
                    elif props.get("spark.jobGroup.id"):
                        job_group[job] = props["spark.jobGroup.id"]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                    b = bucket(job)
                    if b is not None:
                        b["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_job.get(ev.get("Stage ID"), -1))
                    m = ev.get("Task Metrics") or {}
                    if b is None or not m:
                        continue
                    b["task_ms"] += m.get("Executor Run Time", 0)
                    b["shuffle_write_b"] += (m.get("Shuffle Write Metrics")
                                             or {}).get("Shuffle Bytes Written",
                                                        0)
    return dict(by_group), dict(by_batch)


def layer_table(spans_file: Path, by_group: dict, cores: int
                ) -> dict[str, float]:
    """``<layer>.<metric>`` medians over the traced searches written to
    ``spans_file``, plus the yield ratios. A parent span's jobs, task time
    and bytes are the sum of its own job group and its children's."""
    spans = [json.loads(line) for line in spans_file.open()]
    children: dict = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)

    def totals(s):
        own = by_group.get(s["group"], {"jobs": 0, "task_ms": 0,
                                        "shuffle_write_b": 0})
        acc = dict(own)
        for c in children[s["span_id"]]:
            for k, v in totals(c).items():
                acc[k] += v
        return acc

    samples: dict = defaultdict(list)
    for s in spans:
        wall = s["end"] - s["start"]
        t = totals(s)
        task_s = t["task_ms"] / 1000.0
        row = {"wall_s": wall, "task_s": task_s,
               "occupancy": task_s / (wall * cores) if wall > 0 else 0.0,
               "rows_out": float(s["rows"] or 0),
               "shuffle_write_mb": t["shuffle_write_b"] / 1e6,
               "jobs": float(t["jobs"])}
        for k, v in row.items():
            samples[f"{s['name']}.{k}"].append(v)
    for root in (s for s in spans if s["parent"] is None):
        rows = defaultdict(float, {c["name"]: float(c["rows"] or 0)
                                   for c in children[root["span_id"]]})
        for name, num, den in (
                ("operators.verify.yield", "operators.verify",
                 "operators.lsh"),
                ("operators.containment.verify.yield",
                 "operators.containment.verify",
                 "operators.containment.candidates"),
                ("plans.reps.ratio", "plans.reps", "functions.featurize")):
            samples[name].append(rows[num] / rows[den] if rows[den] else 0.0)
    return {k: statistics.median(v) for k, v in samples.items()}
