#!/usr/bin/env python3
"""sparkdedup benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload small_search --seed 1 --seconds 5 --trace 0

Run it from the repository root. It starts a ``local[n]`` session
(n = min(4, cores)) with the defaults of ``sparkdedup.session.get_spark``,
generates the workload's inputs from ``--seed``, runs one cold operation,
then warm operations until ``--seconds`` have passed, checks every output
and prints a table for people followed by one JSON line: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (event log on, spans around each layer call).

Workloads (``perfbench/README.md`` gives the reasons and first numbers):

* ``small_search``: a 5,000-document folder searched with
  ``DedupConfig(similarity="similar", containment=True)``; one operation
  is ``build_signatures`` -> ``search_clusters`` -> ``ranked.count()`` ->
  ``stats()`` -> ``release()``.
* ``batch_corpus``: a 50,000-file ``corpus_df`` corpus through the same
  config and call chain. ``BENCHMARK.json`` does not list it: one run
  takes minutes, more than its run budget allows.
* ``stream_epochs``: a seeded ``corpus_df`` corpus split into a history
  file and epoch files, drained by ``incremental_dedup(near_dup=True,
  max_files_per_trigger=1, compact_every=1)``; one operation is one epoch.

Everything the run writes lives under ``.perfbench_work/`` in the
directory it runs from. When the run ends only the spans of a traced run
(``spans.jsonl``) are left there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

T_PROCESS = time.monotonic()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402

SMALL_DOCS = 5000
BATCH_FILES = 50_000
STREAM_HISTORY, STREAM_EPOCH_FILES, STREAM_MAX_EPOCHS = 200, 20, 4
COMPACT_EVERY = 1
MIN_COMPACTIONS = 1
RECALL_TARGET = 0.99
SETUP_REPEATS = 3


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM and the Python
    workers it forks), from /proc."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, read from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak_kb = interval, 0
        self._done = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _tree_kb(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_kb
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self._tree_kb())
        return self.peak_kb / 1024.0


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched and wait until it and the Python
    workers it forked have exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def tail_latency(samples: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with ten samples
    beyond it, or None when that percentile would fall below the median."""
    n = len(samples)
    if n < 20:
        return None
    return 100 * (n - 10) // n, sorted(samples)[n - 11]


def start_session(work: Path, cores: int, trace: bool):
    """``get_spark`` with its defaults, on ``local[cores]``; only paths
    (so nothing is written outside the work dir) and, in a traced run,
    the event log are added."""
    from sparkdedup.session import get_spark
    for d in ("tmp", "local", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM spark-submit starts to build the driver command line would
    # otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    conf = {"spark.local.dir": str(work / "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (work / "events").as_uri(),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fail(out: dict, op: int, errors: list[str]) -> None:
    """Record failed checks against operation ``op``."""
    for e in errors:
        out["errors"].append(f"op {op}: {e}")
        out["failed_ops"].add(op)


# ----------------------------------------------- small_search and batch_corpus

def setup_small(spark, seed: int, work: Path) -> dict:
    from sparkdedup.corpus import documents_as_files
    docs = inputs.documents(seed, SMALL_DOCS)
    inputs.write_parquet(docs.drop(columns="gt_base"),
                         str(work / "documents.parquet"))
    return {"read": lambda: documents_as_files(spark, str(work)),
            "pairs": inputs.document_pairs(docs)}


def setup_batch(spark, seed: int, work: Path) -> dict:
    """``corpus_df`` generated by Spark (the rows ``files_table`` gives),
    written once with its ground-truth columns; the engine reads a Spark
    copy of the file columns, so it gets a multi-file table as
    ``files_table(...).write.parquet`` leaves it, not one row group."""
    import pyarrow.parquet as pq

    from sparkdedup.corpus import corpus_df
    staged, path = str(work / "corpus_gt"), str(work / "files")
    corpus_df(spark, BATCH_FILES, seed).write.parquet(staged)
    spark.read.parquet(staged).select(*inputs.FILE_COLS).write.parquet(path)
    gt = pq.read_table(staged).to_pandas()
    shutil.rmtree(staged)
    return {"read": lambda: spark.read.parquet(path),
            "pairs": inputs.corpus_pairs(gt)}


def search_op(spark, cfg, files) -> dict:
    """One search; the result check runs outside the timed part."""
    from sparkdedup import build_signatures, search_clusters
    t0 = time.monotonic()
    sigs, invalid = build_signatures(spark, cfg, files)
    res = search_clusters(sigs, invalid, cfg)
    res.ranked.count()
    stats = res.stats()
    wall = time.monotonic() - t0
    clusters = {(r["repo"], r["path"]): r["cluster_id"] for r in
                res.ranked.select("repo", "path", "cluster_id").collect()}
    t1 = time.monotonic()
    res.release()
    wall += time.monotonic() - t1
    return {"wall": wall, "files": stats["process"]["search"]["files_searched"],
            "results": stats["results"], "clusters": clusters}


def run_search(spark, cfg, data: dict, seconds: float, out: dict,
               tracer=None) -> None:
    files = data["read"]()
    truth = inputs.truth_table(data["pairs"], cfg)
    ops, digests = [], []

    def check(op) -> list[str]:
        errs = []
        digest = hashlib.sha256(json.dumps(op["results"], sort_keys=True)
                                .encode()).hexdigest()[:16]
        digests.append(digest)
        if digest != digests[0]:
            errs.append(f"stats results differ from the first call: "
                        f"{op['results']}")
        if op["results"]["contained_pairs"] <= 0:
            errs.append("no contained pairs with containment on")
        rec, kinds = inputs.recall(truth, op["clusters"])
        op["recall"], op["kinds"] = rec, kinds
        if rec < RECALL_TARGET:
            errs.append(f"pair recall {rec:.4f} < {RECALL_TARGET}")
        return errs

    first = search_op(spark, cfg, files)
    out["first_op"] = first["wall"]
    fail(out, 0, check(first))
    out["attempted"] += 1
    t_start = time.monotonic()
    while time.monotonic() - t_start < seconds or not ops:
        op = search_op(spark, cfg, files)
        fail(out, out["attempted"], check(op))
        out["attempted"] += 1
        ops.append(op)
    out["walls"] = [o["wall"] for o in ops]
    out["files"] = [o["files"] for o in ops]
    out["recall"] = min(o["recall"] for o in [first] + ops)
    out["kinds"] = ops[-1]["kinds"]
    out["lines"].append(f"stats results digest {digests[0]} "
                        f"({len(set(digests))} distinct over "
                        f"{len(digests)} calls): {first['results']}")
    if tracer is not None:
        run_traced(spark, cfg, files, tracer, seconds, out,
                   untraced=out["walls"], expect=first["results"])


# --------------------------------------------------------------- stream_epochs

def setup_stream(spark, seed: int, work: Path) -> dict:
    import pandas as pd

    # the rows corpus_df generates, built in this process so that set-up
    # does not pay for a Spark job
    from sparkdedup.corpus import CORPUS_SCHEMA, _regions, _row
    n = STREAM_HISTORY + STREAM_MAX_EPOCHS * STREAM_EPOCH_FILES
    regions = _regions(n)
    gt = pd.DataFrame([_row(i, n, seed, regions) for i in range(n)],
                      columns=[f.name for f in CORPUS_SCHEMA])
    parts = inputs.split_epochs(seed, n, STREAM_HISTORY, STREAM_MAX_EPOCHS)
    stage = work / "stage"
    stage.mkdir(parents=True, exist_ok=True)
    names = []
    for e, idx in enumerate(parts):
        name = f"epoch_{e:03d}.parquet"
        inputs.write_parquet(gt.iloc[idx][inputs.FILE_COLS],
                             str(stage / name))
        names.append(name)
    valid = [int((gt.iloc[idx]["gt_kind"] != "invalid").sum())
             for idx in parts]
    return {"gt": gt, "parts": parts, "names": names, "valid": valid,
            "stage": stage, "src": work / "src", "out": work / "out"}


def _count_files(path: Path) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def run_stream(spark, cfg, data: dict, seconds: float, out: dict,
               tracer=None) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from sparkdedup.functions.hashing import with_file_id
    from sparkdedup.streaming.ingest import (current_clusters,
                                             incremental_dedup)
    src, outd = data["src"], data["out"]
    src.mkdir(parents=True, exist_ok=True)
    query = incremental_dedup(spark, cfg, str(src), str(outd),
                              trigger_available_now=False,
                              max_files_per_trigger=1, near_dup=True,
                              compact_every=COMPACT_EVERY)
    epochs = []
    t_start = None
    try:
        for e, name in enumerate(data["names"]):
            if e >= 2 and time.monotonic() - t_start >= seconds:
                break
            hist = _count_files(outd) if outd.exists() else 0
            t0 = time.monotonic()
            os.rename(data["stage"] / name, src / name)
            prog = _wait_batch(query, e)
            wall = time.monotonic() - t0
            if e == 0:
                t_start = time.monotonic()
            d = prog["durationMs"]
            epochs.append({
                "epoch": e, "wall": wall, "files": data["valid"][e],
                "rows_reported": prog["numInputRows"], "history_files": hist,
                "compaction": e > 0 and e % COMPACT_EVERY == 0,
                "trigger_overhead": (d.get("triggerExecution", 0)
                                     - d.get("addBatch", 0)) / 1000.0})
            out["attempted"] += 1
    finally:
        query.stop()
    n_done = len(epochs)
    snaps = sorted(p.name for p in (outd / "signatures_snapshot").glob("upto=*"))
    compactions = sum(x["compaction"] for x in epochs)
    if compactions < MIN_COMPACTIONS or not snaps:
        fail(out, n_done - 1, [f"{compactions} compaction cycles (snapshots "
                               f"{snaps}), need {MIN_COMPACTIONS}"])
    # recall over the files ingested so far, via the public cluster view
    ingested = np.sort(np.concatenate(data["parts"][:n_done]))
    gt = data["gt"].iloc[ingested]
    ids = with_file_id(spark.read.parquet(str(src))).select(
        "repo", "path", "file_id")
    rows = (current_clusters(spark, str(outd)).join(ids, "file_id")
            .select("repo", "path", F.col("cluster_id")).collect())
    clusters = {(r["repo"], r["path"]): r["cluster_id"] for r in rows}
    truth = inputs.truth_table(inputs.corpus_pairs(gt), cfg)
    rec, kinds = inputs.recall(truth, clusters)
    if rec < RECALL_TARGET:
        fail(out, n_done - 1, [f"pair recall {rec:.4f} < {RECALL_TARGET}"])
    out["recall"], out["kinds"] = rec, kinds
    out["first_op"] = epochs[0]["wall"]
    measured = epochs[1:]
    out["walls"] = [x["wall"] for x in measured]
    out["files"] = [x["files"] for x in measured]
    out["epochs"] = epochs
    for x in epochs:
        out["lines"].append(
            f"epoch {x['epoch']}: {'compaction' if x['compaction'] else 'plain'}"
            f" {x['wall']:.3f} s, {x['files']} valid files (generator; "
            f"numInputRows {x['rows_reported']}), {x['history_files']} files "
            f"under out_dir at start")
    if tracer is not None:
        files = spark.read.parquet(str(src))
        run_traced(spark, cfg, files, tracer, 0, out, untraced=None,
                   expect=None)


def _wait_batch(query, batch_id: int, timeout: float = 170.0) -> dict:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        for p in reversed(query.recentProgress):
            if p["batchId"] == batch_id and p["numInputRows"] > 0:
                return p
        exc = query.exception()
        if exc is not None:
            raise RuntimeError(f"stream failed in epoch {batch_id}: {exc}")
        time.sleep(0.02)
    raise TimeoutError(f"epoch {batch_id} did not finish")


# -------------------------------------------------------------------- tracing

def run_traced(spark, cfg, files, tracer, seconds: float, out: dict,
               untraced, expect) -> None:
    """Plain searches (untraced reference, unless the workload already ran
    them) then layer-by-layer traced searches on the same input."""
    from spans import traced_search
    if not untraced:
        from sparkdedup import build_signatures, search_clusters
        untraced = []
        for _ in range(2):
            t0 = time.monotonic()
            sigs, invalid = build_signatures(spark, cfg, files)
            res = search_clusters(sigs, invalid, cfg)
            res.ranked.count()
            results = res.stats()["results"]
            res.release()
            untraced.append(time.monotonic() - t0)
        untraced = untraced[1:]
        expect = results
    traced = []
    t_start = time.monotonic()
    while time.monotonic() - t_start < seconds or not traced:
        t0 = time.monotonic()
        results = traced_search(tracer, spark, cfg, files)
        traced.append(time.monotonic() - t0)
        if results != expect:
            fail(out, out["attempted"], [f"traced search results {results} "
                                         f"differ from the plain call {expect}"])
        out["attempted"] += 1
    out["trace_untraced"] = statistics.median(untraced)
    out["trace_traced"] = statistics.median(traced)


def stream_layers(by_batch: dict, epochs: list[dict]) -> dict[str, float]:
    """Per-epoch streaming figures (history epoch included): epoch walls by
    kind from the benchmark's own clock, trigger overhead from
    ``recentProgress``, task time and shuffle bytes from the event log."""
    plain = [x["wall"] for x in epochs if not x["compaction"]]
    comp = [x["wall"] for x in epochs if x["compaction"]]
    zero = {"task_ms": 0, "shuffle_write_b": 0}
    per = [by_batch.get(x["epoch"], zero) for x in epochs]
    return {
        "streaming.plain_epoch_s": statistics.median(plain),
        "streaming.compaction_epoch_s": statistics.median(comp),
        "streaming.trigger_overhead_s":
            statistics.median(x["trigger_overhead"] for x in epochs),
        "streaming.task_s":
            statistics.median(p["task_ms"] / 1000.0 for p in per),
        "streaming.shuffle_write_mb":
            statistics.median(p["shuffle_write_b"] / 1e6 for p in per),
        "streaming.history_files":
            statistics.median(x["history_files"] for x in epochs),
    }


# ----------------------------------------------------------------------- main

WORKLOADS = {"small_search": (setup_small, run_search),
             "batch_corpus": (setup_batch, run_search),
             "stream_epochs": (setup_stream, run_stream)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import sparkdedup  # the program under test, from this checkout
    except ImportError as exc:
        print(f"perfbench: cannot import sparkdedup from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if Path(sparkdedup.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: sparkdedup comes from {sparkdedup.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    from sparkdedup import DedupConfig

    work = Path.cwd() / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    cores = min(4, os.cpu_count() or 1)
    rss = RssSampler()
    rss.start()
    spark = None
    out = {"attempted": 0, "errors": [], "failed_ops": set(), "lines": []}
    try:
        spark = start_session(work, cores, bool(args.trace))
        session_s = time.monotonic() - T_PROCESS
        setup, run = WORKLOADS[args.workload]
        gen_s = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(work / "input", ignore_errors=True)
            (work / "input").mkdir()
            t0 = time.monotonic()
            data = setup(spark, args.seed, work / "input")
            gen_s.append(time.monotonic() - t0)
        setup_s = session_s + statistics.median(gen_s)
        cfg = DedupConfig(similarity="similar",
                          containment=run is run_search)
        tracer = None
        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark)
        try:
            run(spark, cfg, data, args.seconds, out, tracer)
        except Exception as exc:  # the operation in flight failed
            traceback.print_exc()
            fail(out, out["attempted"], [f"raised {exc!r}"[:2000]])
            out["attempted"] += 1
    finally:
        if spark is not None:
            spark.stop()
        peak_mb = rss.stop()
        stop_jvm()

    failed = len(out["failed_ops"])
    walls = out.get("walls") or []
    lines = [f"workload {args.workload} seed {args.seed} local[{cores}]",
             f"setup: session {session_s:.3f} s + median input generation "
             f"{statistics.median(gen_s):.3f} s of {gen_s}"]
    lines += out["lines"]
    if walls:
        lines.append("latency samples (s): "
                     + ", ".join(f"{w:.3f}" for w in walls))
        tail = tail_latency(walls)
        lines.append("latency_tail_s: " + (
            f"p{tail[0]} {tail[1]:.3f} s over {len(walls)} samples" if tail
            else f"omitted, {len(walls)} samples leave fewer than 10 beyond "
                 "any percentile"))
    for kind, k in sorted((out.get("kinds") or {}).items()):
        r = f"{k['recalled'] / k['truth']:.4f}" if k["truth"] else "n/a"
        lines.append(f"recall {kind}: {k['recalled']}/{k['truth']} in truth "
                     f"set ({r}); {k['planted']} planted, "
                     f"{k['linked_outside_truth']} linked outside the truth "
                     "set")
    if "first_op" in out:
        lines.append(f"first_op_s: {out['first_op']:.3f} s (cold)")
    lines.append(f"peak_rss_mb: {peak_mb:.1f} MB (process tree)")
    lines.append(f"error_rate: {failed}/{out['attempted']} = "
                 f"{failed / max(out['attempted'], 1):.4f}")
    for e in out["errors"]:
        lines.append(f"FAILED: {e}")

    correct = not out["errors"] and bool(walls)
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        from spans import layer_table, read_event_log
        tracer.write(work / "spans.jsonl")
        by_group, by_batch = read_event_log(work / "events")
        values = layer_table(work / "spans.jsonl", by_group, cores)
        if "epochs" in out:
            values.update(stream_layers(by_batch, out["epochs"]))
        tu, tt = out.get("trace_untraced", 0.0), out.get("trace_traced", 0.0)
        values.update({"trace.untraced_latency_s": tu,
                       "trace.traced_latency_s": tt,
                       "trace.overhead_s": tt - tu,
                       "process.peak_rss_mb": peak_mb,
                       "process.first_op_s": out.get("first_op", 0.0)})
        # a layer the workload never ran (no stream in small_search)
        # did no work: it reads 0
        metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"])
                   for m in declared["per_layer"]}
    else:
        values = {"setup_s": setup_s,
                  "latency_p50_s": statistics.median(walls) if walls
                  else None,
                  "files_per_s": sum(out["files"]) / sum(walls) if walls
                  else None,
                  "pair_recall": out.get("recall")}
        metrics = {m["name"]: (values[m["name"]], m["unit"])
                   for m in declared["end_to_end"]
                   if values[m["name"]] is not None}
    for name, (v, unit) in metrics.items():
        if not args.trace or name.startswith(
                ("plans.search.", "trace.", "streaming.", "process.")):
            lines.append(f"{name}: {v:.4f} {unit}")
    print("\n".join(lines), flush=True)
    for p in work.iterdir():  # keep only the spans of a traced run
        if p.is_dir():
            shutil.rmtree(p)
        elif p.name != "spans.jsonl":
            p.unlink()
    print(json.dumps({
        "correct": correct, "attempted": out["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0

if __name__ == "__main__":
    sys.exit(main())
