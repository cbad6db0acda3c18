"""Traced mode: layer spans around calls into the engine, the Spark
status store behind them, in-process kernel timings and work yields.

Every span sets a Spark job group (``perfbench:<layer>``) for the calls
it wraps, so the Spark UI REST API (``/jobs``, ``/stages``, ``/sql``)
attributes each job, stage and SQL execution to exactly one layer.
Spans are kept in memory and resolved against the REST API once, after
the traced work has finished.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

GROUP_PREFIX = "perfbench:"

#: per-layer stage metrics: name → unit
STAGE_METRICS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "driver_gap_s": "s",
    "executor_cpu_s": "s", "python_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "written_mb": "MB",
    "rows_out": "count", "task_skew": "ratio", "failed_tasks": "count",
}


class Tracer:
    """Records (layer, start, end) spans and labels their Spark jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(GROUP_PREFIX + layer, layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total_s(value: str) -> float:
    """Total of a Spark SQL timing metric ('total (min, med, max ...)\\n
    12.2 s (306 ms, ...)' or a bare '30 ms')."""
    m = _DURATION.search(value.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur is not None else 0.0)


def wait_idle(spark, timeout_s: float = 10.0) -> None:
    """Wait until the status store shows no active job (listener events
    arrive asynchronously after an action returns)."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + timeout_s
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def layer_metrics(spark, spans, rows_out: dict[str, float]) -> dict[str, float]:
    """Per-layer Spark metrics of the spans, as ``<layer>.<metric>``.

    ``task_skew`` is max ÷ median task run time in the layer's heaviest
    Spark stage (most executor run time); ``rows_out`` is the row count
    the engine reports for the layer's committed output."""
    wait_idle(spark)
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/"
    base += _get(base, "")[0]["id"]
    jobs = _get(base, "/jobs")
    stages = _get(base, "/stages?details=true")
    sqls = _get(base, "/sql?details=true&planDescription=false&length=100000")

    job_layer = {j["jobId"]: j["jobGroup"][len(GROUP_PREFIX):] for j in jobs
                 if j.get("jobGroup", "").startswith(GROUP_PREFIX)}
    stage_job: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            stage_job.setdefault(sid, j["jobId"])  # first job runs it
    python_s: dict[str, float] = {}
    for ex in sqls:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        layers = {job_layer[i] for i in ids if i in job_layer}
        if len(layers) != 1:
            continue
        layer = layers.pop()
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "time to run Python workers":
                    python_s[layer] = python_s.get(layer, 0.0) + _metric_total_s(m["value"])

    windows: dict[str, list[tuple[float, float]]] = {}
    for layer, t0, t1 in spans:
        windows.setdefault(layer, []).append((t0, t1))
    out: dict[str, float] = {}
    for layer, wins in windows.items():
        mine = [j for j in jobs if job_layer.get(j["jobId"]) == layer]
        ids = {j["jobId"] for j in mine}
        stg = [s for s in stages if stage_job.get(s["stageId"]) in ids
               and s["status"] in ("COMPLETE", "FAILED")]
        done = [(_ts(j["submissionTime"]), _ts(j["completionTime"]))
                for j in mine if "completionTime" in j]
        wall = sum(t1 - t0 for t0, t1 in wins)
        covered = sum(_union_s([(max(t0, a), min(t1, b)) for a, b in done
                                if a < t1 and b > t0]) for t0, t1 in wins)
        heaviest = max(stg, key=lambda s: s["executorRunTime"], default=None)
        skew = 1.0
        if heaviest and heaviest.get("tasks"):
            times = [t["taskMetrics"]["executorRunTime"]
                     for t in heaviest["tasks"].values() if "taskMetrics" in t]
            med = statistics.median(times) if times else 0
            skew = max(times) / med if med else 1.0
        totals = {
            "wall_s": wall,
            "jobs": len(mine),
            "tasks": sum(s["numCompleteTasks"] for s in stg),
            "driver_gap_s": wall - covered,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stg) / 1e9,
            "python_s": python_s.get(layer, 0.0),
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stg) / 2**20,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stg) / 2**20,
            "written_mb": sum(s["outputBytes"] for s in stg) / 2**20,
            "failed_tasks": sum(s["numFailedTasks"] for s in stg),
        }
        # a layer called several times (one refresh per round) reports
        # its mean per call
        out.update({f"{layer}.{k}": v / len(wins) for k, v in totals.items()})
        out[f"{layer}.rows_out"] = float(rows_out.get(layer, 0.0))
        out[f"{layer}.task_skew"] = skew
    return out


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector of the (driver and
    executor) JVM since it started."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def _per_item_us(fn, items, passes: int = 3) -> float:
    """Median over ``passes`` of the mean µs per item."""
    per = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        per.append((time.perf_counter() - t0) * 1e6 / len(items))
    return statistics.median(per)


def kernel_metrics(seed: int, n_default: int = 60, n_heavy: int = 12) -> dict[str, float]:
    """Pure-Python kernels of the chunk and extract stages, timed
    in-process on a seeded page sample and the chunks cut from it."""
    from metal_history_knowledge_graph_spark.functions.chunker import split_text
    from metal_history_knowledge_graph_spark.functions.html_text import html_to_text
    from metal_history_knowledge_graph_spark.functions.patterns import extract_from_text
    from metal_history_knowledge_graph_spark.sources.corpus import build_page

    first = 10_000  # past the fixed fixture pages, so the sample follows the seed
    default = [build_page(first + i, seed, "default") for i in range(n_default)]
    heavy = [build_page(first + i, seed, "heavy") for i in range(n_heavy)]
    pages = default + heavy
    chunks = {
        name: [c["text"] for p in sample for c in split_text(p["text"], p["url"])]
        for name, sample in (("default", default), ("heavy", heavy))
    }
    mentions = sum(len(extract_from_text(t)[0]) for t in chunks["heavy"])
    return {
        "html_text.us_per_page": _per_item_us(lambda p: html_to_text(p["html"]), pages),
        "chunker.us_per_page": _per_item_us(lambda p: split_text(p["text"], p["url"]), pages),
        "patterns.us_per_chunk_default": _per_item_us(extract_from_text, chunks["default"]),
        "patterns.us_per_chunk_heavy": _per_item_us(extract_from_text, chunks["heavy"]),
        "patterns.mentions_per_chunk": mentions / len(chunks["heavy"]),
    }


def yield_metrics(store) -> dict[str, float]:
    """Useful-outcome ratios of canonicalize (LSH candidate pairs that
    verify) and triples (relationship endpoints that resolve), from the
    engine's public functions run over the committed tables."""
    from pyspark.sql import functions as F

    from metal_history_knowledge_graph_spark.operators.canonicalize import (
        candidate_pairs_lsh, surface_forms, verify_pairs)
    from metal_history_knowledge_graph_spark.operators.extract import (
        mentions_of, relationships_of)
    from metal_history_knowledge_graph_spark.operators.triples import (
        normalize_predicates, resolution_stats, resolve_triples)

    extracted = store.read("extracted")
    forms = surface_forms(mentions_of(extracted)).localCheckpoint(eager=True)
    cands = candidate_pairs_lsh(forms).localCheckpoint(eager=True)
    n_cand = cands.count()
    n_ver = verify_pairs(cands).count()
    stats = resolution_stats(resolve_triples(
        normalize_predicates(relationships_of(extracted)), store.read("resolution"))
    ).agg(F.sum("n_candidates").alias("n"),
          F.sum(F.col("unresolved_subj") + F.col("unresolved_obj")).alias("u")).first()
    n = stats["n"] or 0
    return {
        "canonicalize.lsh_candidates": float(n_cand),
        "canonicalize.verified_pairs": float(n_ver),
        "canonicalize.pair_yield": n_ver / n_cand if n_cand else 0.0,
        "triples.resolved_frac": 1.0 - stats["u"] / (2 * n) if n else 0.0,
    }
