#!/usr/bin/env python3
"""Benchmark of the KG-construction engine on local[nproc].

    python3 perfbench/run.py --workload build_heavy --seed 1 --seconds 20 --trace 0

Workloads (why each exists: perfbench/README.md):

* ``build_heavy``  — heavy-profile pages through ``plans.pipeline.run``
  into a fresh store, the first pipeline pass of the JVM.
* ``append_serve`` — 100-page micro-batches of new urls through
  ``plans.pipeline.run_incremental`` on a restored 300-page base
  store, each followed by one serving round (closed loop, one client).

Inputs come from ``sources.corpus.generate_pages(seed=--seed)`` in
untimed set-up; the engine only sees the generated pages. Iterations
repeat until ``--seconds`` of timed work have run (at least one; at
least two rounds of untraced ``append_serve``), and the metrics are
medians over them.
``--trace 0`` reports the end-to-end metrics with tracing off;
``--trace 1`` reports the per-layer metrics of a traced run. Every
output is checked (perfbench/gate.py). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (corpus, stores, Spark local and temp dirs)
lives under ``.perfbench_work/<pid>`` in the checkout and is removed on
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

import gate
from layers import (STAGE_METRICS, Tracer, jvm_gc_s, kernel_metrics, layer_metrics,
                    yield_metrics)
from probes import TreeSampler, descendants, stat_fields, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PKG_DIR = os.path.join(REPO, "metal_history_knowledge_graph_spark")

#: pages per workload and the fewest timed iterations a run makes;
#: ``--tiny`` is the smoke-test size
SIZES = {
    "build_heavy": {"profile": "heavy", "pages": 300, "batch": 50, "batches": 1,
                    "min_iters": 1},
    "append_serve": {"profile": "default", "pages": 300, "batch": 100, "batches": 3,
                     "min_iters": 2},
}
TINY = {"build_heavy": {"pages": 24, "batch": 8}, "append_serve": {"pages": 40, "batch": 10}}

END_TO_END = {
    "wall_s": "s", "pages_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB",
    "setup_s": "s", "refresh_s_p50": "s",
}
STAGE_LAYER = {"chunks": "chunk", "extracted": "extract",
               "entities": "canonicalize", "edges": "triples"}
LAYERS = [*STAGE_LAYER.values(), "incremental"]
SERVE_FNS = ["degree_stats", "genre_popularity", "bands_per_decade", "shared_members",
             "influence_chains", "substring_search", "pagerank", "component_sizes",
             "longest_chains", "hybrid_search", "validate_entities"]


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in STAGE_METRICS.items()}
    # triples runs no Python UDF: its Python time is 0 by construction
    del units["triples.python_s"]
    units.update({
        "html_text.us_per_page": "us", "chunker.us_per_page": "us",
        "patterns.us_per_chunk_default": "us", "patterns.us_per_chunk_heavy": "us",
        "patterns.mentions_per_chunk": "count",
        "canonicalize.lsh_candidates": "count", "canonicalize.verified_pairs": "count",
        "canonicalize.pair_yield": "ratio", "triples.resolved_frac": "ratio",
        **{f"serve.{fn}_ms": "ms" for fn in SERVE_FNS},
        "serve.query_ms_p50": "ms",
        "session.jvm_s": "s", "corpus.gen_s": "s", "warmup_s": "s",
        "trace.wall_s": "s", "trace.glue_s": "s", "jvm.gc_s": "s",
        "host.steal_pct": "%", "host.loadavg": "load",
    })
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, cpus: int):
    from metal_history_knowledge_graph_spark.session import get_spark

    heap = f"{min(8, max(2, cpus))}g"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_confs={
            "spark.driver.memory": heap,
            # a fixed-size heap, touched at start: resident memory does not
            # depend on when the collector first used a region, and the
            # timed work takes no first-touch page faults on the heap
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
            "spark.local.dir": work,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            # one input split per corpus file (the corpus is written
            # as 4 files per core), as bench.py does
            "spark.sql.files.maxPartitionBytes": str(2 << 20),
            "spark.sql.files.openCostInBytes": str(128 << 10),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    # the JVM and its Python workers, by pid and start time (field 22)
    started = {pid: f[19] for pid, f in descendants().items()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # Python workers outlive the JVM (re-parented, so no longer
    # descendants) until they notice it is gone; their work is done, so
    # end them now rather than wait, and wait until each has ended
    def alive() -> list[int]:
        return [pid for pid, start in started.items()
                if (f := stat_fields(str(pid))) and f[19] == start and f[0] != "Z"]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while alive() and time.time() < deadline:
            time.sleep(0.05)
        if not alive():
            break


class Bench:
    """One benchmark run: set-up, timed iterations, checks, metrics."""

    def __init__(self, args, cpus: int, work: str):
        self.args = args
        self.cpus = cpus
        self.work = work
        self.size = dict(SIZES[args.workload], **(TINY[args.workload] if args.tiny else {}))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = None
        self.layer_rows: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.check_s = 0.0
        self.expected = gate.expected_for(args.workload, self.size, args.seed)

    # -- operations and checks ------------------------------------------
    def op(self, name: str, fn):
        """Run one timed operation; a raised error is a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - recorded and counted as failed
            traceback.print_exc()
            self.failed += 1
            self.failures.append(f"{name}: raised")
            return None

    def check(self, phase: str, store, n_pages: int) -> None:
        """Correctness gate on a committed store holding pages [0, n)."""
        t0 = time.time()
        truth = gate.oracle(n_pages, self.args.seed, self.size["profile"])
        got, failures = gate.check(store, truth, n_pages, self.expected.get(phase),
                                full=self.args.record)
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures += [f"{phase}: {f}" for f in failures]
        if self.args.record:
            gate.record(self.args.workload, self.size, self.args.seed, phase, got)
        self.check_s += time.time() - t0
        print(f"check {phase}: edges={got['rows.edges']} "
              f"edge_provenance={got['rows.edge_provenance']} "
              f"{'ok' if not failures else 'FAILED ' + '; '.join(failures)}",
              flush=True)

    # -- engine calls -----------------------------------------------------
    def span(self, layer: str):
        return self.tracer.span(layer) if self.tracer else nullcontext()

    def build(self, pages, store, run_id: str) -> dict:
        """plans.pipeline.run; traced, one span per stage through the
        resume pattern (stop after stage S, resume for the next)."""
        from metal_history_knowledge_graph_spark.plans.pipeline import STAGES, run

        if not self.tracer:
            return run(self.spark, pages, store, run_id=run_id, resume=False)
        m: dict = {}
        t0 = time.time()
        for i, stage in enumerate(STAGES):
            with self.span(STAGE_LAYER[stage]):
                m.update(run(self.spark, pages, store, run_id=run_id,
                             resume=i > 0, until_stage=stage))
        wall = time.time() - t0
        self.layer_rows.update({layer: m[f"{s}_rows"] for s, layer in STAGE_LAYER.items()})
        self.extra["trace.wall_s"] = wall
        self.extra["trace.glue_s"] = wall - sum(m[f"{s}_secs"] for s in STAGE_LAYER)
        return m

    def refresh(self, pages, store, run_id: str) -> dict:
        from metal_history_knowledge_graph_spark.plans.pipeline import run_incremental

        with self.span("incremental"):
            m = run_incremental(self.spark, pages, store, run_id=run_id)
        self.layer_rows["incremental"] = m["edges_rows"]
        return m

    def serve(self, store) -> list[float]:
        """One round of the serving mix; returns per-call ms."""
        from metal_history_knowledge_graph_spark.operators import embeddings as E
        from metal_history_knowledge_graph_spark.operators import graph_algos as G
        from metal_history_knowledge_graph_spark.operators.validate import validate_entities
        from metal_history_knowledge_graph_spark.plans import queries as Q

        ents, edges = store.read("entities"), store.read("edges")
        calls = {
            "degree_stats": lambda: Q.degree_stats(edges),
            "genre_popularity": lambda: Q.genre_popularity(edges),
            "bands_per_decade": lambda: Q.bands_per_decade(ents),
            "shared_members": lambda: Q.shared_members(edges),
            "influence_chains": lambda: Q.influence_chains(edges),
            "substring_search": lambda: Q.substring_search(ents, "sab"),
            "pagerank": lambda: G.pagerank(edges),
            "component_sizes": lambda: G.component_sizes(edges),
            "longest_chains": lambda: G.longest_chains(edges),
            "hybrid_search": lambda: E.hybrid_search(
                self.spark, ents, E.embed_entities(ents), "sabbath"),
            "validate_entities": lambda: validate_entities(ents),
        }
        out = []
        for fn in SERVE_FNS:
            t0 = time.time()
            rows = self.op(f"serve.{fn}", lambda: calls[fn]().collect())
            ms = (time.time() - t0) * 1e3
            if rows is not None:
                out.append(ms)
                self.extra[f"serve.{fn}_ms"] = ms
        return out

    # -- set-up -----------------------------------------------------------
    def write_corpus(self, n_batches: int) -> dict[str, str]:
        """Generate base pages [0, n) plus ``batches`` micro-batches of
        new urls after them, written as parquet parts (4 files per core).
        Page urls are zero-padded page ids, so url order is page order."""
        from pyspark.sql import functions as F

        from metal_history_knowledge_graph_spark.sources.corpus import (
            build_page, generate_pages)

        s, seed = self.size, self.args.seed
        root = os.path.join(self.work, "pages")
        n_total = s["pages"] + s["batch"] * n_batches
        part = F.lit("base")
        for k in range(n_batches):
            first = build_page(s["pages"] + s["batch"] * k, seed, s["profile"])["url"]
            part = F.when(F.col("url") >= first, f"batch{k}").otherwise(part)
        (generate_pages(self.spark, n_total, seed=seed, profile=s["profile"],
                        partitions=4 * self.cpus)
         .withColumn("part", part).write.partitionBy("part").parquet(root))
        names = ["base"] + [f"batch{k}" for k in range(n_batches)]
        return {n: os.path.join(root, f"part={n}") for n in names}

    def warm_up_workers(self, pages_path: str) -> None:
        """Start the Python workers and load the chunk/extract code in
        them: chunk and extract a few pages and collect the result."""
        from metal_history_knowledge_graph_spark.operators.chunk import chunk_pages
        from metal_history_knowledge_graph_spark.operators.extract import extract_chunks

        few = self.spark.read.parquet(pages_path).limit(2 * self.cpus)
        extract_chunks(chunk_pages(few).repartition(self.cpus)).collect()

    # -- run --------------------------------------------------------------
    def run(self) -> dict:
        """Set up, measure, stop Spark; returns the reported metrics."""
        with TreeSampler() as sampler:
            t0 = time.time()
            self.spark = start_spark(self.work, self.cpus)
            jvm_s = time.time() - t0
            try:
                m = self.measure(sampler)
            finally:
                t0 = time.time()
                stop_spark(self.spark)
                print(f"phases: checks {self.check_s:.1f}s, stop {time.time() - t0:.1f}s",
                      flush=True)
            host = sampler.host()

        iters = m["iters"]
        med = lambda k: statistics.median(it[k] for it in iters)  # noqa: E731
        if not self.args.trace:
            return {
                "wall_s": med("wall"),
                "pages_per_s": statistics.median(it["pages"] / it["wall"] for it in iters),
                "cpu_s": med("cpu"),
                "peak_rss_mb": max(it["peak"] for it in iters),
                "setup_s": jvm_s + m["gen_s"] + m["warmup_s"],
                "refresh_s_p50": med("write"),
                **{f"host.{k}": v for k, v in host.items()},
            }
        return {
            **m["layers"], **kernel_metrics(self.args.seed), **self.extra,
            "serve.query_ms_p50": statistics.median(ms for it in iters for ms in it["lat"]),
            "session.jvm_s": jvm_s, "corpus.gen_s": m["gen_s"], "warmup_s": m["warmup_s"],
            "host.steal_pct": host["steal_pct"], "host.loadavg": host["loadavg"],
        }

    def measure(self, sampler) -> dict:
        """Corpus, warm-up, timed iterations with their checks and, when
        traced, the untimed extra calls and the layer metrics."""
        from metal_history_knowledge_graph_spark.io import TableStore

        args, s = self.args, self.size
        heavy = args.workload == "build_heavy"
        if args.trace:
            self.tracer = Tracer(self.spark)
        t0 = time.time()
        # build_heavy feeds a micro-batch only in the traced run
        paths = self.write_corpus(s["batches"] if args.trace or not heavy else 0)
        gen_s = time.time() - t0

        base_dir = os.path.join(self.work, "base")
        t0 = time.time()
        if heavy:
            self.warm_up_workers(paths["base"])
        elif self.op("base_build", lambda: self.build(  # the warm-up pass
                self.spark.read.parquet(paths["base"]), TableStore(self.spark, base_dir),
                "base")) is None:
            raise RuntimeError("base store build failed")
        warmup_s = time.time() - t0
        if not heavy and ("base" in self.expected or args.record):
            self.check("base", TableStore(self.spark, base_dir), s["pages"])

        iters: list[dict] = []
        timed = 0.0
        # a traced run reports per-layer figures, not medians: one will do
        min_iters = 1 if args.trace else s["min_iters"]
        while len(iters) < min_iters or timed < args.seconds:
            r = len(iters)
            if heavy:
                store = TableStore(self.spark, os.path.join(self.work, f"store{r}"))
                pages = self.spark.read.parquet(paths["base"])
                n_new = n_fed = s["pages"]
                write = lambda: self.build(pages, store, f"build-{r}")  # noqa: E731
            else:
                k = r % s["batches"]
                live = os.path.join(self.work, "live")
                if k == 0:  # restore an untouched copy of the base store
                    shutil.rmtree(live, ignore_errors=True)
                    shutil.copytree(base_dir, live)
                store = TableStore(self.spark, live)
                pages = self.spark.read.parquet(paths[f"batch{k}"])
                n_new, n_fed = s["batch"], s["pages"] + s["batch"] * (k + 1)
                write = lambda: self.refresh(pages, store, f"inc-{r}")  # noqa: E731

            sampler.reset_peak()
            c0, t0 = tree_cpu_s(), time.time()
            done = self.op("write", write)
            t_write = time.time() - t0
            lat = self.serve(store) if done is not None and not heavy else []
            wall = time.time() - t0
            cpu, peak = tree_cpu_s() - c0, sampler.peak_mb()
            timed += wall
            if done is None:
                break
            iters.append(dict(wall=wall, write=t_write, cpu=cpu, peak=peak,
                              pages=n_new, lat=lat))
            print(f"iteration {r}: wall {wall:.2f}s write {t_write:.2f}s "
                  f"cpu {cpu:.1f}s", flush=True)
            self.check("build" if heavy else f"batch{k}", store, n_fed)
            if heavy and r:
                shutil.rmtree(os.path.join(self.work, f"store{r - 1}"), ignore_errors=True)
        if not iters:
            raise RuntimeError("no iteration completed")

        out = dict(iters=iters, gen_s=gen_s, warmup_s=warmup_s)
        if self.tracer:
            if heavy:  # untimed: one micro-batch and one serving round
                self.op("incremental", lambda: self.refresh(
                    self.spark.read.parquet(paths["batch0"]), store, "inc-trace"))
                self.check("traced_batch0", store, s["pages"] + s["batch"])
                iters[-1]["lat"] = self.serve(store)
            out["layers"] = {
                **layer_metrics(self.spark, self.tracer.spans, self.layer_rows),
                **yield_metrics(store),
                "jvm.gc_s": jvm_gc_s(self.spark),
            }
        return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    p.add_argument("--record", action="store_true",
                   help="store this seed's outputs in expected.json")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: engine package {os.path.basename(PKG_DIR)} not found "
              f"next to {os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    cpus = nproc()
    work = os.path.join(REPO, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": work,
        "TMPDIR": work,
        # every JVM (the launcher too): temp files in the work dir, no
        # /tmp/hsperfdata_<user> perf-data files
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}"])),
    })
    tempfile.tempdir = None
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench = Bench(args, cpus, work)
        values = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    units = per_layer_units() if args.trace else END_TO_END
    s = bench.size
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"local[{cpus}] pages={s['pages']} batch={s['batch']} ({s['profile']})")
    for name, v in values.items():
        print(f"  {name:36s} {v:14.4f} {units.get(name, '')}")
    print(f"  failed_frac {bench.failed}/{bench.attempted} = "
          f"{bench.failed / bench.attempted:.4f}")
    for f in bench.failures:
        print(f"  FAILED {f}")
    correct = not bench.failed
    print(f"correct={correct}", flush=True)
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
