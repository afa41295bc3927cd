"""perfbench runner: one seeded workload, measured, checked, reported.

    python3 perfbench/run.py --workload catalog_build --seed 1 \\
        --seconds 1 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed again at exit).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced pass with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# modules whose spans roll up into <layer>.shuffle_mb / spill_mb / cpu_s
LAYERS = ("sources", "extractors", "dedup", "plans", "normalize",
          "incremental", "sinks", "oai", "retrieval", "curate", "text_dedup")


def machine() -> dict:
    """CPU and memory sizing for the Spark session: every CPU this
    process may run on, and a driver heap of a quarter of RAM capped at
    3 GiB (the box is shared; local mode runs executors in the driver)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    driver_mb = max(1024, min(3072, total_kb // 1024 // 4))
    return {"cpus": cpus, "mem_total_mb": total_kb // 1024,
            "driver_mem_mb": driver_mb}


def set_env(mach: dict, work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(mach["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mach['driver_mem_mb']}m"
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)


class Ctx:
    """What a workload sees: the session, its inputs, a work directory
    for the pass's outputs, the operation log and the tracer."""

    def __init__(self, spark, inputs: str, work_dir: str, ops, tracer):
        self.spark, self.inputs, self.work_dir = spark, inputs, work_dir
        self.ops, self.tracer = ops, tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def fresh_work(self) -> str:
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)
        return self.work_dir

    def work(self, name: str) -> str:
        return os.path.join(self.work_dir, "_stage", name)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        proc.wait(timeout=60)


def per_layer(tracer, gc_s: float, wall: float, overhead: float) -> dict:
    """The traced pass's spans rolled up into the per-layer metrics.  A
    layer the workload does not exercise reports 0."""
    t = tracer.layer_totals()

    def s(name):
        return t.get(name, {}).get("s", 0.0)

    def a(name, key):
        return t.get(name, {}).get("attrs", {}).get(key, 0)

    def sp(name, key):
        return t.get(name, {}).get("spark", {}).get(key, 0.0)

    def per_call(name, key):
        calls = t.get(name, {}).get("calls", 0)
        return sp(name, key) / calls if calls else 0.0

    def ratio(x, y):
        return x / y if y else 0.0

    m = {
        "sources.split.s": (s("sources.split"), "s"),
        "sources.split.records": (a("sources.split", "records"), "count"),
        "sources.upsert.s": (s("sources.upsert"), "s"),
        "sources.upsert.rows_written": (a("sources.upsert", "rows_written"), "count"),
        "sources.upsert.write_amp": (ratio(a("sources.upsert", "rows_written"),
                                           a("sources.upsert", "batch_rows")), "ratio"),
        "sources.warc.s": (s("sources.warc"), "s"),
        "sources.warc.docs": (a("sources.warc", "docs"), "count"),
        "extractors.marc.s": (s("extractors.marc"), "s"),
        "extractors.marc.records": (a("extractors.marc", "records"), "count"),
        "dedup.keys.s": (s("dedup.keys"), "s"),
        "dedup.block_verify.s": (s("dedup.block_verify"), "s"),
        "dedup.candidate_pairs": (a("dedup.candidates", "candidate_pairs"), "count"),
        "dedup.verified_edges": (a("dedup.block_verify", "verified_edges"), "count"),
        "dedup.pair_yield": (ratio(a("dedup.block_verify", "verified_edges"),
                                   a("dedup.candidates", "candidate_pairs")), "ratio"),
        "dedup.capped_keys": (a("dedup.candidates", "capped_keys"), "count"),
        "dedup.components.s": (s("dedup.components"), "s"),
        "dedup.groups": (a("dedup.components", "groups"), "count"),
        "plans.mapping.s": (s("plans.mapping"), "s"),
        "normalize.s": (s("normalize"), "s"),
        "incremental.select.s": (s("incremental.select"), "s"),
        "incremental.selected_ratio": (ratio(a("incremental.select", "selected"),
                                             a("incremental.select", "candidates")), "ratio"),
        "sinks.solr.s": (s("sinks.solr"), "s"),
        "sinks.solr.docs": (a("sinks.solr", "docs"), "count"),
        "sinks.solr.files": (a("sinks.solr", "files"), "count"),
        "sinks.solr_delete.ids": (a("sinks.solr_delete", "ids"), "count"),
        "oai.page.s": (s("oai.page"), "s"),
        "oai.page.p50_ms": (tracer.p50_ms("oai.page"), "ms"),
        "oai.page.input_mb": (per_call("oai.page", "input_mb"), "MB"),
        "oai.pages": (t.get("oai.page", {}).get("calls", 0), "count"),
        "retrieval.build.s": (s("retrieval.build"), "s"),
        "retrieval.bm25.s": (s("retrieval.bm25"), "s"),
        "retrieval.jobs": (per_call("retrieval.bm25", "jobs"), "count"),
        "retrieval.stages": (per_call("retrieval.bm25", "stages"), "count"),
        "retrieval.input_mb": (per_call("retrieval.bm25", "input_mb"), "MB"),
        "curate.gates.s": (s("curate.gates"), "s"),
        "curate.gates.kept_ratio": (ratio(a("curate.gates", "kept"),
                                          a("curate.gates", "docs")), "ratio"),
        "curate.pipeline.s": (s("curate.pipeline"), "s"),
        "text_dedup.signature.s": (s("text_dedup.signature"), "s"),
        "text_dedup.lsh.s": (s("text_dedup.lsh"), "s"),
        "text_dedup.verify.s": (s("text_dedup.verify"), "s"),
        "text_dedup.candidate_pairs": (a("text_dedup.lsh", "candidate_pairs"), "count"),
        "text_dedup.verified_pairs": (a("text_dedup.verify", "verified_pairs"), "count"),
        "text_dedup.pair_yield": (ratio(a("text_dedup.verify", "verified_pairs"),
                                        a("text_dedup.lsh", "candidate_pairs")), "ratio"),
    }
    for layer in LAYERS:
        names = [n for n in t if n == layer or n.startswith(layer + ".")]
        for key, unit in (("shuffle_mb", "MB"), ("spill_mb", "MB"),
                          ("cpu_s", "s")):
            m[f"{layer}.{key}"] = (sum(sp(n, key) for n in names), unit)
    m["jvm.gc_s"] = (gc_s, "s")
    m["trace.wall_s"] = (wall, "s")
    m["trace.overhead_s"] = (overhead, "s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "recordmanager_spark")):
        print("perfbench: run from the repository root "
              "(recordmanager_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(W.WORKLOADS)})", file=sys.stderr)
        return 2
    mach = machine()
    base = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    set_env(mach, base)
    try:
        gen.generate(args.workload, args.seed, os.path.join(base, "inputs"))
        result = _measure(args, base, W)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        parent = os.path.dirname(base)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    metrics, ops, detail = result
    failed = sum(1 for _, _, ok in ops.ops if not ok) + sum(
        1 for _, ok, _ in ops.checks if not ok)
    attempted = len(ops.ops) + len(ops.checks)
    print(json.dumps({"machine": mach, "detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }, sort_keys=True))
    return 0


def _measure(args, base: str, W):
    """Session start (set-up), then the timed passes or the traced run.
    The first pass is cold, as every console command a user runs is."""
    from counters import RssSampler, Tracer, jvm_gc_seconds
    from recordmanager_spark.session import get_spark

    ops = W.Ops()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(base, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
        try:
            setup_s = time.perf_counter() - t0
            ctx = Ctx(spark, os.path.join(base, "inputs"),
                      os.path.join(base, "pass"), ops, Tracer(False))
            wl = W.WORKLOADS[args.workload](ctx)
            if args.trace:
                return _traced(ctx, wl, spark, Tracer, jvm_gc_seconds), ops, {}
            rates, passes = [], 0
            start = time.perf_counter()
            while not passes or time.perf_counter() - start < args.seconds:
                passes += 1
                t = time.perf_counter()
                n = ops.timed("pass", wl.run, traced=False)
                if n is None:
                    break
                rates.append(n / (time.perf_counter() - t))
            detail = _checked(ops, wl)
        finally:
            stop_spark(spark)
    metrics = {
        "setup_s": (setup_s, "s"),
        "records_per_s": (statistics.median(rates) if rates else 0.0, "1/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "dedup_precision": (detail["dedup_precision"], "ratio"),
        "dedup_recall": (detail["dedup_recall"], "ratio"),
    }
    detail["passes"] = passes
    detail["ops"] = [(k, round(t, 3)) for k, t, _ in ops.ops]
    return metrics, ops, detail


def _checked(ops, wl) -> dict:
    """The workload's output checks and dedup quality; checks that
    cannot run count as one failed check and quality 0."""
    try:
        return wl.check()
    except Exception as e:  # noqa: BLE001 - any failure is a failed check
        ops.check("checks_ran", False, repr(e))
        return {"dedup_precision": 0.0, "dedup_recall": 0.0}


def _traced(ctx, wl, spark, Tracer, jvm_gc_seconds) -> dict:
    """A traced pass, cold like the timed runs' pass, whose spans give
    the per-layer metrics.  Its tracing overhead is the time the tracer
    spent reading the status store and counting rows for the report."""
    ctx.tracer = tracer = Tracer(True, spark)
    gc0 = jvm_gc_seconds(spark)
    t = time.perf_counter()
    ctx.ops.timed("pass", wl.run, traced=True)
    wall = time.perf_counter() - t
    gc_s = jvm_gc_seconds(spark) - gc0
    _checked(ctx.ops, wl)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"spans-{wl.name}-{os.getpid()}.jsonl"))
    return per_layer(tracer, gc_s, wall, tracer.overhead_s)


if __name__ == "__main__":
    sys.exit(main())
