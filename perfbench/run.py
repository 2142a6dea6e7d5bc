#!/usr/bin/env python3
"""Benchmark of the acuvate_spark engine.

    python3 perfbench/run.py --workload batch_chain --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. The program generates its inputs
from ``--seed`` (tables in ``perfbench/datagen.py``, registers and
blobs in ``perfbench/service.py``), starts the engine's
own session (``acuvate_spark.session.get_spark``), sets up and warms
it, measures the workload for ``--seconds``, checks every output, and
prints a report followed by one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans and Spark job counts around every call into the
engine). Workloads, metrics and the layer each metric belongs to are
described in ``perfbench/README.md``. All scratch state (tables,
registers, blob directories, checkpoints, Spark local and warehouse
directories) lives under ``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_chain", "registry_ingest")
SESSION_CYCLES = 3
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "ops_per_s": "1/s",
    "freshness_p50_s": "s",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    from perfbench.batch import CHAIN
    from perfbench.service import OP_BLOCK

    units = {
        "session.start_s": "s",
        "session.restart_s": "s",
        "session.py_worker_warm_s": "s",
        "session.stream_warm_s": "s",
        "tables.scan_s": "s",
    }
    for q in CHAIN:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s", f"query.{q}.jobs": "count"})
    units.update({"queries.tasks": "count", "queries.failed_tasks": "count"})
    for op in dict.fromkeys(OP_BLOCK):
        units[f"api.{op}.p50_ms"] = "ms"
    units.update({
        "api.table.p50_ms": "ms",
        "api.jobs_per_read": "count",
        "api.jobs_per_write": "count",
        "api.write_amp": "ratio",
        "api.space_amp": "ratio",
        "api.versions_on_disk": "count",
        "blob_ingest.start_s": "s",
        "blob_ingest.pass_s": "s",
        "blob_ingest.drain_s": "s",
        "blob_ingest.add_batch_ms": "ms",
        "blob_ingest.wal_commit_ms": "ms",
        "blob_ingest.latest_offset_ms": "ms",
        "blob_ingest.backlog_max": "count",
        "blob_ingest.committed_dirs": "count",
        "blob_ingest.readback_s": "s",
        "blob_ingest.retry_ratio": "ratio",
        "blob_ingest.generator_late_ms": "ms",
        "trace.overhead_pct": "%",
    })
    return units


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> None:
    """Environment the engine needs when driven from outside its own
    tree, set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    # The JVM is launched before the engine's builder runs, so its heap
    # size has to be given at launch; spark.driver.memory set later by
    # the builder would be ignored.
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-memory", DRIVER_MEM,
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", java_opts,
        "pyspark-shell",
    ])


class Ctx:
    def __init__(self, args, work: str, sf_dir: str):
        self.seed, self.seconds, self.tamper, self.scale = args.seed, args.seconds, args.tamper, args.scale
        self.work, self.sf_dir = work, sf_dir
        self.spark = None
        self.tracer = None
        self.expected = None  # batch_chain: oracle fingerprint per query


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def run_batch(ctx, setup: dict) -> tuple[dict, dict, int, list[str]]:
    from perfbench import batch
    from perfbench.common import RssSampler, now, parallel, py_worker_job, scan_tables

    with RssSampler() as rss:
        t0 = now()
        if ctx.tracer.enabled:
            # per-layer only: the cold pass below starts the Python
            # workers and reads every table anyway
            warm = parallel({
                "py_worker_warm_s": lambda: py_worker_job(ctx.spark),
                "scan_s": lambda: scan_tables(ctx.spark, ctx.sf_dir),
            })
            setup.update(py_worker_warm_s=warm["py_worker_warm_s"], scan_s=warm["scan_s"])
        cold = batch.warm(ctx, _nproc())
        setup.update(cold_pass_s=cold[0]["wall_s"], warm_s=now() - t0)
        log("set-up passes " + ", ".join(f"{p['wall_s']:.2f}s" for p in cold))
        passes = batch.measure(ctx)
    problems = [p for run in [*cold, *passes] for p in run["problems"]]
    e2e = batch.end_to_end(passes)
    e2e["peak_rss_mb"] = rss.peak_mb
    layer = batch.per_layer(passes)
    if ctx.tracer.enabled:
        layer["trace.overhead_pct"] = batch.overhead_pct(passes)
    attempted = sum(len(p["queries"]) for p in [*cold, *passes])
    log(f"{len(passes)} passes in {now() - t0:.1f}s: " + ", ".join(f"{p['wall_s']:.2f}" for p in passes))
    return e2e, layer, attempted, problems


def run_service(ctx, setup: dict) -> tuple[dict, dict, int, list[str]]:
    from acuvate_spark.api import TagRegistry
    from perfbench import service
    from perfbench.common import RssSampler, dir_bytes, median, now, parallel, percentile

    seeds = service.seed_rows(ctx.seed, ctx.scale)
    plans, final = service.plan(ctx.seed, ctx.seconds, seeds)
    schedule = service.blob_schedule(ctx.seed, ctx.seconds)
    root = os.path.join(ctx.work, "registry")
    registry = TagRegistry(ctx.spark, root)
    with RssSampler() as rss:
        setup.update(parallel(service.warm_up_tasks(ctx, registry, seeds)))
        setup["warm_s"] = setup.pop("wall_s")
        blob = service.BlobLoop(ctx, os.path.join(ctx.work, "blobs"), schedule)
        run = service.measure(ctx, registry, plans, blob)
        drain_s, drain_passes = blob.drain()
    log(f"registry {run['registry_wall_s']:.1f}s, ingest {run['ingest_wall_s']:.1f}s + drain {drain_s:.1f}s")

    problems = []
    for ops, results in zip(plans, run["results"]):
        for op, obs in zip(ops, results):
            bad = service.check_op(op, obs)
            if bad:
                problems.append(bad)
    if ctx.tamper == "model":
        reg = next(iter(final))
        tag, desc, doc, by = min(final[reg])
        final[reg] = (final[reg] - {(tag, desc, doc, by)}) | {(tag, desc + " (tampered)", doc, by)}
    for reg, want in final.items():
        rows = registry.table(reg).select("tag_no", "description", "document", "modified_by").collect()
        got = [tuple(r) for r in rows]
        if len(got) != len(set(got)) or set(got) != want:
            problems.append(f"register {reg}: {len(got)} rows, {len(set(got) ^ want)} differ from the model")
    problems += blob.check(ctx.tamper == "blob")

    obs = [o for results in run["results"] for o in results]
    lat = [o["latency"] for o in obs]
    # Writes are a third of the calls, so the median of all calls would
    # sit in the slow tail of the reads (reads that overlap the other
    # client's rewrite), where it jumps from run to run. Writes show in
    # ops_per_s and in the per-call layer metrics.
    reads = [o["latency"] for o in obs if o["kind"] in service.READS]
    writes = [o["latency"] for o in obs if o["kind"] not in service.READS]
    good = [n for _, n, bad in schedule if not bad]
    fresh = [blob.committed[n] - blob.landed[n] for n in good if n in blob.committed]
    e2e = {
        "read_p50_ms": median(reads) * 1000.0,
        "ops_per_s": len(lat) / run["registry_wall_s"],
        "freshness_p50_s": median(fresh),
        "peak_rss_mb": rss.peak_mb,
        "samples": len(reads),
        "blob_samples": len(fresh),
        "read_p90_ms": percentile(reads, 90) * 1000.0,
        "write_p50_ms": median(writes) * 1000.0,
        "freshness_p90_s": percentile(fresh, 90),
    }

    layer = {}
    for kind in dict.fromkeys(service.OP_BLOCK):
        layer[f"api.{kind}.p50_ms"] = median(o["latency"] for o in obs if o["kind"] == kind) * 1000.0
    traced = [o for o in obs if o["traced"]] or obs
    reads = [o["jobs"] or 0 for o in traced if o["kind"] in service.READS]
    writes = [o for o in traced if o["kind"] not in service.READS]
    layer["api.jobs_per_read"] = sum(reads) / max(1, len(reads))
    layer["api.jobs_per_write"] = sum(o["jobs"] or 0 for o in writes) / max(1, len(writes))
    all_writes = [o for o in obs if o["kind"] not in service.READS]
    layer["api.write_amp"] = sum(o["written"] for o in all_writes) / max(1, sum(o["payload"] for o in all_writes))
    versions = {r: sorted((v for v in os.listdir(os.path.join(root, r.lower()))
                           if os.path.isfile(os.path.join(root, r.lower(), v, "_SUCCESS"))),
                          key=lambda v: int(v[1:])) for r in final}
    current = sum(dir_bytes(os.path.join(root, r.lower(), vs[-1])) for r, vs in versions.items())
    layer["api.space_amp"] = sum(dir_bytes(os.path.join(root, r.lower())) for r in final) / current
    layer["api.versions_on_disk"] = sum(len(vs) for vs in versions.values())
    table_ms = []
    if ctx.tracer.enabled:
        for _ in range(5):
            for reg in final:
                t = now()
                registry.table(reg)
                table_ms.append((now() - t) * 1000.0)
    layer["api.table.p50_ms"] = median(table_ms)
    passes = blob.passes
    dur = [p["durations"] for p in passes if p["durations"]]
    layer.update({
        "blob_ingest.start_s": median(p["start_s"] for p in passes),
        "blob_ingest.pass_s": median(p["wall_s"] for p in passes),
        "blob_ingest.drain_s": drain_s,
        "blob_ingest.add_batch_ms": median(d.get("addBatch", 0) for d in dur),
        "blob_ingest.wal_commit_ms": median(d.get("walCommit", 0) for d in dur),
        "blob_ingest.latest_offset_ms": median(d.get("latestOffset", 0) for d in dur),
        "blob_ingest.backlog_max": max(p["backlog"] for p in passes),
        "blob_ingest.committed_dirs": sum(
            len(os.listdir(os.path.join(blob.out, d))) for d in ("routed", "dlq")
            if os.path.isdir(os.path.join(blob.out, d))
        ),
        "blob_ingest.readback_s": median(blob.readback),
        "blob_ingest.generator_late_ms": max(blob.late) * 1000.0,
    })
    layer["blob_ingest.retry_ratio"] = blob.retry_ratio
    if ctx.tracer.enabled:  # median over call kinds of traced / untraced latency
        ratios = []
        for kind in dict.fromkeys(service.OP_BLOCK):
            on = [o["latency"] for o in obs if o["kind"] == kind and o["traced"]]
            off = [o["latency"] for o in obs if o["kind"] == kind and not o["traced"]]
            if on and off:
                ratios.append(median(on) / median(off) - 1.0)
        layer["trace.overhead_pct"] = median(ratios) * 100.0
    attempted = len(obs) + len(schedule) + len(final)
    log(f"{len(passes)} ingest passes, {drain_passes} drain passes")
    return e2e, layer, attempted, problems


def run(args, work: str) -> dict:
    from perfbench import datagen
    from perfbench.common import Tracer, start_session

    log("start")
    sf_dir = os.path.join(work, "tables")
    ctx = Ctx(args, work, sf_dir)
    batch = args.workload == "batch_chain"
    if batch:
        from perfbench.batch import expected

        rows = datagen.generate(sf_dir, args.seed, args.scale)
        log(f"generated {sum(rows.values())} rows (seed {args.seed}, scale {args.scale})")
        ctx.expected = expected(sf_dir, args.tamper == "oracle")
        log("oracle fingerprints ready")
    ctx.spark, setup = start_session(SESSION_CYCLES)
    ctx.tracer = Tracer(lambda: ctx.spark.sparkContext, f"{args.workload}-{args.seed}", args.trace == 1)

    runner = run_batch if batch else run_service
    e2e, layer, attempted, problems = runner(ctx, setup)
    log("set-up: " + ", ".join(f"{k}={v:.2f}" for k, v in setup.items()))
    e2e["setup_s"] = setup["gateway_s"] + setup["restart_s"] + setup["warm_s"]
    layer.update({
        "session.start_s": setup["gateway_s"] + setup["first_start_s"],
        "session.restart_s": setup["restart_s"],
        "session.py_worker_warm_s": setup.get("py_worker_warm_s", 0.0),
        "session.stream_warm_s": setup.get("stream_warm_s", 0.0),
        "tables.scan_s": setup.get("scan_s", 0.0),
    })
    for p in problems:
        log(f"CHECK FAILED: {p}")
    log("checked")
    stop_engine(ctx.spark)
    ctx.spark = None
    log("engine stopped")

    units = _per_layer_units() if args.trace else END_TO_END
    source = layer if args.trace else e2e
    for k in units:
        source.setdefault(k, 0.0)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={_nproc()}")
    for k, v in sorted({**e2e, **layer}.items()):
        print(f"  {k} = {v:.6g}")
    if ctx.tracer.enabled:
        print("  spans by layer (count, total s, self s):")
        for name, (n, total, own) in sorted(ctx.tracer.by_layer().items()):
            print(f"    {name:24s} {n:5d} {total:9.3f} {own:9.3f}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": {k: {"value": float(source[k]), "unit": u} for k, u in units.items()},
    }


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("tiny", "small"), default="small",
                    help="input size; 'tiny' is the smoke-test scale")
    ap.add_argument("--tamper", choices=("oracle", "model", "blob"),
                    help="corrupt one expected value, to show the correctness gate fails")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "acuvate_spark")):
        print(f"perfbench: no acuvate_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        try:
            stop_engine(None)
        except Exception:
            pass
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
