"""``batch_chain`` workload: one chain of registry queries, run in
sequence, the drawing-ingest side (Python-worker kernels, multimodal
decode, tiling, spatial join, xlsx source) followed by the
corpus-analytics side (MinHash-LSH dedup resolved into clusters by
connected components, cosine top-k).

Each query is timed in two parts from outside: ``REGISTRY[name].fn``
(plan build, including any eager checkpoint inside it) and
``toPandas()``, which executes the plan and delivers the result. Every
delivered result, in the cold pass (set-up) and in each timed pass, is
checked against the query's DuckDB oracle run once on the same tables:
row count, column names and an order-insensitive hash.
"""

from __future__ import annotations

import hashlib
import math
from concurrent.futures import ThreadPoolExecutor

from .common import median, now

# query -> engine modules it exercises (the layers its times belong to)
CHAIN = {
    "ocr_page_words": "operators.kernels",
    "multimodal_decode": "operators.multimodal",
    "tile_grid": "operators.tiling",
    "pid_connections": "operators.spatial",
    "excel_validate_etl": "operators.sources, functions.tags",
    "dedup_clusters": "operators.dedup, functions.textual, operators.graph",
    "ann_cosine_topk": "functions.vectors",
}
# Timed passes per run: --seconds / NOMINAL_PASS_S, at least MIN_PASSES.
# A fixed count, not "until time is up", so a faster engine runs the
# same passes; later passes run faster as the JIT warms, and a
# speed-dependent count would shift the median.
NOMINAL_PASS_S = 4.5
MIN_PASSES = 3
WARM_PASSES = 1


def _run_query(ctx, name: str, traced: bool):
    from acuvate_spark.queries import REGISTRY

    with ctx.tracer.span(f"query.{name}.build", "queries", traced) as b:
        df = REGISTRY[name].fn(ctx.spark, ctx.sf_dir)
    with ctx.tracer.span(f"query.{name}.exec", "queries", traced) as e:
        pdf = df.toPandas()
    counts = [b.get(k, 0) + e.get(k, 0) for k in ("jobs", "tasks", "failed_tasks")]
    return (b["dur"], e["dur"], *counts), pdf


def _run_pass(ctx, traced: bool, threads: int = 1) -> dict:
    """One pass over the chain (in sequence unless ``threads`` > 1);
    outputs are fingerprinted after the clock stops and compared with
    ``ctx.expected``."""
    out = {"queries": {}, "outputs": {}}

    def one(name):
        return _run_query(ctx, name, traced)

    t0 = now()
    with ctx.tracer.span("batch.pass", "queries", traced):
        if threads == 1:  # on this thread, so query spans nest under the pass span
            done = list(map(one, CHAIN))
        else:
            with ThreadPoolExecutor(threads) as pool:
                done = list(pool.map(one, CHAIN))
    for name, (times, pdf) in zip(CHAIN, done):
        out["queries"][name], out["outputs"][name] = times, pdf
    out["wall_s"] = now() - t0
    out["traced"] = traced
    out["tasks"] = sum(q[3] for q in out["queries"].values())
    out["failed_tasks"] = sum(q[4] for q in out["queries"].values())
    outputs = out.pop("outputs")
    out["problems"] = [
        f"{name}: spark rows={got[0]} hash={got[2][:12]} oracle rows={want[0]} hash={want[2][:12]} "
        f"cols={got[1] == want[1]}"
        for name, want in ctx.expected.items()
        if (got := fingerprint(outputs[name])) != want
    ]
    return out


def warm(ctx, threads: int) -> list[dict]:
    """The set-up passes, with the queries spread over ``threads``
    client threads: the cold pass (first use of every query's code
    path), then WARM_PASSES more. After the cold pass alone, each timed
    pass still ran about 10% faster than the one before it (JIT
    compilation), so the median pass depended on how far warm-up had
    got."""
    return [_run_pass(ctx, traced=False, threads=threads) for _ in range(1 + WARM_PASSES)]


def measure(ctx) -> list[dict]:
    """The timed passes. A traced run makes an even number of them, at
    least four, traced in the order T U U T (repeated), so the traced
    and the untraced half see the same warm-up drift and the untraced
    half gives the overhead baseline."""
    n = max(MIN_PASSES, round(ctx.seconds / NOMINAL_PASS_S))
    if not ctx.tracer.enabled:
        return [_run_pass(ctx, traced=False) for _ in range(n)]
    n = max(4, n + n % 2)
    return [_run_pass(ctx, traced=k % 4 in (0, 3)) for k in range(n)]


# --- correctness -----------------------------------------------------------


def _cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else f"{float(v):.12g}"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    return str(v)


def fingerprint(pdf) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive sha256)."""
    cols = sorted(pdf.columns)
    rows = sorted("|".join(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, digest


def expected(sf_dir: str, tamper: bool) -> dict[str, tuple]:
    """Fingerprint of every chain query's DuckDB oracle on the
    generated tables. ``tamper`` corrupts the first one."""
    import duckdb

    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {name: fingerprint(con.execute(REGISTRY[name].oracle).fetchdf()) for name in CHAIN}
    con.close()
    if tamper:
        name = next(iter(CHAIN))
        rows, cols, digest = out[name]
        out[name] = (rows, cols, hashlib.sha256(digest.encode()).hexdigest())
    return out


# --- metrics ---------------------------------------------------------------


def end_to_end(passes: list[dict]) -> dict:
    lat = [q[0] + q[1] for p in passes for q in p["queries"].values()]
    wall = [p["wall_s"] for p in passes]
    return {
        "read_p50_ms": median(lat) * 1000.0,
        "ops_per_s": len(lat) / sum(wall),
        "freshness_p50_s": median(wall),
        "samples": len(lat),
    }


def per_layer(passes: list[dict]) -> dict:
    traced = [p for p in passes if p["traced"]] or passes
    out = {}
    for name in CHAIN:
        out[f"query.{name}.build_s"] = median(p["queries"][name][0] for p in passes)
        out[f"query.{name}.exec_s"] = median(p["queries"][name][1] for p in passes)
        out[f"query.{name}.jobs"] = median(p["queries"][name][2] for p in traced)
    out["queries.tasks"] = median(p["tasks"] for p in traced)
    out["queries.failed_tasks"] = median(p["failed_tasks"] for p in traced)
    return out


def overhead_pct(passes: list[dict]) -> float:
    """Median over queries of (traced latency / untraced latency - 1)."""
    ratios = []
    for name in CHAIN:
        on = [sum(p["queries"][name][:2]) for p in passes if p["traced"]]
        off = [sum(p["queries"][name][:2]) for p in passes if not p["traced"]]
        if on and off:
            ratios.append(median(on) / median(off) - 1.0)
    return median(ratios) * 100.0
