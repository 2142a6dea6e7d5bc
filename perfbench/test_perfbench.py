"""The benchmark's own tests: contract, determinism, smoke runs at the
tiny scale, and tampered expectations that must fail the run.

    python3 -m pytest perfbench -q

The smoke and tamper tests each start the engine (about a minute
apiece on a 4-core machine).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, run, service  # noqa: E402

SMOKE_SECONDS = "2"


def _bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return proc, result


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_program_prints():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_units()
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["name"] == "setup_s"


def test_datagen_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.generate(a, 5, "tiny")
    datagen.generate(b, 5, "tiny")
    datagen.generate(c, 6, "tiny")

    def read(d, t):
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            return f.read()

    tables = [f[:-8] for f in os.listdir(a)]
    assert len(tables) == 10
    assert all(read(a, t) == read(b, t) for t in tables)
    assert read(a, "documents") != read(c, "documents")


def test_registry_plan_is_seeded_and_fixed_in_composition():
    seeds = {reg: [(f"{service.PREFIX[reg]}-{k:05d}", "d", "DWG-001", "seed") for k in range(60)]
             for reg in service.PRIORITY}
    p1, final1 = service.plan(3, 14, seeds)
    p2, final2 = service.plan(3, 14, seeds)
    p3, _ = service.plan(4, 14, seeds)
    assert p1 == p2 and final1 == final2
    assert p1 != p3
    for ops in p1 + p3:
        assert sorted(op["kind"] for op in ops) == sorted(service.OP_BLOCK)
    for a, b in zip(p1, p3):
        assert [(op["kind"], op["register"]) for op in a] == [(op["kind"], op["register"]) for op in b]
    owned = {c: {op["register"] for op in ops if op["kind"] not in service.READS}
             for c, ops in enumerate(p1)}
    assert all(service.OWNER[r] == c for c, regs in owned.items() for r in regs)


def test_register_seeds_are_seeded_at_sf01_size():
    a = service.seed_rows(1, "small")
    assert {reg: len(rows) for reg, rows in a.items()} == service.REGISTER_ROWS
    assert a == service.seed_rows(1, "small") and a != service.seed_rows(2, "small")


def test_blob_schedule_is_seeded():
    a, b = service.blob_schedule(1, 10), service.blob_schedule(2, 10)
    assert a == service.blob_schedule(1, 10) and a != b
    assert len({n for _, n, _ in a}) == len(a)
    assert sum(bad for *_, bad in a) == sum(bad for *_, bad in b) >= 1


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc, result = _bench("--workload", workload, "--seed", "1", "--seconds", SMOKE_SECONDS,
                          "--trace", trace, "--scale", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload,gate", [
    ("batch_chain", "oracle"),
    ("registry_ingest", "model"),
    ("registry_ingest", "blob"),
])
def test_tampered_expectation_fails_the_run(workload, gate):
    proc, result = _bench("--workload", workload, "--seed", "1", "--seconds", SMOKE_SECONDS,
                          "--trace", "0", "--scale", "tiny", "--tamper", gate)
    assert proc.returncode == 1, proc.stderr[-3000:]
    assert result["correct"] is False and result["failed"] >= 1
    assert "CHECK FAILED" in proc.stderr


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc, result = _bench("--workload", "batch_chain", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0 and result is None
