"""The benchmark's own tests: BENCHMARK.json against spec.json,
tiny-scale runs of every workload, the failed-operation path, and
span/job attribution.

Run from the repository root: ``python -m pytest lakebench/tests -q``
(about three minutes; every run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


@pytest.fixture
def scratch():
    path = os.path.join(ROOT, ".bench_work", f"test-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _cli(args, cwd=ROOT):
    return subprocess.run([sys.executable, *BENCHMARK["command"][1:], *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def test_benchmark_json_matches_spec():
    spec = run.SPEC
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                             "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(spec["workloads"])
    for section in ("end_to_end", "per_layer"):
        assert [m["name"] for m in BENCHMARK[section]] == list(spec[section])
    for m in BENCHMARK["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and m["better"] == "lower"
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in BENCHMARK["workloads"])


@pytest.mark.parametrize("workload", list(run.SPEC["workloads"]))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _cli(["--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", trace, "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    section = "per_layer" if trace == "1" else "end_to_end"
    expected = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["trace.span_coverage"]["value"] > 0.5
        assert result["metrics"]["spark.jobs"]["value"] > 0
    named = detail["named_metrics"]
    from workloads import WORKLOADS

    assert list(named) == list(WORKLOADS[workload].NAMED)
    assert all(v["value"] > 0 for v in named.values())
    assert detail["env"]["cpus"] >= 1 and detail["env"]["spark"]


def test_checkout_without_engine_fails_without_result(scratch):
    os.makedirs(os.path.join(scratch, "bare"))
    bare = os.path.join(scratch, "bare")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in BENCHMARK["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli(["--workload", "cdc_upsert", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=bare)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_wrong_expected_answer_is_a_failed_operation(scratch, monkeypatch):
    from workloads import CdcUpsert

    real = CdcUpsert.expected

    def off_by_one(self, seed, p):
        want = real(self, seed, p)
        want["full"] = (want["full"][0] + 1, want["full"][1])
        return want

    monkeypatch.setattr(CdcUpsert, "expected", off_by_one)
    tmpdir = os.environ.get("TMPDIR")
    spark = run.start_session(scratch, trace=False)
    try:
        tracer = spans.Tracer(spark)
        wl = CdcUpsert(spark, tracer, scratch, seed=3)
        wl.round(0, run.SPEC["workloads"]["cdc_upsert"]["tiny"])
    finally:
        run.stop_session(spark)
        if tmpdir is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = tmpdir
    # the wrong count fails the MOR-read check (and the arrow check that
    # shares it) as failed operations, not as errors or skips
    assert wl.failed == len(wl.errors) >= 1
    assert any("MOR read" in e for e in wl.errors)
    assert not any("Traceback" in e for e in wl.errors)
    line = run.result_line(wl, {}, "end_to_end")
    assert line["correct"] is False and line["failed"] == wl.failed
    assert line["attempted"] > line["failed"]


def test_jobs_are_attributed_to_the_innermost_span_and_its_ancestors():
    tracer = types.SimpleNamespace(
        rounds=[{"index": 0, "traced": True, "t0": 0.0, "t1": 10.0, "wall": 9.0,
                 "gc_ms": 5.0},
                {"index": 1, "traced": False, "t0": 10.0, "t1": 18.0, "wall": 8.0}],
        spans=[
            {"id": "a", "name": "table.upsert", "parent": None, "round": 0,
             "jobs": True, "t0": 1.0, "t1": 4.0},
            {"id": "b", "name": "io.write", "parent": "a", "round": 0,
             "jobs": True, "t0": 1.5, "t1": 3.5, "files": 2, "bytes": 100},
            {"id": "c", "name": "meta.commit", "parent": "a", "round": 0,
             "jobs": False, "t0": 3.5, "t1": 3.6, "checkpoint": 0},
            {"id": "d", "name": "bench.untimed", "parent": None, "round": 0,
             "jobs": True, "t0": 5.0, "t1": 6.0, "untimed": True},
        ])
    jobs = {1: {"t0": 2.0, "t1": 3.0, "group": "b"},
            2: {"t0": 5.2, "t1": 5.8, "group": "d"}}
    out, breakdown = spans.layer_metrics(tracer, jobs)
    assert out["io.write_jobs"] == 1 and out["spark.jobs"] == 1
    assert out["io.write_ms"] == pytest.approx(2000.0)
    assert out["io.files_written"] == 2 and out["meta.commits"] == 1
    assert out["spark.job_busy_ms"] == pytest.approx(1000.0)
    # timed wall = 10 s round minus the 1 s untimed check
    assert out["spark.driver_gap_ms"] == pytest.approx(8000.0)
    assert out["trace.span_coverage"] == pytest.approx(3.0 / 9.0)
    assert out["trace.overhead_pct"] == pytest.approx(12.5)
    assert breakdown["table.upsert"]["jobs"] == 1
    assert breakdown["table.upsert"]["driver_gap_ms"] == pytest.approx(2000.0)
    assert "bench.untimed" not in breakdown
