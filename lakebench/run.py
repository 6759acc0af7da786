"""lakebench — the repository benchmark: two lakehouse workloads.

    python3 lakebench/run.py --workload {cdc_upsert,stream_ingest}
        --seed N --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout. One process runs one workload on a
fresh ``local[min(4, cpus)]`` session: start the session, run one
untimed warm-up round (the data sizes of the measured rounds with the
repeat counts cut down, so every code path runs once at full size;
counted in ``setup_s``), then run fixed-work rounds of the chosen scale
until ``--seconds`` have passed (at least the workload's ``rounds``
from ``spec.json``; three when tracing).
Every engine call is timed and every round's output is checked against
an independently computed answer (see ``workloads.py``). Metric names
and units come from ``BENCHMARK.json``; sizes and what each metric
means are in ``spec.json``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds (at least untraced, traced, untraced, so a
trend across rounds cancels), records the Spark event log during the
traced rounds only, and reports the per-layer metrics of
the traced rounds and the tracing overhead (see ``spans.py``).

Standard output: detail lines (environment, the workload's own named
metrics, per-span breakdown), then as the LAST line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Scratch data lives in
``.bench_work/`` under the checkout and is removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 4

with open(os.path.join(HERE, "spec.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, default=SPEC["default_seed"])
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def start_session(work: str, trace: bool):
    """A ``local[cpus]`` session whose scratch files stay under ``work``."""
    from lakesoul_spark.session import lakesoul_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the environment variable would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # the small JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    n = cpus()
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": evdir})
    spark = lakesoul_session("lakebench", master=f"local[{n}]",
                             shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def pct(vals: list[float], q: int) -> float:
    if len(vals) == 1:
        return vals[0]
    if q == 50:
        return statistics.median(vals)
    return statistics.quantiles(vals, n=100, method="inclusive")[q - 1]


def measure(spark, tracer, workload: str, seed: int, seconds: float, trace: bool,
            scale: str, work: str, t_start: float) -> dict:
    """Warm up, run timed rounds, and return the result and its details."""
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](spark, tracer, work, seed)
    sizes = SPEC["workloads"][workload]

    def one_round(index: int, params: dict) -> float:
        """Wall time of the round's timed part."""
        t0, untimed0 = time.perf_counter(), wl.untimed_s
        try:
            wl.round(index, params)
        except Exception:
            wl.failed += 1
            wl.errors.append(traceback.format_exc(limit=4))
        wall = time.perf_counter() - t0 - (wl.untimed_s - untimed0)
        shutil.rmtree(os.path.join(work, f"r{index}"), ignore_errors=True)
        return wall

    one_round(999, {**sizes[scale], **sizes["warmup"]})
    wl.samples.clear()
    setup_s = time.perf_counter() - t_start

    walls: dict[bool, list[float]] = {False: [], True: []}
    t_loop = time.perf_counter()
    min_rounds = 3 if trace else sizes["rounds"]
    index = 0
    while True:
        # traced runs go untraced, traced, untraced, ...: the untraced
        # rounds on both sides of a traced one cancel the JIT warm-up trend
        traced = trace and index % 2 == 1
        tracer.begin_round(index, traced)
        walls[traced].append(one_round(index, sizes[scale]))
        tracer.end_round(walls[traced][-1])
        index += 1
        if index >= min_rounds and time.perf_counter() - t_loop >= seconds:
            break

    def sample(keys, q: int, scale_by: float) -> float:
        vals = [v for key in keys for v in wl.samples.get(key, [])]
        return pct(vals, q) * scale_by if vals else 0.0

    e2e = wl.E2E
    metrics = {
        "setup_s": setup_s,
        "workload_s": statistics.median(walls[False]),
        "write_p50_ms": sample(e2e["write"], 50, 1000.0),
        "write_p90_ms": sample(e2e["write"], 90, 1000.0),
        "rewrite_p50_ms": sample(e2e["rewrite"], 50, 1000.0),
        "read_p50_ms": sample(e2e["read"], 50, 1000.0),
        "query_p50_ms": sample(e2e["query"], 50, 1000.0),
    }
    named = {}
    for name, (key, q) in wl.NAMED.items():
        unit = "ms" if name.endswith("_ms") else "s"
        named[name] = {"value": sample((key,), q, 1000.0 if unit == "ms" else 1.0),
                       "unit": unit}
    return {"wl": wl, "metrics": metrics, "named": named,
            "rounds": {"untraced": len(walls[False]), "traced": len(walls[True])}}


def result_line(wl, metrics: dict, section: str) -> dict:
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in BENCHMARK[section]},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lakesoul_spark")):
        print(f"lakebench: no lakesoul_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from spans import Tracer, layer_metrics, read_jobs

    load_start = os.getloadavg()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark = start_session(work, bool(args.trace))
        import workloads  # noqa: F401  (engine modules load before patching)

        tracer = Tracer(spark)
        if args.trace:
            tracer.patch_layers()
        out = measure(spark, tracer, args.workload, args.seed, args.seconds,
                      bool(args.trace), args.scale, work, T_START)
        env = {"cpus": cpus(), "master": spark.sparkContext.master,
               "spark": spark.version, "python": platform.python_version(),
               "loadavg_start": load_start}
        tracer.unpatch()
        stop_session(spark)
        spark = None
        env["loadavg_end"] = os.getloadavg()
        wl = out["wl"]
        detail = {"lakebench": args.workload, "scale": args.scale, "seed": args.seed,
                  "trace": args.trace, "env": env, "rounds": out["rounds"],
                  "samples": {k: len(v) for k, v in sorted(wl.samples.items())},
                  "named_metrics": out["named"]}
        if args.trace:
            layers, breakdown = layer_metrics(
                tracer, read_jobs(os.path.join(work, "eventlog")))
            detail["spans"] = breakdown
            line = result_line(wl, layers, "per_layer")
        else:
            line = result_line(wl, out["metrics"], "end_to_end")
        for err in wl.errors:
            print(err, file=sys.stderr)
        print(json.dumps(detail))
        print(json.dumps(line))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
