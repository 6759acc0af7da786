"""Layer spans for the benchmark's traced mode.

A span wraps one call into an engine layer. Spans opened by the
benchmark's own code wrap the public calls it makes (``table.upsert``,
``catalog.sql``, ``mv.refresh`` ...). The inner layer boundaries the
benchmark cannot reach directly (``MetaStore.commit``/``snapshot``,
``writer.write_table_data``, ``reader.merge_view``) are wrapped by
rebinding those names for the life of a traced run; the engine's source
is untouched.

A span that can start Spark jobs sets the job group to its own id, so
every job Spark starts inside it carries that id in the event log. The
event log listener is attached during traced rounds only, so untraced
rounds pay none of the tracing cost. After the session stops, :func:`read_jobs` reads the event log and
:func:`layer_metrics` attributes each job to the innermost open span and
its ancestors, the way ``tools/profile_query.py`` splits wall time into
job time and driver gaps. When tracing is off, :meth:`Tracer.span` is a
no-op and nothing is rebound.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import threading
import time

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = spark._jvm
        self.on = False
        self.spans: list[dict] = []
        self.rounds: list[dict] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        # the event log listener of a session started with the event log
        # on; detached until a traced round begins
        jsc = spark.sparkContext._jsc.sc()
        logger = jsc.eventLogger()
        self._eventlog = logger.get() if logger.isDefined() else None
        if self._eventlog is not None:
            jsc.removeSparkListener(self._eventlog)

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, *, jobs: bool = True):
        """Time one layer call. Yields a dict the caller may add counters
        to; with tracing off the dict is discarded."""
        if not self.on:
            yield {}
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        parent = stack[-1] if stack else None
        rec = {"id": f"lb{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "round": self.rounds[-1]["index"] if self.rounds else None}
        self.spans.append(rec)
        group_parent = next((s for s in reversed(stack) if s["jobs"]), None)
        rec["jobs"] = jobs
        if jobs:
            self.sc.setLocalProperty(_GROUP, rec["id"])
            self.sc.setLocalProperty(_DESC, name)
        stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if jobs:
                self.sc.setLocalProperty(
                    _GROUP, group_parent["id"] if group_parent else None)
                self.sc.setLocalProperty(
                    _DESC, group_parent["name"] if group_parent else None)

    def gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def _log_events(self, on: bool) -> None:
        jsc = self.sc._jsc.sc()
        if on:
            jsc.listenerBus().addToEventLogQueue(self._eventlog)
        else:
            # drains the events already posted, then detaches
            jsc.removeSparkListener(self._eventlog)

    def begin_round(self, index: int, traced: bool) -> None:
        self.on = traced
        if traced and self._eventlog is not None:
            self._log_events(True)
        self.rounds.append({"index": index, "traced": traced,
                            "gc0": self.gc_ms() if traced else 0.0,
                            "t0": time.time()})

    def end_round(self, wall: float) -> None:
        """Close the round; ``wall`` is its timed part in seconds."""
        r = self.rounds[-1]
        r["t1"] = time.time()
        r["wall"] = wall
        if r["traced"]:
            r["gc_ms"] = self.gc_ms() - r["gc0"]
            if self._eventlog is not None:
                self._log_events(False)
        self.on = False

    # ------------------------------------------------- inner boundaries

    def patch_layers(self) -> None:
        """Wrap the inner layer boundaries in spans (traced runs only)."""
        from lakesoul_spark.io import reader, writer
        from lakesoul_spark.meta.store import MetaStore

        def after_commit(rec, args, kwargs, out):
            store = args[0]
            k = store.checkpoint_interval
            rec["checkpoint"] = int(bool(k) and out.seq % k == 0)

        def after_write(rec, args, kwargs, out):
            rec["files"] = len(out)
            rec["bytes"] = sum(fo.size or 0 for fo in out)

        def after_plan(rec, args, kwargs, out):
            snap = args[2] if len(args) > 2 else kwargs["snapshot"]
            rec["files"] = len(snap.files)
            rec["rows"] = sum(max(f.num_rows, 0) for f in snap.files)
            rec["gens"] = snap.max_generations_per_bucket()

        self._rebind(MetaStore, "commit", "meta.commit", False, after_commit)
        self._rebind(MetaStore, "snapshot", "meta.snapshot", False, None)
        wtd = writer.write_table_data
        mv = reader.merge_view
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("lakesoul_spark"):
                continue
            if getattr(mod, "write_table_data", None) is wtd:
                self._rebind(mod, "write_table_data", "io.write", True,
                             after_write)
            if getattr(mod, "merge_view", None) is mv:
                self._rebind(mod, "merge_view", "io.plan", True, after_plan)

    def _rebind(self, owner, attr, name, jobs, after) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            with tracer.span(name, jobs=jobs) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


# ---------------------------------------------------------------- event log


def read_jobs(eventlog_dir: str) -> dict[int, dict]:
    """Jobs from the Spark event log: id -> {t0, t1 (epoch s), group}."""
    files = sorted(glob.glob(os.path.join(eventlog_dir, "eventlog_v2_*", "events_*")))
    files += [f for f in glob.glob(os.path.join(eventlog_dir, "*"))
              if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "group": (ev.get("Properties") or {}).get(_GROUP),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
    return {k: j for k, j in jobs.items() if "t1" in j}


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of (t0, t1) intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for t0, t1 in sorted(intervals):
        t0, t1 = max(t0, end), min(t1, hi)
        if t1 > t0:
            total += t1 - t0
            end = t1
    return total * 1000.0


def _median(vals) -> float:
    return float(statistics.median(vals)) if vals else 0.0


def layer_metrics(tracer: Tracer, jobs: dict[int, dict]) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced rounds; ratios pooled) and a
    per-span-name breakdown of calls, wall, jobs, job-busy and driver-gap
    time per traced round."""
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        s["job_ids"] = set()
    for jid, j in jobs.items():
        sid = j["group"]
        while sid in by_id:
            by_id[sid]["job_ids"].add(jid)
            sid = by_id[sid]["parent"]

    def outermost(s) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == s["name"]:
                return False
            p = by_id.get(p["parent"])
        return True

    traced = [r for r in tracer.rounds if r["traced"]]
    per_round: list[dict] = []
    pooled = {"cf_hit": 0, "cf": 0, "fast": 0, "sql": 0, "applied": 0,
              "refresh": 0, "phys": 0, "returned": 0, "covered": 0.0,
              "wall": 0.0}
    breakdown: dict[str, dict] = {}
    for r in traced:
        spans = [s for s in tracer.spans if s["round"] == r["index"]]
        named = {}
        for s in spans:
            if outermost(s):
                named.setdefault(s["name"], []).append(s)

        def ms(name):
            return sum((s["t1"] - s["t0"]) * 1000.0 for s in named.get(name, []))

        def calls(name):
            return len(named.get(name, []))

        def njobs(name):
            return len(set().union(*[s["job_ids"] for s in named.get(name, [])]))

        def ctr(name, key):
            return sum(s.get(key, 0) for s in named.get(name, []))

        # input generation and answer checks are outside the timed part
        untimed = [s for s in spans if s.get("untimed")]
        skip = set().union(*[s["job_ids"] for s in untimed])
        round_jobs = [j for jid, j in jobs.items()
                      if r["t0"] <= j["t0"] <= r["t1"] and jid not in skip]
        wall_ms = (r["t1"] - r["t0"]) * 1000.0 - sum(
            (s["t1"] - s["t0"]) * 1000.0 for s in untimed)
        busy = _union_ms([(j["t0"], j["t1"]) for j in round_jobs], r["t0"], r["t1"])
        plans = named.get("io.plan", [])
        per_round.append({
            "meta.commit_ms": ms("meta.commit"),
            "meta.snapshot_ms": ms("meta.snapshot"),
            "meta.commits": calls("meta.commit"),
            "meta.checkpoints": ctr("meta.commit", "checkpoint"),
            "io.write_ms": ms("io.write"),
            "io.write_jobs": njobs("io.write"),
            "io.files_written": ctr("io.write", "files"),
            "io.bytes_written": ctr("io.write", "bytes"),
            "io.plan_ms": ms("io.plan"),
            "io.scan_ms": ms("io.scan"),
            "io.scan_jobs": njobs("io.scan"),
            "io.files_scanned": ctr("io.plan", "files"),
            "io.generations_per_bucket": max((s["gens"] for s in plans if "gens" in s), default=0),
            "table.compaction_ms": ms("table.compaction"),
            "table.compaction_bytes_rewritten": sum(
                c.get("bytes", 0) for s in named.get("table.compaction", [])
                for c in spans if c["name"] == "io.write" and _under(c, s, by_id)),
            "table.point_lookup_ms": ms("table.point_lookup"),
            "table.point_lookup_jobs": njobs("table.point_lookup"),
            "table.count_fast_ms": ms("table.count_fast"),
            "catalog.sql_ms": ms("catalog.sql"),
            "catalog.sql_jobs": njobs("catalog.sql"),
            "streaming.write_batch_ms": ms("streaming.write_batch"),
            "streaming.replay_skip_ms": ms("streaming.replay"),
            "streaming.replays_skipped": ctr("streaming.replay", "skipped"),
            "mv.refresh_ms": ms("mv.refresh"),
            "mv.refresh_jobs": njobs("mv.refresh"),
            "mv.read_ms": ms("mv.read"),
            "arrow.read_ms": ms("arrow.read"),
            "spark.jobs": len(round_jobs),
            "spark.job_busy_ms": busy,
            "spark.driver_gap_ms": wall_ms - busy,
            "jvm.gc_ms": r.get("gc_ms", 0.0),
        })
        pooled["cf_hit"] += ctr("table.count_fast", "hit")
        pooled["cf"] += calls("table.count_fast")
        pooled["fast"] += ctr("catalog.sql", "fast")
        pooled["sql"] += calls("catalog.sql")
        pooled["applied"] += ctr("mv.refresh", "applied")
        pooled["refresh"] += calls("mv.refresh")
        for s in spans:
            if "returned" in s:
                pooled["returned"] += s["returned"]
                pooled["phys"] += sum(c.get("rows", 0) for c in spans
                                      if c["name"] == "io.plan" and _under(c, s, by_id))
        top = [(s["t0"], s["t1"]) for s in spans
               if s["parent"] is None and not s.get("untimed")]
        pooled["covered"] += _union_ms(top, r["t0"], r["t1"])
        pooled["wall"] += wall_ms
        for name, group in named.items():
            if name == "bench.untimed":
                continue
            b = breakdown.setdefault(name, {"calls": 0, "ms": 0.0, "jobs": 0,
                                            "job_busy_ms": 0.0})
            b["calls"] += len(group)
            b["ms"] += sum((s["t1"] - s["t0"]) * 1000.0 for s in group)
            for s in group:
                b["jobs"] += len(s["job_ids"])
                b["job_busy_ms"] += _union_ms(
                    [(jobs[j]["t0"], jobs[j]["t1"]) for j in s["job_ids"]],
                    s["t0"], s["t1"])
    n = max(len(traced), 1)
    for b in breakdown.values():
        for k in ("calls", "ms", "jobs", "job_busy_ms"):
            b[k] = round(b[k] / n, 3)
        b["driver_gap_ms"] = round(b["ms"] - b["job_busy_ms"], 3)

    def ratio(a, b):
        return a / b if b else 0.0

    out = {k: _median([pr[k] for pr in per_round]) for k in
           (per_round[0] if per_round else {})}
    out["table.count_fast_hit_ratio"] = ratio(pooled["cf_hit"], pooled["cf"])
    out["catalog.fast_path_ratio"] = ratio(pooled["fast"], pooled["sql"])
    out["mv.applied_ratio"] = ratio(pooled["applied"], pooled["refresh"])
    out["io.read_amplification"] = ratio(pooled["phys"], pooled["returned"])
    out["trace.span_coverage"] = ratio(pooled["covered"], pooled["wall"])
    walls = {flag: [r["wall"] for r in tracer.rounds if r["traced"] == flag]
             for flag in (True, False)}
    base = _median(walls[False])
    out["trace.overhead_pct"] = (
        100.0 * (_median(walls[True]) - base) / base if base else 0.0)
    return out, breakdown


def _under(child: dict, ancestor: dict, by_id: dict) -> bool:
    p = by_id.get(child["parent"])
    while p is not None:
        if p is ancestor:
            return True
        p = by_id.get(p["parent"])
    return False
