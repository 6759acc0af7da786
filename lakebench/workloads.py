"""The benchmark's workloads.

Each workload runs fixed-work rounds under its own directory:
``cdc_upsert`` on fresh tables every round, ``stream_ingest`` on one
stream and one view cascade for the whole run, which the first round
(the warm-up) creates. ``round()`` times every engine call it makes (one
sample per call, keyed by operation), wraps it in a layer span for
traced runs, and checks the outputs against answers computed
independently of the engine — plain Spark over the seeded generators,
or a Python model of the rows — outside the timed calls. A raised error or a wrong answer counts
as a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

import pyarrow.compute as pc
from pyspark.sql import functions as F

from lakesoul_spark.arrow.dataset import LakeSoulArrowDataset
from lakesoul_spark.catalog import Catalog
from lakesoul_spark.mv import AggMV, JoinMV
from lakesoul_spark.streaming.sink import write_batch
from lakesoul_spark.table import LakeSoulTable, write


class Workload:
    """One workload: its rounds, samples and operation counts.

    ``E2E`` maps the role metrics of BENCHMARK.json to the sample keys
    pooled for them; ``NAMED`` maps the workload's own metric names to
    ``(sample key, percentile)``."""

    name = ""
    E2E: dict[str, tuple[str, ...]] = {}
    NAMED: dict[str, tuple[str, int]] = {}

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.untimed_s = 0.0

    @contextlib.contextmanager
    def op(self, key: str, span: str | None = None):
        """Count and time one engine call as a sample of ``key``; in traced
        rounds also wrap it in the layer span ``span``."""
        self.attempted += 1
        ctx = self.tracer.span(span) if span else contextlib.nullcontext({})
        t0 = time.perf_counter()
        with ctx as rec:
            yield rec
        self.samples.setdefault(key, []).append(time.perf_counter() - t0)

    @contextlib.contextmanager
    def untimed(self):
        """Input generation and answer checking: outside the timed part of
        the round and outside the layer coverage."""
        with self.tracer.span("bench.untimed") as rec:
            rec["untimed"] = True
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.untimed_s += time.perf_counter() - t0

    def check(self, what: str, got, expected) -> None:
        self.attempted += 1
        if got != expected:
            self.failed += 1
            self.errors.append(f"{self.name}: {what}: got {got!r}, expected {expected!r}")

    def round(self, index: int, p: dict) -> None:
        raise NotImplementedError


# ----------------------------------------------------------------- cdc_upsert


class CdcUpsert(Workload):
    name = "cdc_upsert"
    E2E = {"write": ("upsert",), "rewrite": ("compaction",),
           "read": ("mor_read",), "query": ("filtered_read",)}
    NAMED = {"bulk_write_s": ("bulk_write", 50), "upsert_p50_ms": ("upsert", 50),
             "mor_read_s": ("mor_read", 50), "filtered_read_s": ("filtered_read", 50),
             "arrow_read_s": ("arrow_read", 50), "compaction_s": ("compaction", 50),
             "compacted_read_s": ("compacted_read", 50)}
    # filtered read: v below 1% of the value range
    V_RANGE = 1_000_000
    V_CUT = 10_000

    def rewritten(self, seed: int, p: dict, generation: int):
        """Keys upsert ``generation`` rewrites: a seeded uniform subset."""
        keep = int(round(1 / p["upsert_fraction"]))
        return F.pmod(F.xxhash64("id", F.lit(seed), F.lit(-generation)), keep) == 0

    def rows(self, df, seed: int, generation):
        return df.select(
            "id",
            F.pmod(F.xxhash64("id", F.lit(seed), generation), self.V_RANGE).alias("v"),
            F.md5(F.concat_ws("-", F.lit(seed), generation, "id")).alias("s"),
        )

    def gen(self, seed: int, p: dict, generation: int):
        """Rows of generation 0 (the bulk write) or of upsert ``generation``."""
        df = self.spark.range(p["rows"])
        if generation:
            df = df.filter(self.rewritten(seed, p, generation))
        return self.rows(df, seed, F.lit(generation))

    @staticmethod
    def checksum(df):
        row = df.agg(F.count("*"), F.sum(F.pmod(F.xxhash64("id", "v", "s"), 1 << 31))).first()
        return (row[0], row[1])

    def expected(self, seed: int, p: dict) -> dict:
        """Last writer wins, in plain Spark: each key holds the rows of the
        newest generation that rewrote it."""
        latest = F.greatest(F.lit(0), *[
            F.when(self.rewritten(seed, p, g), F.lit(g)).otherwise(F.lit(0))
            for g in range(1, p["upserts"] + 1)])
        lww = self.rows(self.spark.range(p["rows"]), seed, latest)
        cut = F.col("v") < self.V_CUT
        row = lww.agg(
            F.count("*"), F.sum(F.pmod(F.xxhash64("id", "v", "s"), 1 << 31)),
            F.sum("v"), F.count(F.when(cut, 1)), F.sum(F.when(cut, F.col("v"))),
            F.sum(F.when(cut, F.col("id"))),
        ).first()
        return {"full": (row[0], row[1]), "sum_v": row[2],
                "filtered": (row[3], row[4] or 0, row[5] or 0)}

    def round(self, index: int, p: dict) -> None:
        seed = self.seed * 1000 + index
        # run.py removes the directory of each finished round
        path = os.path.join(self.root, f"r{index}", "contest")
        base = self.gen(seed, p, 0)
        deltas = [self.gen(seed, p, g) for g in range(1, p["upserts"] + 1)]
        with self.op("bulk_write", "table.write"):
            write(base, path, mode="overwrite", hash_partitions=["id"],
                  hash_bucket_num=p["buckets"])
        t = LakeSoulTable.for_path(self.spark, path)
        for delta in deltas:
            with self.op("upsert", "table.upsert"):
                t.upsert(delta)
        with self.untimed():
            want = self.expected(seed, p)
        for _ in range(p["read_repeats"]):
            with self.op("mor_read", "io.scan") as rec:
                got = self.checksum(LakeSoulTable.for_path(self.spark, path).to_df())
                rec["returned"] = got[0]
            self.check("MOR read vs last-writer-wins recompute", got, want["full"])
        for _ in range(p["read_repeats"]):
            with self.op("filtered_read", "io.scan"):
                rows = (LakeSoulTable.for_path(self.spark, path).to_df()
                        .filter(F.col("v") < self.V_CUT).select("id", "v").collect())
            got_f = (len(rows), sum(r.v for r in rows), sum(r.id for r in rows))
            self.check("filtered read", got_f, want["filtered"])
        for _ in range(p["read_repeats"]):
            with self.op("arrow_read", "arrow.read"):
                tab = LakeSoulArrowDataset(path).to_table()
            self.check("arrow read", (tab.num_rows, pc.sum(tab["v"]).as_py()),
                       (want["full"][0], want["sum_v"]))
        with self.op("compaction", "table.compaction"):
            t.compaction()
        for _ in range(p["read_repeats"]):
            with self.op("compacted_read", "io.scan"):
                got_c = self.checksum(LakeSoulTable.for_path(self.spark, path).to_df())
            self.check("compacted read vs MOR read", got_c, got)


# -------------------------------------------------------------- stream_ingest


class StreamIngest(Workload):
    """One stream and one view cascade for the whole run. The first round
    (the warm-up) creates the Catalog table, writes the backfill and the
    customer dimension, and creates the JoinMV (events join customers)
    and the PK-mode AggMV rollup over it; every round then adds
    ``batches`` micro-batches, so the commit log keeps growing across
    rounds the way a long-running stream's does."""

    name = "stream_ingest"
    E2E = {"write": ("commit",), "rewrite": ("refresh_append", "refresh_restate"),
           "read": ("lookup",), "query": ("sql_agg",)}
    NAMED = {"commit_p50_ms": ("commit", 50), "commit_p90_ms": ("commit", 90),
             "lookup_p50_ms": ("lookup", 50), "sql_agg_p50_ms": ("sql_agg", 50),
             "refresh_append_p50_ms": ("refresh_append", 50),
             "refresh_restate_p50_ms": ("refresh_restate", 50),
             "view_read_p50_ms": ("view_read", 50)}
    SCHEMA = "id bigint, p bigint, cust_id bigint, v bigint"
    DIM_SCHEMA = "cust_id bigint, region bigint"
    QUERY_ID = "bench"

    def batch(self, n_new: int, n_upd: int):
        """Rows of one batch: ``n_new`` new monotonic keys, each with a
        seeded customer, then ``n_upd`` seeded updates of existing keys
        (same customer, new value)."""
        upd = self.rng.sample(range(self.next_id), min(n_upd, self.next_id))
        new = range(self.next_id, self.next_id + n_new)
        self.next_id += n_new
        for i in new:
            self.cust[i] = self.rng.randrange(self.customers)
        rows = [(i, i // self.span, self.cust[i], self.rng.randrange(1_000_000))
                for i in [*new, *upd]]
        return rows, self.spark.createDataFrame(rows, self.SCHEMA)

    def dim_rows(self, customers):
        """Dimension rows moving ``customers`` to seeded regions."""
        rows = [(c, self.rng.randrange(self.regions)) for c in customers]
        self.region.update(rows)
        return self.spark.createDataFrame(rows, self.DIM_SCHEMA)

    def start(self, p: dict) -> None:
        """Create the stream table, the dimension and the two views."""
        self.rng = random.Random(self.seed)
        self.span, self.customers, self.regions = (
            p["partition_span"], p["customers"], p["regions"])
        self.model: dict[int, int] = {}
        self.cust: dict[int, int] = {}
        self.region: dict[int, int] = {}
        self.next_id = 0
        root = os.path.join(self.root, "stream")
        self.cat = Catalog(os.path.join(root, "warehouse"))
        self.cat.create_namespace("bench")
        with self.untimed():
            rows0, df0 = self.batch(p["backfill_rows"], 0)
            dim0 = self.dim_rows(range(self.customers))
        self.sent = {0: df0}
        dim_path, jv_path, ag_path = (os.path.join(root, n) for n in ("dim", "joined", "rollup"))
        with self.op("load"):
            with self.tracer.span("catalog.create_table"):
                self.table = self.cat.create_table(
                    self.spark, "events", self.SCHEMA, namespace="bench",
                    range_partitions=["p"], hash_partitions=["id"],
                    hash_bucket_num=p["buckets"])
            with self.tracer.span("streaming.write_batch"):
                ok = write_batch(df0, self.table.path, 0, query_id=self.QUERY_ID)
            with self.tracer.span("table.write"):
                write(dim0, dim_path, mode="overwrite", hash_partitions=["cust_id"],
                      hash_bucket_num=p["buckets"])
            with self.tracer.span("mv.create"):
                self.jv = JoinMV.create(
                    self.spark, self.table.path, dim_path, jv_path, on=["cust_id"],
                    select=["id", "cust_id", "region", "v"], pk=["id"],
                    hash_bucket_num=p["buckets"],
                    # a PK left source needs the left view; every event's
                    # customer exists, so it holds the inner join's rows
                    how="left")
                self.ag = AggMV.create(
                    self.spark, jv_path, ag_path, group_by=["region"],
                    aggs={"n": ("count", "*"), "total": ("sum", "v")},
                    hash_bucket_num=p["buckets"])
            self.refresh()
        self.check("backfill batch accepted", ok, True)
        self.model.update({i: v for i, _p, _c, v in rows0})
        self.dim = LakeSoulTable.for_path(self.spark, dim_path)

    def round(self, index: int, p: dict) -> None:
        if not hasattr(self, "table"):
            self.start(p)
        table, model = self.table, self.model
        n_upd = int(round(p["batch_rows"] * p["update_fraction"]))
        for i in range(1, p["batches"] + 1):
            b = len(self.sent)
            with self.untimed():
                rows, df = self.batch(p["batch_rows"] - n_upd, n_upd)
            self.sent[b] = df
            with self.op("commit", "streaming.write_batch"):
                ok = write_batch(df, table.path, b, query_id=self.QUERY_ID)
            self.check(f"batch {b} accepted", ok, True)
            model.update({k: v for k, _p, _c, v in rows})
            if i % p["replay_every"] == 0:
                old = b - p["replay_every"] // 2
                with self.op("replay", "streaming.replay") as rec:
                    ok = write_batch(self.sent[old], table.path, old,
                                     query_id=self.QUERY_ID)
                    rec["skipped"] = int(not ok)
                self.check(f"replay of batch {old} skipped", ok, False)
            if i % p["probe_every"] == 0:
                self.probe((rows[0][0], rows[-n_upd - 1][0]))
            if i % p["view_every"] == 0:
                self.views(p)
            if i % p["compact_every"] == 0:
                with self.op("compaction", "table.compaction"):
                    table.compaction()
        with self.untimed():
            final = table.to_df().agg(F.count("*"), F.sum("v"), F.max("id")).first()
        self.check("final count, sum(v), max(id)", tuple(final),
                   (len(model), sum(model.values()), max(model)))

    def probe(self, keys: tuple) -> None:
        """Point lookups of the batch's first and last new key, count_fast,
        and the two SQL aggregates, each checked against the model."""
        cat, table, model, span = self.cat, self.table, self.model, self.span
        for key in keys:
            with self.op("lookup", "table.point_lookup") as rec:
                got = table.point_lookup(id=key).collect()
                rec["returned"] = len(got)
            self.check(f"point lookup {key}", [(r.id, r.v) for r in got], [(key, model[key])])
        with self.op("count_fast", "table.count_fast") as rec:
            n = table.count_fast()
            rec["hit"] = int(n is not None)
        if n is not None:
            self.check("count_fast", n, len(model))
        low = keys[-1] // span - 1
        groups = self.group_by_p(model, span, low)
        statements = [
            ("SELECT count(*) AS n, sum(v) AS sv, max(id) AS mx FROM bench.events",
             [(len(model), sum(model.values()), max(model))]),
            (f"SELECT p, count(*) AS n, sum(v) AS sv FROM bench.events "
             f"WHERE p >= {low} GROUP BY p",
             [(k, n, s) for k, (n, s) in sorted(groups.items())]),
        ]
        for sql, want in statements:
            with self.op("sql_agg", "catalog.sql") as rec:
                df = cat.sql(self.spark, sql)
                got = df.collect()
            if self.tracer.on:
                with self.untimed():
                    plan = df._jdf.queryExecution().executedPlan().toString()
                rec["fast"] = int(plan.lstrip().startswith("LocalTableScan"))
            self.check(f"sql {sql!r}", sorted(tuple(r) for r in got), want)

    @staticmethod
    def group_by_p(model: dict, span: int, low: int) -> dict:
        out: dict[int, tuple[int, int]] = {}
        for i, v in model.items():
            if i // span >= low:
                n, s = out.get(i // span, (0, 0))
                out[i // span] = (n + 1, s + v)
        return out

    # the view cascade

    def refresh(self) -> None:
        for v in (self.jv, self.ag):
            with self.tracer.span("mv.refresh") as rec:
                rec["applied"] = int(bool(v.refresh()["applied"]))

    def views(self, p: dict) -> None:
        """One append step and one restate step of the view cascade: refresh
        after the batches since the last step and read the rollup; then
        move a seeded ``dim_churn_pct``% of the customers to other regions,
        refresh (a signed restatement) and read the rollup and a filtered
        aggregate of the join view. Checked against a re-join and
        re-aggregate of the model."""
        with self.op("refresh_append"):
            self.refresh()
        self.read_rollup()
        with self.untimed():
            churn = self.rng.sample(range(self.customers),
                                    max(1, self.customers * p["dim_churn_pct"] // 100))
            moved = self.dim_rows(churn)
        with self.op("dim_upsert", "table.upsert"):
            self.dim.upsert(moved)
        with self.op("refresh_restate"):
            self.refresh()
        got = (self.read_rollup(), self.read_join())
        with self.untimed():
            want = self.expected()
        self.check("rollup and join view vs re-join and re-aggregate of the model", got, want)

    def read_rollup(self) -> list:
        with self.op("view_read", "mv.read") as rec:
            rows = self.ag.to_df().collect()
            rec["returned"] = len(rows)
        return sorted((r.region, r.n, float(r.total)) for r in rows)

    def read_join(self) -> tuple:
        cut = max(self.customers // 10, 1)
        with self.op("join_read", "mv.read"):
            j = (self.jv.to_df().filter(F.col("cust_id") < cut)
                 .agg(F.count("*"), F.sum("v")).first())
        return (j[0], float(j[1] or 0))

    def expected(self) -> tuple:
        rollup: dict[int, list] = {}
        cut = max(self.customers // 10, 1)
        n_cut = s_cut = 0
        for i, v in self.model.items():
            c = self.cust[i]
            agg = rollup.setdefault(self.region[c], [0, 0])
            agg[0] += 1
            agg[1] += v
            if c < cut:
                n_cut += 1
                s_cut += v
        return (sorted((r, n, float(s)) for r, (n, s) in rollup.items()),
                (n_cut, float(s_cut)))


WORKLOADS = {w.name: w for w in (CdcUpsert, StreamIngest)}
