"""CCF BDCI 2022 datalake-contest workload, scaled for local runs.

The reference's headline numbers come from this shape (BASELINE.md:
write 10,000,000 rows, then 10 upserts x 2,000,000 rows each, then MOR
read; ~-15% read degradation after heavy churn without compaction).
This tool replays it at a configurable scale and prints ONE JSON line:

    python tools/contest_bench.py [--rows 1000000] [--upserts 10]
                                  [--upsert-rows 200000] [--buckets 16]

Measured phases (seconds):
- ``bulk_write``   initial PK write
- ``upsert_total`` sum of the 10 delta upserts (MOR write path)
- ``mor_read``     full-table MOR read of base + 10 uncompacted deltas
- ``compaction``   full compaction
- ``compacted_read`` same read after compaction
- ``mor_penalty``  mor_read / compacted_read (the reference's churn
  degradation metric; their published number is ~1.15x at 100 commits)

Rows are (id BIGINT, v BIGINT, s VARCHAR(32)); upsert batches hit a
uniform random id subset, like the contest's incremental files.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]

    def opt(name: str, default: int) -> int:
        return int(args[args.index(name) + 1]) if name in args else default

    n_rows = opt("--rows", 1_000_000)
    n_upserts = opt("--upserts", 10)
    upsert_rows = opt("--upsert-rows", 200_000)
    buckets = opt("--buckets", 16)

    import lakesoul_spark as ls
    from pyspark.sql import functions as F

    spark = ls.lakesoul_session(app_name="contest_bench")
    spark.sparkContext.setLogLevel("ERROR")

    from lakesoul_spark.table import LakeSoulTable, write

    root = tempfile.mkdtemp(prefix="lakesoul_contest_")
    path = os.path.join(root, "tbl")
    timings: dict[str, float] = {}

    def base_df(n, seed_tag):
        return (
            spark.range(n)
            .select(
                F.col("id"),
                (F.col("id") * 2654435761 % 1_000_003).alias("v"),
                F.md5(F.concat_ws("-", F.lit(seed_tag), F.col("id")))
                .alias("s"),
            )
        )

    try:
        t0 = time.time()
        write(base_df(n_rows, "base"), path, mode="overwrite",
              hash_partitions=["id"], hash_bucket_num=buckets)
        timings["bulk_write"] = round(time.time() - t0, 3)

        t = LakeSoulTable.for_path(spark, path)
        t0 = time.time()
        for u in range(n_upserts):
            # uniform random id subset per round, deterministic per u
            delta = (
                spark.range(n_rows)
                .select(
                    F.col("id"),
                    F.md5(F.concat_ws("-", F.lit(u), F.col("id"))).alias("h"),
                )
                .filter(
                    F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
                    % (n_rows // max(upsert_rows, 1)) == 0
                )
                .select(
                    "id",
                    (F.col("id") + u).alias("v"),
                    F.md5(F.concat_ws("u", F.lit(u), F.col("id"))).alias("s"),
                )
            )
            t.upsert(delta)
        timings["upsert_total"] = round(time.time() - t0, 3)

        def timed_read(tag: str) -> None:
            t0 = time.time()
            LakeSoulTable.for_path(spark, path).to_df().write \
                .format("noop").mode("overwrite").save()
            timings[tag] = round(time.time() - t0, 3)

        timed_read("mor_read")
        from lakesoul_spark.meta.store import MetaStore

        physical_rows = sum(
            f.num_rows or 0 for f in MetaStore(path).snapshot().files
        )
        t0 = time.time()
        t.compaction()
        timings["compaction"] = round(time.time() - t0, 3)
        timed_read("compacted_read")
        # NOTE: the MOR read scans base + every delta generation
        # (physical_rows below), so this ratio folds data-volume
        # amplification together with merge overhead — divide by
        # physical_rows/final_rows for the per-row merge cost
        timings["mor_penalty"] = round(
            timings["mor_read"] / max(timings["compacted_read"], 1e-9), 3
        )
        n_final = LakeSoulTable.for_path(spark, path).to_df().count()
        out = {
            "metric": "contest_workload",
            "rows": n_rows,
            "upserts": n_upserts,
            "upsert_rows_target": upsert_rows,
            "buckets": buckets,
            "final_rows": n_final,
            "mor_physical_rows": physical_rows,
            "timings": timings,
            "unit": "sec",
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
