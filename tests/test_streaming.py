"""Streaming surface tests (SURVEY.md §2.8), modeled on the reference
LakeSoulSinkSuite / ReadSuite streaming cases:

- sink: append / update / complete modes, PK upsert semantics,
  (query_id, batch_id) idempotence, NullType rejection;
- source: readStream over the commit log sees appends incrementally;
- format("lakesoul") batch read: MOR parity with the view builder,
  partition pruning, PK point-lookup bucket pruning.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from lakesoul_spark.functions import spark_hash
from lakesoul_spark.streaming import register, write_batch
from lakesoul_spark.table import LakeSoulTable, create_table, write


@pytest.fixture(scope="module")
def lakesoul_format(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    return spark


def _df(spark, data, schema):
    return spark.createDataFrame(data, schema)


# ------------------------------------------------------------------- sink


def test_sink_append_then_upsert_batches(spark, tmp_table):
    b0 = _df(spark, [(1, "a"), (2, "b")], "id int, v string")
    b1 = _df(spark, [(2, "B"), (3, "c")], "id int, v string")
    assert write_batch(b0, tmp_table, 0, query_id="q1", hash_partitions=["id"])
    assert write_batch(b1, tmp_table, 1, query_id="q1", hash_partitions=["id"])
    got = sorted(
        tuple(r) for r in LakeSoulTable.for_path(spark, tmp_table).to_df().collect()
    )
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_sink_idempotent_replay(spark, tmp_table):
    b0 = _df(spark, [(1, "a")], "id int, v string")
    assert write_batch(b0, tmp_table, 0, query_id="q1", hash_partitions=["id"])
    # replay of batch 0 must be a no-op
    assert not write_batch(b0, tmp_table, 0, query_id="q1")
    # a different query id is NOT a duplicate
    assert write_batch(b0, tmp_table, 0, query_id="q2")
    t = LakeSoulTable.for_path(spark, tmp_table)
    assert len(t.versions()) == 2


def test_sink_qid_stable_across_restarts(spark, tmp_table, tmp_path):
    """Crash-restart replay: a batch committed to the table but not yet
    recorded in the streaming checkpoint is re-delivered on restart.
    The default qid derives from the checkpoint path, so the replay is
    recognized and skipped (reference LakeSoulSink keys on the
    checkpoint-persisted Spark queryId for the same reason)."""
    from lakesoul_spark.streaming.sink import default_query_id

    ck = str(tmp_path / "ck")
    qid_run1 = default_query_id(ck)
    qid_run2 = default_query_id(ck)           # "restarted" query, same lineage
    assert qid_run1 == qid_run2
    assert default_query_id(str(tmp_path / "other")) != qid_run1

    b0 = _df(spark, [(1, "a")], "id int, v string")
    assert write_batch(b0, tmp_table, 0, query_id=qid_run1,
                       hash_partitions=["id"])
    # restart replays batch 0 under the re-derived qid → deduped
    assert not write_batch(b0, tmp_table, 0, query_id=qid_run2)
    assert len(LakeSoulTable.for_path(spark, tmp_table).versions()) == 1


def test_sink_complete_mode_truncates(spark, tmp_table):
    write_batch(_df(spark, [(1, "a"), (2, "b")], "id int, v string"),
                tmp_table, 0, output_mode="complete", query_id="q")
    write_batch(_df(spark, [(9, "z")], "id int, v string"),
                tmp_table, 1, output_mode="complete", query_id="q")
    got = [tuple(r) for r in LakeSoulTable.for_path(spark, tmp_table).to_df().collect()]
    assert got == [(9, "z")]


def test_sink_update_mode_requires_pk(spark, tmp_table):
    df = _df(spark, [(1, "a")], "id int, v string")
    with pytest.raises(ValueError, match="update output mode requires"):
        write_batch(df, tmp_table, 0, output_mode="update")


def test_sink_rejects_nulltype(spark, tmp_table):
    df = _df(spark, [(1, "a")], "id int, v string").withColumn("n", F.lit(None))
    with pytest.raises(ValueError, match="NullType"):
        write_batch(df, tmp_table, 0)


def test_sink_end_to_end_stream(spark, tmp_table, tmp_path):
    """rate-limited file stream → foreachBatch sink → MOR read."""
    from lakesoul_spark.streaming import write_stream

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    base = _df(spark, [(i, i * 10) for i in range(100)], "id int, v int")
    base.repartition(3).write.parquet(src)
    sdf = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = write_stream(
        sdf, tmp_table, checkpoint_location=ck,
        hash_partitions=["id"], hash_bucket_num=2,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    t = LakeSoulTable.for_path(spark, tmp_table)
    assert t.to_df().count() == 100
    # multiple micro-batches committed, each idempotently recorded
    assert len(t.versions()) >= 2


# ----------------------------------------------------------------- source


def test_stream_read_sees_appends(lakesoul_format, spark, tmp_table, tmp_path):
    write(_df(spark, [(1, "a"), (2, "b")], "id int, v string"), tmp_table)
    write(_df(spark, [(3, "c")], "id int, v string"), tmp_table)

    name = "mem_src_test"
    q = (
        spark.readStream.format("lakesoul").load(tmp_table)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(f"select * from {name}").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_read_max_versions_per_trigger(
    lakesoul_format, spark, tmp_table, tmp_path
):
    """Data completeness under the cap, and the reader's offset
    protocol in Spark's real call order (latestOffset BEFORE
    initialOffset): first batch uncapped, then ≤ cap per trigger,
    offsets never regress."""
    for i in range(5):
        write(_df(spark, [(i, f"v{i}")], "id int, v string"), tmp_table)

    name = "mem_src_cap"
    q = (
        spark.readStream.format("lakesoul")
        .option("maxVersionsPerTrigger", "2").load(tmp_table)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckcap"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted((r.id, r.v) for r in spark.sql(f"select * from {name}").collect())
    assert got == [(i, f"v{i}") for i in range(5)]

    from lakesoul_spark.meta.store import MetaStore
    from lakesoul_spark.streaming.source import LakeSoulStreamReader

    head = MetaStore(tmp_table).head_version()

    # fresh start, Spark's call order: the first latestOffset has no
    # floor (uncapped — capping it could regress a restarted query's
    # checkpoint), then the cap engages per trigger
    rd = LakeSoulStreamReader(tmp_table, {"maxversionspertrigger": "2"})
    first = rd.latestOffset()["version"]
    assert first == head
    rd.initialOffset()
    rd.partitions({"version": 0}, {"version": first})
    for _ in range(3):
        write(_df(spark, [(9, "z")], "id int, v string"), tmp_table)
    end = rd.latestOffset()["version"]
    assert end == head + 2  # 3 new commits, capped at 2
    rd.partitions({"version": first}, {"version": end})
    end2 = rd.latestOffset()["version"]
    assert end2 == head + 3 and end2 > end

    # restart with a WAL-replayed batch: floor learned from partitions,
    # cap applies immediately afterward
    rd2 = LakeSoulStreamReader(tmp_table, {"maxversionspertrigger": "1"})
    rd2.partitions({"version": 2}, {"version": 3})  # replayed batch
    for _ in range(2):
        write(_df(spark, [(8, "y")], "id int, v string"), tmp_table)
    assert rd2.latestOffset()["version"] == 4  # floor 3 + cap 1


def test_stream_read_rewrite_fails_by_default(spark, tmp_table):
    """A stream over a table that gets UPDATEd must not silently skip
    the rewrite (reference DataOperation.scala:225-228 aborts the
    incremental read at an Update boundary)."""
    from lakesoul_spark.meta.store import DataRewriteError, MetaStore
    from lakesoul_spark.streaming.source import LakeSoulStreamReader

    write(_df(spark, [(1, "a"), (2, "b")], "id int, v string"), tmp_table,
          hash_partitions=["id"])
    t = LakeSoulTable.for_path(spark, tmp_table)
    t.update(F.col("id") == 1, {"v": F.lit("A")})
    t.upsert(_df(spark, [(3, "c")], "id int, v string"))
    head = MetaStore(tmp_table).head_version()

    reader = LakeSoulStreamReader(tmp_table, {})
    with pytest.raises(DataRewriteError, match="rewrite"):
        reader.partitions({"version": 0}, {"version": head})

    skip = LakeSoulStreamReader(tmp_table, {"failondataloss": "false"})
    splits = skip.partitions({"version": 0}, {"version": head})
    # rewrite invisible in skip mode; append + merge deltas still flow
    names = [f for s in splits for f in s.files]
    assert names  # the initial write and the upsert delta are present


# --------------------------------------------------------- format batch read


def test_format_read_matches_view_builder(lakesoul_format, spark, tmp_table):
    df = _df(spark, [(i, f"v{i}", i % 3) for i in range(50)], "id int, v string, p int")
    write(df, tmp_table, range_partitions=["p"], hash_partitions=["id"],
          hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, tmp_table)
    t.upsert(_df(spark, [(7, "UP", 1), (51, "new", 0)], "id int, v string, p int"))

    ds = spark.read.format("lakesoul").load(tmp_table)
    jvm = t.to_df()
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, jvm.collect()))


def test_windowed_merge_bounded_memory(spark, tmp_table):
    """A bucket spanning MANY arrow batches merges correctly with a
    tiny batch_rows: the k-way windowed merge never materializes the
    whole bucket (reference sorted_stream_merger.rs streams batches the
    same way). Includes a partial-column generation so the
    file_exist_cols column-level resolution crosses window boundaries."""
    import pyarrow as pa

    from lakesoul_spark.meta.store import MetaStore
    from lakesoul_spark.streaming.source import _plan_splits, _read_file_merged

    base = _df(spark, [(i, i * 10, f"s{i}") for i in range(3000)],
               "id int, v long, s string")
    write(base, tmp_table, hash_partitions=["id"], hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, tmp_table)
    t.upsert(_df(spark, [(i, i * 100, f"u{i}") for i in range(500, 2000)],
                 "id int, v long, s string"))
    # partial-column upsert: only (id, v) — s must survive from gen 1/2
    t.upsert(_df(spark, [(i, i * 1000) for i in range(1500, 3500)],
                 "id int, v long"))
    expect = sorted(tuple(r) for r in t.to_df().collect())

    store = MetaStore(tmp_table)
    info = store.table_info()
    splits = _plan_splits(info, store.snapshot().files,
                          group_buckets=True, cdc_filter=True)
    rows = []
    for s in splits:
        batches = list(_read_file_merged(
            s.files, s.schema_json, s.range_vals, list(s.pk_cols),
            s.cdc_col, s.cdc_filter, defaults=s.defaults, batch_rows=64,
        ))
        for b in batches:
            assert b.num_rows <= 64      # output stays batch-bounded too
        if batches:
            rows.extend(
                tuple(r.values())
                for r in pa.Table.from_batches(batches).to_pylist()
            )
    assert sorted(rows) == expect


def test_format_read_partition_pruning(lakesoul_format, spark, tmp_table):
    df = _df(spark, [(i, i % 4) for i in range(40)], "id int, p int")
    write(df, tmp_table, range_partitions=["p"])
    ds = spark.read.format("lakesoul").load(tmp_table).filter(F.col("p") == 2)
    assert sorted(r["id"] for r in ds.collect()) == [i for i in range(40) if i % 4 == 2]


def test_format_read_range_predicate_partition_pruning(
    lakesoul_format, spark, tmp_table
):
    """Comparisons on range-partition columns prune partitions at the
    TYPED value (int 9 < 10 even though '9' > '10' as strings), and
    date ranges prune by calendar order."""
    df = _df(spark, [(i, i % 12) for i in range(120)], "id int, p int")
    write(df, tmp_table, range_partitions=["p"])

    from lakesoul_spark.streaming.source import LakeSoulBatchReader
    from pyspark.sql.datasource import GreaterThanOrEqual

    rd = LakeSoulBatchReader(tmp_table, {})
    rd.pushFilters([GreaterThanOrEqual(("p",), 10)])
    assert rd._part_filter is not None and len(rd._part_filter) == 2  # p=10,11

    got = (
        spark.read.format("lakesoul").load(tmp_table)
        .filter(F.col("p") >= 10).collect()
    )
    assert sorted(r["id"] for r in got) == [i for i in range(120) if i % 12 >= 10]

    # date-typed partition column
    import datetime

    path2 = tmp_table + "-dates"
    df2 = spark.createDataFrame(
        [(i, datetime.date(2024, 1 + i % 6, 1)) for i in range(60)],
        "id int, d date",
    )
    write(df2, path2, range_partitions=["d"])
    rd2 = LakeSoulBatchReader(path2, {})
    rd2.pushFilters([GreaterThanOrEqual(("d",), datetime.date(2024, 5, 1))])
    assert rd2._part_filter is not None and len(rd2._part_filter) == 2  # May, June
    got2 = (
        spark.read.format("lakesoul").load(path2)
        .filter(F.col("d") >= datetime.date(2024, 5, 1)).collect()
    )
    assert sorted(r["id"] for r in got2) == [i for i in range(60) if i % 6 >= 4]


def test_format_read_pk_point_lookup(lakesoul_format, spark, tmp_table):
    df = _df(spark, [(i, f"v{i}") for i in range(100)], "id int, v string")
    write(df, tmp_table, hash_partitions=["id"], hash_bucket_num=8)
    got = (
        spark.read.format("lakesoul").load(tmp_table)
        .filter(F.col("id") == 42).collect()
    )
    assert [(r["id"], r["v"]) for r in got] == [(42, "v42")]


def test_format_read_cdc_filters_deletes(lakesoul_format, spark, tmp_table):
    create_table(
        spark, tmp_table, "id int, v string, op string",
        hash_partitions=["id"],
        properties={"lakesoul_cdc_change_column": "op"},
    )
    t = LakeSoulTable.for_path(spark, tmp_table)
    t.upsert(_df(spark, [(1, "a", "insert"), (2, "b", "insert")],
                 "id int, v string, op string"))
    t.upsert(_df(spark, [(1, "a", "delete"), (3, "c", "insert")],
                 "id int, v string, op string"))
    ds = spark.read.format("lakesoul").load(tmp_table)
    assert sorted(r["id"] for r in ds.collect()) == [2, 3]


# ------------------------------------------------------------- murmur3


def test_spark_hash_parity(spark):
    import datetime

    rows = [(123, 2**40 + 7, "héllo✓", datetime.date(2024, 5, 17))]
    df = spark.createDataFrame(rows, "i int, l long, s string, d date")
    got = df.select(F.hash("i"), F.hash("l"), F.hash("s"), F.hash("d"),
                    F.hash("i", "l", "s", "d")).collect()[0]
    vals = [(123, "int"), (2**40 + 7, "bigint"), ("héllo✓", "string"),
            (datetime.date(2024, 5, 17), "date")]
    exp = [spark_hash.hash_value(v, t) for v, t in vals]
    h = 42
    for v, t in vals:
        h = spark_hash.hash_value(v, t, h)
    exp.append(h)
    assert list(got) == exp


def test_bucket_of_matches_writer_layout(spark, tmp_table):
    """bucket_of() must agree with the physical bucket files the writer
    produced — this is what makes point-lookup pruning sound."""
    df = _df(spark, [(i,) for i in range(64)], "id int")
    write(df, tmp_table, hash_partitions=["id"], hash_bucket_num=8)
    from lakesoul_spark.meta.store import MetaStore

    store = MetaStore(tmp_table)
    by_bucket = {}
    for f in store.snapshot().files:
        by_bucket.setdefault(f.bucket, []).append(f)
    import pyarrow.parquet as pq
    import os

    for b, fs in by_bucket.items():
        for f in fs:
            ids = pq.read_table(os.path.join(tmp_table, f.path)).column("id").to_pylist()
            for i in ids:
                assert spark_hash.bucket_of([i], ["int"], 8) == b


def test_format_read_incremental_option(lakesoul_format, spark, tmp_table):
    """readtype=incremental via format options (reference
    LakeSoulOptions.readtype), CDC rows unfiltered."""
    write(_df(spark, [(1, "a")], "id int, v string"), tmp_table)
    from lakesoul_spark.meta.store import MetaStore

    ts1 = MetaStore(tmp_table).read_commit(1).timestamp_ms
    write(_df(spark, [(2, "b")], "id int, v string"), tmp_table)
    got = (
        spark.read.format("lakesoul")
        .option("readtype", "incremental")
        .option("readstarttime", str(ts1))
        .load(tmp_table)
        .collect()
    )
    assert [tuple(r) for r in got] == [(2, "b")]


def test_save_as_bucketed_shuffle_free_join(spark, tmp_table, tmp_path):
    """The bucketBy escape hatch: a self-join of two equally-bucketed
    materializations plans NO Exchange (reference bucket-aligned
    shuffle-free join, ShuffleJoinSuite)."""
    df = _df(spark, [(i, i * 2) for i in range(1000)], "id int, v int")
    write(df, tmp_table, hash_partitions=["id"], hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, tmp_table)
    t.save_as_bucketed("bj_left")
    t.save_as_bucketed("bj_right")
    try:
        j = spark.table("bj_left").join(spark.table("bj_right"), "id")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bj_left")
        spark.sql("DROP TABLE IF EXISTS bj_right")


def test_format_read_partial_column_upsert(lakesoul_format, spark, tmp_path):
    """ADVICE r1: a partial-column upsert read via format('lakesoul')
    must resolve each column from the newest generation whose file
    physically contains it (file_exist_cols), matching to_df() — not
    whole-row last-writer-wins."""
    path = str(tmp_path / "t")
    write(_df(spark, [(1, "a", 10), (2, "b", 20)], "id int, s string, v int"),
          path, mode="overwrite", hash_partitions=["id"], hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, path)
    # second stream upserts ONLY (id, v): s must survive from gen 1
    t.upsert(_df(spark, [(1, 100), (3, 300)], "id int, v int"))
    # third stream upserts ONLY (id, s): v must survive from gen 2
    t.upsert(_df(spark, [(2, "B2")], "id int, s string"))

    expect = sorted(map(tuple, t.to_df().select("id", "s", "v").collect()))
    assert expect == [(1, "a", 100), (2, "B2", 20), (3, None, 300)]
    got = sorted(map(tuple,
        spark.read.format("lakesoul").load(path).select("id", "s", "v").collect()))
    assert got == expect


def test_format_read_no_pandas_in_merge_path():
    """The DS merge is arrow-native (VERDICT r1 'What's wrong' #3)."""
    import inspect

    from lakesoul_spark.streaming import source as src

    body = inspect.getsource(src._read_file_merged)
    assert "to_pandas" not in body and "from_pandas" not in body


# -------------------------------------------------------- stateful operators

def test_stateful_first_event_per_key(spark, tmp_path):
    """Streaming dedup via applyInPandasWithState: only each user's
    first event (min event_id, batches delivered in order) passes."""
    from lakesoul_spark.streaming.stateful import first_event_per_key

    src = str(tmp_path / "src")
    rows = [(i, i % 3, f"e{i}") for i in range(30)]  # users 0,1,2
    df = _df(spark, rows, "event_id long, user_id int, payload string")
    # three sorted slices -> three in-order micro-batches
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        _df(spark, rows[lo:hi], df.schema).coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(df.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    out = first_event_per_key(sdf, ["user_id"], order_col="event_id")
    q = (out.writeStream.format("memory").queryName("first_ev")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("first_ev").collect()))
    assert got == [(0, 0, "e0"), (1, 1, "e1"), (2, 2, "e2")]


def test_stateful_sessionize(spark, tmp_path):
    """Event-time sessions with a 10 s gap: in-batch splits AND
    watermark-timeout closes both emit; the sentinel key that advances
    the watermark is filterable."""
    import datetime as dt

    from lakesoul_spark.streaming.stateful import sessionize

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    src = str(tmp_path / "src")
    schema = "user_id int, ts timestamp"
    # user 1: events at 0,5,8 (one session), then 30,31 (second session)
    # user 2: single event at 3
    batches = [
        [(1, s(0)), (1, s(5)), (2, s(3))],
        [(1, s(8))],
        [(1, s(30)), (1, s(31))],
        [(99, s(1000))],   # sentinel 1: pushes watermark once processed
        [(99, s(2000))],   # sentinel 2: batch in which timeouts fire
    ]
    for b in batches:
        _df(spark, b, schema).coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(src)
           .withWatermark("ts", "0 seconds"))
    out = sessionize(sdf, ["user_id"], ts_col="ts", gap_ms=10_000)
    q = (out.writeStream.format("memory").queryName("sessions")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions").collect() if r.user_id != 99
    )
    assert got == [
        (1, s(0), s(8), 3),
        (1, s(30), s(31), 2),
        (2, s(3), s(3), 1),
    ]


@pytest.mark.slow
def test_stateful_sessionize_replay_late_data(spark, tmp_path):
    """Event-time correctness under replay: a late event (within the
    watermark delay) arriving batches later lands in its CORRECT
    session — including bridging two previously separate islands into
    one — because sessions are held in state until the watermark passes
    session_end + gap, never closed eagerly on an in-batch split."""
    import datetime as dt

    from lakesoul_spark.streaming.stateful import sessionize

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    src = str(tmp_path / "src")
    schema = "user_id int, ts timestamp"
    batches = [
        # user 1: islands (0,5) and (20,25) — >gap apart
        # user 2: island (0,3)
        [(1, s(0)), (1, s(5)), (2, s(0)), (2, s(3))],
        [(1, s(20)), (1, s(25)), (2, s(100))],
        # LATE: user1 @14 bridges (0,5)+(20,25) into ONE session;
        # user2 @8 extends (0,3) to (0,8)
        [(1, s(14)), (2, s(8))],
        [(99, s(10_000))],  # sentinels advance the watermark past
        [(99, s(20_000))],  # every end+gap deadline and fire timeouts
    ]
    for b in batches:
        _df(spark, b, schema).coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(src)
           .withWatermark("ts", "60 seconds"))
    out = sessionize(sdf, ["user_id"], ts_col="ts", gap_ms=10_000)
    q = (out.writeStream.format("memory").queryName("sessions_replay")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions_replay").collect() if r.user_id != 99
    )
    assert got == [
        (1, s(0), s(25), 5),
        (2, s(0), s(8), 3),
        (2, s(100), s(100), 1),
    ]


@pytest.mark.slow
def test_stateful_first_event_strict_mode(spark, tmp_path):
    """Strict mode holds the candidate for a settle window: a smaller
    order_col delivered in a LATER batch still wins (the fast path, by
    documented contract, would emit the first batch's row and drop the
    late true-first)."""
    import time

    from lakesoul_spark.streaming.stateful import first_event_per_key

    src = str(tmp_path / "src")
    schema = "event_id long, user_id int, payload string"
    df1 = _df(spark, [(5, 0, "late-loser")], schema)
    df1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)  # file-source batch order follows modification time
    _df(spark, [(3, 0, "true-first")], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    sdf = (spark.readStream.schema(df1.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    out = first_event_per_key(sdf, ["user_id"], order_col="event_id",
                              settle_ms=4000)
    q = (out.writeStream.format("memory").queryName("strict_ev")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").start())
    try:
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.table("strict_ev").collect()
            if rows:
                break
            time.sleep(1)
        assert [tuple(r) for r in rows] == [(3, 0, "true-first")], rows
        # the emission marker persists: nothing else ever comes out
        time.sleep(3)
        assert spark.table("strict_ev").count() == 1
    finally:
        q.stop()

    # fast path on the same data: the first batch wins (documented
    # order-sensitivity — this is exactly what strict mode fixes)
    sdf2 = (spark.readStream.schema(df1.schema)
            .option("maxFilesPerTrigger", 1).parquet(src))
    fast = first_event_per_key(sdf2, ["user_id"], order_col="event_id")
    q2 = (fast.writeStream.format("memory").queryName("fast_ev")
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert [tuple(r) for r in spark.table("fast_ev").collect()] \
        == [(5, 0, "late-loser")]


def test_latest_state_stream(spark, tmp_path):
    """applyInPandasWithState latest-state maintenance (the Flink
    keyed-state + timers analog): last-writer-wins by order within and
    across micro-batches, stale rows emit nothing, out-of-order late
    rows lose."""
    from lakesoul_spark.streaming.stateful import latest_state_stream

    src = str(tmp_path / "src")
    schema = "seq long, k int, v string"
    batches = [
        # k=3 gets two rows in ONE batch: only the newer one emits
        [(1, 1, "a1"), (2, 2, "b1"), (5, 3, "c1"), (6, 3, "c2")],
        [(3, 1, "a2"), (1, 2, "late-loses")],   # k=2's seq 1 < seq 2
        [(4, 2, "b2")],
    ]
    df0 = _df(spark, batches[0], schema)
    for b in batches:
        _df(spark, b, schema).coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(df0.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    out = latest_state_stream(sdf, ["k"], order_col="seq")
    q = (out.writeStream.format("memory").queryName("latest_state")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("latest_state").collect()))
    # updates emitted: k=1 at seq1 then seq3; k=2 at seq2 then seq4;
    # the late (seq 1) row for k=2 emits NOTHING
    assert got == [
        (1, 1, "a1", "u"), (2, 2, "b1", "u"),
        (3, 1, "a2", "u"), (4, 2, "b2", "u"), (6, 3, "c2", "u"),
    ]
    # final state per key = batch last-writer-wins
    final = {r.k: r.v for r in spark.table("latest_state")
             .groupBy("k").agg(F.max_by("v", "seq").alias("v")).collect()}
    assert final == {1: "a2", 2: "b2", 3: "c2"}


def test_latest_state_stream_ttl_tombstones(spark, tmp_path):
    """With ttl_ms set, a key idle past the deadline gets a 'd'
    tombstone via a processing-time timer and its state is cleared —
    bounded state for unbounded key spaces (Flink state-TTL shape)."""
    import time

    from lakesoul_spark.streaming.stateful import latest_state_stream

    src = str(tmp_path / "src")
    schema = "seq long, k int, v string"
    # batch 1: the winner; batch 2: a STALE arrival — it must neither
    # change the state nor permanently disarm the TTL timer (Spark
    # clears the timeout on every invocation; the stale branch re-arms)
    _df(spark, [(5, 7, "x")], schema).coalesce(1).write.mode("append").parquet(src)
    _df(spark, [(3, 7, "stale")], schema).coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema("seq long, k int, v string")
           .option("maxFilesPerTrigger", 1).parquet(src))
    out = latest_state_stream(sdf, ["k"], order_col="seq", ttl_ms=1500)
    q = (out.writeStream.format("memory").queryName("latest_ttl")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("update").trigger(processingTime="1 second").start())
    try:
        deadline = time.time() + 60
        want = {(5, 7, "x", "u"), (5, 7, "x", "d")}
        while time.time() < deadline:
            got = set(map(tuple, spark.table("latest_ttl").collect()))
            if got == want:
                break
            time.sleep(1)
        assert got == want, got
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked inner stream-stream interval join (the query-pack
    streaming_stream_join shape): matches within [l.ts, l.ts + 30 s]
    on the same key are emitted exactly once across micro-batches —
    including a cross-batch pair (left arrives a batch before its
    right match) — and out-of-window / other-key pairs never appear."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    schema = "id int, user_id int, ts timestamp"
    # left: user1@0, user1@100, user2@0
    # right: user1@10 (matches l1@0), user1@125 (matches l2@100),
    #        user1@200 (no left within 30 s), user2@40 (out of window)
    lbatches = [[(1, 1, s(0)), (3, 2, s(0))], [(2, 1, s(100))]]
    rbatches = [[(11, 1, s(10))], [(12, 1, s(125)), (13, 1, s(200)),
                                   (14, 2, s(40))]]
    for b in lbatches:
        _df(spark, b, schema).coalesce(1).write.mode("append").parquet(lsrc)
    for b in rbatches:
        _df(spark, b, schema).coalesce(1).write.mode("append").parquet(rsrc)
    left = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(lsrc).withWatermark("ts", "5 minutes")
        .select(F.col("id").alias("lid"), "user_id",
                F.col("ts").alias("lts"))
    )
    right = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(rsrc).withWatermark("ts", "5 minutes")
        .select(F.col("id").alias("rid"),
                F.col("user_id").alias("r_user_id"),
                F.col("ts").alias("rts"))
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 30 SECONDS")),
        "inner",
    )
    q = (joined.writeStream.format("memory").queryName("ssj_test")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.lid, r.rid) for r in spark.table("ssj_test").collect()
    )
    assert got == [(1, 11), (2, 12)]


def test_sessionize_out_of_order_islands(spark, tmp_path):
    """sessionize emits the gaps-and-islands truth on a replay with
    out-of-order arrivals, cross-batch merges (a late middle event
    bridging two islands), and multiple interleaved keys."""
    import datetime as dt

    from lakesoul_spark.streaming.stateful import sessionize

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    schema = "user_id int, ts timestamp"
    # batches: islands per key delivered out of order; user 1's
    # events at 0/5 and 30 are later BRIDGED by the 18 s arrival
    # (gap 15 s: 0-5 | 30 becomes 0-30 once 18 lands); user 2 stays
    # two sessions; user 99 is the watermark-draining sentinel. The
    # 300 s delay keeps the watermark (max ts 200 s - delay) below
    # 0-5's closing point (5 + 15 s) until 18 lands
    batches = [
        [(1, s(0)), (2, s(100)), (1, s(5))],
        [(1, s(30)), (2, s(200))],
        [(1, s(18))],                     # late, within watermark delay
        [(99, s(10_000))],
        [(99, s(20_000))],
    ]
    src = str(tmp_path / "src")
    for b in batches:
        _df(spark, b, schema).coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(src)
           .withWatermark("ts", "300 seconds"))
    out = sessionize(sdf, ["user_id"], ts_col="ts", gap_ms=15_000)
    q = (out.writeStream.format("memory").queryName("islands")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("islands").collect() if r.user_id != 99
    )
    assert got == [
        (1, s(0), s(30), 4), (2, s(100), s(100), 1),
        (2, s(200), s(200), 1),
    ]
