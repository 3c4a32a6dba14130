"""The file-keyed parquet footer cache behind ``load_table``.

A repeated load of an unchanged file must plan without a Spark job, and no
change to the file (size, mtime, listing) or to a schema-affecting session
conf may ever be served the schema inferred before it.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, TimestampType

from python_async_sample_spark.sources.readers import load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn started on this thread).

    The status tracker is fed asynchronously by the listener bus, so a
    barrier job in a second group is awaited first: the bus is FIFO, so
    once the barrier shows, every job fn started shows too."""
    sc = spark.sparkContext
    group, barrier = f"count-{uuid.uuid4()}", f"barrier-{uuid.uuid4()}"
    sc.setJobGroup(group, "jobs counted by a test")
    try:
        out = fn()
    finally:
        sc.setJobGroup(barrier, "listener-bus barrier")
    try:
        spark.range(1).collect()
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup(barrier):
            assert time.monotonic() < deadline, "listener bus never delivered the barrier job"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), str(path))


def test_repeat_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"a": pa.array([1, 2, 3], pa.int64())})
    first, n_first = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again, n_again = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_first >= 1  # the counter sees Spark's own inference job
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]


def test_rewrite_is_picked_up(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, {"a": pa.array([1, 2], pa.int64())})
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    # a rewrite that changes the size
    _write(path, {"a": pa.array([1, 2], pa.int64()), "b": pa.array(["x", "y"])})
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    # a same-size rewrite that only moves the mtime
    size = os.path.getsize(path)
    _write(path, {"a": pa.array([1, 2], pa.int64()), "c": pa.array(["x", "y"])})
    assert os.path.getsize(path) == size
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c"]
    assert sorted((r.a, r.c) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_binary_as_string_flip_changes_type(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"b": pa.array([b"x", b"y"], pa.binary())})
    old = spark.conf.get("spark.sql.parquet.binaryAsString")
    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "false")
        assert load_table(spark, str(tmp_path), "t").schema["b"].dataType == BinaryType()
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType == StringType()
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
        spark.conf.set("spark.sql.parquet.binaryAsString", "false")
        assert load_table(spark, str(tmp_path), "t").schema["b"].dataType == BinaryType()
    finally:
        spark.conf.set("spark.sql.parquet.binaryAsString", old)


def test_spark_written_directory_matches_uncached_read(spark, tmp_path):
    path = str(tmp_path / "ds.parquet")
    spark.range(40).select(
        F.col("id"), (F.col("id") * 1.5).alias("x"), (F.col("id") % 3).alias("p")
    ).repartition(4).write.partitionBy("p").parquet(path)
    plain = spark.read.parquet(path)
    first = load_table(spark, str(tmp_path), "ds")
    cached, n_jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "ds"))
    assert n_jobs == 0
    for df in (first, cached):
        assert df.schema == plain.schema
        assert sorted(df.collect()) == sorted(plain.collect())
    # a new file in the listing is a new key: its rows show up
    spark.range(40, 45).select(
        F.col("id"), (F.col("id") * 1.5).alias("x"), F.lit(7).cast("long").alias("p")
    ).write.mode("append").partitionBy("p").parquet(path)
    assert load_table(spark, str(tmp_path), "ds").count() == 45


def test_rewrite_with_nanos_column_reads_micros(spark, tmp_path):
    """A file rewritten at the same path with a TIMESTAMP(NANOS) column must
    be re-probed: the nanos column is read as microsecond timestamps."""
    path = tmp_path / "t.parquet"
    _write(path, {"id": pa.array([1, 2], pa.int64())})
    old = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "false")
        assert load_table(spark, str(tmp_path), "t").columns == ["id"]
        ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
        _write(
            path,
            {"id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))},
        )
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["ts"].dataType == TimestampType()
        got = {r.id: r.us for r in df.select("id", F.unix_micros("ts").alias("us")).collect()}
        assert got == {1: ns[0] // 1000, 2: ns[1] // 1000}
    finally:
        spark.conf.set(NANOS_AS_LONG, old)


def test_concurrent_loads_agree(spark, tmp_path):
    """More threads than cores load two files at once: every load gets its
    own file's columns, whatever order the threads store the cache in."""
    want = {"t0": ["a", "ts"], "t1": ["b"]}
    ts = pa.array([datetime(2024, 1, 1)], pa.timestamp("us"))
    _write(tmp_path / "t0.parquet", {"a": [1], "ts": ts})
    _write(tmp_path / "t1.parquet", {"b": ["x"]})
    got, errors = [], []

    def load(name):
        try:
            for _ in range(3):
                got.append((name, load_table(spark, str(tmp_path), name).columns))
        except Exception as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=load, args=(f"t{i % 2}",)) for i in range(8)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(got) == 24 and all(cols == want[name] for name, cols in got)
