"""Source layer: parquet/CSV/JSON readers over the driver testdata layout.

Reference analog: ``dbs/nikon.py:107-115,240-249`` (table scans with
time-range pushdown) and ``eda_query.py:236-238`` (CSV key list). Here every
scan is a lazy ``spark.read`` whose filters/projections Catalyst pushes into
the parquet reader — the reference had to hand-write each WHERE clause into
SQL strings to get the same effect.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver-provided star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def pin_reader_conf(spark: SparkSession) -> None:
    """Pin the two session confs every scan depends on.

    * UTC session timezone — timestamp formatting in query outputs must be
      stable regardless of how the driver built the session.
    * ``inferTimestampNTZ`` off — the testdata parquet stores naive
      timestamp[us] (no UTC annotation); Spark 4 would read those as
      TIMESTAMP_NTZ, which ``withWatermark``/event-time ops reject. Reading
      them as instants in a UTC session is value-identical and keeps one
      timestamp type across batch and streaming.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# Session confs that change the schema Spark infers from a parquet footer.
# Their values are part of every cache key below, so flipping one between
# two reads never serves the schema the other value inferred.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)

# path -> (key, schema, nanos columns). One entry per path, replaced when the
# key moves, so rewrites do not grow it. dict get/set are atomic and every
# stored entry is correct for its own key, so concurrent callers need no
# lock: threads that miss at once each infer, and the last store wins.
_FOOTER_CACHE: dict[str, tuple[tuple, StructType, tuple[str, ...]]] = {}


def _listing(path: str) -> tuple | None:
    """``(relative path, size, mtime_ns)`` of a local file (relative path
    ``""``) or of every file under a local dataset directory. ``None`` when
    the OS cannot see the path (a URI, a missing path, a concurrent
    delete): such a path is never cached."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                fst = os.stat(full)
                out.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        return tuple(out)
    except OSError:
        return None


def _is_data_file(rel: str) -> bool:
    """Spark's file index skips names starting with ``_`` or ``.``
    (``_SUCCESS``, ``.crc``), except ``key=value`` partition directories."""
    return not any(
        part.startswith(("_", ".")) and "=" not in part for part in rel.split(os.sep)
    )


def _nanos_timestamp_columns(path: str, listing: tuple | None) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) in any data file — Spark
    cannot read those natively; they are read as long and converted
    (footer-only probe)."""
    import pyarrow.parquet as pq

    if listing is None:
        files = [path]
    else:
        rels = [rel for rel, _, _ in listing if _is_data_file(rel)]
        files = [os.path.join(path, rel) if rel else path for rel in rels]
    cols: dict[str, None] = {}  # first-seen order, no repeats
    for f in files:
        schema = pq.read_schema(f)
        for name, typ in zip(schema.names, schema.types):
            if str(typ) == "timestamp[ns]":
                cols[name] = None
    return tuple(cols)


def parquet_footer(spark: SparkSession, path: str) -> tuple[StructType, tuple[str, ...]]:
    """The schema Spark infers for a parquet file or dataset directory, and
    its TIMESTAMP(NANOS) columns, from one process-wide cache.

    Spark's own inference runs a job per read; a cache hit costs a ``stat``
    per file and no job. The key is the file listing (path, size and
    mtime_ns of every file) plus the values of ``_SCHEMA_CONFS``, so a
    rewrite or a conf flip re-infers. When the path has nanosecond columns,
    ``nanosAsLong`` is set on the session, and the returned schema reads
    them as long nanos (see :func:`micros_from_nanos`).
    """
    listing = _listing(path)
    key = (listing, tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    cached = _FOOTER_CACHE.get(path)
    hit = cached is not None and cached[0] == key  # stored keys never hold a None listing
    ns_cols = cached[2] if hit else _nanos_timestamp_columns(path, listing)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if hit:
        return cached[1], ns_cols
    schema = spark.read.parquet(path).schema
    if listing is not None:
        _FOOTER_CACHE[path] = (key, schema, ns_cols)
    return schema, ns_cols


def micros_from_nanos(df: DataFrame, ns_cols: tuple[str, ...]) -> DataFrame:
    """Truncate long-nanos columns to microsecond timestamps with integer
    arithmetic (a double division would lose precision above 2^53 ns)."""
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one parquet table. Filters/column pruning push down.

    The schema comes from :func:`parquet_footer`, so a repeated load of an
    unchanged file plans without a Spark job. Nanosecond-timestamp columns
    (unsupported by Spark's parquet reader) are read as long nanos and
    truncated to microsecond timestamps.
    """
    # The driver owns the session; pin the reader confs at call time.
    pin_reader_conf(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    schema, ns_cols = parquet_footer(spark, path)
    return micros_from_nanos(spark.read.schema(schema).parquet(path), ns_cols)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as a dict; each is a lazy scan (no IO until an action)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry points."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_keys_csv(spark: SparkSession, path: str, column: str = "glass_id") -> DataFrame:
    """Key-list CSV reader (reference: ``eda_query.py:236-238,262-264`` reads
    sample.csv into a python list; here it becomes a one-column DataFrame so
    the fan-out lookup collapses into a distributed join)."""
    return spark.read.csv(path, header=False).toDF(column)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source — the interchange format LLM corpus pipelines
    ingest alongside parquet.

    An explicit schema skips Spark's inference pass (which reads the whole
    input once before the real scan — forbidden at 100 TB); corrupt lines
    land in ``_corrupt_record`` via PERMISSIVE mode instead of failing the
    job, mirroring the error-row side-output contract (SURVEY §2.1 S10).
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-file ingestion via Spark's ``binaryFile`` source — the canonical
    way media lands in a 100 TB pipeline: one row per file with (path,
    modificationTime, length, content), feeding the multimodal decode seam
    (``operators/multimodal.decode_media``) without any driver-side file
    listing or per-file open loop.

    ``glob`` filters file names (e.g. ``*.bmp``); ``max_bytes`` guards
    against a single pathological file blowing executor memory — rows over
    the cap are KEPT with NULL content and full metadata (path, length,
    fmt), so the caller routes them to a side output by length; their
    bodies are never read (column pruning on the oversized branch).
    The format derives from the file extension, lower-cased, ready for the
    decoder's ``fmt`` dispatch.
    """
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        # contract: oversized files are KEPT with NULL content (metadata
        # intact) so the caller can dead-letter them by length — filtering
        # them out entirely would make them vanish without a trace. The
        # two-branch union preserves scan efficiency: the oversized branch
        # replaces `content` with a literal, so column pruning means those
        # file bodies are never read into executor memory.
        small = df.where(F.col("length") <= max_bytes)
        big = df.where(F.col("length") > max_bytes).withColumn(
            "content", F.lit(None).cast("binary")
        )
        df = small.unionByName(big)
    return df.select(
        F.col("path"),
        F.col("length"),
        # fmt from the BASENAME only: splitting the full path on '.' breaks on
        # dotted directory names (corpus.v2/frame01 -> 'v2/frame01')
        F.lower(
            F.element_at(
                F.split(F.element_at(F.split(F.col("path"), "/"), -1), r"\."), -1
            )
        ).alias("fmt"),
        F.col("content"),
    )
