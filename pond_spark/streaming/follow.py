"""FOLLOW / CONTINUE — live tailing on Structured Streaming (Q6/Q7).

Reference semantics (SURVEY.md §2.3, §2.6):

- FOLLOW (/root/reference/src/Protocol.hxx:34-41, src/Database.cxx:
  205-211): push each *new* matching record; no history. Mapped to a
  file-source stream over the store directory that skips files already
  present at subscription time (``modifiedAfter``).
- CONTINUE (/root/reference/src/Protocol.hxx:133-141): emit matching
  history, then keep tailing. A Structured Streaming file source does
  exactly this — existing files first, then new arrivals.
- The 10-second jitter slack the reference scans past ``until``
  (src/Selection.cxx:8-20) is a watermark: ``withWatermark('timestamp',
  '10 seconds')`` bounds how long we keep waiting for late data.

The same FilterSpec compiles onto the stream — predicates behave
identically in batch and streaming (Catalyst shares the expression
layer), which is the engine-level guarantee the reference gets from
reusing its Filter struct on the append listener
(src/Selection.cxx:116-127).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.filters import FilterSpec
from pond_spark.operators.sessionize import SESSION_TIMEOUT_S
from pond_spark.schema import LOG_SCHEMA


def _max_store_mtime(spark: SparkSession, store_dir: str) -> dt.datetime | None:
    """Best-effort max file mtime of the store via the Hadoop
    FileSystem API (works for any scheme the session can read); None
    when the path is missing or unlistable."""
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(store_dir)
        fs = p.getFileSystem(conf)
        it = fs.listFiles(p, True)
        m: int | None = None
        while it.hasNext():
            t = it.next().getModificationTime()
            if m is None or t > m:
                m = t
        if m is None:
            return None
        return dt.datetime.fromtimestamp(m / 1000.0, dt.timezone.utc).replace(
            tzinfo=None
        )
    except Exception:
        return None


def _source(
    spark: SparkSession,
    store_dir: str,
    modified_after: dt.datetime | None,
    max_files_per_trigger: int | None,
) -> DataFrame:
    # retention may evict a file (and its emptied p_date= directory)
    # between the source listing it and a batch reading it; evicted
    # data is gone by the ring-buffer semantics, so both the listing
    # and the read skip it instead of failing the stream
    reader = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("ignoreMissingFiles", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if modified_after is not None:
        # the row-level mtime cut below is correct but happens AFTER
        # the source lists and schedules every pre-existing file — a
        # fresh FOLLOW on a store with years of history would churn
        # through the whole backlog before the first live record.
        # maxFileAge bounds the LISTING: files older than (latest file
        # − age) are never scheduled. The age is derived from the cut
        # itself (now − cut + slack), so any file the row filter
        # could admit (mtime > cut ≤ latest) is still listed — for the
        # default cut of "now" the backlog shrinks to ~an hour, for an
        # explicit past cut the window widens to cover it exactly.
        # Spark measures age relative to the LATEST listed file's
        # mtime, not the driver clock, so a writer whose clock runs
        # ahead inflates "latest" and could push normal files out of
        # the window (ADVICE r6): the slack absorbs the skew observed
        # in the store at subscription time (+1h margin). Residual
        # assumption, documented: writers must not drift more than
        # ~1h FURTHER ahead of the store's subscription-time skew.
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        slack = 3600.0
        latest = _max_store_mtime(spark, store_dir)
        if latest is not None and latest > now:
            slack += (latest - now).total_seconds()
        age_s = int(max(0.0, (now - modified_after).total_seconds()) + slack)
        reader = reader.option("maxFileAge", f"{age_s}s")
    df = reader.load(store_dir)
    if modified_after is not None:
        # `modifiedAfter` is a batch-only option; on streams the file
        # metadata column gives the same no-history cut (Q6: FOLLOW
        # delivers only records arriving after subscription)
        df = df.withColumn("_mtime", F.col("_metadata.file_modification_time")).filter(
            F.col("_mtime") > F.lit(modified_after)
        ).drop("_mtime")
    return df


def follow_stream(
    spark: SparkSession,
    store_dir: str,
    spec: FilterSpec | None = None,
    since_now: dt.datetime | None = None,
    watermark: str | None = "10 seconds",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Q6 FOLLOW: new records only (files modified after subscription),
    filtered, watermarked. Append-mode sink compatible.

    The default subscription cut is UTC "now": the engine session pins
    spark.sql.session.timeZone=UTC, so a naive local-wall-clock
    datetime would skew the no-history filter by the machine's UTC
    offset (future cut → silence; past cut → history replay). An
    explicit naive ``since_now`` is interpreted as a session-timezone
    (UTC) instant."""
    since_now = since_now or dt.datetime.now(dt.timezone.utc).replace(
        tzinfo=None
    )
    df = _source(spark, store_dir, since_now, max_files_per_trigger)
    if spec is not None:
        df = df.filter(spec.to_column())
    # watermark=None: leave the stream unwatermarked for downstream
    # operators that define their own (Spark disallows redefining one)
    return df.withWatermark("timestamp", watermark) if watermark else df


def continue_stream(
    spark: SparkSession,
    store_dir: str,
    spec: FilterSpec | None = None,
    watermark: str | None = "10 seconds",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Q7 CONTINUE: history first (existing files), then live tail —
    the file source's native processing order."""
    df = _source(spark, store_dir, None, max_files_per_trigger)
    if spec is not None:
        df = df.filter(spec.to_column())
    return df.withWatermark("timestamp", watermark) if watermark else df


def follow_visitors(
    stream: DataFrame,
    timeout_s: int = SESSION_TIMEOUT_S,
) -> DataFrame:
    """Streaming visitor tracking (P3 on the live path): native
    ``session_window`` with the 30-minute idle gap — one row per
    (remote_host, session) with start/end and hit count."""
    return (
        stream.filter(F.col("remote_host").isNotNull())
        .groupBy(
            F.session_window("timestamp", f"{timeout_s} seconds"),
            F.col("remote_host"),
        )
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "remote_host",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_hits",
        )
    )
