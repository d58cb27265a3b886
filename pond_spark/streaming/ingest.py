"""Streaming ingest (S1, live): the continuous twin of
``pond_spark.sources.ingest.ingest_batch``.

The reference's receiver loop (/root/reference/src/Receiver.cxx:12-47)
runs forever: datagram → malformed check → rate limit → emplace, with
running counters. Here each micro-batch of raw payloads goes through
the same parse/validate pipeline, the per-site token bucket applies
per batch*, and ``foreachBatch`` appends survivors to the ``LogStore``
while a one-row metrics frame per batch lands in a metrics directory —
the durable form of the reference's in-memory counters
(src/Instance.cxx:51-62), folded by ``operators.stats.ingest_stats``.

*The bucket here replays per batch (each micro-batch starts from a
full burst) — use ``rate_limit_stream`` upstream of this sink when
cross-batch bucket state matters; ``foreachBatch`` itself cannot host
``applyInPandasWithState`` (it sees plain batch frames).

Scale notes: the sink path is the store's write discipline
(date-partitioned, range-distributed, site-sorted); metrics are one
tiny file per batch, compacted by ``LogStore.compact`` cadence if
needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pond_spark.sources.ingest import METRICS_SCHEMA, ingest_batch
from pond_spark.sources.store import LogStore


def ingest_stream(
    raw_stream: DataFrame,
    store: LogStore,
    metrics_dir: str,
    checkpoint_dir: str,
    payload_col: str = "payload",
    rate: float = 0.0,
):
    """Wire a raw-payload stream into the store. Returns the started
    StreamingQuery; callers own its lifecycle."""
    spark = store.spark

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        res = ingest_batch(batch_df, payload_col=payload_col, rate=rate)
        if res.n_received == 0:
            return
        store.append(res.stored)
        spark.createDataFrame(
            [(batch_id, res.n_received, res.n_malformed, res.n_discarded)],
            METRICS_SCHEMA,
        ).write.mode("append").parquet(metrics_dir)

    return (
        raw_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    return spark.read.parquet(metrics_dir)
