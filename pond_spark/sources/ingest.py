"""Ingest pipeline (S1/S2 + T6): parse → validate → rate-limit → append.

Reference behavior reproduced:

- **malformed counting** (/root/reference/src/Receiver.cxx:12-47):
  datagrams that fail to parse — or hit the 4096-byte truncation guard
  (/root/reference/src/Instance.hxx:45) — are counted, not stored.
- **per-site rate limiting** (/root/reference/src/Database.cxx:106-149,
  test/TestDatabase.cxx:425-496): a token bucket (rate r/s, burst 10·r)
  applied ONLY to "message" records (type == http_error) that carry a
  site; no-site messages are exempt; non-message records always pass.
  Discards are counted (n_discarded).

The token bucket is inherently sequential per site, so it runs as
``applyInPandas`` grouped by site — each site's records are processed
in (timestamp, id) order inside one Arrow batch stream while sites
parallelize across the cluster. This is the textbook case for the
Pandas slow path: genuinely order-dependent state that built-in
operators can't express.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pond_spark.schema import LOG_SCHEMA

MAX_DATAGRAM_SIZE = 4096  # src/Instance.hxx:45


def parse_datagrams(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse a frame of raw JSON-encoded datagrams into the log schema,
    flagging malformed rows (``_malformed``) instead of dropping them —
    the caller counts then filters, mirroring the receiver's counters.

    The reference's wire format is libcommon's binary TLV; our
    transport encoding is JSON lines (the content, not the bytes, is
    the contract). Truncation guard: payloads of exactly
    MAX_DATAGRAM_SIZE bytes are malformed (truncated datagrams,
    src/Receiver.cxx:27-31).
    """
    p = F.col(payload_col)
    parsed = raw.withColumn("_rec", F.from_json(p.cast("string"), LOG_SCHEMA))
    return parsed.withColumn(
        "_malformed",
        p.isNull()
        | (F.length(p.cast("binary")) >= MAX_DATAGRAM_SIZE)
        | F.col("_rec").isNull()
        | F.col("_rec.id").isNull(),
    )


def token_bucket(
    timestamps: Iterable,
    tokens: float,
    last_us: int | None,
    rate: float,
    cap: float,
) -> tuple[list[bool], float, int | None]:
    """Charge one token per record, in the given order, against a
    bucket of capacity ``cap`` refilled at ``rate`` tokens/s of event
    time; returns the per-record discard flags and the bucket's new
    ``(tokens, last_us)`` so a caller can carry it to the next call.

    The clock only advances: a null timestamp refills nothing, and a
    late one must not rewind ``last_us`` — or the next on-time record
    would re-credit refill time that was already granted."""
    flags = []
    for ts in timestamps:
        if ts is not None and not pd.isna(ts):
            now_us = int(ts.value // 1000)
            if last_us is None:
                last_us = now_us
            elif now_us > last_us:
                tokens = min(cap, tokens + rate * (now_us - last_us) / 1e6)
                last_us = now_us
        if tokens >= 1.0:
            tokens -= 1.0
            flags.append(False)
        else:
            flags.append(True)
    return flags, tokens, last_us


def split_charged(
    df: DataFrame, site_col: str, type_col: str, message_type: str
) -> tuple[DataFrame, DataFrame]:
    """``(charged, exempt)``: the message-type records with a site that
    pay the bucket, and the rest with ``_discarded`` already False.

    The two must PARTITION the frame under SQL three-valued logic: with
    a NULL type, (type == msg) is NULL, so both a plain filter and its
    ~negation exclude the row — it would silently vanish from the
    union. coalesce(..., False) makes the condition two-valued; exempt
    is then its exact complement."""
    is_charged = F.coalesce(
        (F.col(type_col) == message_type) & F.col(site_col).isNotNull(),
        F.lit(False),
    )
    return (
        df.filter(is_charged),
        df.filter(~is_charged).withColumn("_discarded", F.lit(False)),
    )


def rate_limit(
    df: DataFrame,
    rate: float,
    burst: float | None = None,
    site_col: str = "site",
    type_col: str = "type",
    message_type: str = "http_error",
    ts_col: str = "timestamp",
    id_col: str = "id",
) -> DataFrame:
    """Apply the per-site token bucket; appends ``_discarded``.

    Bucket: capacity ``burst`` (default 10·rate, src/Config.cxx:96-97),
    refill ``rate`` tokens/s, one token per accepted message record.
    Only message-type records with a non-null site are charged.
    """
    if rate <= 0:
        return df.withColumn("_discarded", F.lit(False))
    for c in (site_col, type_col, ts_col, id_col):
        if c not in df.columns:
            # fail on the driver with the column named — a missing
            # column would otherwise surface as an opaque KeyError
            # inside the Arrow worker on an executor
            raise ValueError(f"rate_limit: input has no column {c!r}")
    burst = burst if burst is not None else 10.0 * rate

    def bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # one pandas frame per site group, processed in (ts, id) order
        # — the token bucket is sequential by construction. Rows here
        # are pre-filtered to charged ones, so every row pays a token.
        pdf = pdf.sort_values([ts_col, id_col], na_position="first")
        flags, _, _ = token_bucket(pdf[ts_col], burst, None, rate, burst)
        pdf = pdf.copy()
        pdf["_discarded"] = flags
        return pdf

    charged, exempt = split_charged(df, site_col, type_col, message_type)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("_discarded", T.BooleanType())]
    )
    limited = charged.groupBy(site_col).applyInPandas(bucket, out_schema)
    return limited.unionByName(exempt)


@dataclass
class IngestResult:
    n_received: int
    n_malformed: int
    n_discarded: int
    stored: DataFrame


#: durable form of the reference's in-memory receiver counters
#: (src/Instance.cxx:51-62) — one row per ingest batch, folded back
#: into STATS by pond_spark.operators.stats.ingest_stats.
METRICS_SCHEMA = (
    "batch_id long, n_received long, n_malformed long, n_discarded long"
)


def ingest_batch(
    raw: DataFrame,
    payload_col: str = "payload",
    rate: float = 0.0,
    metrics_dir: str | None = None,
    batch_id: int = 0,
) -> IngestResult:
    """Full S1 pipeline on a batch of raw datagrams; returns counters
    (the STATS inputs, src/Instance.cxx:51-62) plus the storable rows.

    With ``metrics_dir`` set, the counters also land as one appended
    parquet row (METRICS_SCHEMA) — the persistent ingest-metrics table
    that gives STATS its n_received/n_malformed/n_discarded parity
    across restarts (the reference keeps them in process memory)."""
    # caches are scoped to THIS call: they serve the 2-3 count actions,
    # then release before return — a long-running ingest_stream calls
    # this once per micro-batch, and never-unpersisted entries would
    # accumulate in executor storage for the life of the query. The
    # caller's consumption of `stored` re-runs the (cheap, projection-
    # only) parse once when rate == 0; the rate-limited path instead
    # pins the flagged frame with localCheckpoint so the token-bucket
    # shuffle + pandas stage (the expensive part) runs exactly once —
    # an unpersist-before-return would silently re-execute it when the
    # caller writes `stored` (r6 review finding). The checkpoint blocks
    # release via the ContextCleaner when `stored` is dropped.
    parsed = parse_datagrams(raw, payload_col).cache()
    try:
        n_received = parsed.count()
        n_malformed = parsed.filter("_malformed").count()
        good = parsed.filter(~F.col("_malformed")).select("_rec.*")
        if rate > 0:
            flagged = rate_limit(good, rate).localCheckpoint()
            n_discarded = flagged.filter("_discarded").count()
            stored = flagged.filter(~F.col("_discarded")).drop("_discarded")
        else:
            n_discarded = 0
            stored = good
    finally:
        parsed.unpersist()
    if metrics_dir is not None:
        raw.sparkSession.createDataFrame(
            [(batch_id, n_received, n_malformed, n_discarded)], METRICS_SCHEMA
        ).write.mode("append").parquet(metrics_dir)
    return IngestResult(n_received, n_malformed, n_discarded, stored)
