"""The benchmark's workloads.

Every run drives the same pond-shaped phases (log_query, ingest_follow,
search_serving; curate_daily in traced runs), so every run yields every
end-to-end metric. The two workloads differ in the input properties the
engine's behaviour depends on: how skewed site traffic is, how tightly
embeddings cluster, and how much of a day's corpus repeats earlier
content.
"""

from __future__ import annotations

import datetime as dt

BASE = {
    # log store and log_query: closed loop, 2 clients
    "start": dt.datetime(2024, 1, 1),
    "days": 7,
    "sites": 200,
    "records": 100_000,  # sized to the per-run budget: perfbench/README.md
    "queries_per_shape": 8,
    "clients": 2,
    # search_serving: closed loop, 1 client
    "search_docs": 1_200,
    "clusters": 24,
    "dim": 32,
    "centroids": 16,
    "nprobe": 2,
    "search_requests": 20,
    "knn_small": 4,  # query vectors per knn_join, JVM cross-score backend
    "knn_large": 260,  # above the vectorized backend's 256-row threshold
    # ingest_follow: open loop, one batch every period_s
    "batch": 225,
    "period_s": 3.0,
    "rate_limit": 0.5,  # ingest_batch(rate=...): per-site http_error tokens/s
    "trigger_ms": 100,
    "drain_s": 20.0,
    "retain_share": 0.6,  # retain(max_bytes=share x the store's bytes before ingest)
    "compact_target_bytes": 128 << 20,
    # curate_daily: one batch job per day
    "docs_per_day": 1_500,
    "doc_dim": 16,
    "sample_rate": 0.9,
}

WORKLOADS = {
    "skewed": BASE | {"zipf_s": 1.2, "dup_share": 0.3, "spread": 0.3},
    # with 200 evenly hit sites no site sees ten http_errors in a batch,
    # so a burst of one token (rate 0.1/s) gives the limiter discards
    "uniform": BASE | {"zipf_s": 0.0, "dup_share": 0.1, "spread": 0.8, "rate_limit": 0.1},
}

#: how a run's --seconds is split between the three loop phases, in the
#: order they run. log_query sends at least MIN_QUERIES queries,
#: search_serving one cycle of request kinds and ingest_follow at least
#: MIN_BATCHES batches, whatever the share; curate_daily (traced runs
#: only) runs its two days. At --seconds 14 the minimums bind, so every
#: run has the same number of queries and batches and the same tail
#: percentile.
SHARES = {"log_query": 0.4, "search_serving": 0.1, "ingest_follow": 0.5}
