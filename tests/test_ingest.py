"""Ingest pipeline tests: parse/malformed counters, the per-site token
bucket (behavior port of test/TestDatabase.cxx:425-496), retention
(port of the eviction test, TestDatabase.cxx:48-97), store round-trip."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest

from pond_spark.sources import LogStore, apply_retention, ingest_batch, rate_limit


def _dg(i, ts=None, site=None, type_="http_access", **kw):
    rec = {"id": i, "type": type_}
    if ts is not None:
        rec["timestamp"] = ts.isoformat()
    if site is not None:
        rec["site"] = site
    rec.update(kw)
    return json.dumps(rec)


def test_ingest_counts_malformed(spark):
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (_dg(1, t0, "a"),),
        ("not json at all",),
        (_dg(2, t0, "b"),),
        (None,),
        ("x" * 4096,),  # truncation guard: size >= 4096 ⇒ malformed
    ]
    raw = spark.createDataFrame(rows, "payload string")
    res = ingest_batch(raw)
    assert res.n_received == 5
    assert res.n_malformed == 3
    assert res.n_discarded == 0
    assert sorted(r.id for r in res.stored.collect()) == [1, 2]


def test_ingest_metrics_persist_and_stats_fold(spark, tmp_path):
    """ingest_batch(metrics_dir=...) appends one counter row per batch;
    stats(metrics=...) folds the table into the full STATS counter set
    (src/Protocol.hxx:240-264 parity)."""
    from pond_spark.operators.stats import stats

    t0 = dt.datetime(2024, 1, 1, 10)
    mdir = str(tmp_path / "metrics")
    raw1 = spark.createDataFrame(
        [(_dg(1, t0, "a"),), ("nope",), (_dg(2, t0, "b"),)], "payload string"
    )
    # batch 2: 7 same-second messages on one site at rate 0.5 (burst 5)
    msgs = [(_dg(10 + i, t0, "m", type_="http_error"),) for i in range(7)]
    raw2 = spark.createDataFrame(msgs, "payload string")

    r1 = ingest_batch(raw1, metrics_dir=mdir, batch_id=1)
    r2 = ingest_batch(raw2, rate=0.5, metrics_dir=mdir, batch_id=2)
    assert (r1.n_received, r1.n_malformed, r1.n_discarded) == (3, 1, 0)
    assert (r2.n_received, r2.n_malformed, r2.n_discarded) == (7, 0, 2)

    stored = r1.stored.unionByName(r2.stored)
    metrics = spark.read.parquet(mdir)
    row = stats(stored, metrics=metrics).collect()[0]
    assert row.n_records == 7
    assert (row.n_received, row.n_malformed, row.n_discarded) == (10, 1, 2)


def _msg_rows(spark, n, site, t0, spacing_s=0.0):
    rows = []
    for i in range(n):
        ts = t0 + dt.timedelta(seconds=i * spacing_s)
        rows.append((i + 1, ts, site, "http_error"))
    return spark.createDataFrame(rows, "id long, timestamp timestamp, site string, type string")


def test_rate_limit_burst_then_discard(spark):
    # rate=10/s, burst=100: 150 messages in the same second → 100 pass
    t0 = dt.datetime(2024, 1, 1, 10)
    df = _msg_rows(spark, 150, "a", t0, spacing_s=0)
    out = rate_limit(df, rate=10.0)
    kept = out.filter("not _discarded").count()
    assert kept == 100
    # the *first* 100 in (timestamp, id) order are the ones kept
    kept_ids = sorted(r.id for r in out.filter("not _discarded").collect())
    assert kept_ids == list(range(1, 101))


def test_rate_limit_refill(spark):
    # after the burst is drained, 10/s refill admits ~10 more per second
    t0 = dt.datetime(2024, 1, 1, 10)
    burst = _msg_rows(spark, 100, "a", t0, spacing_s=0)
    later = spark.createDataFrame(
        [(1000 + i, t0 + dt.timedelta(seconds=5), "a", "http_error") for i in range(60)],
        "id long, timestamp timestamp, site string, type string",
    )
    out = rate_limit(burst.unionByName(later), rate=10.0)
    kept_later = out.filter("not _discarded and id >= 1000").count()
    assert kept_later == 50  # 5 s × 10/s refill


def test_rate_limit_per_site_independent(spark):
    t0 = dt.datetime(2024, 1, 1, 10)
    a = _msg_rows(spark, 120, "a", t0, spacing_s=0)
    b = _msg_rows(spark, 120, "b", t0, spacing_s=0).selectExpr(
        "id + 1000 as id", "timestamp", "site", "type"
    )
    out = rate_limit(a.unionByName(b), rate=10.0)
    assert out.filter("not _discarded and site = 'a'").count() == 100
    assert out.filter("not _discarded and site = 'b'").count() == 100


def test_rate_limit_only_messages_with_site(spark):
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = (
        [(i, t0, "a", "http_access") for i in range(1, 201)]       # not messages
        + [(200 + i, t0, None, "http_error") for i in range(1, 201)]  # no site
    )
    df = spark.createDataFrame(rows, "id long, timestamp timestamp, site string, type string")
    out = rate_limit(df, rate=1.0)
    assert out.filter("_discarded").count() == 0


def test_retention_age_and_size(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    t0 = dt.datetime(2024, 1, 1)
    for day in range(1, 6):
        df = spark.createDataFrame(
            [(day * 100 + i, t0 + dt.timedelta(days=day, minutes=i)) for i in range(50)],
            "id long, timestamp timestamp",
        )
        df.coalesce(1).toPandas().to_parquet(f"{store}/day{day}.parquet")
    rep = apply_retention(
        store,
        max_age=dt.timedelta(days=3),
        now=t0 + dt.timedelta(days=5, hours=1),
    )
    assert [os.path.basename(f) for f in rep.dropped_age] == ["day1.parquet", "day2.parquet"]
    remaining = sorted(os.listdir(store))
    assert remaining == ["day3.parquet", "day4.parquet", "day5.parquet"]
    # size cap: keep only the newest file's worth of bytes
    one_file = os.path.getsize(f"{store}/day5.parquet")
    rep2 = apply_retention(store, max_bytes=one_file + 10)
    assert len(rep2.dropped_size) == 2
    assert sorted(os.listdir(store)) == ["day5.parquet"]


def test_store_roundtrip_and_clone(spark, tmp_path, logs):
    s1 = LogStore(spark, str(tmp_path / "s1"))
    s1.append(logs)
    back = s1.read()
    assert back.count() == 8
    assert sorted(r.id for r in back.select("id").collect()) == list(range(1, 9))
    # clone (S3): wholesale copy into a second store
    s2 = LogStore(spark, str(tmp_path / "s2"))
    s2.clone_from(s1)
    assert s2.read().count() == 8
    # inject (S2): append more rows
    s2.append(logs.limit(2))
    assert s2.read().count() == 10


def test_store_compact_merges_small_files(spark, tmp_path, logs):
    """compact() merges small files without changing the data, and
    neither append() nor compact() leaks the TIMESTAMP_MICROS output
    encoding they write with into the session conf."""
    key = "spark.sql.parquet.outputTimestampType"
    session_value = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        s = LogStore(spark, str(tmp_path / "c"))
        for _ in range(4):  # repeated appends → many small files per date
            s.append(logs)
        assert spark.conf.get(key) == "INT96"  # append didn't leak
        before = s.read().count()
        pdirs = sorted(glob.glob(str(tmp_path / "c" / "p_date=*")))
        assert pdirs
        files_before = sum(
            len(glob.glob(os.path.join(d, "*.parquet"))) for d in pdirs
        )
        report = s.compact()
        assert spark.conf.get(key) == "INT96"  # compact didn't leak
        files_after = sum(
            len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(str(tmp_path / "c" / "p_date=*"))
        )
        assert sum(report.values()) == files_before - files_after
        assert files_after < files_before
        assert s.read().count() == before  # data unchanged
    finally:
        spark.conf.set(key, session_value)


def test_store_retain_drops_aged_partitions(spark, tmp_path, logs):
    s = LogStore(spark, str(tmp_path / "r"))
    s.append(logs)
    assert s.read().count() == 8
    newest = max(
        r.timestamp
        for r in s.read().select("timestamp").collect()
        if r.timestamp is not None
    )
    rep = s.retain(max_age=dt.timedelta(0), now=newest + dt.timedelta(days=400))
    assert rep.dropped_age  # every dated file aged out
    remaining = glob.glob(str(tmp_path / "r" / "p_date=*"))
    # dated dirs pruned; the null-timestamp partition has no footer
    # time stats so age-based retention (correctly) leaves it
    assert remaining == [str(tmp_path / "r" / "p_date=unknown")]


def test_store_read_time_bounds_prune_partitions(spark, tmp_path, logs):
    from pond_spark.plans import formatted_plan

    s = LogStore(spark, str(tmp_path / "p"))
    s.append(logs)
    since, until = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23)
    df = s.read(since=since, until=until)
    got = sorted(r.id for r in df.collect())
    want = sorted(
        r.id
        for r in s.read().collect()
        if r.timestamp is not None and since <= r.timestamp <= until
    )
    assert got == want and got  # non-trivial
    plan = formatted_plan(df)
    # the derived p_date predicate must reach the scan as a partition
    # filter (directory pruning), the timestamp bound as a data filter
    assert "PartitionFilters" in plan and "p_date" in plan.split("PartitionFilters")[1][:200]


def test_rate_limit_null_type_rows_survive(spark):
    """Regression (r4 review): a row with type=NULL and a site set
    matched neither the charged filter nor its ~negation under
    three-valued logic and silently vanished from the union. It must
    pass through exempt with _discarded=False."""
    import datetime as dt

    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.ingest import rate_limit

    t0 = dt.datetime(2024, 1, 1, 10)
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    rows = []
    for i, typ in [(1, "http_error"), (2, None), (3, "http_access"), (4, "http_error")]:
        r = dict(base)
        r.update(id=i, timestamp=t0, site="s1", type=typ)
        rows.append(r)
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    out = {r.id: r._discarded for r in rate_limit(df, rate=1.0).collect()}
    assert set(out) == {1, 2, 3, 4}  # nothing vanished
    assert out[2] is False and out[3] is False  # exempt rows
