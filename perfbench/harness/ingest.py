"""ingest_follow: datagram ingest on a fixed schedule, with a live FOLLOW.

Open loop: a generator thread creates a batch of JSON datagrams every
``period_s`` whether or not the previous batch is stored yet; the
ingester takes batches in order through ``ingest_batch`` and
``LogStore.append`` into the store log_query has finished reading. A
batch's visible latency runs from when it was due, so a stall also
delays the batches queued behind it. One FOLLOW subscriber delivers new ``http_access``
records into a timestamping ``foreachBatch`` sink; its latency runs from
each datagram's creation. One untimed batch warms both paths before the
schedule starts. Retention and then compaction run once, after the
subscriber has drained and stopped. Compaction rewrites files, and a
file source would list the rewritten files as new. Retention deletes
the date directories it empties, and a FOLLOW file source that is
listing the store when one vanishes stops with FileNotFoundException
(a defect of pond_spark, see perfbench/README.md).
"""

from __future__ import annotations

import queue
import threading
import time

import numpy as np

from harness import gen
from harness.context import Ctx, dir_files

#: ids of generated datagrams start here, clear of the store's records
ID_BASE = 2 * 10**9
#: a run times at least this many batches, so ingest_visible_p50_ms is
#: the median of four
MIN_BATCHES = 4


class State:
    def __init__(self, store):
        self.store = store
        self.history_bytes = sum(dir_files(store.path).values())
        self.delivered: list[tuple[int, float]] = []  # (id, receive time)
        self.lock = threading.Lock()

    def delivered_ids(self) -> set[int]:
        with self.lock:
            return {i for i, _ in self.delivered}


class _Totals:
    def __init__(self):
        self.visible, self.batch_ms, self.append_ms, self.retain_ms = [], [], [], []
        self.files_per_append, self.written = [], 0
        self.received = self.malformed = self.discarded = self.kept_bytes = 0


def run(ctx: Ctx, st: State, seconds: float) -> None:
    from pond_spark.filters import FilterSpec
    from pond_spark.streaming.follow import follow_stream

    c = ctx.cfg

    def sink(df, _batch_id):
        rows = df.select("id").collect()
        now = time.time()
        with st.lock:
            st.delivered.extend((r.id, now) for r in rows)

    with ctx.rec.span("follow.subscribe", op="follow"):
        q = (
            follow_stream(ctx.spark, st.store.path, FilterSpec(type="http_access"))
            .writeStream.foreachBatch(sink)
            .trigger(processingTime=f"{int(c['trigger_ms'])} milliseconds")
            .option("checkpointLocation", ctx.path("follow_checkpoint"))
            .start()
        )
    rng = np.random.default_rng(ctx.seed + 6)
    tot = _Totals()
    try:
        # the subscription is live once its first micro-batch (the
        # history listing, filtered out by modification time) is done
        _wait(q, lambda: q.lastProgress is not None, 60)
        t_warm = time.time()
        warm = gen.datagram_batch(rng, c["batch"], ID_BASE, int(t_warm * 1e6),
                                  c["sites"], c["zipf_s"])
        _ingest(ctx, st, warm, "warmup", tot)
        _wait(q, lambda: set(warm.follow_ids) <= st.delivered_ids(), c["drain_s"])
        # batches fall due at 0, period, 2 x period, ... within the phase
        n_batches = max(MIN_BATCHES, int(seconds / c["period_s"]) + 1)
        batches, late = _schedule(ctx, st, rng, n_batches, tot)
        expect = {i for b in [warm] + batches for i in b.follow_ids}
        _wait(q, lambda: expect <= st.delivered_ids(), c["drain_s"])
        progress = [p if isinstance(p, dict) else p.json for p in q.recentProgress]
        stopped = q.exception()
    finally:
        q.stop()
    ctx.op(stopped is None, f"FOLLOW stream stopped: {stopped}"[:300])

    with ctx.rec.span("store.retain", op="retain"):
        t0 = time.perf_counter()
        st.store.retain(max_bytes=int(st.history_bytes * c["retain_share"]))
        tot.retain_ms.append((time.perf_counter() - t0) * 1e3)
    with ctx.rec.span("store.compact", op="compact"):
        before = dir_files(st.store.path)
        t0 = time.perf_counter()
        st.store.compact(target_file_bytes=c["compact_target_bytes"])
        compact_s = time.perf_counter() - t0
        after = dir_files(st.store.path)

    # -- FOLLOW checks: every matching record exactly once, nothing else
    got: dict[int, int] = {}
    first_seen: dict[int, float] = {}
    for i, t in st.delivered:
        got[i] = got.get(i, 0) + 1
        first_seen.setdefault(i, t)
    follow_lat = []
    n_expect = n_ok = 0
    for k, b in enumerate([warm] + batches):
        ok = all(got.get(i) == 1 for i in b.follow_ids)
        ctx.op(ok, f"FOLLOW missed or repeated records of batch {k - 1}")
        n_expect += len(b.follow_ids)
        n_ok += sum(1 for i in b.follow_ids if got.get(i) == 1)
        if k:
            follow_lat += [first_seen[i] - b.created_us[i] / 1e6
                           for i in b.follow_ids if i in first_seen]
    stray = set(got) - expect
    ctx.op(not stray, f"FOLLOW delivered {len(stray)} records it should not have")

    # the partitions holding the ingested records: their dates are those
    # of the datagrams' creation, from the warm-up batch's on
    day = time.strftime("%Y-%m-%d", time.gmtime(t_warm))
    live = sum(sz for p, sz in after.items() if "p_date=" in p and p.split("p_date=")[1][:10] >= day)
    ctx.layer["ingest"] = {
        "visible_s": tot.visible,
        "batch_ms": tot.batch_ms,
        "append_ms": tot.append_ms,
        "retain_ms": tot.retain_ms,
        "files_per_append": tot.files_per_append,
        "written_bytes": tot.written,
        "received": tot.received,
        "malformed": tot.malformed,
        "discarded": tot.discarded,
        "kept_bytes": tot.kept_bytes,
        "late_s": late,
        "follow_lat_s": follow_lat,
        "delivered_ratio": n_ok / n_expect if n_expect else 1.0,
        "store_bytes_per_input_byte": live / max(tot.kept_bytes, 1),
        "compact_s": compact_s,
        "compact_bytes_rewritten": sum(sz for p, sz in after.items() if p not in before),
        "files_live": len(after),
        "progress": progress,
    }


def _wait(q, cond, timeout_s: float) -> None:
    """Until ``cond()`` holds, the stream ``q`` has stopped, or the
    timeout."""
    deadline = time.perf_counter() + timeout_s
    while not cond() and q.isActive and time.perf_counter() < deadline:
        time.sleep(0.05)


def _schedule(ctx: Ctx, st: State, rng, n_batches: int, tot: _Totals):
    """The open loop: returns the batches and the generator's lateness
    per batch."""
    c = ctx.cfg
    pending: queue.Queue = queue.Queue()
    t_start = time.time() + 0.2
    late: list[float] = []

    def generator() -> None:
        for k in range(n_batches):
            due = t_start + k * c["period_s"]
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            created = time.time()
            b = gen.datagram_batch(rng, c["batch"], ID_BASE + (k + 1) * c["batch"],
                                   int(created * 1e6), c["sites"], c["zipf_s"])
            late.append(created - due)
            pending.put((k, due, b))
        pending.put(None)

    g = threading.Thread(target=generator, name="datagram-generator")
    g.start()
    batches: list[gen.DatagramBatch] = []
    try:
        while (item := pending.get(timeout=120)) is not None:
            k, due, b = item
            batches.append(b)
            if took := _ingest(ctx, st, b, f"batch-{k}", tot):
                tot.visible.append(time.time() - due)
                tot.batch_ms.append(took[0] * 1e3)
                tot.append_ms.append(took[1] * 1e3)
    finally:
        g.join(timeout=120)
    return batches, late


def _ingest(ctx: Ctx, st: State, b: gen.DatagramBatch, op: str, tot: _Totals
            ) -> tuple[float, float] | None:
    """One batch through ingest_batch and append; checks its counters
    against the generator's model and adds its sizes and counts to
    ``tot``. Returns (seconds in ingest_batch, seconds in append), or
    None if the batch failed."""
    from pond_spark.sources.ingest import ingest_batch

    rate = ctx.cfg["rate_limit"]
    files0 = dir_files(st.store.path)
    try:
        with ctx.rec.span("ingest", op=op):
            t0 = time.perf_counter()
            with ctx.rec.span("ingest.batch"):
                raw = ctx.spark.createDataFrame([(p,) for p in b.payloads], "payload string")
                res = ingest_batch(raw, rate=rate)
            t1 = time.perf_counter()
            with ctx.rec.span("store.append"):
                st.store.append(res.stored)
            t2 = time.perf_counter()
    except Exception as e:  # a failed batch counts, the loop goes on
        ctx.op(False, f"{op}: {type(e).__name__}: {e}"[:300])
        return None
    new = {p: s for p, s in dir_files(st.store.path).items() if p not in files0}
    drop = gen.token_bucket_discards(b.charged, rate)
    ok = (res.n_received == len(b.payloads) and res.n_malformed == b.n_malformed
          and res.n_discarded == len(drop))
    ctx.op(ok, f"{op}: counters {res.n_received}/{res.n_malformed}/{res.n_discarded} "
               f"want {len(b.payloads)}/{b.n_malformed}/{len(drop)}")
    tot.files_per_append.append(len(new))
    tot.written += sum(new.values())
    tot.received += res.n_received
    tot.malformed += res.n_malformed
    tot.discarded += res.n_discarded
    tot.kept_bytes += sum(sz for i, sz in b.sizes.items() if i not in drop)
    return t1 - t0, t2 - t1
