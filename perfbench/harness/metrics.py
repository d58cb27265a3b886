"""Turn a run's raw measurements into the reported metrics."""

from __future__ import annotations

from statistics import fmean

from harness import curate as curate_phase
from harness.eventlog import EventLog, Tasks
from harness.stats import median, summarize
from harness.trace import Span, descendants, self_times, union_length

#: end-to-end metric -> unit (BENCHMARK.json lists the same set)
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "ingest_visible_p50_ms": "ms",
    "follow_latency_p50_ms": "ms",
    "follow_latency_tail_ms": "ms",
    "store_bytes_per_input_byte": "ratio",
    "search_mean_ms": "ms",
    "search_recall_at_10": "ratio",
}


def end_to_end(layer: dict, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """``(metrics, tails)``: the end-to-end values, and for each tail
    latency the percentile used and its sample count. Ingest batches are
    too few in a run for a tail above the median (stats.tail_pct), so
    they report only their median. A run's timed search requests are one
    of each kind, and their median would be whichever kind happens to
    fall in the middle, so search reports the mean over the mix."""
    q = summarize(layer["query"]["lat_s"])
    fl = summarize(layer["ingest"]["follow_lat_s"])
    m = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "query_p50_ms": q["p50"] * 1e3,
        "query_tail_ms": q["tail"] * 1e3,
        "ingest_visible_p50_ms": median(layer["ingest"]["visible_s"]) * 1e3,
        "follow_latency_p50_ms": fl["p50"] * 1e3,
        "follow_latency_tail_ms": fl["tail"] * 1e3,
        "store_bytes_per_input_byte": layer["ingest"]["store_bytes_per_input_byte"],
        "search_mean_ms": fmean(layer["search"]["lat_s"]) * 1e3,
        "search_recall_at_10": fmean(layer["search"]["recalls"]),
    }
    tails = {"query_tail_ms": q, "follow_latency_tail_ms": fl}
    return m, {k: {"pct": v["tail_pct"], "n": v["n"]} for k, v in tails.items()}


class _Join:
    """Spans joined to the Spark jobs their job groups launched."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.below = descendants(spans)
        self.jobs_by_group = log.by_group()
        self.log = log

    def jobs(self, span: Span) -> list:
        out = []
        for sid in self.below[span.id]:
            out += self.jobs_by_group.get(self.by_id[sid].group, [])
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def tasks(self, spans: list[Span]) -> Tasks:
        return self.log.totals([j for s in spans for j in self.jobs(s)])

    def files_read(self, span: Span) -> int:
        execs = {j.execution for j in self.jobs(span) if j.execution is not None}
        return sum(self.log.files_read.get(e, 0) for e in execs)

    def driver_ms(self, span: Span) -> float:
        """Span wall time not covered by any job it launched."""
        iv = [(j.start_ms / 1e3, (j.end_ms or j.start_ms) / 1e3) for j in self.jobs(span)]
        return (span.duration - union_length(iv, span.start, span.end)) * 1e3


def span_table(spans: list[Span], log: EventLog) -> list[dict]:
    """Every span with its self time and the jobs its own group ran."""
    j = _Join(spans, log)
    own = self_times(spans)
    rows = []
    for s in sorted(spans, key=lambda s: s.id):
        jobs = j.jobs_by_group.get(s.group, [])
        rows.append({
            "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
            "start": s.start, "end": s.end, "self_s": own[s.id], "group": s.group,
            "jobs": len(jobs), "tasks": sum(x.tasks.tasks for x in jobs),
        })
    return rows


def _mean(xs) -> float:
    xs = list(xs)
    return fmean(xs) if xs else 0.0


def _per(spans: list[Span], f) -> float:
    return _mean(f(s) for s in spans)


def per_layer(layer: dict, session_s: float, spans: list[Span], log: EventLog) -> dict:
    j = _Join(spans, log)
    q, ig, se, cu = layer["query"], layer["ingest"], layer["search"], layer["curate"]
    queries = j.named("query")
    plans = j.named("query.plan")
    searches = j.named("search")
    search_plans = j.named("search.plan")
    knn = j.named("search.knn_small") + j.named("search.knn_large")
    batches = j.named("ingest.batch")
    shape_ms = {k: median(v) * 1e3 if v else 0.0 for k, v in q["by_shape_s"].items()}
    kind_ms = {k: median(v) * 1e3 if v else 0.0 for k, v in se["by_kind_s"].items()}
    knn_lat = se["by_kind_s"]["knn_small"] + se["by_kind_s"]["knn_large"]
    progress = [p for p in ig["progress"] if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in progress]
    received = max(ig["received"], 1)
    well_formed = max(ig["received"] - ig["malformed"], 1)
    m = {
        "session.start_s": session_s,
        "query.plan_ms": median(q["plan_ms"]),
        "query.probe_jobs": _per(plans, lambda s: len(j.jobs(s))),
        "query.exec_ms": median(q["exec_ms"]),
        "query.jobs": _per(queries, lambda s: len(j.jobs(s))),
        "query.tasks": _per(queries, lambda s: j.tasks([s]).tasks),
        "query.window_ms": shape_ms["window"],
        "query.last_ms": shape_ms["last"],
        "query.group_site_ms": shape_ms["group_site"],
        "query.accumulate_ms": shape_ms["accumulate"],
        "query.format_ms": shape_ms["jsonl"],
        "query.files_read": _per(queries, j.files_read),
        "store.append_ms": median(ig["append_ms"]),
        "store.files_per_append": _mean(ig["files_per_append"]),
        "store.retain_ms": _mean(ig["retain_ms"]),
        "store.compact_ms": ig["compact_s"] * 1e3,
        "store.compact_bytes_rewritten": ig["compact_bytes_rewritten"],
        "store.bytes_written_per_input_byte": ig["written_bytes"] / max(ig["kept_bytes"], 1),
        "store.files_live": ig["files_live"],
        "ingest.batch_ms": median(ig["batch_ms"]),
        "ingest.jobs_per_batch": _per(batches, lambda s: len(j.jobs(s))),
        "ingest.python_ms": _per(batches, lambda s: j.tasks([s]).python_ms),
        "ingest.malformed_ratio": ig["malformed"] / received,
        "ingest.discard_ratio": ig["discarded"] / well_formed,
        "follow.trigger_ms": _mean(d.get("triggerExecution", 0) for d in dur),
        "follow.list_ms": _mean(d.get("latestOffset", 0) for d in dur),
        "follow.add_batch_ms": _mean(d.get("addBatch", 0) for d in dur),
        "follow.rows_per_batch": _mean(p["numInputRows"] for p in progress),
        "follow.delivered_ratio": ig["delivered_ratio"],
    }
    m["curate.docs_per_s"] = cu["day1"]["docs"] / cu["day1"]["wall_s"]
    m["curate.incremental_docs_per_s"] = cu["day2"]["docs"] / cu["day2"]["wall_s"]
    for stage in curate_phase.RUN_STAGES:
        rows = [s for d in cu.values() for s in d["stages"] if s["stage"] == stage]
        m[f"curate.stage_s.{stage}"] = sum(s["seconds"] for s in rows)
        m[f"curate.rows_out.{stage}"] = sum(s["rows"] for s in rows)
    m |= {
        "search.bm25_ms": kind_ms["bm25"],
        "search.ivf_ms": kind_ms["ivf"],
        "search.knn_ms": median(knn_lat) * 1e3 if knn_lat else 0.0,
        "search.hybrid_ms": kind_ms["hybrid"],
        "search.probe_jobs": _per(searches, lambda s: sum(
            len(j.jobs(p)) for p in search_plans if p.id in j.below[s.id])),
        "search.deserialize_ms": _per(knn, lambda s: j.tasks([s]).deserialize_ms),
    }
    total = log.totals()
    roots = [s for s in spans if s.parent is None]
    m |= {
        "spark.jobs": len(log.jobs),
        "spark.tasks": total.tasks,
        "spark.executor_run_ms": total.run_ms,
        "spark.executor_cpu_ms": total.cpu_ms,
        "spark.deserialize_ms": total.deserialize_ms,
        "spark.gc_ms": total.gc_ms,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.driver_ms": sum(j.driver_ms(s) for s in roots),
        "gen.late_max_ms": max(ig["late_s"]) * 1e3,
    }
    return m


#: per-layer metric -> (unit, better); BENCHMARK.json lists the same set
def layer_units() -> dict[str, tuple[str, str]]:
    u = {
        "session.start_s": ("s", "lower"),
        "query.plan_ms": ("ms", "lower"),
        "query.probe_jobs": ("count", "lower"),
        "query.exec_ms": ("ms", "lower"),
        "query.jobs": ("count", "lower"),
        "query.tasks": ("count", "lower"),
        "query.window_ms": ("ms", "lower"),
        "query.last_ms": ("ms", "lower"),
        "query.group_site_ms": ("ms", "lower"),
        "query.accumulate_ms": ("ms", "lower"),
        "query.format_ms": ("ms", "lower"),
        "query.files_read": ("count", "lower"),
        "store.append_ms": ("ms", "lower"),
        "store.files_per_append": ("count", "lower"),
        "store.retain_ms": ("ms", "lower"),
        "store.compact_ms": ("ms", "lower"),
        "store.compact_bytes_rewritten": ("B", "lower"),
        "store.bytes_written_per_input_byte": ("ratio", "lower"),
        "store.files_live": ("count", "lower"),
        "ingest.batch_ms": ("ms", "lower"),
        "ingest.jobs_per_batch": ("count", "lower"),
        "ingest.python_ms": ("ms", "lower"),
        "ingest.malformed_ratio": ("ratio", "lower"),
        "ingest.discard_ratio": ("ratio", "lower"),
        "follow.trigger_ms": ("ms", "lower"),
        "follow.list_ms": ("ms", "lower"),
        "follow.add_batch_ms": ("ms", "lower"),
        "follow.rows_per_batch": ("count", "higher"),
        "follow.delivered_ratio": ("ratio", "higher"),
    }
    u["curate.docs_per_s"] = ("1/s", "higher")
    u["curate.incremental_docs_per_s"] = ("1/s", "higher")
    for stage in curate_phase.RUN_STAGES:
        u[f"curate.stage_s.{stage}"] = ("s", "lower")
        u[f"curate.rows_out.{stage}"] = ("count", "lower")
    u |= {
        "search.bm25_ms": ("ms", "lower"),
        "search.ivf_ms": ("ms", "lower"),
        "search.knn_ms": ("ms", "lower"),
        "search.hybrid_ms": ("ms", "lower"),
        "search.probe_jobs": ("count", "lower"),
        "search.deserialize_ms": ("ms", "lower"),
        "spark.jobs": ("count", "lower"),
        "spark.tasks": ("count", "lower"),
        "spark.executor_run_ms": ("ms", "lower"),
        "spark.executor_cpu_ms": ("ms", "lower"),
        "spark.deserialize_ms": ("ms", "lower"),
        "spark.gc_ms": ("ms", "lower"),
        "spark.shuffle_write_bytes": ("B", "lower"),
        "spark.driver_ms": ("ms", "lower"),
        "gen.late_max_ms": ("ms", "lower"),
    }
    return u
