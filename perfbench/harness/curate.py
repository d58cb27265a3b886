"""curate_daily: ``pipeline.curate_run`` as day 1, then day 2.

A batch job: every stage, the shared digest and MinHash catalogs and the
verified embedding catalog. Day 2 holds planted exact and near copies of
day-1 documents, so the catalog gates drop real work. Stage times come
from the ``_SUCCESS`` markers curate_run leaves, row counts from the
Parquet footers of each stage's output.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq

from harness import gen
from harness.context import Ctx

STAGES = ("quality", "exact_dedup", "near_dedup", "line_dedup", "pii", "decontaminate", "sample")
RUN_STAGES = ("catalog_gate",) + STAGES + ("catalog_register",)


class State:
    def __init__(self, corpus, paths):
        self.corpus = corpus
        self.paths = paths


def build(ctx: Ctx):
    c = ctx.cfg
    corpus = gen.corpus(ctx.seed + 7, c["docs_per_day"], c["dup_share"], dim=c["doc_dim"])
    paths = {k: ctx.path("corpus", k) for k in ("day1", "day2", "eval")}
    with ctx.rec.span("curate.inputs", op="curate-inputs"):
        spark = ctx.spark
        schema = "doc_id long, text string, embedding array<double>"
        spark.createDataFrame(corpus.day1, schema).write.parquet(paths["day1"])
        spark.createDataFrame(corpus.day2, schema).write.parquet(paths["day2"])
        spark.createDataFrame(corpus.eval_set, "doc_id long, text string").write.parquet(paths["eval"])
    return corpus, paths


def _rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, n)).num_rows
        for n in os.listdir(path) if n.endswith(".parquet")
    )


def _stage_table(rows: list[dict], t_start: float, work: str) -> list[dict]:
    """Per stage: seconds between consecutive completion markers, and
    rows written."""
    out, prev = [], t_start
    for r in rows:
        marker = r["path"] + "/_SUCCESS" if r["stage"] != "catalog_register" else r["path"]
        done = os.stat(marker).st_mtime_ns / 1e9
        n = (_rows(os.path.join(work, "stage_00_catalog_gate")) if r["stage"] == "catalog_register"
             else _rows(r["path"]))
        out.append({"stage": r["stage"], "seconds": done - prev, "rows": n})
        prev = done
    return out


def run(ctx: Ctx, st: State, record_path: str) -> None:
    """Run both days; ``record_path`` keeps the per-stage row counts of
    this workload and seed so a later run can check they repeat."""
    from pond_spark.pipeline import CurationConfig, curate_run

    c = ctx.cfg
    config = CurationConfig(
        min_words=10, sample_rate=c["sample_rate"], stages=STAGES,
        extra={"emb_dim": c["doc_dim"], "emb_verify_cos": 0.95},
    )
    cats = {k: ctx.path("catalogs", k) for k in ("digest", "minhash", "emb")}
    days = {}
    for day, n_docs in (("day1", len(st.corpus.day1)), ("day2", len(st.corpus.day2))):
        work = ctx.path(f"curate_{day}")
        t_start = time.time()
        t0 = time.perf_counter()
        try:
            with ctx.rec.span("curate.run", op=f"curate-{day}"):
                rows = curate_run(
                    ctx.spark, st.paths[day], work, config,
                    eval_set_path=st.paths["eval"],
                    digest_catalog_path=cats["digest"],
                    minhash_catalog_path=cats["minhash"],
                    embedding_catalog_path=cats["emb"],
                )
        except Exception as e:  # a failed day counts; the next still runs
            ctx.op(False, f"curate {day}: {type(e).__name__}: {e}"[:300])
            continue
        wall = time.perf_counter() - t0
        try:
            table = _stage_table(rows, t_start, work)
        except (KeyError, OSError) as e:  # a stage without its output or marker
            ctx.op(False, f"curate {day}: {type(e).__name__}: {e}"[:300])
            continue
        counts = [s["rows"] for s in table]
        # gate, then every stage, can only keep or drop documents
        ok = counts[0] <= n_docs and all(b <= a for a, b in zip(counts[:-2], counts[1:-1]))
        ok = ok and [s["stage"] for s in table] == list(RUN_STAGES)
        if day == "day2":
            final = [r["path"] for r in rows if r["stage"] != "catalog_register"][-1]
            shipped = set(pq.read_table(final, columns=["doc_id"]).column(0).to_pylist())
            leaked = shipped & set(st.corpus.planted_repeats)
            ok = ok and not leaked
        ctx.op(ok, f"curate {day}: stage rows {counts}")
        days[day] = {"docs": n_docs, "wall_s": wall, "stages": table}

    counts = {d: [s["rows"] for s in v["stages"]] for d, v in days.items()}
    if os.path.exists(record_path):
        with open(record_path, encoding="utf-8") as fh:
            before = json.load(fh)
        ctx.op(before == counts, f"stage row counts moved for this seed: {before} -> {counts}")
    elif len(days) == 2:
        with open(record_path, "w", encoding="utf-8") as fh:
            json.dump(counts, fh)
    ctx.layer["curate"] = days
