"""log_query: interactive pond command lines against a LogStore.

Closed loop: each client sends its next command line only after it has
collected every row of the previous one, the way pond's CLI prints a
result. Results are checked against DuckDB over the generated records.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import re
import threading
import time

import duckdb

from harness import gen
from harness.context import Ctx

_URI_ID = re.compile(r"/page/r(\d+)")
#: a run sends at least this many queries, so query_tail_ms has at
#: least ten samples beyond it (stats.tail_pct)
MIN_QUERIES = 25


class State:
    def __init__(self, store, lines, expected):
        self.store = store
        self.lines = lines  # [(shape, line)]
        self.expected = expected  # line -> expected result


def build(ctx: Ctx):
    """Generate the records and write them through ``LogStore.append``
    (the timed part of this phase's set-up)."""
    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.store import LogStore

    c = ctx.cfg
    recs = gen.log_records(ctx.seed, c["records"], c["sites"], c["zipf_s"], c["start"], c["days"])
    store = LogStore(ctx.spark, ctx.path("store"))
    with ctx.rec.span("store.append", op="setup"):
        store.append(ctx.spark.createDataFrame(recs, LOG_SCHEMA))
    return recs, store


def prepare(ctx: Ctx, recs, store) -> State:
    """Command lines and their DuckDB answers (untimed)."""
    c = ctx.cfg
    lines = gen.query_lines(ctx.seed + 1, c["queries_per_shape"], c["sites"], c["zipf_s"],
                            c["start"], c["days"])
    con = duckdb.connect()
    try:
        con.register("recs", recs)
        con.execute("CREATE TABLE t AS SELECT * FROM recs")
        expected = {line: _oracle(con, shape, line) for shape, line in lines}
    finally:
        con.close()
    return State(store, lines, expected)


def _parse(line: str) -> dict:
    """The handful of arguments the generated lines use."""
    out: dict = {"sites": []}
    for a in line.split():
        k, _, v = a.partition("=")
        if k == "site":
            out["sites"].append(v)
        elif k in ("since", "until"):
            t = dt.datetime.strptime(v, "%Y-%m-%dT%H:%M")
            # pond's until is the END of the named minute, inclusive
            out[k] = t + dt.timedelta(minutes=1) if k == "until" else t
        elif k in ("window", "group_site"):
            m, _, s = v.partition("@")
            out[k] = (int(m), int(s or 0))
        elif k == "type":
            out["type"] = v
        elif k == "status":
            lo, _, hi = v.partition(":")
            out["status"] = (int(lo), int(hi) if hi else int(lo) + 1)
        elif k == "--accumulate":
            f, typ, n = v.split(",")
            out["accumulate"] = (f, typ, int(n))
    return out


def _where(p: dict) -> str:
    preds = ["TRUE"]
    if p["sites"]:
        preds.append("site IN (%s)" % ", ".join(f"'{s}'" for s in p["sites"]))
    if "since" in p:
        preds.append(f"timestamp >= TIMESTAMP '{p['since']}'")
    if "until" in p:
        preds.append(f"timestamp <= TIMESTAMP '{p['until']}'")
    if "type" in p:
        preds.append(f"type = '{p['type']}'")
    if "status" in p:
        preds.append(f"http_status >= {p['status'][0]} AND http_status < {p['status'][1]}")
    return " AND ".join(preds)


def _oracle(con, shape: str, line: str):
    p = _parse(line)
    w = _where(p)
    if shape == "last":
        sql = f"SELECT id FROM t WHERE {w} ORDER BY timestamp DESC NULLS LAST, id DESC LIMIT 1"
    elif shape == "accumulate":
        f, _typ, n = p["accumulate"]
        return [tuple(r) for r in con.execute(
            f"SELECT count(*) AS c, {f} AS v FROM t WHERE {w} AND {f} IS NOT NULL "
            f"GROUP BY {f} ORDER BY c DESC, v ASC LIMIT {n}").fetchall()]
    elif shape == "group_site":
        m, skip = p["group_site"]
        sql = f"""
            WITH first_seen AS (
                SELECT site, min(id) AS fid FROM t WHERE site IS NOT NULL GROUP BY site),
            matched AS (SELECT DISTINCT site FROM t WHERE {w} AND site IS NOT NULL),
            ranked AS (
                SELECT site, row_number() OVER (ORDER BY fid) AS rk
                FROM matched JOIN first_seen USING (site))
            SELECT t.id FROM t JOIN ranked USING (site)
            WHERE {w} AND rk > {skip} AND rk <= {skip + m}
            ORDER BY rk, timestamp NULLS FIRST, id"""
    else:
        sql = f"SELECT id FROM t WHERE {w} ORDER BY timestamp NULLS FIRST, id"
        if "window" in p:
            m, skip = p["window"]
            sql += f" LIMIT {m} OFFSET {skip}"
    return [r[0] for r in con.execute(sql).fetchall()]


def _collect(out, jsonl: bool) -> list[str]:
    """Rows as pond's CLI prints them (cli.main's output loop)."""
    if jsonl:
        from pyspark.sql import functions as F

        out = out.select(F.to_json(F.struct(*out.columns)).alias("line"))
    lines = []
    for row in out.toLocalIterator():
        vals = [str(v) for v in row]
        lines.append("\t".join(vals) if len(vals) > 1 else vals[0])
    return lines


def _check(shape: str, got: list[str], want) -> bool:
    if shape == "accumulate":
        return [tuple(x.split("\t")) for x in got] == [(str(c), str(v)) for c, v in want]
    try:
        if shape == "jsonl":
            ids = [int(_URI_ID.search(json.loads(x)["http_uri"]).group(1)) for x in got]
        else:
            ids = [int(_URI_ID.search(x).group(1)) for x in got]
    except (AttributeError, KeyError, TypeError, ValueError):
        return False  # a row that does not carry its record's URI
    return ids == want


def _query(ctx: Ctx, st: State, cli, shape: str, line: str) -> tuple[float, float] | None:
    """Send one command line, collect and check its rows; returns
    (seconds in cli.build, seconds collecting), or None if it failed."""
    t0 = time.perf_counter()
    try:
        with ctx.rec.span("query.plan"):
            parsed = cli.parse_query_args(line.split())
            out = cli.build(ctx.spark, st.store.read(), parsed)
        t1 = time.perf_counter()
        with ctx.rec.span("query.exec"):
            got = _collect(out, parsed.options.jsonl)
    except Exception as e:  # a failed query counts, the loop goes on
        ctx.op(False, f"{line}: {type(e).__name__}: {e}"[:300])
        return None
    t2 = time.perf_counter()
    ctx.op(_check(shape, got, st.expected[line]), f"wrong result: {line}")
    return t1 - t0, t2 - t1


def run(ctx: Ctx, st: State, seconds: float) -> None:
    from pond_spark import cli

    lat: list[float] = []
    by_shape: dict[str, list[float]] = {s: [] for s in gen.SHAPES}
    plan_ms: list[float] = []
    exec_ms: list[float] = []
    order = itertools.cycle(enumerate(st.lines))
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    errors: list[BaseException] = []
    sent = [0]

    def client() -> None:
        try:
            while True:
                with lock:
                    # stop only after a whole cycle of shapes, so every
                    # run sends the same mix
                    if (time.perf_counter() >= deadline and sent[0] >= MIN_QUERIES
                            and sent[0] % len(gen.SHAPES) == 0):
                        return
                    sent[0] += 1
                    i, (shape, line) = next(order)
                with ctx.rec.span("query", op=f"query-{i}"):
                    took = _query(ctx, st, cli, shape, line)
                if took is None:
                    continue
                with lock:
                    lat.append(sum(took))
                    by_shape[shape].append(sum(took))
                    plan_ms.append(took[0] * 1e3)
                    exec_ms.append(took[1] * 1e3)
        except BaseException as e:
            errors.append(e)
            raise

    threads = [threading.Thread(target=client, name=f"client-{k}") for k in range(ctx.cfg["clients"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    ctx.layer["query"] = {
        "lat_s": lat, "by_shape_s": by_shape, "plan_ms": plan_ms, "exec_ms": exec_ms,
    }
