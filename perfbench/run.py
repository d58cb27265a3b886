"""pond-spark benchmark runner.

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 14 --trace 0

Runs from the root of a checkout. One run starts a Spark session sized
to the host, builds its seeded inputs, drives the pond-shaped phases
(log_query, search_serving, ingest_follow; curate_daily too when traced)
and checks every output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it give the host sizing, the tail
percentiles and their sample counts, and (traced) the tracing overhead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured time, split between the loop phases")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM py4j started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _reap_children() -> None:
    """Terminate and wait for anything this process still has running."""
    import signal

    from harness.rss import children_map

    pids, kids = [], children_map()
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, []))
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    for pid in pids:
        while time.time() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:  # not our direct child, or gone
                if not os.path.exists(f"/proc/{pid}"):
                    break
            time.sleep(0.05)


def execute(args, cfg: dict, base: str, work: str, host: dict) -> dict:
    from harness import curate, ingest, logquery, metrics, search, workloads
    from harness.context import Ctx
    from harness.eventlog import parse
    from harness.rss import PeakSampler
    from harness.trace import Recorder
    from pond_spark.session import get_spark

    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    events = os.path.join(work, "events")
    extra = None
    if args.trace:
        os.makedirs(events)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with PeakSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra)
        session_s = time.perf_counter() - t0
        try:
            rec = Recorder(bool(args.trace), spark if args.trace else None)
            ctx = Ctx(spark, rec, work, args.seed, cfg)
            host |= {
                "spark": spark.version,
                "java": spark._jvm.java.lang.System.getProperty("java.version"),
            }
            tb = time.perf_counter()
            lq = logquery.build(ctx)
            se = search.build(ctx)
            setup_s = session_s + time.perf_counter() - tb

            lq_state = logquery.prepare(ctx, *lq)
            se_state = search.prepare(ctx, *se)
            share = workloads.SHARES
            phases = [
                ("log_query", lambda: logquery.run(
                    ctx, lq_state, args.seconds * share["log_query"])),
                ("search_serving", lambda: search.run(
                    ctx, se_state, args.seconds * share["search_serving"])),
                # appends to the store log_query has finished reading
                ("ingest_follow", lambda: ingest.run(
                    ctx, ingest.State(lq_state.store), args.seconds * share["ingest_follow"])),
            ]
            walls = {"session": session_s, "setup": setup_s - session_s}
            for name, fn in phases:
                tp = time.perf_counter()
                fn()
                walls[name] = time.perf_counter() - tp
            if args.trace:
                # a batch job of ~30 s: too long to repeat in every timed
                # run, so curate_daily is measured by the traced run
                tp = time.perf_counter()
                curate.run(ctx, curate.State(*curate.build(ctx)), os.path.join(
                    out_dir, f"curate-rows-{args.workload}-{args.seed}.json"))
                walls["curate_daily"] = time.perf_counter() - tp
        finally:
            _stop_jvm(spark)
    e2e, tails = metrics.end_to_end(ctx.layer, setup_s, rss.peak_mb)
    result = {"e2e": e2e, "tails": tails, "ctx": ctx, "host": host, "walls": walls}
    if args.trace:
        log = parse(events)
        result["layer"] = metrics.per_layer(ctx.layer, session_s, rec.spans, log)
        result["spans"] = metrics.span_table(rec.spans, log)
    return result


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import pond_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import pond_spark from {ROOT} ({e}); "
              "run from the root of a pond-spark checkout", file=sys.stderr)
        return 2
    from harness import metrics, sizing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    base = str(ROOT / ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    host = sizing.apply(str(ROOT), base)
    cfg = dict(workloads.WORKLOADS[args.workload])
    cfg["clients"] = min(cfg["clients"], host["cpus"])
    try:
        res = execute(args, cfg, base, work, host)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)

    ctx, host = res["ctx"], res["host"]
    out_dir = os.path.join(base, "out")
    print(f"host: cpus={host['cpus']} heap={host['heap_mb']}MB spark={host['spark']} "
          f"java={host['java']}")
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("phase wall s: " + " ".join(f"{k}={v:.1f}" for k, v in res["walls"].items()))
    for name, value in res["e2e"].items():
        tail = res["tails"].get(name)
        note = f"  (p{tail['pct']} of {tail['n']} samples)" if tail else ""
        print(f"  {name:32s} {value:14.4f} {metrics.E2E_UNITS[name]}{note}")
    if args.trace:
        for name, key in (("curate_docs_per_s", "curate.docs_per_s"),
                          ("curate_incremental_docs_per_s", "curate.incremental_docs_per_s")):
            print(f"  {name:32s} {res['layer'][key]:14.4f} 1/s  (traced run only)")
    ratio = ctx.failed / max(ctx.attempted, 1)
    print(f"  {'ops_failed_ratio':32s} {ratio:14.4f} ratio  ({ctx.failed} of {ctx.attempted})")
    for f in ctx.failures:
        print(f"  FAILED: {f}")
    e2e_file = os.path.join(out_dir, f"e2e-{args.workload}-{args.seed}.json")
    if args.trace:
        overhead = _overhead(out_dir, args, res["e2e"])
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({"e2e": res["e2e"], "per_layer": res["layer"], "overhead": overhead,
                       "spans": res["spans"]}, fh)
        units = metrics.layer_units()
        reported = {k: {"value": v, "unit": units[k][0]} for k, v in res["layer"].items()}
    else:
        with open(e2e_file, "w", encoding="utf-8") as fh:
            json.dump(res["e2e"], fh)
        reported = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in res["e2e"].items()}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": reported,
    }))
    return 0


def _overhead(out_dir: str, args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, against the untraced run
    of the same workload and seed (else the latest one of the workload)."""
    import glob

    same = os.path.join(out_dir, f"e2e-{args.workload}-{args.seed}.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(out_dir, f"e2e-{args.workload}-*.json")), key=os.path.getmtime)
    if not cands:
        print("  tracing overhead: no untraced run of this workload yet "
              "(run --trace 0 first)")
        return None
    with open(cands[-1], encoding="utf-8") as fh:
        base = json.load(fh)
    diff = {k: traced[k] - base[k] for k in traced if k in base}
    print(f"  tracing overhead (traced - untraced, vs {os.path.basename(cands[-1])}):")
    for k, v in diff.items():
        print(f"    {k:32s} {v:+14.4f}")
    return diff


if __name__ == "__main__":
    raise SystemExit(main())
