#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload archive --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout. One run:

1. builds the seeded input archive (cached in ``.bench_cache``; its time is
   reported as ``gen_s``, apart from ``setup_s``);
2. starts the Spark session from a cold JVM and runs the warm-up every
   run pays (Python worker pool, a first job); that is ``setup_s``;
3. runs the workload's untimed preparation, then its closed loop for
   ``--seconds`` seconds (one client, each cycle waits for its results);
4. with ``--trace 1``, traces every other cycle of that loop instead, runs
   the layer probes, and reports per-layer metrics instead of end-to-end
   ones;
5. checks every operation's output outside the timed windows.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The full record (host before and after, named
metrics, spans, layer self times) goes to ``.bench_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

import corpus
import host
import inputs
import layers
from spans import SparkLedger, Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
RESULTS = os.path.join(ROOT, ".bench_results")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout and let Python
    workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, cores: int):
    """Session start plus the warm-up every run pays before
    its first timed operation: the Python worker pool and a first job."""
    from nasctn_sea_ingest_spark import get_spark

    def warm_worker(batches):
        # import the program the way its decode tasks do; a nested
        # function is pickled by value, so workers need not import this file
        import nasctn_sea_ingest_spark.sources.ingest  # noqa: F401
        yield from batches

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf={
                          "spark.driver.memory": host.driver_memory(),
                          "spark.local.dir": os.path.join(work, "local"),
                          "spark.sql.warehouse.dir":
                              os.path.join(work, "spark-warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    try:
        spark.range(cores * 4).repartition(cores) \
             .mapInPandas(warm_worker, "id long").count()
        spark.range(1000).selectExpr("sum(id)").collect()
    except BaseException:
        stop_session(spark)
        raise
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit; the JVM is
    stopped even when the context cannot be (a run interrupted mid-call
    leaves the gateway connection unusable)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                proc.kill()
                proc.wait()


def window(wl, seconds: float, alternate: bool = False):
    """Closed loop for ``seconds``: returns (ops, untraced cycle seconds,
    traced cycle seconds, raised). With ``alternate``, every second cycle
    is traced and the loop runs at least three cycles, so the traced cycle
    sits between two untraced ones and a steady warm-up trend cancels."""
    ops, cycles, traced, raised = [], [], [], 0
    end = time.perf_counter() + seconds
    k = 0
    while True:
        on = wl.tracer.enabled = alternate and k % 2 == 1
        t0 = time.perf_counter()
        try:
            with wl.span("bench:cycle"):
                got = wl.cycle()
            ops.extend(got)
            (traced if on else cycles).append(time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 — a failed cycle is counted
            raised += 1
            traceback.print_exc()
        k += 1
        if time.perf_counter() >= end and (not alternate or k >= 3):
            wl.tracer.enabled = False
            return ops, cycles, traced, raised


def run_checks(ops) -> int:
    failed = 0
    for op in ops:
        try:
            bad = op.check()
        except Exception as e:  # noqa: BLE001 — a crashing check fails
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            failed += 1
            log(f"check failed ({op.kind}): {'; '.join(bad)}")
    return failed


def run_workload(spark, name: str, spec, zpath: str, work: str,
                 seconds: float, traced: bool, smoke: bool,
                 tables: str | None = None,
                 declared_bad: int | None = None) -> dict:
    """Prepare, measure and check one workload on a running session;
    ``tables`` (the seed's corpus tables) is needed when ``traced``."""
    from workloads import WORKLOADS

    run_id = uuid.uuid4().hex[:12]
    wl = WORKLOADS[name](spark, work, spec, zpath, smoke,
                         Tracer(run_id, False))
    if declared_bad is not None:
        wl.declared_bad = declared_bad
    t0 = time.perf_counter()
    # the window starts after two warm-up cycles, when cycle times have
    # settled (the traced window too: its overhead compares cycles in it)
    wl.prepare(warm=1 if smoke else 2)
    log(f"prepared in {time.perf_counter() - t0:.1f} s")
    # start every window from a collected heap: the set-up and the
    # warm-up leave garbage whose collection would land in a random cycle
    spark.sparkContext._jvm.System.gc()
    out = {"run_id": run_id}
    if not traced:
        ops, cycles, _, raised = window(wl, seconds)
        out["e2e"] = {"cycle_s": statistics.median(cycles) if cycles
                      else 0.0}
        out["named"] = {k: v for k, (v, _) in wl.named(ops).items()}
    else:
        ledger = wl.ledger = SparkLedger(spark)
        group = f"perfbench-{run_id}"
        spark.sparkContext.setJobGroup(group, "traced window")
        mark = ledger.sql_mark()
        t0 = time.perf_counter()
        ops, cycles, t_cycles, raised = window(wl, seconds, alternate=True)
        wall = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        engine = {**ledger.stages(group), **ledger.sql_since(mark)}
        n = max(1, len(cycles) + len(t_cycles))
        cores = spark.sparkContext.defaultParallelism
        per_layer = {k: v / n for k, v in engine.items()
                     if k.startswith(("spark.", "python."))}
        per_layer["spark.slot_idle_share"] = \
            1 - engine.get("spark.executor_run_s", 0.0) / (wall * cores)
        per_layer["spark.planning_s"] = wl.planning / max(1, len(t_cycles))

        wl.tracer.enabled = True
        t0 = time.perf_counter()
        with wl.span("bench:probes"):
            probed, probe_ops = wl.probes(ops, tables)
        probes_wall = time.perf_counter() - t0
        wl.tracer.enabled = False
        log(f"traced window {wall:.1f} s, probes {probes_wall:.1f} s")
        per_layer.update(probed)
        ops += probe_ops
        per_layer["trace.overhead_share"] = \
            statistics.median(t_cycles) / statistics.median(cycles) - 1 \
            if cycles and t_cycles else 0.0
        spans = wl.tracer.spans
        self_t = self_times(spans)
        # spans against the wall time measured apart from them: the traced
        # cycles and the probes, each timed by its caller
        measured = sum(t_cycles) + probes_wall
        out.update(spans=spans, self_s=self_t, wall_s=measured,
                   self_gap_s=sum(self_t.values()) - measured)
        out["per_layer"] = {k: float(per_layer.get(k, 0.0))
                            for k in layers.PER_LAYER}
    out["cycles"] = cycles + (t_cycles if traced else [])
    out["ops"] = ops
    t0 = time.perf_counter()
    out.update(attempted=len(ops) + raised,
               failed=raised + run_checks(ops))
    log(f"{len(ops)} operations checked in {time.perf_counter() - t0:.1f} s")
    return out


def assemble(res: dict, workload: str, session: dict, peak_mb: float,
             gen_s: float):
    """(metrics for the result line, extra metrics printed beside them):
    per-layer metrics for a traced run, else the gated end-to-end metrics
    plus the workload's named ones and the common, ungated ones."""
    if "per_layer" in res:
        per = {**res["per_layer"], **session}
        return ({k: (per[k], u) for k, u in layers.PER_LAYER.items()},
                {"trace.wall_s": (res["wall_s"], "s"),
                 "trace.self_gap_s": (res["self_gap_s"], "s")})
    e2e = {"setup_s": session["session.start_s"] + session["session.warm_s"],
           **res["e2e"]}
    common = {"peak_rss_mb": peak_mb,
              "failed_share": res["failed"] / res["attempted"],
              "gen_s": gen_s}
    return ({k: (e2e[k], u) for k, u in layers.E2E.items()},
            {**{k: (res["named"][k], u)
                for k, u in layers.NAMED[workload].items()},
             **{k: (common[k], u) for k, u in layers.COMMON.items()}})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run unwinds like a failed one: the session is stopped
    # and every process it started is waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    prepare_env(work)
    try:
        try:
            import nasctn_sea_ingest_spark  # noqa: F401
        except ImportError as e:
            log(f"cannot import the program under test from {ROOT}: {e}")
            return 2
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            log(f"unknown workload {args.workload!r}; "
                f"one of {sorted(WORKLOADS)}")
            return 2
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import pyspark

    from workloads import WORKLOADS

    host_start = host.record(pyspark.__version__)
    spec = WORKLOADS[args.workload].spec_for(args.seed, smoke=False)
    t0 = time.perf_counter()
    zpath = inputs.build_archive(spec, CACHE, workers=host_start["cores"])
    tables = corpus.build_tables(args.seed, CACHE) if args.trace else None
    gen_s = time.perf_counter() - t0
    log(f"input {spec.key} ready in {gen_s:.1f}s")

    rss = host.PeakRss().start()
    ticks = host.cpu_ticks()
    spark = None
    try:
        spark, start_s, warm_s = start_session(work, host_start["cores"])
        session = {"session.start_s": start_s, "session.warm_s": warm_s}
        log(f"set-up {start_s:.2f} s + warm-up {warm_s:.2f} s")
        res = run_workload(spark, args.workload, spec, zpath, work,
                           args.seconds, bool(args.trace), smoke=False,
                           tables=tables)
    finally:
        peak = rss.stop()
        steal = host.steal_share(ticks)
        # the JVM, its Python daemon and the daemon's workers: all must
        # have ended before this run does
        procs = host.descendants(os.getpid())
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            killed = host.wait_gone(procs)
            if killed:
                log(f"killed {len(killed)} processes left after the session")

    attempted, failed = res["attempted"], res["failed"]
    metrics, extra = assemble(res, args.workload, session, peak, gen_s)
    extra["host.steal_share"] = (steal, "share")
    for k, (v, u) in {**metrics, **extra}.items():
        print(f"metric {args.workload} {k} {v:.6g} {u}")

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "input": inputs.describe(spec, zpath), "gen_s": gen_s,
        "session": session,
        "host_start": host_start, "host_end": host.record(pyspark.__version__),
        "attempted": attempted, "failed": failed,
        "cycles_s": res["cycles"],
        "ops": [(o.kind, o.seconds) for o in res["ops"]],
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "named": {k: v for k, (v, _) in extra.items()},
        "self_s": res.get("self_s"), "wall_s": res.get("wall_s"),
        "self_gap_s": res.get("self_gap_s"), "spans": res.get("spans"),
    }
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace"
                        f"{args.trace}-{res['run_id']}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    log(f"result written to {os.path.relpath(path, ROOT)}")

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
