#!/usr/bin/env python3
"""Smoke mode: every workload at tiny size, in one Spark session, in well
under a minute of measured work.

    python3 perfbench/smoke.py

Asserts that

- the metric names and units the benchmark emits match ``BENCHMARK.json``
  (end-to-end metrics from an untraced run, per-layer metrics from a traced
  one) and the workloads match its ``workloads``;
- every operation passes its output check;
- a traced run's layer self times reconcile with its measured wall time;
- a planted wrong answer trips the check: declaring one planted bad file
  fewer than the archive holds must fail the ingest check.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import corpus
import diff
import host
import inputs
import layers
import run


def main() -> int:
    work = os.path.join(run.ROOT, ".bench_work", f"smoke-{os.getpid()}")
    run.prepare_env(work)
    from workloads import WORKLOADS

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []

    def expect(cond: bool, msg: str) -> None:
        if not cond:
            errors.append(msg)
            run.log(f"SMOKE FAIL: {msg}")

    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    expect(declared == layers.E2E,
           f"end_to_end {declared} != emitted {layers.E2E}")
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(declared == layers.PER_LAYER,
           f"per_layer {sorted(declared)} != emitted "
           f"{sorted(layers.PER_LAYER)}")
    expect({w["name"] for w in bench["workloads"]} == set(WORKLOADS),
           f"workloads {bench['workloads']} != {sorted(WORKLOADS)}")

    # archives first: they are built by a fork pool, before the JVM starts
    zpaths = {name: inputs.build_archive(cls.spec_for(seed=0, smoke=True),
                                         run.CACHE, workers=2)
              for name, cls in WORKLOADS.items()}
    spark, start_s, warm_s = run.start_session(work, 2)
    session = {"session.start_s": start_s, "session.warm_s": warm_s}
    tables = corpus.build_tables(0, run.CACHE)
    try:
        for name, cls in WORKLOADS.items():
            spec, zpath = cls.spec_for(seed=0, smoke=True), zpaths[name]
            for traced in (False, True):
                res = run.run_workload(spark, name, spec, zpath, work,
                                       seconds=0.1, traced=traced,
                                       smoke=True, tables=tables)
                metrics, extra = run.assemble(res, name, session, 1.0, 0.0)
                want = layers.PER_LAYER if traced else layers.E2E
                expect({k: u for k, (_, u) in metrics.items()} == want,
                       f"{name} trace={traced}: emitted {sorted(metrics)}")
                expect(res["failed"] == 0,
                       f"{name} trace={traced}: {res['failed']} of "
                       f"{res['attempted']} operations failed")
                if traced:
                    expect(abs(res["self_gap_s"])
                           <= diff.MAX_GAP * res["wall_s"],
                           f"{name}: self times miss wall time by "
                           f"{res['self_gap_s']:.4f} s")
                run.log(f"{name} trace={traced}: {res['attempted']} ops, "
                        f"{res['failed']} failed")

        spec = WORKLOADS["archive"].spec_for(seed=0, smoke=True)
        res = run.run_workload(spark, "archive", spec, zpaths["archive"], work,
                               seconds=0.1, traced=False, smoke=True,
                               declared_bad=len(spec.planted()) - 1)
        expect(res["failed"] >= 1,
               "declaring one bad file fewer than planted did not trip "
               "the ingest check")
    finally:
        procs = host.descendants(os.getpid())
        try:
            run.stop_session(spark)
        finally:
            host.wait_gone(procs)
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"smoke": "ok" if not errors else "failed",
                      "errors": errors}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
