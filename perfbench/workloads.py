"""The benchmark's workloads.

``archive`` is the write side: every cycle ingests the seeded sensor
archive into a fresh warehouse and then runs the reference's lazy API
steps on the same archive, so both decode paths (``ingest`` and ``api``)
are exercised. ``warehouse_queries`` is the read side: range selects,
``capture_summary`` and the TDD chain over a warehouse ingested before the
window, with no decode at all. A layout change that speeds writes but slows
reads, or the reverse, shows up between the two.

Each workload is a closed loop with one client: ``cycle()`` runs one
fixed, seeded unit of work, waits for every result, and returns the timed
operations it made. Every operation carries a check that runs after the
measured window (outside every timed region); a mismatch counts the
operation as failed. ``probes()`` runs only in the traced run, after the
window: it measures every layer once on the seed's archive and warehouse
(and the ``plans`` layer on the seed's small tables, see ``corpus.py``), so
each per-layer metric has a value on each workload.
"""

from __future__ import annotations

import calendar
import math
import os
import random
import shutil
import statistics
import time
import zipfile
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyspark.sql.functions as F

import corpus
import inputs
from spans import planning_s

from nasctn_sea_ingest_spark import api, operators
from nasctn_sea_ingest_spark.sources import ingest as ing
from nasctn_sea_ingest_spark.sources import sigmf


@dataclass
class Op:
    kind: str
    seconds: float
    check: Callable[[], list[str]]


def _ts_literal(t: np.datetime64):
    return F.lit(str(t.astype("datetime64[ms]")).replace("T", " ")) \
            .cast("timestamp")


def _epoch_ms(dt) -> int:
    return calendar.timegm(dt.timetuple()) * 1000 + dt.microsecond // 1000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Workload:
    name = ""
    #: sweeps in the archive: full size, smoke size
    sweeps = (64, 24)

    def __init__(self, spark, work: str, spec: inputs.ArchiveSpec,
                 zpath: str, smoke: bool, tracer):
        self.spark = spark
        self.work = work
        self.spec = spec
        self.zpath = zpath
        self.smoke = smoke
        self.tracer = tracer
        self.ledger = None            # set only in the traced run
        self.rng = random.Random(spec.seed)
        #: planted bad files the checks expect in quarantine
        self.declared_bad = len(self.spec.planted())
        self.planning = 0.0
        self.layers: dict[str, float] = {}
        self.wh: str | None = None
        self._summaries = None
        self._n = 0

    @classmethod
    def spec_for(cls, seed: int, smoke: bool) -> inputs.ArchiveSpec:
        return inputs.ArchiveSpec(seed=seed, sweeps=cls.sweeps[smoke],
                                  channels=3 if smoke else 15)

    def span(self, name: str):
        return self.tracer.span(name)

    def _plan(self, df) -> None:
        """Add ``df``'s planning time, in traced cycles only."""
        if self.tracer.enabled:
            self.planning += planning_s(df)

    def _dir(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{stem}{self._n}")

    def _good_window(self, width_s: int = 60):
        """[lo, hi) holding exactly one good sweep's captures: it starts up
        to 30 s before the sweep and sweeps are 90 s apart."""
        i = self.rng.choice(inputs.good_sweeps(self.spec))
        lo = self.spec.sweep_time(i) - np.timedelta64(
            self.rng.randrange(0, 30_000), "ms")
        return lo, lo + np.timedelta64(width_s, "s")

    def prepare(self, warm: int) -> None:
        """Untimed set-up: the workload's own state, then ``warm``
        unchecked cycles. Cycle times keep falling over the first two or
        three cycles in a fresh JVM (up to 1.5x)."""
        for _ in range(warm):
            self.cycle()

    def cycle(self) -> list[Op]:
        raise NotImplementedError

    def named(self, ops: list[Op]) -> dict[str, tuple[float, str]]:
        """The workload's end-to-end metrics under the names performance
        claims use."""
        return {}

    # -- shared by the workloads and the probes -----------------------------

    def warehouse(self) -> str:
        """The seed's warehouse, as ``ingest()`` writes it; cached across
        runs of the same program."""
        if self.wh is None:
            import nasctn_sea_ingest_spark as pkg
            digest = inputs.program_digest(os.path.dirname(pkg.__file__))
            self.wh = inputs.cached_warehouse(
                self.spec, os.path.dirname(self.zpath), digest,
                lambda out: ing.ingest(self.spark, self.zpath, out))
        return self.wh

    def range_select(self, lo, hi) -> tuple[float, list, object]:
        with self.span("ingest:read_product"):
            t0 = time.perf_counter()
            df = ing.read_product(self.spark, self.warehouse(), "pvt").where(
                (F.col("datetime") >= _ts_literal(lo))
                & (F.col("datetime") < _ts_literal(hi)))
            rows = df.collect()
            return time.perf_counter() - t0, rows, df

    def _hour(self) -> np.datetime64:
        """A seeded clock hour the archive covers completely (the first
        hour when none is), so every TDD chain sees the same capture
        count."""
        t0 = self.spec.sweep_time(0)
        t1 = self.spec.sweep_time(self.spec.sweeps - 1)
        first = t0.astype("datetime64[h]")
        if first < t0:
            first += np.timedelta64(1, "h")
        full = np.arange(first, t1.astype("datetime64[h]"),
                         np.timedelta64(1, "h"))
        if not len(full):
            return t0.astype("datetime64[h]")
        return full[self.rng.randrange(len(full))]

    def _pfp_hour(self, hour):
        return ing.read_product(self.spark, self.warehouse(), "pfp").where(
            (F.col("datetime") >= _ts_literal(hour))
            & (F.col("datetime") < _ts_literal(hour + np.timedelta64(1, "h"))))

    def _summary_inputs(self):
        wh = self.warehouse()
        return (self.spark.read.parquet(os.path.join(wh, "traces")),
                self.spark.read.parquet(os.path.join(wh, "channel_metadata")))

    def _lazy(self, ledger=None) -> list[Op]:
        """The reference's lazy dask-demo steps from a cleared cache; with
        a ``ledger``, also records the ``api`` layer metrics."""
        self.spark.catalog.clearCache()
        mark = ledger.sql_mark() if ledger is not None else None
        with self.span("api:head10"):
            t0 = time.perf_counter()
            sdfs = api.read_seamf_zipfile_as_sdf(self.spark, self.zpath,
                                                 errors="log")
            head_df = sdfs["psd"].limit(10)
            head = head_df.collect()
            t_head = time.perf_counter() - t0
        self._plan(head_df)
        if ledger is not None:
            head_decode = ledger.sql_since(mark).get("api.decode_rows", 0)

        lo, hi = self._good_window()
        with self.span("api:range1m"):
            t0 = time.perf_counter()
            rng_df = sdfs["pvt"].where((F.col("datetime") >= _ts_literal(lo))
                                       & (F.col("datetime") < _ts_literal(hi)))
            rows = rng_df.collect()
            t_range = time.perf_counter() - t0
        self._plan(rng_df)

        s1, s2 = self._dir("sink_summary"), self._dir("sink_psd")
        with self.span("api:dual_sink"):
            t0 = time.perf_counter()
            traces = (sdfs["psd"].withColumn("table", F.lit("psd"))
                      .unionByName(sdfs["pfp"].withColumn("table", F.lit("pfp"))))
            summary = operators.capture_summary(traces,
                                                sdfs["channel_metadata"])
            summary.write.mode("overwrite").parquet(s1)
            sdfs["psd"].write.mode("overwrite").parquet(s2)
            t_sink = time.perf_counter() - t0
        if ledger is not None:
            one_pass = (len(inputs.good_sweeps(self.spec)) * self.spec.channels
                        * sum(inputs.ROWS_PER_CHANNEL.values())
                        + self.declared_bad)
            self.layers.update({
                "api.cache_bytes": ledger.cache_bytes(),
                "api.decode_passes":
                    ledger.sql_since(mark).get("api.decode_rows", 0) / one_pass,
                "api.decode_rows_per_row_returned":
                    head_decode / max(1, len(head)),
            })

        exp_range = inputs.expected_range_rows(self.spec, lo, hi)
        return [
            Op("head10", t_head, lambda: self._check_head(head)),
            Op("range1m", t_range, lambda n=len(rows): [] if n == exp_range
               else [f"range rows {n} != {exp_range}"]),
            Op("dual_sink", t_sink, lambda: self._check_sinks(s1, s2)),
        ]

    # -- layer probes (traced run only) --------------------------------------

    def probes(self, ops: list[Op], tables: str) -> tuple[dict, list[Op]]:
        """Every layer measured once on this seed's inputs; ``ops`` are the
        traced window's operations (their ``ingest`` times, if any, feed
        ``ingest.write_self_s``), ``tables`` the seed's corpus tables.
        Returns (metrics, the probes' own checked operations)."""
        # a cached lazy decode would otherwise serve decode_traces
        self.spark.catalog.clearCache()
        m: dict[str, float] = {}
        self._probe_sigmf(m)
        self._probe_ingest(m, [o.seconds for o in ops if o.kind == "ingest"])
        self._probe_scan(m)
        self._probe_operators(m)
        probe_ops = self._lazy(ledger=self.ledger)
        self.spark.catalog.clearCache()
        m_corpus, corpus_ops = corpus.probe(self, tables)
        return {**m, **self.layers, **m_corpus}, probe_ops + corpus_ops

    def _probe_sigmf(self, m: dict) -> None:
        with zipfile.ZipFile(self.zpath) as z:
            blobs = [z.read(self.spec.member(i))
                     for i in inputs.good_sweeps(self.spec)[:32]]
        tiers = {
            "meta": sigmf.decode_sigmf_meta,
            "bytes": lambda b: sigmf.decode_sigmf(b, unpack="bytes"),
            "arrays": lambda b: sigmf.decode_sigmf(b, unpack="arrays"),
            "records": sigmf.decode_sigmf_trace_records,
        }
        for tier, fn in tiers.items():
            with self.span(f"sigmf:{tier}"):
                t0 = time.perf_counter()
                for b in blobs:
                    fn(b)
                m[f"sigmf.{tier}_ms"] = \
                    (time.perf_counter() - t0) / len(blobs) * 1e3

    def _probe_ingest(self, m: dict, ingest_s: list[float]) -> None:
        def timed(name, build):
            with self.span(f"ingest:{name}"):
                t0 = time.perf_counter()
                _noop(build())
                m[f"ingest.{name}_s"] = time.perf_counter() - t0

        refs = None

        def list_refs():
            nonlocal refs
            refs = ing.list_sigmf_refs(self.spark, self.zpath)
            return refs

        timed("list_refs", list_refs)
        timed("decode_traces", lambda: ing.decode_traces(refs))
        timed("channel_meta", lambda: ing.decode_channel_metadata(refs))
        timed("sweep_meta", lambda: ing.decode_sweep_metadata(refs))
        if not ingest_s:
            out = self._dir("warehouse")
            with self.span("ingest:ingest"):
                t0 = time.perf_counter()
                ing.ingest(self.spark, self.zpath, out)
                ingest_s = [time.perf_counter() - t0]
            shutil.rmtree(out, ignore_errors=True)
        m["ingest.write_self_s"] = _median(ingest_s) - sum(
            m[f"ingest.{k}_s"] for k in
            ("list_refs", "decode_traces", "channel_meta", "sweep_meta"))
        # the share of ingest()'s core-seconds bare decode accounts for
        m["ingest.decode_share"] = (
            m["sigmf.records_ms"] / 1e3 * self.spec.sweeps
            / (_median(ingest_s) * self.spark.sparkContext.defaultParallelism))

        files = size = 0
        for d, _, names in os.walk(self.warehouse()):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
        m["ingest.output_files"] = files
        m["ingest.output_bytes_per_input_byte"] = \
            size / os.path.getsize(self.zpath)
        m["ingest.quarantined"] = self.spark.read.parquet(
            os.path.join(self.warehouse(), "quarantine")) \
            .select("source_file").distinct().count()

    def _probe_scan(self, m: dict) -> None:
        n, returned = (3 if self.smoke else 8), 0
        mark = self.ledger.sql_mark()
        for _ in range(n):
            _, rows, _ = self.range_select(*self._good_window())
            returned += len(rows)
        sql = self.ledger.sql_since(mark)
        m["scan.files_read"] = sql.get("scan.files_read", 0.0) / n
        m["scan.partitions_read"] = sql.get("scan.partitions_read", 0.0) / n
        m["scan.rows_read_per_row_returned"] = \
            sql.get("scan.rows_read", 0.0) / max(1, returned)

    def _probe_operators(self, m: dict) -> None:
        def step(name, build):
            with self.span(f"operators:{name}"):
                t0 = time.perf_counter()
                df = build()
                m[f"operators.{name}_s"] = time.perf_counter() - t0
                return df

        step("capture_summary", lambda: _noop(
            operators.capture_summary(*self._summary_inputs())))
        pfp = self._pfp_hour(self._hour())
        sync = step("pfp_frame_sync",
                    lambda: operators.pfp_frame_sync(pfp).localCheckpoint())
        rolled = step("roll_pfp",
                      lambda: operators.roll_pfp(pfp, sync).localCheckpoint())
        step("ul_dl_split", lambda: _noop(operators.ul_dl_split(rolled)))

    # -- output checks -------------------------------------------------------

    def _check_summary(self, rows, with_meta: bool) -> list[str]:
        if self._summaries is None:
            self._summaries = inputs.expected_summaries(self.spec, self.zpath)
        exp = self._summaries
        bad = []
        if len(rows) != len(exp):
            bad.append(f"summary rows {len(rows)} != {len(exp)}")
        for r in rows:
            key = (_epoch_ms(r["datetime"]), r["frequency"])
            want = exp.get(key)
            got = (r["median_rms_pfp"], r["max_max_pfp"],
                   r["median_mean_power"], r["max_max_power"])
            if want is None or not all(map(_close, got, want)):
                bad.append(f"summary {key}: {got} != {want}")
                continue
            if with_meta:
                ch = round((r["frequency"] - 3.545e9) / 10e6)
                nf, gain = inputs.calibration(ch)
                if not (_close(r["noise_figure"], nf)
                        and _close(r["gain"], gain)):
                    bad.append(f"summary {key}: calibration mismatch")
        return bad[:5]

    def _check_head(self, head) -> list[str]:
        n_psd = self.spec.geometry[0]
        if len(head) != 10 or any(len(r["values"]) != n_psd for r in head):
            return [f"head10: {len(head)} rows"]
        return []

    def _check_sinks(self, s1: str, s2: str) -> list[str]:
        try:
            bad = self._check_summary(self.spark.read.parquet(s1).collect(),
                                      True)
            n = self.spark.read.parquet(s2).count()
            exp = (len(inputs.good_sweeps(self.spec)) * self.spec.channels
                   * inputs.ROWS_PER_CHANNEL["psd"])
            if n != exp:
                bad.append(f"psd sink rows {n} != {exp}")
            return bad
        finally:
            shutil.rmtree(s1, ignore_errors=True)
            shutil.rmtree(s2, ignore_errors=True)


class Archive(Workload):
    """One cycle: ``ingest()`` of the archive into a fresh warehouse, then
    the reference's lazy dask-demo steps on the same archive from a cleared
    cache: ``read_seamf_zipfile_as_sdf`` + ``psd`` head(10), a 1-minute
    ``pvt`` range, and ``capture_summary`` plus a two-sink parquet write
    (summary and psd) on the shared cached scan."""

    name = "archive"

    def prepare(self, warm: int) -> None:
        super().prepare(warm)
        for f in os.listdir(self.work):
            if f.startswith(("warehouse", "sink_")):
                shutil.rmtree(os.path.join(self.work, f), ignore_errors=True)

    def cycle(self) -> list[Op]:
        return self._ingest() + self._lazy()

    def _ingest(self) -> list[Op]:
        out = self._dir("warehouse")
        with self.span("ingest:ingest"):
            t0 = time.perf_counter()
            ing.ingest(self.spark, self.zpath, out)
            dt = time.perf_counter() - t0
        return [Op("ingest", dt, lambda: self._check(out))]

    def _check(self, out: str) -> list[str]:
        try:
            got = {(r["table"], str(r["date"])): r["count"] for r in
                   self.spark.read.parquet(os.path.join(out, "traces"))
                   .groupBy("table", "date").count().collect()}
            exp = inputs.expected_rows_by_date(self.spec)
            bad = [f"rows {k}: {got.get(k)} != {v}"
                   for k, v in sorted(exp.items()) if got.get(k) != v]
            bad += [f"unexpected partition {k}" for k in got if k not in exp]
            q = (self.spark.read.parquet(os.path.join(out, "quarantine"))
                 .select("source_file").distinct().count())
            if q != self.declared_bad:
                bad.append(f"quarantined {q} != planted {self.declared_bad}")
            return bad
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def named(self, ops):
        dt = _median([o.seconds for o in ops if o.kind == "ingest"])
        out = {"ingest_files_per_s": (self.spec.sweeps / dt, "1/s")}
        out.update({f"lazy_{k}_s": (_median([o.seconds for o in ops
                                            if o.kind == k]), "s")
                    for k in ("head10", "range1m", "dual_sink")})
        return out


class WarehouseQueries(Workload):
    """A fixed mix over a warehouse ingested during set-up: seeded 1-minute
    ``read_product(..., 'pvt')`` range selects, ``capture_summary`` of the
    whole warehouse joined with ``channel_metadata``, and the TDD chain
    ``pfp_frame_sync`` -> ``roll_pfp`` -> ``ul_dl_split`` over one hour."""

    name = "warehouse_queries"
    ranges_per_cycle = (5, 3)

    def prepare(self, warm: int) -> None:
        self.warehouse()
        super().prepare(warm)

    def cycle(self) -> list[Op]:
        ops = []
        for _ in range(self.ranges_per_cycle[self.smoke]):
            lo, hi = self._good_window()
            dt, rows, df = self.range_select(lo, hi)
            self._plan(df)
            exp = inputs.expected_range_rows(self.spec, lo, hi)
            ops.append(Op("range", dt, lambda n=len(rows), e=exp:
                          [] if n == e else [f"range rows {n} != {e}"]))

        with self.span("operators:capture_summary"):
            t0 = time.perf_counter()
            df = operators.capture_summary(*self._summary_inputs())
            rows = df.collect()
            ops.append(Op("summary", time.perf_counter() - t0,
                          lambda rows=rows: self._check_summary(rows, True)))
        self._plan(df)

        hour = self._hour()
        with self.span("operators:tdd_split"):
            t0 = time.perf_counter()
            pfp = self._pfp_hour(hour)
            df = operators.ul_dl_split(
                operators.roll_pfp(pfp, operators.pfp_frame_sync(pfp)))
            rows = df.collect()
            ops.append(Op("tdd_split", time.perf_counter() - t0,
                          lambda rows=rows, h=hour: self._check_tdd(rows, h)))
        self._plan(df)
        return ops

    def _check_tdd(self, rows, hour) -> list[str]:
        exp = inputs.expected_range_rows(
            self.spec, hour.astype("datetime64[ms]"),
            (hour + np.timedelta64(1, "h")).astype("datetime64[ms]"))
        exp //= inputs.ROWS_PER_CHANNEL["pvt"]
        bad = [] if len(rows) == exp else [f"tdd rows {len(rows)} != {exp}"]
        for r in rows:
            if r["frame_format"] not in (1, 2) or not (
                    math.isfinite(r["dl_power_db"])
                    and math.isfinite(r["ul_power_db"])):
                bad.append(f"tdd row {r}")
                break
        return bad

    def named(self, ops):
        ranges = [o.seconds * 1e3 for o in ops if o.kind == "range"]
        q = statistics.quantiles(ranges, n=10) if len(ranges) > 1 \
            else ranges * 9
        return {
            "range_p50_ms": (_median(ranges), "ms"),
            "range_p90_ms": (q[8], "ms"),
            "summary_s": (_median([o.seconds for o in ops
                                   if o.kind == "summary"]), "s"),
            "tdd_split_s": (_median([o.seconds for o in ops
                                     if o.kind == "tdd_split"]), "s"),
        }


WORKLOADS = {w.name: w for w in (Archive, WarehouseQueries)}
