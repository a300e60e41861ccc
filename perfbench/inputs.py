"""Seeded benchmark inputs: one sensor archive (a zip of ``.sigmf`` sweeps)
built with ``sources.synth.build_sigmf``, plus the truth the output checks
compare against.

The program under test only ever receives the zip path. Everything else
(planted bad files, expected row counts, expected per-capture summaries)
comes from the generator's own parameters or from an independent numpy
read of the payloads, never from the program's decode path.

Archives are cached under ``<checkout>/.bench_cache`` keyed by
(seed, sweeps, channels, geometry): building one costs ~75 ms per sweep,
which would otherwise dominate every run.
"""

from __future__ import annotations

import hashlib
import io
import lzma
import multiprocessing
import os
import random
import shutil
import tarfile
import zipfile
from dataclasses import dataclass

import numpy as np

#: reference geometry (psd, pvt, pfp, apd lengths) of a v0.6 sweep
REF_GEOMETRY = (625, 400, 560, 151)
#: trace rows one good sweep yields per channel, by table
ROWS_PER_CHANNEL = {"psd": 2, "pvt": 2, "pfp": 6, "apd": 1}
#: 22:30 UTC start: an archive of more than 60 sweeps crosses midnight, so
#: it spans two dates. Sweep 60 at the 90 s cadence starts at midnight
#: exactly, so no sweep straddles it.
START = np.datetime64("2023-09-17T22:30:00.000", "ms")
INTERVAL_S = 90
CACHE_KEEP = 24


@dataclass(frozen=True)
class ArchiveSpec:
    seed: int
    sweeps: int
    channels: int = 15
    geometry: tuple = REF_GEOMETRY
    n_bad_hash: int = 2
    n_truncated: int = 2

    @property
    def key(self) -> str:
        """Every generator parameter, including the generator's source."""
        from nasctn_sea_ingest_spark.sources import synth
        with open(synth.__file__, "rb") as f:
            gen = hashlib.sha256(f.read()).hexdigest()[:8]
        g = "x".join(map(str, self.geometry))
        t0 = str(START.astype("datetime64[m]")).replace("-", "").replace(":", "")
        return (f"s{self.seed}-n{self.sweeps}-c{self.channels}-g{g}"
                f"-b{self.n_bad_hash}t{self.n_truncated}-{t0}i{INTERVAL_S}"
                f"-{gen}")

    def planted(self) -> dict[int, str]:
        """Sweep index -> poison kind, drawn deterministically from the
        seed (never the first sweep, so a partial read sees good data)."""
        rng = random.Random(self.seed * 7919 + self.sweeps)
        n = self.n_bad_hash + self.n_truncated
        picks = rng.sample(range(1, self.sweeps), n)
        kinds = ["bad_hash"] * self.n_bad_hash + ["truncate"] * self.n_truncated
        return dict(zip(picks, kinds))

    def sweep_time(self, i: int) -> np.datetime64:
        return START + np.timedelta64(INTERVAL_S * i, "s")

    def member(self, i: int) -> str:
        return f"sweep_{i + 1:05d}.sigmf"


def _build_one(args) -> bytes:
    from nasctn_sea_ingest_spark.sources.synth import build_sigmf
    spec, i, kind = args
    return build_sigmf(start_iso=str(spec.sweep_time(i)) + "Z",
                       n_channels=spec.channels, task=i + 1,
                       seed=spec.seed * 1_000_003 + i,
                       bad_hash=kind == "bad_hash",
                       truncate=kind == "truncate",
                       geometry=spec.geometry)


def build_archive(spec: ArchiveSpec, cache_dir: str,
                  workers: int = 4) -> str:
    """Return the path of the archive for ``spec``, building it on a miss
    with a fork pool of ``workers`` processes, joined before returning.

    Fork, not spawn: a spawn pool starts multiprocessing's resource
    tracker, a process that lives until this one exits. Call this before
    the Spark session starts, so no gateway thread is forked mid-call."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"archive-{spec.key}.zip")
    if os.path.exists(path):
        os.utime(path)
        return path
    planted = spec.planted()
    jobs = [(spec, i, planted.get(i)) for i in range(spec.sweeps)]
    pool = multiprocessing.get_context("fork").Pool(max(1, workers))
    try:
        blobs = pool.map(_build_one, jobs, chunksize=8)
        pool.close()
    except BaseException:
        pool.terminate()
        raise
    finally:
        pool.join()
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for i, raw in enumerate(blobs):
            z.writestr(spec.member(i), raw)
    os.replace(tmp, path)
    _trim_cache(cache_dir)
    return path


def _trim_cache(cache_dir: str) -> None:
    """Keep the ``CACHE_KEEP`` newest archives and warehouses."""
    for kind in ("archive-", "warehouse-"):
        entries = sorted((os.path.join(cache_dir, f)
                          for f in os.listdir(cache_dir)
                          if f.startswith(kind) and ".tmp" not in f),
                         key=os.path.getmtime)
        for old in entries[:-CACHE_KEEP]:
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)


def program_digest(package_dir: str) -> str:
    """Digest of the program's Python sources: a cached warehouse is only
    reused by the exact code that wrote it."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(package_dir)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, package_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def cached_warehouse(spec: ArchiveSpec, cache_dir: str, digest: str,
                     build) -> str:
    """Directory of the warehouse ``build(out_dir)`` writes for ``spec``,
    reused across runs of the same program."""
    path = os.path.join(cache_dir, f"warehouse-{spec.key}-{digest}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)
    _trim_cache(cache_dir)
    return path


# --------------------------------------------------------------------------
# truth for the output checks
# --------------------------------------------------------------------------

def capture_times(spec: ArchiveSpec, i: int) -> list[np.datetime64]:
    """Per-channel capture timestamps of sweep ``i`` (synth offsets each
    channel by 137 ms)."""
    t = spec.sweep_time(i)
    return [t + np.timedelta64(137 * ch, "ms") for ch in range(spec.channels)]


def good_sweeps(spec: ArchiveSpec) -> list[int]:
    bad = spec.planted()
    return [i for i in range(spec.sweeps) if i not in bad]


def expected_rows_by_date(spec: ArchiveSpec) -> dict[tuple[str, str], int]:
    """(table, 'YYYY-MM-DD') -> trace rows the warehouse must hold."""
    out: dict[tuple[str, str], int] = {}
    for i in good_sweeps(spec):
        for t in capture_times(spec, i):
            day = str(t.astype("datetime64[D]"))
            for table, k in ROWS_PER_CHANNEL.items():
                out[(table, day)] = out.get((table, day), 0) + k
    return out


def expected_range_rows(spec: ArchiveSpec, lo: np.datetime64,
                        hi: np.datetime64, table: str = "pvt") -> int:
    """Rows of ``table`` with capture time in [lo, hi)."""
    n = 0
    for i in good_sweeps(spec):
        n += sum(lo <= t < hi for t in capture_times(spec, i))
    return n * ROWS_PER_CHANNEL[table]


def _payload(raw: bytes) -> np.ndarray:
    with tarfile.open(fileobj=io.BytesIO(raw)) as tar:
        for m in tar.getmembers():
            if m.name.endswith(".sigmf-data"):
                blob = tar.extractfile(m).read()
    return np.frombuffer(lzma.decompress(blob), dtype=np.float16)


def expected_summaries(spec: ArchiveSpec, zpath: str) -> dict:
    """(capture ms since epoch, frequency) -> the four capture_summary
    values, recomputed with numpy from the float16 payloads.

    Payload layout per channel (synth): psd [maximum, mean], pvt [maximum,
    mean], pfp [mean_minimum, mean_maximum, mean_mean, max_minimum,
    max_maximum, max_mean], apd. capture_summary reads psd 'mean' and the
    pfp (mean statistic, rms detector) = 'mean_mean' and (max, peak) =
    'max_maximum' series.
    """
    psd, pvt, pfp, apd = spec.geometry
    per_ch = 2 * psd + 2 * pvt + 6 * pfp + apd
    out = {}
    with zipfile.ZipFile(zpath) as z:
        for i in good_sweeps(spec):
            flat = _payload(z.read(spec.member(i))).astype(np.float64)
            times = capture_times(spec, i)
            for ch in range(spec.channels):
                c = flat[ch * per_ch:(ch + 1) * per_ch]
                psd_mean = c[psd:2 * psd]
                o = 2 * psd + 2 * pvt
                pfp_mr = c[o + 2 * pfp:o + 3 * pfp]
                pfp_xp = c[o + 4 * pfp:o + 5 * pfp]
                key = (int(times[ch].astype("int64")), 3.545e9 + 10e6 * ch)
                out[key] = (float(np.median(pfp_mr)), float(pfp_xp.max()),
                            float(np.median(psd_mean)),
                            float(psd_mean.max()))
    return out


def calibration(ch: int) -> tuple[float, float]:
    """(noise_figure, gain) synth writes for channel ``ch``."""
    return round(4.9 + 0.05 * ch, 3), round(29.8 + 0.1 * ch, 3)


def describe(spec: ArchiveSpec, zpath: str) -> dict:
    return {"seed": spec.seed, "sweeps": spec.sweeps,
            "channels": spec.channels, "geometry": list(spec.geometry),
            "planted": {str(k): v for k, v in sorted(spec.planted().items())},
            "bytes": os.path.getsize(zpath),
            "key": spec.key}
