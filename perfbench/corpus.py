"""The ``plans`` layer probe: a handful of corpus queries and the composed
LLM pipeline, on small seeded tables the benchmark writes itself.

The tables follow the schemas ``plans.tables.load_table`` reads (the
TPC-H-style star plus ``events`` and ``documents``), so the corpus runs on
them unchanged. They are cached under ``.bench_cache`` by seed and row
counts. Each query runs once through the noop sink, timed, in its own job
group; its DuckDB oracle comparison (``tests/oracle_compare.py`` rules)
is returned as the operation's check and runs after the traced window.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spans import planning_s

#: one query per family: aggregate, joins, semi join, as-of window,
#: ranked window, near-dup (dedup), text stats, funnel, graph
QUERIES = ("q01_pricing_summary", "q08_join_agg", "q09_semi_join",
           "q11_asof_nearest", "q15_rank_topn", "q24_jaccard_neardup",
           "q27_text_stats", "q160_funnel_conversion",
           "q168_connected_components")
#: rows per table (about the shared test tables at sf0.001)
ROWS = {"customer": 150, "orders": 1500, "lineitem": 6000,
        "events": 1000, "documents": 500}
_VOCAB = ("the a of and data table scan join merge sort hash window stream "
          "batch spark query order part key index filter group value "
          "small fast large row column page cache block plan shuffle "
          "read write file store node task stage").split()
_LANGS = ("en", "de", "fr", "es", "zh")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = ROWS["customer"], ROWS["orders"], ROWS["lineitem"]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    day_us = 86_400_000_000
    t95 = int(np.datetime64("1995-01-01", "us").astype("int64"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": money(-999, 9999, n_c),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_c)}),
    }
    odate = t95 + rng.integers(0, 2400, n_o) * day_us
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": money(1000, 500_000, n_o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o)})
    lk = np.sort(rng.integers(0, n_o, n_l))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(float),
        "l_extendedprice": money(900, 105_000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100,
        "l_tax": rng.integers(0, 9, n_l) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts(odate[lk] + rng.integers(1, 120, n_l) * day_us)})
    n_e = ROWS["events"]
    t24 = int(np.datetime64("2024-01-01", "us").astype("int64"))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": _ts(t24 + rng.integers(0, 30 * day_us, n_e)),
        "user_id": pa.array(rng.integers(0, 15, n_e), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n_e, p=[.4, .3, .15, .1, .05]),
        "value": money(0, 330, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    docs = []
    for i in range(ROWS["documents"]):
        if i >= 10 and rng.random() < 0.15:
            # a near copy of an earlier document: one word replaced
            w = docs[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = str(rng.choice(_VOCAB))
        else:
            w = list(rng.choice(_VOCAB, rng.integers(8, 90)))
        docs.append(" ".join(w))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": docs,
        "lang": rng.choice(_LANGS, len(docs)),
        "source": [f"src{k}" for k in rng.integers(0, 20, len(docs))],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    return out


def build_tables(seed: int, cache_dir: str) -> str:
    """Directory holding one ``<table>.parquet`` per table for ``seed``."""
    key = "-".join(f"{k[0]}{v}" for k, v in ROWS.items())
    path = os.path.join(cache_dir, f"tables-s{seed}-{key}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    return path


def _oracle(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM '{os.path.join(sf_dir, f)}'")
    return con


def probe(wl, sf_dir: str) -> tuple[dict[str, float], list]:
    """Run the chosen queries and the LLM pipeline once each on the
    workload's session; returns (``corpus.*`` metrics, operations)."""
    from workloads import Op, _noop

    from nasctn_sea_ingest_spark.plans import CORPUS
    from nasctn_sea_ingest_spark.plans.pipeline import llm_corpus_pipeline

    spark, ledger = wl.spark, wl.ledger
    sc = spark.sparkContext
    by_name = {q.name: q for q in CORPUS}
    cores = sc.defaultParallelism
    lat, ops = [], []
    eng = {"spark.jobs": 0.0, "spark.tasks": 0.0, "spark.executor_run_s": 0.0}
    plan = 0.0
    con = _oracle(sf_dir)
    run = uuid.uuid4().hex[:8]
    names = QUERIES[:3] if wl.smoke else QUERIES
    for name in names:
        q = by_name[name]
        group = f"perfbench-corpus-{run}-{name}"
        sc.setJobGroup(group, name)
        with wl.span(f"plans:{name}"):
            t0 = time.perf_counter()
            df = q.spark(spark, sf_dir)
            _noop(df)
            lat.append(time.perf_counter() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        df._jdf.queryExecution().executedPlan()
        plan += planning_s(df)
        for k, v in ledger.stages(group).items():
            if k in eng:
                eng[k] += v
        ops.append(Op("corpus", lat[-1], lambda q=q: _compare(
            q.spark(spark, sf_dir), con, q.sql)))

    with wl.span("plans:llm_corpus_pipeline"):
        t0 = time.perf_counter()
        packed, manifest = llm_corpus_pipeline(spark, sf_dir)
        _noop(packed)
        n_packed = packed.count()
        packed.unpersist(True)
        t_llm = time.perf_counter() - t0
    ops.append(Op("llm_pipeline", t_llm,
                  lambda: _check_manifest(manifest, n_packed)))

    n = len(names)
    total = sum(lat)
    m = {
        "corpus.jobs_per_query": eng["spark.jobs"] / n,
        "corpus.tasks_per_query": eng["spark.tasks"] / n,
        "corpus.planning_s_per_query": plan / n,
        "corpus.slot_idle_share":
            1 - eng["spark.executor_run_s"] / (total * cores),
        "corpus.query_p50_s": statistics.median(lat),
        "corpus.query_p90_s": statistics.quantiles(lat, n=10)[8],
        "corpus.total_s": total,
        "corpus.llm_pipeline_s": t_llm,
    }
    return m, ops


def _compare(df, con, sql: str) -> list[str]:
    from tests.oracle_compare import compare
    return compare(df, con, sql)[:3]


def _check_manifest(manifest: dict, n_packed: int) -> list[str]:
    counts = list(manifest.values())
    bad = []
    if manifest.get("raw") != ROWS["documents"]:
        bad.append(f"pipeline raw {manifest.get('raw')} != "
                   f"{ROWS['documents']}")
    if any(b > a for a, b in zip(counts, counts[1:])):
        bad.append(f"pipeline stage counts grow: {manifest}")
    if not 0 < n_packed == manifest.get("packed"):
        bad.append(f"packed rows {n_packed}, manifest {manifest}")
    return bad
