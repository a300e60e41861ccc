"""Metric names, units and the layer predictions the diff tool checks.

End-to-end metrics come from untraced runs. ``E2E`` are the metrics every
workload reports (they gate a change); ``NAMED`` are each workload's own
end-to-end metrics under the names perf claims use. ``PER_LAYER`` come
from the traced run: engine and Python-worker metrics from its traced
window, the module layers from probes run on the seed's inputs. The
``plans`` layer has no workload of its own: its probe (``corpus.py``)
reports the corpus figures ``corpus.query_p50_s``, ``corpus.total_s`` and
``corpus.llm_pipeline_s`` among the per-layer metrics.

``LAYERS`` records, before any optimisation is measured, which end-to-end
metric each layer's metrics should move on which workload, and which
(metric, workload) pairs a change confined to that layer should leave
unchanged.
"""

E2E = {
    "setup_s": "s",
    "cycle_s": "s",
}

NAMED = {
    "archive": {"ingest_files_per_s": "1/s", "lazy_head10_s": "s",
                "lazy_range1m_s": "s", "lazy_dual_sink_s": "s"},
    "warehouse_queries": {"range_p50_ms": "ms", "range_p90_ms": "ms",
                          "summary_s": "s", "tdd_split_s": "s"},
}

#: reported by every workload next to E2E and NAMED, not gated:
#: failed_share is 0 on a healthy tree, the peak RSS of a JVM follows its
#: garbage collector more than the work, and input generation is the
#: benchmark's own cost
COMMON = {"peak_rss_mb": "MB", "failed_share": "share", "gen_s": "s"}

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "sigmf.meta_ms": "ms", "sigmf.bytes_ms": "ms", "sigmf.arrays_ms": "ms",
    "sigmf.records_ms": "ms",
    "ingest.list_refs_s": "s", "ingest.decode_traces_s": "s",
    "ingest.channel_meta_s": "s", "ingest.sweep_meta_s": "s",
    "ingest.write_self_s": "s", "ingest.decode_share": "share",
    "ingest.output_files": "count",
    "ingest.output_bytes_per_input_byte": "ratio",
    "ingest.quarantined": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.slot_idle_share": "share",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.input_bytes": "B",
    "spark.output_bytes": "B", "spark.planning_s": "s",
    "python.run_s": "s", "python.init_s": "s",
    "python.bytes_to_python": "B", "python.bytes_to_jvm": "B",
    "scan.files_read": "count", "scan.partitions_read": "count",
    "scan.rows_read_per_row_returned": "ratio",
    "api.decode_rows_per_row_returned": "ratio", "api.decode_passes": "ratio",
    "api.cache_bytes": "B",
    "operators.capture_summary_s": "s", "operators.pfp_frame_sync_s": "s",
    "operators.roll_pfp_s": "s", "operators.ul_dl_split_s": "s",
    "corpus.jobs_per_query": "count", "corpus.tasks_per_query": "count",
    "corpus.planning_s_per_query": "s", "corpus.slot_idle_share": "share",
    "corpus.query_p50_s": "s", "corpus.query_p90_s": "s",
    "corpus.total_s": "s", "corpus.llm_pipeline_s": "s",
    "trace.overhead_share": "share",
}

_ALL = tuple(NAMED)
_ALL_NAMED = [(m, w) for w in _ALL for m in NAMED[w]]
_I = _L = "archive"
_W = "warehouse_queries"

#: layer -> (its metric prefix, [(e2e metric, workload) it should move],
#:           [(e2e metric, workload) predicted unchanged])
LAYERS = {
    "session": ("session.", [("setup_s", w) for w in _ALL],
                [p for p in _ALL_NAMED]),
    "sigmf": ("sigmf.", [("ingest_files_per_s", _I),
                         ("lazy_dual_sink_s", _L)],
              [(m, _W) for m in NAMED[_W]]),
    "ingest": ("ingest.", [("ingest_files_per_s", _I),
                           ("lazy_head10_s", _L)], []),
    "layout": ("ingest.output", [("ingest_files_per_s", _I),
                                 ("range_p50_ms", _W),
                                 ("summary_s", _W)], []),
    "spark": ("spark.", [("lazy_head10_s", _L), ("summary_s", _W)], []),
    "planning": ("spark.planning", [("lazy_head10_s", _L),
                                    ("range_p50_ms", _W)],
                 [("ingest_files_per_s", _I)]),
    "python": ("python.", [("ingest_files_per_s", _I),
                           ("tdd_split_s", _W),
                           ("lazy_head10_s", _L),
                           ("lazy_dual_sink_s", _L)],
               [("range_p50_ms", _W)]),
    "scan": ("scan.", [("range_p50_ms", _W), ("range_p90_ms", _W)],
             [("ingest_files_per_s", _I)]),
    "api": ("api.", [("lazy_head10_s", _L), ("lazy_dual_sink_s", _L)],
            [("ingest_files_per_s", _I)]),
    "operators": ("operators.", [("summary_s", _W), ("tdd_split_s", _W)],
                  [("ingest_files_per_s", _I)]),
    # the corpus figures are the probe's own per-layer metrics
    "plans": ("corpus.", [("corpus.query_p50_s", w) for w in _ALL],
              [p for p in _ALL_NAMED]),
}
