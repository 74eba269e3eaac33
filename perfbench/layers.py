"""Per-layer metrics of the traced run.

Each entry: (name, unit, better, the end-to-end metric it should move,
the workload where it should move it).  ``BENCHMARK.json``'s
``per_layer`` list holds the first three fields of every entry, in
this order (``selftest.py`` checks that they agree).  A layer that a
workload does not exercise reports 0 there.

Spans around a public call measure driver plan-build time, because the
call returns a lazy plan; ``*.s`` adds the layer's execution time,
taken as the difference between consecutive pipeline prefixes that
the traced run materialises after each operation.  ``spark.*`` are
per primary operation (an ingest pass, a RAG read, a query-mix pass).
"""

from __future__ import annotations

_ING, _LIVE, _ALL = "ingest", "live_corpus", "all"

LAYERS: list[tuple[str, str, str, str, str]] = [
    ("session.start_s", "s", "lower", "setup_s", _ALL),
    ("session.warm_s", "s", "lower", "setup_s", _ALL),
    ("session.jvm_peak_rss_mb", "MB", "lower", "setup_s", _ALL),
    ("session.jvm_heap_retained_mb", "MB", "lower", "latency_p50_s", _ALL),
    ("sources.pdf.s", "s", "lower", "items_per_s", _ING),
    ("sources.pdf.pages", "count", "higher", "items_per_s", _ING),
    ("functions.text.chunk_s", "s", "lower", "items_per_s", _ING),
    ("functions.text.chunks", "count", "higher", "items_per_s", _ING),
    ("ml.embed.bulk_s", "s", "lower", "items_per_s", _ING),
    ("ml.embed.query_s", "s", "lower", "latency_p50_s", _LIVE),
    ("sources.collection.create_s", "s", "lower", "items_per_s", _ING),
    ("sources.collection.create_jobs", "count", "lower", "items_per_s", _ING),
    ("operators.topk.s", "s", "lower", "latency_p50_s", _LIVE),
    ("operators.topk.rows_scored", "count", "lower", "latency_p50_s", _LIVE),
    ("operators.topk.kept_ratio", "ratio", "higher", "latency_p50_s", _LIVE),
    ("operators.context.s", "s", "lower", "latency_p50_s", _LIVE),
    ("ml.generate.s", "s", "lower", "latency_p50_s", _LIVE),
    ("operators.evaluate.s", "s", "lower", "latency_p50_s", _LIVE),
    ("sources.versioned.read_build_s", "s", "lower", "latency_p50_s", _LIVE),
    ("sources.versioned.scan_s", "s", "lower", "latency_p50_s", _LIVE),
    ("sources.versioned.merge_s", "s", "lower", "items_per_s", _LIVE),
    ("sources.versioned.delete_s", "s", "lower", "items_per_s", _LIVE),
    ("sources.versioned.update_s", "s", "lower", "items_per_s", _LIVE),
    ("sources.versioned.compact_s", "s", "lower", "items_per_s", _LIVE),
    ("sources.versioned.vacuum_s", "s", "lower", "items_per_s", _LIVE),
] + [
    (f"sources.versioned.{side}.{c}", "count", "lower",
     "latency_p50_s" if side == "read" else "items_per_s", _LIVE)
    for side in ("read", "write")
    for c in ("manifest_reads", "listdirs", "checkpoint_reads", "data_writes")
] + [
    ("sources.versioned.files_live", "count", "lower", "latency_p50_s", _LIVE),
    ("sources.versioned.dv_entries_live", "count", "lower", "latency_p50_s",
     _LIVE),
    ("sources.versioned.bytes_written_per_user_byte", "ratio", "lower",
     "items_per_s", _LIVE),
    ("sources.versioned.space_amp", "ratio", "lower", "items_per_s", _LIVE),
] + [
    ("spark.jobs", "count", "lower", "latency_p50_s", _ALL),
    ("spark.stages", "count", "lower", "latency_p50_s", _ALL),
    ("spark.tasks", "count", "lower", "latency_p50_s", _ALL),
    ("spark.executor_cpu_s", "s", "lower", "items_per_s", _ALL),
    ("spark.executor_run_s", "s", "lower", "items_per_s", _ALL),
    ("spark.python_s", "s", "lower", "items_per_s", _ALL),
    ("spark.shuffle_read_bytes", "bytes", "lower", "latency_p50_s", _ALL),
    ("spark.shuffle_write_bytes", "bytes", "lower", "latency_p50_s", _ALL),
    ("spark.spill_bytes", "bytes", "lower", "latency_p50_s", _ALL),
    ("spark.gc_s", "s", "lower", "latency_p50_s", _ALL),
    ("spark.failed_tasks", "count", "lower", "latency_p50_s", _ALL),
    ("trace.overhead_s", "s", "lower", "latency_p50_s", _ALL),
]

UNITS = {name: unit for name, unit, *_ in LAYERS}
