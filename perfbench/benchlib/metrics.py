"""Names and units of every metric the benchmark reports. BENCHMARK.json
lists the same names (tests/test_stats.py checks that)."""

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("triples_per_s", "1/s"),
    ("scaling_eff", "ratio"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("triple_precision", "ratio"),
    ("triple_recall", "ratio"),
]

_UNITS = {"wall_s": "s", "self_s": "s", "task_s": "s", "idle_s": "s",
          "jobs": "count", "shuffle_write_bytes": "bytes",
          "shuffle_records": "count", "spill_bytes": "bytes", "skew": "ratio",
          "rows_out": "count", "yield": "ratio", "keep": "ratio",
          "bytes_written": "bytes", "files_written": "count",
          "ns_per_call": "ns", "p50_ms": "ms", "p90_ms": "ms"}

# leaf spans: their self time is their wall time (the run prints both)
_LINK = ["wall_s", "task_s", "idle_s", "jobs", "rows_out", "skew"]
_HEAVY = ["wall_s", "task_s", "idle_s", "jobs",
          "shuffle_write_bytes", "shuffle_records", "spill_bytes", "skew",
          "rows_out"]
CLI_COMMANDS = ["parse", "convert_tsv", "convert_json", "convert_rdf",
                "merge", "invert", "diff", "dedupe"]

_SPANS = [
    # kg_build
    ("kg.KgPipeline.run", ["wall_s", "task_s", "idle_s", "jobs"]),
    ("kg.Linker.detectMentions", _LINK),
    ("kg.Linker.linkExact", _LINK),
    ("kg.Linker.linkFuzzy", _HEAVY + ["yield"]),
    ("text.TextHash.charBandSignature", ["ns_per_call"]),
    ("text.TextHash.charTrigramJaccard", ["ns_per_call"]),
    ("ops.MergeReconcile.filterRedundantRows", _HEAVY + ["keep"]),
    ("ops.TripleEmit.emit", ["wall_s", "task_s", "idle_s", "jobs",
                             "shuffle_write_bytes", "rows_out"]),
    ("graph.Components.componentLabels", ["wall_s", "idle_s", "jobs",
                                          "shuffle_write_bytes", "rows_out"]),
    ("kg.KgPipeline.materialize", ["wall_s", "task_s", "idle_s",
                                   "jobs", "bytes_written", "files_written",
                                   "skew"]),
    # sssom_ops, mapping commands
] + [(f"tools.Cli.run.{c}", ["p50_ms", "p90_ms", "jobs", "idle_s"])
     for c in CLI_COMMANDS] + [
    ("io.SssomTsv.read", ["p50_ms"]),
    ("io.SssomTsv.write", ["p50_ms"]),
    ("io.SssomJson.writeJson", ["p50_ms"]),
    ("ops.MergeReconcile.merge", ["p50_ms"]),
    ("ops.MergeReconcile.diff", ["p50_ms"]),
    ("ops.Invert.invertMappings", ["p50_ms"]),
    # sssom_ops, corpus curation
    ("ops.Curation.curate", ["wall_s", "task_s", "idle_s", "jobs",
                             "shuffle_write_bytes", "spill_bytes", "skew",
                             "rows_out"]),
    ("dedup.Dedup.ngramJaccardNearDups", _HEAVY + ["yield"]),
    ("dedup.Dedup.contaminatedDocs", ["wall_s", "task_s", "idle_s", "jobs",
                                      "rows_out"]),
    ("dedup.Dedup.nearDupDedup", ["wall_s", "task_s", "idle_s", "jobs",
                                  "shuffle_write_bytes", "rows_out"]),
]

PER_LAYER = [(f"{span}.{m}", _UNITS[m]) for span, ms in _SPANS for m in ms] + [
    ("jvm.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("trace.tasks_failed", "count"),
]
