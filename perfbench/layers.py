"""The per-layer metric catalogue of the traced run.

Every traced run reports every metric below, whatever its workload: a
layer the workload does not exercise reads 0 (no time, no work). The
order and the units match BENCHMARK.json's `per_layer` list. cdc_replay,
which BENCHMARK.json does not list, adds CDC_EXTRAS.
"""

MODULES = ["Relational", "TextOps", "DedupOps", "SimilarityOps", "CdcOps", "MultimodalOps",
           "ExtraOps", "ToleranceOps", "StencilOps", "GeomOps", "ScatterOps"]

# (name, unit, better)
CATALOGUE = [
    # Pipeline: the Structured-Streaming trigger of Submit tail
    ("Pipeline.stream_start_s", "s", "lower"),
    ("Pipeline.trigger_s", "s", "lower"),
    ("Pipeline.trigger.addBatch_s", "s", "lower"),
    ("Pipeline.trigger.planning_s", "s", "lower"),
    ("Pipeline.trigger.offsets_s", "s", "lower"),
    ("Pipeline.trigger.walCommit_s", "s", "lower"),
    ("Pipeline.batches", "count", "higher"),
    # ParquetStats: the era probe from segment footers
    ("ParquetStats.probe_s", "s", "lower"),
    ("Apply.scan_probes", "count", "lower"),
    # Apply: one epoch's reduce + normalize + upsert
    ("Apply.epoch_s", "s", "lower"),
    ("Apply.driver_s", "s", "lower"),
    ("Apply.jobs_per_epoch", "count", "lower"),
    ("Apply.rows_in", "count", "higher"),
    ("Apply.keys_out", "count", "higher"),
    ("Apply.rows_per_key", "ratio", "higher"),
    ("Apply.shuffle_write_bytes", "B", "lower"),
    ("Apply.spill_bytes", "B", "lower"),
    ("Apply.task_skew", "ratio", "lower"),
    ("Apply.cpu_util", "ratio", "higher"),
    ("Apply.gc_s", "s", "lower"),
    # LakeTable: writes, compaction, merge-on-read reads
    ("LakeTable.bytes_written", "B", "lower"),
    ("LakeTable.files_written", "count", "lower"),
    ("LakeTable.space_amp", "ratio", "lower"),
    ("LakeTable.manifest_versions", "count", "lower"),
    ("LakeTable.compact_s", "s", "lower"),
    ("LakeTable.compact_buckets", "count", "lower"),
    ("LakeTable.compact_bytes_rewritten", "B", "lower"),
    ("LakeTable.delta_groups.max", "count", "lower"),
    ("LakeTable.readKey_files_scanned", "count", "lower"),
    ("LakeTable.readKey_bytes_read", "B", "lower"),
    ("LakeTable.readChanges_rows", "count", "higher"),
    # Audit and DeadLetterQueue
    ("Audit.flush_wait_s", "s", "lower"),
    ("Audit.rows", "count", "higher"),
    ("DeadLetterQueue.rows", "count", "lower"),
    # operators: the query surface
    ("operators.plan_s", "s", "lower"),
    ("operators.codegen_s", "s", "lower"),
    ("operators.codegen_classes", "count", "lower"),
    ("operators.cold_gap_s", "s", "lower"),
    ("operators.exec_s", "s", "lower"),
    ("operators.jobs", "count", "lower"),
    ("operators.stages", "count", "lower"),
    ("operators.shuffle_bytes", "B", "lower"),
    ("operators.spill_bytes", "B", "lower"),
    ("operators.task_skew.max", "ratio", "lower"),
    ("operators.gc_s", "s", "lower"),
] + [(f"operators.{m}.{p}_s", "s", "lower") for m in MODULES for p in ("cold", "warm")] + [
    # scratch the program leaves outside the run's directory
    ("streaming.scratch_leaked", "count", "lower"),
    # the workload's wall-clock view, under the names of the user it serves
    # (tail_mixed's events per second of drain is the end-to-end
    # throughput_per_s, so it is not repeated here)
    ("tail.freshness_s.p50", "s", "lower"),
    ("tail.freshness_s.tail", "s", "lower"),
    ("read.lookup_s.p50", "s", "lower"),
    ("read.lookup_s.tail", "s", "lower"),
    ("read.changes_s.p50", "s", "lower"),
    ("q.total_cold_s", "s", "lower"),
    ("q.total_warm_s", "s", "lower"),
    ("fail_ratio", "ratio", "lower"),
    # diagnostics, not gated
    ("host.steal_pct", "%", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]


CDC_EXTRAS = [("cdc.scaling_eff", "ratio")]


def collect(workload, m, record, leaked, untraced_rate):
    """Per-layer values from the JVM's raw metrics `m` and the run record."""
    out = {}
    extras = CDC_EXTRAS if workload == "cdc_replay" else []
    for name, unit, *_ in CATALOGUE + extras:
        out[name] = (float(m.get(name, 0.0) or 0.0), unit)
    out["streaming.scratch_leaked"] = (float(leaked), "count")
    out["fail_ratio"] = (record["failed"] / max(1, record["attempted"]), "ratio")
    out["host.steal_pct"] = (record["steal_pct"], "%")
    rate = m.get("throughput_per_s") or 0.0
    # overhead against the latest untraced run of the same workload, seed,
    # --seconds and build in this checkout; 0 when there is none
    out["trace.overhead_pct"] = (100.0 * (untraced_rate / rate - 1.0)
                                 if untraced_rate and rate else 0.0, "%")
    return out
