"""The benchmark's metric catalogue.

End-to-end metrics are printed by every workload (``--trace 0``); per-layer
metrics by the traced run (``--trace 1``). A per-layer metric a workload
does not exercise reads 0 there. ``LAYER`` names, for each per-layer
metric, the end-to-end metric it should move and on which workload; the
traced run prints that mapping next to the values. A metric that should
move none (``None``) is a correctness count: the engine's own count, which
the workload checks against its input's truth.
"""

from __future__ import annotations

# name: (unit, better, what it is)
E2E = {
    "setup_s": ("s", "lower",
                "get_spark plus the one-time warm-ups, before any timing"),
    "round_s": ("s", "lower",
                "wall time of one round of operations, checks excluded, "
                "each repeated kind of operation counted at its median"),
}

OPERATOR_MODULES = (
    "aggregates", "composite", "filters", "functions", "joins",
    "llm_curation", "llm_dedup", "llm_multimodal", "llm_similarity",
    "llm_text", "pydatasource", "scans", "setops", "sorts", "sql_dialect",
    "sql_surface", "streaming_live", "streaming_twins", "udfs", "windows",
)

_D, _R, _B = "daq_ingest", "registry_mix", "daq_ingest,registry_mix"

# name: (unit, better, end-to-end metric it should move, workload)
LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s", _B),
    "round.op_p50_s": ("s", "lower", "round_s", _B),
    "session.warmup_s": ("s", "lower", "setup_s", _B),
    "decode.kernel_mb_per_s": ("MB/s", "higher", "round_s", _D),
    "decode.scan_s": ("s", "lower", "round_s", _D),
    "decode.build_hits_s": ("s", "lower", "round_s", _D),
    "decode.shuffle_write_bytes": ("B", "lower", "round_s", _D),
    "decode.frames": ("count", "higher", None, _D),
    "decode.hits": ("count", "higher", None, _D),
    "pipelines.process_run_directory_s": ("s", "lower", "round_s", _D),
    "pipelines.convert_mb_per_s": ("MB/s", "higher", "round_s", _D),
    "pipelines.parquet_bytes_written": ("B", "lower", "round_s", _D),
    "pipelines.calibrate_s": ("s", "lower", "round_s", _D),
    "pipelines.run_stats_s": ("s", "lower", "round_s", _D),
    "pipelines.calib_ready_s": ("s", "lower", "round_s", _D),
    "pyds.lookup_s": ("s", "lower", "round_s", _D),
    "pyds.files_read": ("count", "lower", "round_s", _D),
    "pyds.pruning_ratio": ("ratio", "lower", "round_s", _D),
    "watchdog.drain_s": ("s", "lower", "round_s", _D),
    "watchdog.batches": ("count", "lower", "round_s", _D),
    "watchdog.files_per_batch": ("count", "higher", "round_s", _D),
    "watchdog.trigger_s": ("s", "lower", "round_s", _D),
    "watchdog.add_batch_s": ("s", "lower", "round_s", _D),
    "watchdog.planning_s": ("s", "lower", "round_s", _D),
    "watchdog.commit_s": ("s", "lower", "round_s", _D),
    "daq.jobs": ("count", "lower", "round_s", _D),
    "daq.tasks": ("count", "lower", "round_s", _D),
    "daq.executor_run_s": ("s", "lower", "round_s", _D),
    "registry.build_s": ("s", "lower", "round_s", _R),
    "registry.exec_s": ("s", "lower", "round_s", _R),
    "registry.jobs": ("count", "lower", "round_s", _R),
    "registry.stages": ("count", "lower", "round_s", _R),
    "registry.tasks": ("count", "lower", "round_s", _R),
    "registry.shuffle_write_bytes": ("B", "lower", "round_s", _R),
    "registry.spill_bytes": ("B", "lower", "round_s", _R),
    "registry.executor_run_s": ("s", "lower", "round_s", _R),
    "registry.stored_block_bytes_end": ("B", "lower", "round_s", _R),
    "io.table_s": ("s", "lower", "round_s", _R),
    "io.table_calls": ("count", "lower", "round_s", _R),
    **{f"operators.{m}.wall_s": ("s", "lower", "round_s", _R)
       for m in OPERATOR_MODULES},
    "trace.overhead_s": ("s", "lower", "round_s", _B),
    "trace.round_s": ("s", "lower", "round_s", _B),
}


def e2e_report(values: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u}
            for k, (u, _b, _w) in E2E.items()}


def layer_report(values: dict, workload: str) -> dict:
    """Every per-layer metric (0 where the workload does not exercise the
    layer); prints one line per metric with what it should move."""
    unknown = set(values) - set(LAYER)
    if unknown:
        raise KeyError(f"metrics missing from the catalogue: {sorted(unknown)}")
    out = {}
    for k, (unit, _better, moves, wls) in LAYER.items():
        v = float(values.get(k, 0.0))
        out[k] = {"value": v, "unit": unit}
        if workload in wls.split(","):
            what = (f"-> {moves} on {workload}" if moves
                    else "correctness count, equals the input's truth")
            print(f"{k:40s} {v:14.4f} {unit:6s} {what}")
    print(f"tracing overhead: {values.get('trace.overhead_s', 0.0):.4f} s "
          "spent in job groups and status-store reads; compare trace.round_s "
          "with the untraced round_s of the same seed")
    return out


def benchmark_entries() -> dict:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json, minus
    the bounds, which are set there."""
    return {
        "end_to_end": [{"name": k, "unit": u, "better": b}
                       for k, (u, b, _w) in E2E.items()],
        "per_layer": [{"name": k, "unit": u, "better": b}
                      for k, (u, b, _m, _w) in LAYER.items()],
    }
