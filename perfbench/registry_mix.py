"""``registry_mix``: a fixed sample of registered queries in a seeded order,
closed loop with one client.

Each query runs builder -> ``write.format("noop")`` on the sf0.1 fixture,
timed as one operation; its row count is then checked, outside the timed
region and on the same DataFrame, against ``spark_rows`` in
``ORACLE_SF01_r13.json`` (the sweep that matched DuckDB bit for bit).

The sample is fixed: one query from every operator module, so each module
weighs the same whatever its share of the registry (``SAMPLE``). The seed
sets the order. One pass over the sample is the round.
"""

from __future__ import annotations

import json
import os
from contextlib import nullcontext

import numpy as np

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE = os.path.join(os.path.dirname(HERE), "ORACLE_SF01_r13.json")

WARMUPS = (harness.warm_scan_parquet, harness.warm_map_in_pandas,
           harness.warm_runfiles, harness.warm_runfiles_streams)

# One query per operator module. Each is the query at the lower quartile of
# its module's wall times in one timed sweep of every registered query
# (builder, then a noop write, local[4], sf0.1, after this benchmark's
# set-up): the lower quartile keeps a pass near 20 s, inside the run's time
# budget. A sample in proportion to the modules' query counts would need
# more queries than that budget allows (20 modules, llm_curation alone holds
# about 170 of the 565 queries).
SAMPLE = (
    "agg_listagg_mode",                  # aggregates
    "composite_disjunctive_predicates",  # composite
    "predicate_in_between_like",         # filters
    "fn_string",                         # functions
    "join_left_outer",                   # joins
    "ext_brunner_munzel",                # llm_curation
    "ext_dedup_minhash",                 # llm_dedup
    "ext_audio_clipping",                # llm_multimodal
    "ext_knn_centroid",                  # llm_similarity
    "ext_vocab_coverage_curve",          # llm_text
    "scan_python_datasource_pruned",     # pydatasource
    "scan_kv_stats",                     # scans
    "set_except",                        # setops
    "sort_multikey",                     # sorts
    "sql_identifier_clause",             # sql_dialect
    "agg_autocorr",                      # sql_surface
    "source_stream_rate",                # streaming_live
    "stream_sliding_window",             # streaming_twins
    "udtf_python_native",                # udfs
    "agg_mann_kendall_trend",            # windows
)
TINY_SAMPLE = ("scan_parquet", "fn_url_parse")   # the two cheapest queries


def draw_sample(seed: int, size: str) -> list[str]:
    """The fixed sample in an order drawn by ``seed``.

    The seed orders the sample rather than choosing it: queries of nearly
    equal cost differ by up to 2x in a fresh session, so a sample redrawn
    per seed made the pass total spread by a fifth across seeds."""
    sample = TINY_SAMPLE if size == "tiny" else SAMPLE
    return [sample[i] for i in np.random.default_rng(seed).permutation(len(sample))]


class Inputs:
    def __init__(self, seed: int, size: str):
        from project_etl_spark.registry import load_all
        self.sf_dir = harness.sf_dir()
        self.registry = load_all()
        self.sample = draw_sample(seed, size)
        with open(ORACLE) as fh:
            oracle = json.load(fh)["queries"]
        self.rows = {q: oracle[q]["spark_rows"] for q in self.sample}


def prepare(work: str, seed: int, size: str) -> Inputs:
    return Inputs(seed, size)


class _TracedTable:
    """Puts an ``io.table`` span around every fixture scan the builders
    make, by rebinding the name in ``io`` and in each operator module that
    imported it."""

    def __init__(self, tracer):
        import sys

        from project_etl_spark import io
        self.orig = io.table
        self.modules = [io] + [
            mod for name, mod in sys.modules.items()
            if name.startswith("project_etl_spark.operators.")
            and getattr(mod, "table", None) is self.orig]
        self.tracer = tracer

    def __enter__(self):
        orig, tracer = self.orig, self.tracer

        def table(*args, **kwargs):
            with tracer.span("io.table"):
                return orig(*args, **kwargs)

        for mod in self.modules:
            mod.table = table
        return self

    def __exit__(self, *exc):
        for mod in self.modules:
            mod.table = self.orig


def measure(spark, tracer, inp: Inputs, traced: bool) -> dict:
    """One pass over the sample. ``round_s`` is the pass total,
    ``op_p50_s`` the median query."""
    walls: dict[str, float] = {}
    errors: list[str] = []
    attempted = 0

    def one(name: str):
        spec = inp.registry[name]
        with tracer.span("registry.query", op=attempted) as q:
            with tracer.span("registry.build"):
                df = spec.builder(spark, inp.sf_dir)
            with tracer.span("registry.exec"):
                df.write.format("noop").mode("overwrite").save()
        walls[name] = q.seconds
        rows = df.count()
        if rows != inp.rows[name]:
            raise AssertionError(f"{rows} rows, oracle has {inp.rows[name]}")

    with (_TracedTable(tracer) if traced else nullcontext()):
        for name in inp.sample:
            attempted += 1
            try:
                one(name)
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                errors.append(f"{name}: {type(e).__name__}: {e}")
    summary = {"op_p50_s": harness.median(list(walls.values())),
               "round_s": sum(walls.values())}
    layer = layer_metrics(spark, tracer, inp, walls) if traced else {}
    return {"summary": summary, "layer": layer, "attempted": attempted,
            "errors": errors}


def layer_metrics(spark, tracer, inp: Inputs, walls: dict) -> dict:
    """Totals over the pass."""
    queries = [s for s in tracer.spans if s.name == "registry.query"]
    totals = dict.fromkeys(harness.COUNTER_KEYS, 0)
    for s in queries:
        for k, v in tracer.inclusive(s).items():
            totals[k] += v
    tables = tracer.named("io.table")
    out = {
        "registry.build_s": sum(s.seconds for s in tracer.named("registry.build")),
        "registry.exec_s": sum(s.seconds for s in tracer.named("registry.exec")),
        "registry.jobs": totals["jobs"],
        "registry.stages": totals["stages"],
        "registry.tasks": totals["tasks"],
        "registry.shuffle_write_bytes": totals["shuffle_write_bytes"],
        "registry.spill_bytes": totals["spill_bytes"],
        "registry.executor_run_s": totals["executor_run_s"],
        "registry.stored_block_bytes_end": harness.stored_block_bytes(spark),
        "io.table_s": sum(s.seconds for s in tables),
        "io.table_calls": len(tables),
    }
    for name, wall in walls.items():
        module = inp.registry[name].builder.__module__.rsplit(".", 1)[-1]
        key = f"operators.{module}.wall_s"
        out[key] = out.get(key, 0.0) + wall
    return out
