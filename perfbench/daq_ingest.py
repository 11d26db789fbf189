"""``daq_ingest``: the paper's own workload, closed loop with one client.

One round, in order:

1. ``process_run_directory`` once per landed run (its two readout boards):
   decode, event build, run-partitioned parquet;
2. ``load_or_calibrate(reuse=False)`` over the hits read back from that
   parquet, with ``etroc`` added as ``examples/daq_session.py`` does;
3. ``run_stats`` over the same hits, collected;
4. single-run lookups: ``etl_runfiles`` with a pushed ``run = k`` filter,
   then ``build_hits``, then ``run_stats``, once for each run, in a seeded
   order;
5. a watchdog drain: ``start_watchdog(available_now=True)`` over freshly
   landed 1 MB run files.

The end-to-end ``round_s`` sums the round, each kind of operation at its
median; ``round.op_p50_s`` is the median of the per-run operations (steps
1 and 4).

Every output is checked against the synthesizer's truth outside the timed
region. A traced run adds three diagnostics after the round: the decode
scan alone (counting its frames), decode plus event build, and the numpy
kernel on one file in this process on one core.
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np

import harness
import synth

WARMUPS = (harness.warm_map_in_pandas, harness.warm_runfiles,
           harness.warm_watchdog)

SIZES = {
    # 3 runs x 2 readout boards x 4 MB. Files stay at 4 MB: at get_spark
    # defaults, 20 MB files through build_hits exhaust the JVM's 1 GiB
    # direct-memory cap (bounded reads are ROADMAP Direction 2(c)).
    "full": {"n_runs": 3, "file_bytes": 4 << 20,
             "wd_runs": 2, "wd_file_bytes": 1 << 20},
    "tiny": {"n_runs": 2, "file_bytes": 64 << 10,
             "wd_runs": 1, "wd_file_bytes": 16 << 10},
}


class Inputs:
    def __init__(self, work: str, seed: int, size: str):
        p = SIZES[size]
        corpus_seed, wd_seed, order_seed = np.random.SeedSequence(seed).spawn(3)
        self.work = work
        self.corpus = os.path.join(work, "corpus")
        self.truth, self.sample = synth.write_corpus(
            self.corpus, corpus_seed, p["n_runs"], p["file_bytes"])
        self.corpus_mb = sum(t.n_bytes for t in self.truth) / 1e6
        self.landing = os.path.join(work, "landing")
        self.wd_truth, _ = synth.write_corpus(
            self.landing, wd_seed, p["wd_runs"], p["wd_file_bytes"],
            first_run=1001)
        runs = sorted({t.run for t in self.truth})
        # Runs land one at a time: a landing directory per run, linked to
        # the same files the lookups read from the whole corpus.
        self.run_dirs = {}
        for t in self.truth:
            d = self.run_dirs.setdefault(t.run, os.path.join(work, f"landed-{t.run}"))
            os.makedirs(d, exist_ok=True)
            name = synth.run_file_name(t.run, t.rb)
            os.link(os.path.join(self.corpus, name), os.path.join(d, name))
        self.lookup_runs = [int(r) for r in
                            np.random.default_rng(order_seed).permutation(runs)]


def prepare(work: str, seed: int, size: str) -> Inputs:
    return Inputs(work, seed, size)


# ---------------------------------------------------------------------------
# Checks against the synthesizer's truth
# ---------------------------------------------------------------------------

def check_run_stats(rows, truth) -> list[str]:
    want = {(t.run, t.rb): (t.events, t.hits) for t in truth}
    got = {(r["run"], r["rb"]): (r["n_events"], r["n_hits"]) for r in rows}
    return [] if got == want else [f"run_stats {got} != {want}"]


def check_calibration(rows, truth) -> list[str]:
    hits = sum(t.pixel_hits for t in truth)
    toa = sum(t.pixel_toa_sum for t in truth)
    errs = []
    if len(rows) != synth.N_PIXELS or {r["etroc"] for r in rows} != {0}:
        errs.append(f"calibration has {len(rows)} rows")
    for r in rows:
        px = r["row"] * 16 + r["col"]
        if r["n_hits"] != hits[px]:
            errs.append(f"pixel {px}: n_hits {r['n_hits']} != {hits[px]}")
        elif abs(r["baseline"] - toa[px] / hits[px]) > 1e-3:
            errs.append(f"pixel {px}: baseline {r['baseline']}")
    return errs[:5]


def check_frames(rows, truth) -> list[str]:
    want = {(t.run, t.rb): t.frames for t in truth}
    got = {(r["run"], r["rb"]): r["count"] for r in rows}
    return [] if got == want else [f"watchdog frames {got} != {want}"]


def check_wire_format(sample) -> list[str]:
    from project_etl_spark.decode import encode_frames
    ours = synth.words_to_bytes(sample)
    theirs = encode_frames(synth.words_to_frame_dicts(sample))
    return [] if ours == theirs else ["synthesizer bytes differ from encode_frames"]


# ---------------------------------------------------------------------------
# The round
# ---------------------------------------------------------------------------

class Round:
    """Issues the operations and keeps the tallies."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.errors: list[str] = []
        self.ops: dict[str, list[float]] = {}

    def op(self, name: str, fn, check=None):
        """Run one operation under a top-level span; ``check`` runs on its
        result after the span closed. Returns the result, or None if the
        operation raised or failed its check."""
        self.attempted += 1
        try:
            with self.tracer.span(name, op=self.attempted) as s:
                out = fn()
            self.ops.setdefault(name, []).append(s.seconds)
            errs = check(out) if check else []
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            errs = [f"{type(e).__name__}: {e}"]
        return None if self.failed(name, errs) else out

    def failed(self, name: str, errs: list[str]) -> bool:
        if errs:
            self.errors.append(f"{name}: {'; '.join(errs)}")
        return bool(errs)


def measure(spark, tracer, inp: Inputs, traced: bool) -> dict:
    from pyspark.sql import functions as F

    from project_etl_spark.decode import build_hits
    from project_etl_spark.pipelines import (load_or_calibrate,
                                             process_run_directory, run_stats)
    from project_etl_spark.streaming.watchdog import start_watchdog

    rd = Round(tracer)
    rd.attempted += 1
    rd.failed("synth.wire_format", check_wire_format(inp.sample))
    hits_dirs = {r: os.path.join(inp.work, f"hits-{r}") for r in inp.run_dirs}
    cal_dir = os.path.join(inp.work, "thresholds")

    def hits():
        # one parquet table per landed run, each partitioned by (run, rb)
        parts = [spark.read.parquet(p) for p in hits_dirs.values()]
        return (functools.reduce(lambda a, b: a.unionByName(b), parts)
                .withColumn("etroc", F.lit(0)))

    for r, landed in inp.run_dirs.items():
        rd.op("pipelines.process_run_directory",
              lambda: process_run_directory(spark, landed, hits_dirs[r]))
    rd.op("pipelines.load_or_calibrate",
          lambda: load_or_calibrate(spark, hits(), cal_dir, reuse=False),
          lambda cal: check_calibration(cal.collect(), inp.truth))
    stats = rd.op("pipelines.run_stats", lambda: run_stats(hits()).collect(),
                  lambda rows: check_run_stats(rows, inp.truth))
    calib_ready = sum(sum(rd.ops.get(k, [0.0])) for k in (
        "pipelines.process_run_directory", "pipelines.load_or_calibrate",
        "pipelines.run_stats"))

    def lookup(k: int):
        frames = (spark.read.format("etl_runfiles").option("path", inp.corpus)
                  .option("pushdown", "true").load().where(F.col("run") == k))
        with tracer.span("decode.build_hits"):
            h = build_hits(frames)
        with tracer.span("pipelines.run_stats"):
            return run_stats(h).collect()

    for k in inp.lookup_runs:
        rd.op("pyds.lookup", lambda: lookup(k),
              lambda rows: check_run_stats(rows, [t for t in inp.truth
                                                  if t.run == k]))

    wd_out = os.path.join(inp.work, "watchdog-out")
    progress = []

    def drain():
        q = start_watchdog(spark, inp.landing, wd_out,
                           os.path.join(inp.work, "watchdog-ckpt"),
                           available_now=True)
        tracer.attach_group(str(q.runId))
        harness.await_query(q)
        progress.extend(q.recentProgress)

    rd.op("streaming.watchdog", drain, lambda _: check_frames(
        spark.read.parquet(wd_out).groupBy("run", "rb").count().collect(),
        inp.wd_truth))

    per_run = (rd.ops.get("pipelines.process_run_directory", [])
               + rd.ops.get("pyds.lookup", []))
    summary = {"op_p50_s": harness.median(per_run),
               "round_s": sum(len(v) * harness.median(v)
                              for v in rd.ops.values())}
    layer = {}
    if traced:
        layer = layer_metrics(spark, rd, inp, calib_ready, progress, stats)
    return {"summary": summary, "layer": layer, "attempted": rd.attempted,
            "errors": rd.errors}


def layer_metrics(spark, rd: Round, inp: Inputs, calib_ready: float,
                  progress: list, stats) -> dict:
    from project_etl_spark.decode import blob_to_frames_pdf, build_hits, decode_run_files

    tr = rd.tracer
    lookups = [s for s in tr.named("pyds.lookup") if s.parent is None]
    out = {
        "pipelines.process_run_directory_s": harness.median(
            rd.ops.get("pipelines.process_run_directory", [])),
        "pipelines.calibrate_s": harness.median(
            rd.ops.get("pipelines.load_or_calibrate", [])),
        "pipelines.run_stats_s": harness.median(rd.ops.get("pipelines.run_stats", [])),
        "pipelines.calib_ready_s": calib_ready,
        "pipelines.parquet_bytes_written": sum(
            harness.dir_bytes(os.path.join(inp.work, f"hits-{r}"))
            for r in inp.run_dirs),
        "pyds.lookup_s": harness.median(rd.ops.get("pyds.lookup", [])),
        "watchdog.drain_s": harness.median(rd.ops.get("streaming.watchdog", [])),
    }
    if out["pipelines.process_run_directory_s"]:
        out["pipelines.convert_mb_per_s"] = (
            inp.corpus_mb / len(inp.run_dirs)
            / out["pipelines.process_run_directory_s"])
    files = [tr.first_stage_tasks(s) for s in lookups]
    out["pyds.files_read"] = harness.median(files)
    out["pyds.pruning_ratio"] = out["pyds.files_read"] / len(inp.truth)

    batches = [p for p in progress if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in batches]
    out.update({
        "watchdog.batches": len(batches),
        "watchdog.files_per_batch": len(inp.wd_truth) / max(1, len(batches)),
        "watchdog.trigger_s": harness.median(
            [d.get("triggerExecution", 0) / 1e3 for d in dur]),
        "watchdog.add_batch_s": harness.median(
            [d.get("addBatch", 0) / 1e3 for d in dur]),
        "watchdog.planning_s": harness.median(
            [d.get("queryPlanning", 0) / 1e3 for d in dur]),
        "watchdog.commit_s": harness.median(
            [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
             for d in dur]),
    })

    # Diagnostics outside the round: the decode scan alone, then decode plus
    # event build, then the kernel in this process. The scan counts its
    # frames; decode plus event build writes to noop, so that the optimizer
    # keeps the event-building window.
    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    n_frames = sum(t.frames for t in inp.truth)
    frames = rd.op("decode.scan", lambda: decode_run_files(spark, inp.corpus).count(),
                   lambda n: [] if n == n_frames else [f"{n} frames != {n_frames}"])
    rd.op("decode.scan_build_hits",
          lambda: noop(build_hits(decode_run_files(spark, inp.corpus))))
    scan = rd.ops.get("decode.scan", [0.0])[0]
    both = tr.named("decode.scan_build_hits")
    counters = tr.inclusive(both[0]) if both else {}
    first = os.path.join(inp.corpus, synth.run_file_name(inp.truth[0].run,
                                                         inp.truth[0].rb))
    with open(first, "rb") as fh:
        blob = fh.read()
    kernel = []
    for _ in range(3):
        t = time.perf_counter()
        blob_to_frames_pdf(first, blob)
        kernel.append(time.perf_counter() - t)
    out.update({
        "decode.kernel_mb_per_s": len(blob) / 1e6 / harness.median(kernel),
        "decode.scan_s": scan,
        "decode.build_hits_s": rd.ops.get("decode.scan_build_hits", [scan])[0] - scan,
        "decode.shuffle_write_bytes": counters.get("shuffle_write_bytes", 0),
        # correctness figures: the engine's counts, checked against the truth
        "decode.frames": frames or 0,
        "decode.hits": sum(r["n_hits"] for r in stats or []),
    })
    round_spans = [s for s in tr.spans if s.parent is None
                   and not s.name.startswith("decode.")]
    totals = dict.fromkeys(harness.COUNTER_KEYS, 0)
    for s in round_spans:
        for k, v in tr.inclusive(s).items():
            totals[k] += v
    out.update({"daq.jobs": totals["jobs"], "daq.tasks": totals["tasks"],
                "daq.executor_run_s": totals["executor_run_s"]})
    return out
