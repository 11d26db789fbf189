#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. The synthesizer's truth agrees with a plain-Python walk of the frames it
   wrote (event carry-forward per elink, the way the reference describes
   event building), and its bytes with ``decode.encode_frames``.
2. ``BENCHMARK.json`` lists exactly the metrics of ``metrics.py``.
3. Every workload runs at a tiny size, untraced and traced, passes its
   output checks, and prints every named metric with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import synth  # noqa: E402
from run import WORKLOADS  # noqa: E402


def check_synth_truth() -> None:
    from project_etl_spark.decode import encode_frames
    with tempfile.TemporaryDirectory() as d:
        truths, sample = synth.write_corpus(d, seed=7, n_runs=2,
                                            file_bytes=20_000)
        assert encode_frames(synth.words_to_frame_dicts(sample)) == \
            synth.words_to_bytes(sample)
        for t in truths:
            with open(os.path.join(d, synth.run_file_name(t.run, t.rb)), "rb") as fh:
                blob = fh.read()
            words = [int.from_bytes(blob[i:i + 5], "big")
                     for i in range(0, len(blob), 5)]
            last_event: dict[int, int] = {}
            events, hits, frames = set(), 0, 0
            for w in words:
                kind, elink = (w >> 38) & 3, (w >> 32) & 0x3F
                frames += kind != synth.KIND_FILLER
                if kind == synth.KIND_HEADER:
                    last_event[elink] = w & 0xFFFFFFFF
                elif kind == synth.KIND_DATA:
                    hits += 1
                    if elink in last_event:
                        events.add(last_event[elink])
            got = (t.frames, t.hits, t.events, int(t.pixel_hits.sum()))
            assert got == (frames, hits, len(events), hits), (got, frames, hits)


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = metrics.benchmark_entries()
    got_e2e = [{k: m[k] for k in ("name", "unit", "better")}
               for m in bench["end_to_end"]]
    assert got_e2e == want["end_to_end"], got_e2e
    assert bench["per_layer"] == want["per_layer"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def check_workload(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    names = metrics.LAYER if trace else metrics.E2E
    assert set(result["metrics"]) == set(names), set(result["metrics"]) ^ set(names)
    for name, spec in names.items():
        m = result["metrics"][name]
        assert m["unit"] == spec[0] and isinstance(m["value"], float), (name, m)
    print(f"ok {workload} trace={trace}: {len(names)} metrics")


def main() -> None:
    check_synth_truth()
    print("ok synthesizer truth")
    check_benchmark_json()
    print("ok BENCHMARK.json")
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_workload(workload, trace)


if __name__ == "__main__":
    main()
