"""Seeded run-file synthesizer for the DAQ workloads.

Writes the 40-bit wire format of ``project_etl_spark.decode`` with numpy
alone, and derives the engine's expected outputs from the construction
itself rather than by re-running the engine's logic:

- every elink carries its own stream of events, each a header followed by
  its hits, so the hits of an event and its id are known when it is made;
- the elink streams are interleaved at random slots, with filler frames
  dropped in between, which is what event building has to undo;
- the file ends with one trailer frame.

A hit that lands on an elink before that elink's first header has no event
(``build_hits`` gives it a null ``event_id``); it still counts as a hit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

FRAME_BYTES = 5
N_ELINKS = 4
FILLER_SHARE = 0.10
HEADER_SHARE = 1 / 8      # of the non-filler frames: a header every ~8 frames
KIND_FILLER, KIND_HEADER, KIND_DATA, KIND_TRAILER = 0, 1, 2, 3
N_PIXELS = 256            # 16 x 16 per chip


@dataclass
class FileTruth:
    """What the engine must report for one (run, rb) file."""
    run: int
    rb: int
    n_bytes: int
    frames: int           # non-filler frames (decode drops filler)
    hits: int
    events: int           # distinct event ids that own at least one hit
    pixel_hits: np.ndarray       # int64[256], index row * 16 + col
    pixel_toa_sum: np.ndarray    # int64[256]


def synth_words(rng: np.random.Generator, n_frames: int,
                event_base: int) -> tuple[np.ndarray, dict]:
    """One file's frames as 40-bit words, plus its expected counts.

    Event ids are ``event_base + k`` for the k-th header of the file, so
    they are unique within a file whichever elink carries them.
    """
    body = n_frames - 1
    is_filler = rng.random(body) < FILLER_SHARE
    slots = np.flatnonzero(~is_filler)
    elink_of_slot = rng.integers(0, N_ELINKS, size=len(slots))

    kind = np.full(n_frames, KIND_FILLER, dtype=np.int64)
    kind[-1] = KIND_TRAILER
    elink = rng.integers(0, N_ELINKS, size=n_frames).astype(np.int64)
    payload = np.zeros(n_frames, dtype=np.int64)
    events = 0
    header_seen = 0
    for e in range(N_ELINKS):
        pos = slots[elink_of_slot == e]           # this elink's frames, in order
        is_header = rng.random(len(pos)) < HEADER_SHARE
        elink[pos] = e
        kind[pos] = np.where(is_header, KIND_HEADER, KIND_DATA)
        # hits owned by each header = data frames before the next header
        h = np.flatnonzero(is_header)
        owned = np.diff(np.append(h, len(pos))) - 1
        events += int(np.count_nonzero(owned))
        payload[pos[h]] = event_base + header_seen + np.arange(len(h))
        header_seen += len(h)
    data = kind == KIND_DATA
    n_data = int(np.count_nonzero(data))
    row = rng.integers(0, 16, size=n_data)
    col = rng.integers(0, 16, size=n_data)
    toa = np.clip(np.rint(rng.normal(200.0, 25.0, size=n_data)), 0, 1023
                  ).astype(np.int64)
    tot = rng.integers(40, 120, size=n_data)
    payload[data] = row << 28 | col << 24 | toa << 14 | tot << 5
    words = kind << 38 | elink << 32 | (payload & 0xFFFFFFFF)
    pixel = row * 16 + col
    truth = {
        "frames": n_frames - int(np.count_nonzero(is_filler)),
        "hits": n_data,
        "events": events,
        "pixel_hits": np.bincount(pixel, minlength=N_PIXELS),
        "pixel_toa_sum": np.bincount(pixel, weights=toa,
                                     minlength=N_PIXELS).astype(np.int64),
    }
    return words.astype(np.uint64), truth


def words_to_bytes(words: np.ndarray) -> bytes:
    """Big-endian 5-byte packing of 40-bit words."""
    shifts = np.arange(FRAME_BYTES - 1, -1, -1, dtype=np.uint64) * np.uint64(8)
    return ((words[:, None] >> shifts) & np.uint64(0xFF)).astype(np.uint8).tobytes()


def words_to_frame_dicts(words: np.ndarray) -> list[dict]:
    """The frame dicts ``decode.encode_frames`` takes, for a round-trip check
    of a small sample against the engine's own encoder."""
    names = {KIND_FILLER: "filler", KIND_HEADER: "header",
             KIND_DATA: "data", KIND_TRAILER: "trailer"}
    out = []
    for w in (int(x) for x in words):
        k = (w >> 38) & 0x3
        f = {"kind": names[k], "elink": (w >> 32) & 0x3F}
        if k == KIND_HEADER:
            f["event_id"] = w & 0xFFFFFFFF
        elif k == KIND_DATA:
            f.update(row=(w >> 28) & 0xF, col=(w >> 24) & 0xF,
                     toa=(w >> 14) & 0x3FF, tot=(w >> 5) & 0x1FF)
        out.append(f)
    return out


def run_file_name(run: int, rb: int) -> str:
    return f"output_run_{run}_rb{rb}.dat"


def write_corpus(directory: str, seed, n_runs: int, file_bytes: int,
                 first_run: int = 1) -> tuple[list[FileTruth], np.ndarray]:
    """Write ``n_runs`` runs of two readout boards each, one run file of
    ``file_bytes`` per (run, rb). ``seed`` is anything numpy takes as one.

    Returns the per-file truth and a short sample of the first file's words
    for the wire-format round trip.
    """
    rng = np.random.default_rng(seed)
    n_frames = file_bytes // FRAME_BYTES
    os.makedirs(directory, exist_ok=True)
    truths, sample = [], None
    for run in range(first_run, first_run + n_runs):
        for rb in (0, 1):
            base = int(rng.integers(0, 1 << 24))
            words, t = synth_words(rng, n_frames, base)
            if sample is None:
                sample = words[:256].copy()
            blob = words_to_bytes(words)
            with open(os.path.join(directory, run_file_name(run, rb)), "wb") as fh:
                fh.write(blob)
            truths.append(FileTruth(run=run, rb=rb, n_bytes=len(blob), **t))
    return truths, sample
