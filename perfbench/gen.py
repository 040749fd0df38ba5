"""Seeded input tables for the benchmark, plus the counts a correct
validate run must report on them.

The rows come from the engine's own pandas generators
(``drivel_spark.fixtures.clips_pdf`` / ``transcripts_pdf``), the same
functions ``job.py prepare`` runs inside Spark, so a table written here
holds exactly the rows ``prepare`` would write for the same seed.  The
files are written with pyarrow from a small pool of forked processes,
which keeps table generation out of the Spark processes whose set-up is
measured.

The expected counts are computed here from the generated pandas frames,
without Spark: one total per row-level constraint (the SNR one by
decoding each payload with the engine's decoder), the duplicate rows
beyond the first per ``clip_id`` and the clips without a transcript.

The baseline profile (``baseline.pkl``) is built here too, without
Spark, from the engine's own accumulator: one ``TableAccumulator`` per
file over the columns the ``job.py baseline`` verb profiles, merged in
file order.  Its exact fields equal what that verb computes; its bounded
sketches differ, as they do between any two partitionings.  Building it
here means every engine process the benchmark measures starts from the
same state, whether or not its seed's table is new.
"""

from __future__ import annotations

import json
import os
import pickle
import re
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pyarrow as pa

# (rows, files, with audio): sized so that one batch takes seconds and
# a run holds several batches after the engine's fixed set-up cost
TABLES = {
    "audio": (2000, 16, True),
    "tab": (10000, 5, False),
}

# Spark's type names for the Arrow types these tables and the engine's
# produced tables hold
SPARK_TYPES = {pa.string(): "string", pa.int32(): "int", pa.int64(): "bigint",
               pa.float64(): "double", pa.bool_(): "boolean"}

UUID_RE = re.compile(r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")


def profiled_columns(schema: pa.Schema) -> list[tuple[str, str]]:
    """(name, Spark type name) of the columns ``job.py baseline``
    profiles by default: every column that is not binary."""
    return [(f.name, SPARK_TYPES[f.type]) for f in schema if f.type != pa.binary()]


def _schemas():
    clips = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ])
    transcripts = pa.schema([
        ("clip_id", pa.string()), ("transcript", pa.string()), ("lang", pa.string()),
    ])
    return clips, transcripts


def _write_part(out: str, seed: int, lo: int, hi: int, part: int,
                with_audio: bool, canon: dict | None) -> dict:
    """Write clips/transcripts rows [lo, hi) as one file each and return
    this slice's expected violation counts, keys and profile accumulator."""
    import pyarrow.parquet as pq

    from drivel_spark.fixtures import (
        CODEC_ENUM, SR_VALUES, ClipFixtureSpec, clips_pdf, transcripts_pdf,
    )
    from drivel_spark.profiling.accumulator import ProfilerOptions, TableAccumulator
    from drivel_spark.produce.audio import snr_vs_synth, wav_decode

    spec = ClipFixtureSpec(seed=seed, with_audio=with_audio)
    ids = np.arange(lo, hi, dtype=np.int64)
    clips = clips_pdf(ids, spec)
    trans = transcripts_pdf(ids, spec)
    clips_schema, trans_schema = _schemas()
    if not with_audio:
        clips_schema = clips_schema.remove(clips_schema.get_field_index("bytes"))
    name = f"part-{part:05d}.parquet"
    clips_table = pa.Table.from_pandas(clips[clips_schema.names], clips_schema,
                                       preserve_index=False)
    pq.write_table(clips_table, os.path.join(out, "clips", name))
    # the rows as the profiler's Arrow batches hand them over
    cols = profiled_columns(clips_table.schema)
    acc = TableAccumulator(cols, ProfilerOptions())
    acc.update(clips_table.select([c for c, _ in cols]).to_pandas())
    pq.write_table(
        pa.Table.from_pandas(trans[trans_schema.names], trans_schema, preserve_index=False),
        os.path.join(out, "transcripts", name),
    )

    fails = {
        "sr_enum": ~clips["sr_hz"].isin(SR_VALUES.tolist()),
        "dur_range": (clips["dur_ms"] < 200) | (clips["dur_ms"] > 30000),
        "codec_enum": ~clips["codec"].isin(sorted(CODEC_ENUM)),
        "transcript_not_null": clips["transcript"].isna(),
        "clip_id_uuid": ~clips["clip_id"].map(lambda s: bool(UUID_RE.match(s))),
    }
    if with_audio:
        snr_bad = np.zeros(len(clips), dtype=bool)
        for k, (cid, b, sr, dur) in enumerate(zip(
            clips["clip_id"], clips["bytes"], clips["sr_hz"], clips["dur_ms"]
        )):
            try:
                decoded, _ = wav_decode(b)
            except ValueError:
                snr_bad[k] = True
                continue
            snr = snr_vs_synth(
                decoded, canon[cid], int(np.clip(sr, 4000, 48000)),
                int(np.clip(dur, 50, spec.audio_cap_ms)), seed,
            )
            snr_bad[k] = not snr >= 30.0
        fails["audio_snr_30db"] = snr_bad
    any_fail = np.logical_or.reduce([np.asarray(v) for v in fails.values()])
    counts = {k: int(np.asarray(v).sum()) for k, v in fails.items()}
    counts["_rows_any_violation"] = int(any_fail.sum())
    return {
        "counts": counts,
        "clip_ids": clips["clip_id"].tolist(),
        "bad_ids": clips["clip_id"][any_fail].tolist(),
        "transcript_ids": trans["clip_id"].tolist(),
        "acc": acc.to_bytes(),
    }


def ensure_table(root: str, kind: str, seed: int, workers: int = 4) -> tuple[str, float]:
    """Generate the ``kind`` table for ``seed`` under ``root`` unless a
    complete copy is already there; drop other seeds' copies of it.
    Returns (table dir, seconds spent generating)."""
    import time

    n_rows, n_files, with_audio = TABLES[kind]
    out = os.path.join(root, f"{kind}-{n_rows}-seed{seed}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out, 0.0
    t0 = time.perf_counter()
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(f"{kind}-"):
            shutil.rmtree(os.path.join(root, old))
    for sub in ("clips", "transcripts"):
        os.makedirs(os.path.join(out, sub))
    # imported before the workers fork, so that none imports them again
    import pyarrow.parquet  # noqa: F401

    import drivel_spark.produce.audio  # noqa: F401
    from drivel_spark.fixtures import ClipFixtureSpec, clips_pdf
    from drivel_spark.profiling.accumulator import TableAccumulator
    from drivel_spark.profiling.profiler import TableProfile

    canon = None
    if with_audio:
        ids = clips_pdf(
            np.arange(n_rows), ClipFixtureSpec(seed=seed, with_audio=False)
        )["clip_id"]
        canon = {}
        for i, cid in enumerate(ids):
            canon.setdefault(cid, i)  # a repeated id decodes against its first row
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    ctx = get_context("fork")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        futs = [
            pool.submit(_write_part, out, seed, int(bounds[p]), int(bounds[p + 1]),
                        p, with_audio, canon)
            for p in range(n_files)
        ]
        parts = [f.result() for f in futs]

    acc = TableAccumulator.from_bytes(parts[0]["acc"])
    for p in parts[1:]:
        acc = acc.merge(TableAccumulator.from_bytes(p["acc"]))
    with open(os.path.join(out, "baseline.pkl"), "wb") as fh:
        pickle.dump(TableProfile(acc, acc.opts), fh)

    counts: dict[str, int] = {}
    for p in parts:
        for k, v in p["counts"].items():
            counts[k] = counts.get(k, 0) + v
    clip_ids = [c for p in parts for c in p["clip_ids"]]
    trans_ids = {c for p in parts for c in p["transcript_ids"]}
    bad_ids = {c for p in parts for c in p["bad_ids"]}
    expected = {
        "row_violations": counts,
        "clip_id_unique": len(clip_ids) - len(set(clip_ids)),
        "clip_has_transcript": sum(1 for c in clip_ids if c not in trans_ids),
        # enforcement drops every row sharing a clip_id with a failing row
        "clean_rows": sum(1 for c in clip_ids if c not in bad_ids),
    }
    meta = {
        "n_rows": n_rows, "partitions": n_files, "seed": seed,
        "variant": "default", "with_audio": with_audio, "shared_seg_every": 0,
    }
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    # written last: its presence marks the table complete
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return out, time.perf_counter() - t0
