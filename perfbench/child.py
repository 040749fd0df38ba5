"""One benchmark process: build the engine's Spark session, run one
workload as a closed loop with one client, check every batch's outputs,
and write the figures to a JSON file.

``run.py`` starts this file in a fresh process, polls its memory from
outside, and turns the figures into the benchmark's result line.  With
``--trace 1`` each iteration runs one untraced batch, the same batch
inside a span, and then each layer alone inside its own span.  With
``--setup-only`` it stops once ready for the first batch, which is how
``run.py`` times several set-ups in one run.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import sys
import time
from argparse import Namespace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from drivel_spark import job
from drivel_spark.checkpoint import CheckpointStore, resumable_profile
from drivel_spark.config import build_session
from drivel_spark.constraints import Referential, Unique, validate
from drivel_spark.constraints.audio import snr_row_source
from drivel_spark.produce.generator import produce_from_profile
from drivel_spark.profiling import profile
from drivel_spark.profiling.accumulator import ProfilerOptions, TableAccumulator
from drivel_spark.profiling.profiler import TableProfile

from gen import profiled_columns
from spans import Tracer

# pass/fail digests and produced-row hash at seed 42 on the tables gen.py
# writes; any other seed is checked against its own first batch
SEED42 = {
    "audio_validate": {"digest": "130f57db0de9f88a"},
    "write_path": {"digest": "09e955a7b0c15cd3", "produce_hash": 6150839285546159780},
}
PRODUCE_ROWS = 5000
# batches a process runs before the --seconds clock starts: the cold
# first one and one more while the JVM is still compiling the batch's
# plans (on write_path the second batch is still 10-20% slower than
# the third)
WARMUP_BATCHES = 2
N_SCOPES = 64
NARROW = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def validate_args(**kw) -> Namespace:
    """The ``job.py validate`` arguments that ``cmd_validate`` reads
    without a default."""
    args = dict(
        data=None, baseline=None, checkpoint=None, run_id="perfbench",
        check_audio=False, n_scopes=N_SCOPES, report=None,
    )
    args.update(kw)
    return Namespace(**args)


class Workload:
    name = ""

    def __init__(self, spark, data: str, work: str, seed: int):
        self.spark, self.data, self.work, self.seed = spark, data, work, seed
        with open(os.path.join(data, "meta.json")) as fh:
            self.meta = json.load(fh)
        with open(os.path.join(data, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.ref: dict = {}
        self.errors: list[str] = []

    def same(self, key: str, value) -> None:
        """The first batch of a run fixes ``key``; later batches must match
        it, and at seed 42 it must match the pinned value."""
        pinned = SEED42[self.name].get(key) if self.seed == 42 else None
        if pinned is not None and value != pinned:
            self.errors.append(f"{key} {value} != seed-42 value {pinned}")
        first = self.ref.setdefault(key, value)
        if value != first:
            self.errors.append(f"{key} {value} != first batch {first}")

    def check_validate(self, r: dict) -> None:
        exp = self.expected
        self.same("digest", r["passfail_digest"])
        if r["n_rows"] != self.meta["n_rows"]:
            self.errors.append(f"n_rows {r['n_rows']}")
        want = exp["row_violations"]["_rows_any_violation"]
        if r["n_violation_rows"] != want:
            self.errors.append(f"violation rows {r['n_violation_rows']} != {want}")
        got = {d["constraint"]: d["n_violations"] for d in r["dataset_checks"]}
        for name in ("clip_id_unique", "clip_has_transcript"):
            if got.get(name) != exp[name]:
                self.errors.append(f"{name} {got.get(name)} != {exp[name]}")

    def run_batch(self, i: int) -> dict:
        """One timed batch, then its output checks; returns its figures."""
        self.spark.catalog.clearCache()
        n_err = len(self.errors)
        t0 = time.perf_counter()
        out = self.batch(i)
        out["wall_s"] = time.perf_counter() - t0
        try:
            self.check(out)
        except Exception as exc:  # a check that cannot run fails the batch
            self.errors.append(f"check raised {exc!r}")
        out["ok"] = len(self.errors) == n_err
        return out

    # -- traced-run helpers --------------------------------------------
    def clips(self):
        return self.spark.read.parquet(os.path.join(self.data, "clips"))

    def scope(self):
        return F.pmod(F.xxhash64(F.col("clip_id")), F.lit(N_SCOPES)).cast("long")

    def trace_shared(self, tr: Tracer, i: int) -> tuple[dict, object]:
        """Spans for the layers both workloads use: the plain profile and
        the three validate jobs, each alone.  Returns the metrics and the
        profile."""
        clips = self.clips()
        m: dict = {}
        with tr.span("profiling.profile", i) as s:
            prof = profile(clips, columns=job.PROFILE_COLUMNS)
        m.update({
            "profiling.profile_s": s["wall_s"], "profiling.cpu_s": s["cpu_s"],
            "profiling.tasks": s["tasks"], "profiling.task_skew": s["task_skew"],
            "profiling.shuffle_mb": s["shuffle_mb"],
        })

        row_cs = [c for c in job._constraints(self.meta, None) if c.is_row_level]
        trans = self.spark.read.parquet(os.path.join(self.data, "transcripts"))
        suites = {
            "validate.flags": (clips.select(*NARROW), row_cs, {}),
            "validate.unique": (clips, [Unique("clip_id_unique", "clip_id")], {}),
            "validate.referential": (
                clips,
                [Referential("clip_has_transcript", "clip_id", "transcripts", "clip_id")],
                {"transcripts": trans},
            ),
        }
        spill = 0.0
        for name, (df, cs, refs) in suites.items():
            with tr.span(name, i) as s:
                res = validate(df, cs, scope=self.scope(), ref_tables=refs,
                               keep_columns=["clip_id", "sr_hz", "dur_ms", "codec"])
                res.passfail_pdf()
            m[f"{name}_s"] = s["wall_s"]
            spill += s["spill_mb"]
            if name == "validate.flags":
                self.flags_result = res
            else:
                m[f"{name}_shuffle_mb"] = s["shuffle_mb"]
        m["validate.spill_mb"] = spill
        return m, prof


class AudioValidate(Workload):
    name = "audio_validate"

    def setup(self) -> None:
        pass

    def batch(self, i: int) -> dict:
        r = job.cmd_validate(validate_args(data=self.data, check_audio=True))
        return {"validate": r}

    def check(self, out: dict) -> None:
        self.check_validate(out["validate"])

    def trace(self, tr: Tracer, i: int, untraced_s: float) -> dict:
        self.spark.catalog.clearCache()
        with tr.span("batch", i) as b:
            out = self.batch(i)
        self.check(out)
        m = {"validate.persisted_left": tr.persisted_rdds()}
        self.spark.catalog.clearCache()
        clips_dir = os.path.join(self.data, "clips")
        with tr.span("audio.decode", i) as d:
            snr_row_source(self.spark, clips_dir, self.meta["n_rows"], seed=self.seed) \
                .write.format("noop").mode("overwrite").save()
        m.update({
            "audio.decode_s": d["wall_s"], "audio.cpu_s": d["cpu_s"],
            "audio.task_skew": d["task_skew"],
            "audio.clips_per_cpu_s": self.meta["n_rows"] / d["cpu_s"],
        })
        shared, prof = self.trace_shared(tr, i)
        m.update(shared)
        # the Spark driver merges one accumulator per partition; a file is one here
        m.update(merge_metrics([prof.acc.to_bytes()] * self.meta["partitions"]))
        self.spark.catalog.clearCache()
        layers = ["audio.decode_s", "profiling.profile_s", "validate.flags_s",
                  "validate.unique_s", "validate.referential_s"]
        m["validate.overlap_s"] = sum(m[k] for k in layers) - b["wall_s"]
        m.update(batch_counts(b, untraced_s))
        return m


class WritePath(Workload):
    name = "write_path"

    def setup(self) -> None:
        """Load the baseline profile gen.py wrote beside the table."""
        self.baseline_path = os.path.join(self.data, "baseline.pkl")
        with open(self.baseline_path, "rb") as fh:
            self.baseline = pickle.load(fh)

    def paths(self) -> dict:
        d = os.path.join(self.work, "write_path")
        return {k: os.path.join(d, k) for k in ("store", "report", "quarantine", "clean", "produced")}

    def call_validate(self, p: dict) -> dict:
        return job.cmd_validate(validate_args(
            data=self.data, baseline=self.baseline_path, checkpoint=p["store"],
            report=p["report"], quarantine_out=p["quarantine"], clean_out=p["clean"],
        ))

    def call_produce(self, p: dict) -> None:
        produce_from_profile(self.spark, self.baseline, PRODUCE_ROWS, seed=self.seed) \
            .write.mode("overwrite").parquet(p["produced"])

    def batch(self, i: int, tr: Tracer | None = None) -> dict:
        p = self.paths()
        shutil.rmtree(p["store"], ignore_errors=True)
        calls = [("write.validate", lambda: self.call_validate(p)),
                 ("write.resume", lambda: self.call_validate(p)),
                 ("produce", lambda: self.call_produce(p))]
        out: dict = {"paths": p, "spans": {}}
        for name, fn in calls:
            t0 = time.perf_counter()
            if tr is None:
                out[name] = fn()
            else:
                with tr.span(name, i, parent=f"batch-{i}") as s:
                    out[name] = fn()
                out["spans"][name] = s
            out[f"{name}_s"] = time.perf_counter() - t0
        return out

    def check(self, out: dict) -> None:
        a, b = out["write.validate"], out["write.resume"]
        self.check_validate(a)
        self.check_validate(b)
        n_units = self.meta["partitions"]
        if a["resume"]["n_recomputed"] != n_units:
            self.errors.append(f"fresh store recomputed {a['resume']}")
        if b["resume"]["n_recomputed"] != 0 or b["resume"]["n_restored"] != n_units:
            self.errors.append(f"resume recomputed {b['resume']}")
        exp = self.expected
        if a["enforce"]["n_quarantined"] != exp["row_violations"]["_rows_any_violation"]:
            self.errors.append(f"quarantined {a['enforce']['n_quarantined']}")
        if a["enforce"]["n_clean"] != exp["clean_rows"]:
            self.errors.append(f"clean {a['enforce']['n_clean']} != {exp['clean_rows']}")
        # the written outputs are read back with pyarrow, not Spark, so
        # that checking a batch adds no Spark work to the run
        pf = pq.read_table(os.path.join(out["paths"]["report"], "passfail")).to_pandas()
        totals = pf.groupby("constraint")["n_violations"].sum()
        for name, want in exp["row_violations"].items():
            if totals.get(name) != want:
                self.errors.append(f"report {name} {totals.get(name)} != {want}")
        self.check_produced(out["paths"]["produced"])

    def check_produced(self, path: str) -> None:
        table = pq.read_table(path)
        rows = table.to_pandas()
        if len(rows) != PRODUCE_ROWS:
            self.errors.append(f"produced {len(rows)} rows, asked {PRODUCE_ROWS}")
        # XOR of per-row hashes: independent of file and row order
        row_hash = np.bitwise_xor.reduce(pd.util.hash_pandas_object(rows, index=False).to_numpy())
        self.same("produce_hash", int(row_hash.astype(np.int64)))
        # re-profile with the engine's accumulator, as profile() would
        acc = TableAccumulator(profiled_columns(table.schema), ProfilerOptions())
        acc.update(rows)
        prof2 = TableProfile(acc, acc.opts)
        src, out = _nodes(self.baseline), _nodes(prof2)
        for c in prof2.columns():
            a, b = self.baseline.column(c), prof2.column(c)
            lo, hi = getattr(a, "min_v", None), getattr(a, "max_v", None)
            if lo is not None and not (lo <= b.min_v and b.max_v <= hi):
                self.errors.append(f"produced {c} [{b.min_v}, {b.max_v}] outside [{lo}, {hi}]")
            if src[c].str_type == "enum" and not (
                out[c].str_type == "enum" and out[c].variants <= src[c].variants
            ):
                self.errors.append(f"produced {c} variants leave the source enum")

    def trace(self, tr: Tracer, i: int, untraced_s: float) -> dict:
        self.spark.catalog.clearCache()
        out = self.batch(i, tr)
        self.check(out)
        sp, p = out["spans"], out["paths"]
        m = {"validate.persisted_left": tr.persisted_rdds()}
        written = du_mb(p["report"]) + du_mb(p["quarantine"]) + du_mb(p["clean"])
        m.update({
            "checkpoint.resume_call_s": out["write.resume_s"],
            "checkpoint.units_recomputed": out["write.resume"]["resume"]["n_recomputed"],
            "checkpoint.units_restored": out["write.resume"]["resume"]["n_restored"],
            "checkpoint.store_mb": du_mb(p["store"]),
            "io.enforce_s": out["write.validate"]["enforce"]["enforce_wall_s"],
            "io.written_mb": written,
            "produce.gen_write_s": sp["produce"]["wall_s"],
            "produce.cpu_s": sp["produce"]["cpu_s"],
            "produce.written_mb": du_mb(p["produced"]),
        })
        self.spark.catalog.clearCache()

        store_dir = os.path.join(self.work, "write_path", "trace_store")
        shutil.rmtree(store_dir, ignore_errors=True)
        store = CheckpointStore(store_dir)
        clips_dir = os.path.join(self.data, "clips")
        for name in ("checkpoint.profile_commit", "checkpoint.profile_resume"):
            with tr.span(name, i) as s:
                _, stats = resumable_profile(self.spark, clips_dir, store, run_id="trace",
                                             columns=job.PROFILE_COLUMNS)
            m[f"{name}_s"] = s["wall_s"]
        t0 = time.perf_counter()
        rows = store.committed("trace", stats["snapshot"])
        m["checkpoint.read_s"] = time.perf_counter() - t0
        copy = CheckpointStore(store_dir + "_copy")
        t0 = time.perf_counter()
        copy.append(rows.to_dict("records"))
        m["checkpoint.append_s"] = time.perf_counter() - t0
        shutil.rmtree(store_dir + "_copy", ignore_errors=True)

        m.update(self.trace_shared(tr, i)[0])
        # the per-file accumulators in the store are what the Spark driver
        # merges on the resumable path
        m.update(merge_metrics(list(rows["acc"])))

        res = self.flags_result
        rep = os.path.join(self.work, "write_path", "trace_report")
        with tr.span("io.report_write", i) as s:
            res.passfail.coalesce(1).write.mode("overwrite").parquet(f"{rep}/passfail")
            res.violations.write.mode("overwrite").parquet(f"{rep}/violations")
        m["io.report_write_s"] = s["wall_s"]
        self.spark.catalog.clearCache()

        batch = {k: sum(s[k] for s in sp.values())
                 for k in ("wall_s", "unattributed_cpu_s", "jobs", "stages", "tasks")}
        # (a) and (b) each run the validate jobs and the writes; (a)
        # commits the per-file profile, (b) restores it; (c) produces
        per_call = ["validate.flags_s", "validate.unique_s", "validate.referential_s",
                    "io.report_write_s", "io.enforce_s"]
        layers = [*per_call, *per_call, "checkpoint.profile_commit_s",
                  "checkpoint.profile_resume_s", "produce.gen_write_s"]
        m["validate.overlap_s"] = sum(m[k] for k in layers) - batch["wall_s"]
        m.update(batch_counts(batch, untraced_s))
        return m


def merge_metrics(blobs: list[bytes]) -> dict:
    """Time the Spark-driver-side fold: deserialize each accumulator and merge."""
    t0 = time.perf_counter()
    acc = TableAccumulator.from_bytes(blobs[0])
    for blob in blobs[1:]:
        acc = acc.merge(TableAccumulator.from_bytes(blob))
    return {
        "sketches.merge_s": time.perf_counter() - t0,
        "sketches.acc_kb": statistics.mean(len(b) for b in blobs) / 1024,
    }


def _nodes(prof) -> dict:
    node = prof.to_schema_node()
    return {**node.optional, **node.required}


def batch_counts(b: dict, untraced_s: float) -> dict:
    return {
        "job.spark_jobs": b["jobs"], "job.spark_stages": b["stages"],
        "job.spark_tasks": b["tasks"],
        "job.unattributed_cpu_s": b["unattributed_cpu_s"],
        "trace.overhead": b["wall_s"] / untraced_s,
    }


WORKLOADS = {w.name: w for w in (AudioValidate, WritePath)}


def finish(result: dict, path: str) -> None:
    """Write the figures and end the process at once.  run.py then kills
    the JVM and its Python workers and waits for them; a clean Spark
    shutdown would only add a second to every process a run starts."""
    with open(path, "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true",
                    help="stop once ready for the first batch")
    args = ap.parse_args()

    spark = build_session("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's files inside the checkout: no /tmp/hsperfdata_*.
        # A fixed initial heap: left to grow on its own, the heap ends up
        # between 2 and 3 GB depending on GC timing, and batches in the
        # smaller heaps run up to a third slower
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms3g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    # untraced runs keep the engine's warm-up off (DRIVEL_WARMUP=0, set by
    # run.py), so the first batch pays what a one-shot spark-submit pays;
    # the traced run warms up so that it can time the warm-up
    t0 = time.perf_counter()
    job._warm_session(spark)
    warm_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.data, args.work, args.seed)
    wl.setup()
    result = {"ready": time.time(), "warm_s": warm_s, "n_rows": wl.meta["n_rows"],
              "warmup": WARMUP_BATCHES, "batches": [], "calls": [], "ok": [],
              "layers": []}
    if args.setup_only:
        finish(result, args.out)

    # the --seconds clock starts after the warm-up batches, so --seconds
    # sets how many steady batches follow (at least one).  A traced run
    # times its spans on the steady batches only, so that the untraced
    # batch it compares against is warm too.
    tr = Tracer(spark) if args.trace else None
    t_start = 0.0
    i = 0
    while True:
        out = wl.run_batch(i)
        result["batches"].append(out["wall_s"])
        result["calls"].append({k: v for k, v in out.items()
                                if k.endswith("_s") and k != "wall_s"})
        result["ok"].append(out["ok"])
        if tr is not None and i >= WARMUP_BATCHES:
            n_err = len(wl.errors)
            try:
                result["layers"].append(wl.trace(tr, i, out["wall_s"]))
            except Exception as exc:  # a failed traced pass fails its batch
                wl.errors.append(f"traced pass raised {exc!r}")
            if len(wl.errors) != n_err:
                result["ok"][-1] = False
        i += 1
        if i == WARMUP_BATCHES:
            t_start = time.perf_counter()
        elif i > WARMUP_BATCHES and time.perf_counter() - t_start >= args.seconds:
            break
    result["errors"] = wl.errors
    result["digest"] = wl.ref.get("digest")
    result["produce_hash"] = wl.ref.get("produce_hash")
    if tr is not None:
        tr.dump(os.path.join(args.work, f"spans-{args.workload}-seed{args.seed}.json"))
    finish(result, args.out)


if __name__ == "__main__":
    main()
