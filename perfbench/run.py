"""Benchmark of the validation job, ``suite.job.ValidationJob``, timed from outside.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload suite_decode --seed 1 --seconds 20 --trace 0

Workloads (both run ``default_suite()`` on a ``local[<cpus>]`` session; every
input derives from ``sources.clips.generate_clips(n_rows=N_CLIPS, seed=<seed>)``):

- ``suite_decode``: ``ValidationJob.run(payload=True, resume=False)`` on the
  generated table as-is, with its catalog and baseline, into a fresh output
  directory. Exercises decode and Arrow transfer plus every suite layer.
- ``incremental_parts``: the continuous-validation loop with
  ``payload=False`` and no reports (``formats=()``). Snapshot 1 is the
  generated table without ``bytes``, deduplicated on ``clip_id`` and re-keyed
  to ``N_PART_KEYS`` hash buckets; snapshot 2 changes one row in
  ``TOUCHED_FRACTION`` of its partitions. Set-up runs a full job on snapshot
  1 (the prior run) and one on snapshot 2 (the correctness oracle); each timed
  ``run_incremental(snap2, snap1)`` starts from a fresh copy of the prior
  run's output directory.

Set-up (fixtures, session start, prior and oracle runs, one warm-up job) is
timed as ``setup_s``. Then ``suite_decode`` times one call, and
``incremental_parts``, whose single calls swing most on a shared host, up to
three: each call after the first runs only if it is predicted to end within
``3 * --seconds`` of the first call's start. Every timed call passes a
correctness gate or counts as failed.

``--trace 1`` adds, after the same timed calls, one call with span recorders
patched into the package (``spans.py``), one more untraced call to compare it
with, and the isolated layer probes (``probes.py``), and prints the per-layer
metrics instead. The spans are written to ``perfbench/.work/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; metric names and units
come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import probes
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_CLIPS = 2000
N_PART_KEYS = 2048
TOUCHED_FRACTION = 0.01
CHANGED_DUR_MS = -7  # never produced by the generator: always a real change

WORKLOADS = ("suite_decode", "incremental_parts")


# ----------------------------------------------------------------------
# result tables, read Spark-free


def _rows(path: str, columns: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def violation_set(path: str) -> set[tuple]:
    """Distinct (clip_id, constraint_id) pairs of a violations table."""
    return set(_rows(path, ["clip_id", "constraint_id"]))


def _num(v):
    return None if v is None else float(f"{v:.9g}")


def verdict_rows(path: str) -> list[tuple]:
    cols = ["part_key", "constraint_id", "n_rows", "n_violations", "passed",
            "metric_value"]
    return sorted(
        (pk, cid, n, nv, ok, _num(mv)) for pk, cid, n, nv, ok, mv in _rows(path, cols)
    )


def violation_rows(path: str) -> list[tuple]:
    return sorted(_rows(path, ["clip_id", "constraint_id", "part_key"]))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def run_dir(out: str, jr) -> str:
    return os.path.join(out, f"run_{jr.manifest.run_id:06d}")


# ----------------------------------------------------------------------
# workloads


class SuiteDecode:
    """default_suite() with payload decode over the generated table."""

    calls = 1

    def __init__(self, spark, data_dir: str, work: str, seed: int):
        from doc_quality_check_spark.sources.clips import (
            load_baseline,
            load_catalog,
            load_clips,
        )

        self.spark, self.work = spark, work
        self.clips = load_clips(spark, data_dir)
        self.catalog = load_catalog(spark, data_dir)
        self.baseline = load_baseline(spark, data_dir)
        self.rows = pq.ParquetFile(
            os.path.join(data_dir, "clips.parquet")).metadata.num_rows
        self.expected = violation_set(
            os.path.join(data_dir, "expected_violations.parquet"))
        self.base_bytes = 0

    def prepare(self) -> None:
        # warm-up: the first job in a fresh session pays JVM start-up, JIT
        # compilation and Python worker start-up, which belong to set-up, not
        # to the timed calls
        self.call(self.fresh_out("warmup"))
        self.spark.catalog.clearCache()

    def fresh_out(self, tag) -> str:
        return os.path.join(self.work, f"out-{tag}")

    def call(self, out: str):
        from doc_quality_check_spark.suite.job import ValidationJob
        from doc_quality_check_spark.suite.spec import default_suite

        return ValidationJob(default_suite(), out).run(
            self.clips, catalog=self.catalog, baseline=self.baseline,
            payload=True, resume=False,
        )

    def correct(self, out: str, jr) -> bool:
        got = violation_set(os.path.join(run_dir(out, jr), "violations"))
        return got == self.expected


def build_snapshots(clips_path: str, snap1: str, snap2: str, seed: int,
                    n_part_keys: int, touched_fraction: float) -> dict:
    """Snapshot 1: the generated rows without ``bytes``, first row per
    clip_id, part_key re-keyed to crc32(clip_id) mod n_part_keys. Snapshot 2:
    snapshot 1 with dur_ms of the first row of a seeded sample of
    partitions set to CHANGED_DUR_MS (a dur_range violation)."""
    schema = pq.read_schema(clips_path)
    t = pq.read_table(clips_path, columns=[n for n in schema.names if n != "bytes"])
    first: dict[str, int] = {}
    for i, cid in enumerate(t.column("clip_id").to_pylist()):
        first.setdefault(cid, i)
    t = t.take(sorted(first.values()))
    keys = [f"p{zlib.crc32(c.encode()) % n_part_keys:05d}"
            for c in t.column("clip_id").to_pylist()]
    t = t.set_column(t.schema.get_field_index("part_key"), "part_key",
                     pa.array(keys, pa.string()))
    pq.write_table(t, snap1)

    parts = sorted(set(keys))
    k = max(1, round(touched_fraction * len(parts)))
    touched = sorted(np.random.default_rng(seed).choice(parts, size=k, replace=False))
    row_of = {}
    for i, pk in enumerate(keys):
        row_of.setdefault(pk, i)
    dur = t.column("dur_ms").to_pylist()
    for pk in touched:
        dur[row_of[pk]] = CHANGED_DUR_MS
    t2 = t.set_column(t.schema.get_field_index("dur_ms"), "dur_ms",
                      pa.array(dur, pa.int32()))
    pq.write_table(t2, snap2)
    return {"rows": t.num_rows, "part_keys": len(parts), "touched": k}


class IncrementalParts:
    """run_incremental over many part keys with ~1% of partitions touched."""

    # a call is a chain of ~40 short Spark jobs that leaves the cores idle a
    # third of the time, so a burst of CPU steal on a shared host can slow
    # one call by a third; the median of three calls discards one such call
    calls = 3

    def __init__(self, spark, data_dir: str, work: str, seed: int):
        from doc_quality_check_spark.sources.clips import load_baseline, load_catalog

        self.spark, self.work = spark, work
        s1, s2 = os.path.join(work, "snap1.parquet"), os.path.join(work, "snap2.parquet")
        self.shape = build_snapshots(os.path.join(data_dir, "clips.parquet"),
                                     s1, s2, seed, N_PART_KEYS, TOUCHED_FRACTION)
        self.rows = self.shape["rows"]
        self.snap1 = spark.read.parquet(s1)
        self.snap2 = spark.read.parquet(s2)
        self.catalog = load_catalog(spark, data_dir)
        self.baseline = load_baseline(spark, data_dir)
        self.prior = os.path.join(work, "prior")

    def _full_run(self, clips, out: str):
        from doc_quality_check_spark.suite.job import ValidationJob
        from doc_quality_check_spark.suite.spec import default_suite

        return ValidationJob(default_suite(), out).run(
            clips, catalog=self.catalog, baseline=self.baseline,
            payload=False, resume=False, formats=(),
        )

    def prepare(self) -> None:
        # the prior run and the oracle are independent jobs: run them
        # concurrently to shorten set-up. Reports are measured on
        # suite_decode; here every job skips them, which shortens a timed
        # call enough that three fit in a run.
        oracle = os.path.join(self.work, "oracle")
        with ThreadPoolExecutor(max_workers=2) as ex:
            prior = ex.submit(self._full_run, self.snap1, self.prior)
            truth = ex.submit(self._full_run, self.snap2, oracle)
            prior.result()
            rd = run_dir(oracle, truth.result())
        self.spark.catalog.clearCache()
        self.base_bytes = dir_bytes(self.prior)
        self.expected = (verdict_rows(os.path.join(rd, "verdicts")),
                         violation_rows(os.path.join(rd, "violations")))

    def fresh_out(self, tag) -> str:
        out = os.path.join(self.work, f"out-{tag}")
        shutil.copytree(self.prior, out)
        return out

    def call(self, out: str):
        from doc_quality_check_spark.suite.job import ValidationJob
        from doc_quality_check_spark.suite.spec import default_suite

        return ValidationJob(default_suite(), out).run_incremental(
            self.snap2, self.snap1, id_col="clip_id",
            catalog=self.catalog, baseline=self.baseline, payload=False,
            formats=(),
        )

    def correct(self, out: str, jr) -> bool:
        rd = run_dir(out, jr)
        got = (verdict_rows(os.path.join(rd, "verdicts")),
               violation_rows(os.path.join(rd, "violations")))
        return got == self.expected


# ----------------------------------------------------------------------
# measurement helpers


def reset_peak_rss() -> None:
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass  # the peak then covers the whole process so far


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


class JobCounter:
    """Spark jobs and tasks launched between two points, found by job-id
    range (jobs from any thread or job group count)."""

    def __init__(self, spark):
        self.st = spark.sparkContext.statusTracker()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.last = max(self.st.getJobIdsForGroup(None) or [-1])

    def _advance(self) -> int:
        self.bus.waitUntilEmpty()
        while self.st.getJobInfo(self.last + 1) is not None:
            self.last += 1
        return self.last

    def mark(self) -> tuple[int, int]:
        last = self._advance()
        info = self.st.getJobInfo(last)
        return last, max(list(info.stageIds) or [-1]) if info else -1

    def since(self, mark: tuple[int, int]) -> tuple[int, int]:
        job0, stage0 = mark
        last = self._advance()
        stages = set()
        for j in range(job0 + 1, last + 1):
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(s for s in info.stageIds if s > stage0)
        tasks = 0
        for s in stages:
            si = self.st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
        return last - job0, tasks


def timed_calls(wl, seconds: float, counter: JobCounter,
                n_calls: int = 1) -> list[dict]:
    """Up to ``n_calls`` timed calls, each after the first only if it is
    predicted to end within ``n_calls * seconds``; at least one. Output
    copies and the gate are untimed."""
    calls: list[dict] = []
    t_start = time.perf_counter()
    while True:
        t_iter = time.perf_counter()
        out = wl.fresh_out(len(calls))
        reset_peak_rss()
        mark = counter.mark()
        t0 = time.perf_counter()
        try:
            jr = wl.call(out)
        except Exception:
            traceback.print_exc()
            jr = None
        wall = time.perf_counter() - t0
        # a job leaves its checked table cached for the caller; a later job
        # with the same plan would read that cache instead of the input
        wl.spark.catalog.clearCache()
        rec = {"wall_s": wall, "rss_mb": peak_rss_mb(), "ok": False}
        rec["jobs"], rec["tasks"] = counter.since(mark)
        if jr is not None:
            try:
                rec["ok"] = wl.correct(out, jr)
            except Exception:
                traceback.print_exc()
            rec["artifact_bytes"] = dir_bytes(out) - wl.base_bytes
        shutil.rmtree(out, ignore_errors=True)
        calls.append(rec)
        per_call = time.perf_counter() - t_iter
        if (len(calls) >= n_calls
                or time.perf_counter() - t_start + per_call > n_calls * seconds):
            return calls


def traced_call(wl, spark, table_check_ids: list[str], trace_path: str) -> dict:
    tracer = spans.Tracer()
    out = wl.fresh_out("traced")
    undo, missing = spans.install(tracer, spark)
    t0 = time.perf_counter()
    try:
        jr = wl.call(out)
    finally:
        wall = time.perf_counter() - t0
        spans.uninstall(undo)
        wl.spark.catalog.clearCache()
        tracer.dump(trace_path)
    rd = run_dir(out, jr)
    metrics = spans.layer_metrics(tracer.spans, table_check_ids)
    metrics.update({
        "runner.verdict_rows": float(
            pq.read_table(os.path.join(rd, "verdicts"), columns=[]).num_rows),
        "runner.violation_rows": float(
            pq.read_table(os.path.join(rd, "violations"), columns=[]).num_rows),
        "manifest.bytes": float(os.path.getsize(os.path.join(
            out, "manifests", f"run_{jr.manifest.run_id:06d}.json"))),
        "trace.unpatched_targets": float(missing),
    })
    ok = wl.correct(out, jr)
    shutil.rmtree(out, ignore_errors=True)
    return {"wall_s": wall, "ok": ok, "metrics": metrics}


# ----------------------------------------------------------------------


def start_spark(work: str):
    from doc_quality_check_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # takes precedence over spark.local.dir, so an inherited value cannot
    # send shuffle files outside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cpus = len(os.sched_getaffinity(0))
    # the JVM compiles with C1 only: a run lasts about a minute, too short
    # for C2 to settle, and with C2 each timed call ran 10-25% faster than
    # the one before it, which spread the medians of runs apart; with C1 the
    # calls are flat and the set-up is about 5 s shorter
    spark = get_spark(
        "perfbench", cores=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python worker
    daemon it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "doc_quality_check_spark")):
        print(f"perfbench: no doc_quality_check_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    spark = None
    try:
        t_setup = time.perf_counter()
        from doc_quality_check_spark.sources.clips import generate_clips

        # the JVM starts while the fixtures are generated
        with ThreadPoolExecutor(max_workers=1) as ex:
            session = ex.submit(start_spark, work)
            try:
                data_dir = generate_clips(os.path.join(work, "clips"),
                                          n_rows=N_CLIPS, seed=args.seed)
            finally:
                spark = session.result()
        cls = SuiteDecode if args.workload == "suite_decode" else IncrementalParts
        wl = cls(spark, data_dir, work, args.seed)
        wl.prepare()
        setup_s = time.perf_counter() - t_setup

        counter = JobCounter(spark)
        calls = timed_calls(wl, args.seconds, counter, wl.calls)
        summary = {
            "workload": args.workload, "seed": args.seed, "rows": wl.rows,
            "setup_s": round(setup_s, 3),
            "walls_s": [round(c["wall_s"], 3) for c in calls],
            **getattr(wl, "shape", {}),
        }

        if args.trace:
            check_ids = [m["name"][len("runner.table_check."):-2]
                         for m in wanted
                         if m["name"].startswith("runner.table_check.")]
            tr = traced_call(
                wl, spark, check_ids,
                os.path.join(work_root, "traces",
                             f"{args.workload}-{args.seed}.json"))
            # the JIT is still warming, so each call runs faster than the one
            # before: compare the traced call with the untraced call right
            # after it, which if anything overstates the overhead
            after = timed_calls(wl, 0, counter)
            untraced = after[0]["wall_s"] if "artifact_bytes" in after[0] else tr["wall_s"]
            metrics = tr["metrics"]
            metrics["trace.overhead_pct"] = 100.0 * (tr["wall_s"] - untraced) / untraced
            metrics["bench.timed_calls"] = float(len(calls))
            calls += after
            metrics["spark.jobs"] = statistics.median(c["jobs"] for c in calls)
            metrics["spark.tasks"] = statistics.median(c["tasks"] for c in calls)
            metrics.update(probes.spark_probes(spark, data_dir))
            metrics.update(probes.python_probes(
                os.path.join(data_dir, "clips.parquet"),
                [m["name"][len("audio.decode_us."):] for m in wanted
                 if m["name"].startswith("audio.decode_us.")]))
            summary["traced_wall_s"] = round(tr["wall_s"], 3)
        else:
            returned = [c for c in calls if "artifact_bytes" in c]
            metrics = {
                "clips_per_s": statistics.median(
                    wl.rows / c["wall_s"] for c in returned) if returned else 0.0,
                "setup_s": setup_s,
                "driver_peak_rss_mb": statistics.median(c["rss_mb"] for c in calls),
                "artifact_bytes": statistics.median(
                    c["artifact_bytes"] for c in returned) if returned else 0.0,
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in wanted]
    if set(names) != set(metrics):
        raise RuntimeError(
            f"metrics out of step with BENCHMARK.json: "
            f"missing {sorted(set(names) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(names))}")
    gated = [c["ok"] for c in calls] + ([tr["ok"]] if args.trace else [])
    print(json.dumps(summary))
    print(json.dumps({
        "correct": all(gated),
        "attempted": len(gated),
        "failed": gated.count(False),
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
