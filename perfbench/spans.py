"""Span recorder for the traced benchmark run.

The benchmark wraps calls into the package's modules (and the Spark actions
they issue) with span recorders, only in the traced process. A span is
(name, start, end, parent); spans stay in memory and are written out, each
with its self time, when the traced call ends. Builder functions return lazy
DataFrames, so their spans cover planning only: execution lands in the action
spans (``spark.*``), whose parent names the layer that triggered it.

Threads: a span opened on a thread with no open span of its own (the suite
runner's table-check pool) takes as parent the innermost span open on the
thread that installed the tracer, which is the thread blocked waiting on
that pool.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "doc_quality_check_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            with self._lock:
                self._stacks[threading.get_ident()] = st
        return st

    def call(self, name: str, fn, *args, **kwargs):
        st = self._stack()
        if st:
            parent = st[-1]
        else:
            main = self._stacks.get(self._main) or []
            parent = main[-1] if main else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, 0.0, 0.0, parent,
                                   threading.get_ident()))
        st.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            st.pop()
            span = self.spans[sid]
            span.start, span.end = start, end

    def dump(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump([{**asdict(s), "self_s": own[s.id]} for s in self.spans], fh)


# (module, attribute path, span name). A callable span name receives the
# call's positional arguments. Spark action targets are resolved on the
# runtime classes (see install), the rest on the package's modules.
def _check_span(args) -> str:
    return f"runner.table_check.{args[2].constraint_id}"


def _fused_span(args) -> str:
    return "runner.table_check." + "+".join(c.constraint_id for c in args[2])


PACKAGE_TARGETS = [
    ("suite.job", "ValidationJob.run", "job.run"),
    ("suite.job", "ValidationJob.run_incremental", "job.run_incremental"),
    ("suite.runner", "SuiteRunner.run", "runner.run"),
    ("suite.runner", "SuiteRunner._run_table_check", _check_span),
    ("suite.runner", "SuiteRunner._run_simple_aggs", _fused_span),
    ("functions.audio", "with_payload_metrics", "audio.with_payload_metrics"),
    ("suite.compiler", "with_row_checks", "compiler.with_row_checks"),
    ("suite.compiler", "row_violations", "compiler.row_violations"),
    ("operators.joins", "duplicate_keys", "joins.duplicate_keys"),
    ("operators.joins", "referential_violations", "joins.referential_violations"),
    ("operators.joins", "snapshot_diff", "joins.snapshot_diff"),
    ("operators.aggregates", "drift_psi", "aggregates.drift_psi"),
    ("suite.manifest", "ManifestStore.save", "manifest.save"),
    ("suite.manifest", "ManifestStore.record_partitions", "manifest.record_partitions"),
    ("suite.manifest", "ManifestStore.latest_complete", "manifest.latest_complete"),
    ("suite.manifest", "ManifestStore.completed_partitions", "manifest.completed_partitions"),
    ("suite.report", "render_txt", "report.render_txt"),
    ("suite.report", "render_html", "report.render_html"),
    ("suite.report", "export_json", "report.export_json"),
    ("suite.report", "collect_violation_sample", "report.collect_violation_sample"),
]

ACTION_TARGETS = [
    ("dataframe", "collect", "spark.collect"),
    ("dataframe", "count", "spark.count"),
    ("writer", "parquet", "spark.write.parquet"),
    ("session", "createDataFrame", "spark.createDataFrame"),
    ("reader", "parquet", "spark.read.parquet"),
]


def _wrap(tracer: Tracer, fn, name):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        label = name(args) if callable(name) else name
        return tracer.call(label, fn, *args, **kwargs)

    return wrapper


def install(tracer: Tracer, spark) -> tuple[list, int]:
    """Patch every target; returns (undo list, number of targets not found).

    A module-level function is replaced in its defining module and in every
    loaded package module that imported it by name, so ``from x import f``
    call sites are traced too."""
    undo: list[tuple[object, str, object]] = []
    missing = 0

    def patch_attr(owner, attr, name):
        orig = owner.__dict__[attr]
        undo.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, name))

    for mod_name, path, name in PACKAGE_TARGETS:
        try:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if "." in path:
                cls_name, attr = path.split(".")
                owner = getattr(mod, cls_name)
                if attr not in owner.__dict__:
                    raise AttributeError(attr)
                patch_attr(owner, attr, name)
                continue
            orig = getattr(mod, path)
        except (ImportError, AttributeError):
            missing += 1
            continue
        wrapped = _wrap(tracer, orig, name)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PACKAGE):
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        undo.append((m, attr, orig))
                        setattr(m, attr, wrapped)

    df = spark.range(1)
    owners = {"dataframe": type(df), "writer": type(df.write),
              "session": type(spark), "reader": type(spark.read)}
    for key, attr, name in ACTION_TARGETS:
        owner = next(c for c in owners[key].__mro__ if attr in c.__dict__)
        patch_attr(owner, attr, name)
    return undo, missing


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ----------------------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.id: s.dur - _union(kids.get(s.id, [])) for s in spans}


JOB_SPANS = ("job.run", "job.run_incremental")


def layer_metrics(spans: list[Span], table_check_ids: list[str]) -> dict[str, float]:
    """Per-layer seconds and counts for one traced job call.

    Operators called inside a table check (duplicate_keys,
    referential_violations, drift_psi) are charged the whole table-check
    span that called them: their builder span is planning, and the check's
    actions execute what they built. snapshot_diff is charged its builder
    span plus the actions run_incremental issues itself (the touched-partition
    collect that executes the diff). The prior-run merge is the
    createDataFrame and parquet reads job.run issues before its first result
    write."""
    by_id = {s.id: s for s in spans}

    def parent_name(s: Span) -> str | None:
        return by_id[s.parent].name if s.parent is not None else None

    def total(pred) -> float:
        return sum(s.dur for s in spans if pred(s))

    def ancestor(s: Span, prefix: str) -> Span | None:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name.startswith(prefix):
                return s
        return None

    def charged_check(op: str) -> float:
        checks = {c.id: c for c in (ancestor(s, "runner.table_check.")
                                    for s in spans if s.name == op) if c}
        return sum(c.dur for c in checks.values())

    own = self_times(spans)
    runner_actions = sorted(
        (s for s in spans if s.name.startswith("spark.")
         and parent_name(s) == "runner.run"),
        key=lambda s: s.start,
    )
    check_spans = [s for s in spans if s.name.startswith("runner.table_check.")]
    job_writes = [s.start for s in spans if s.name == "spark.write.parquet"
                  and parent_name(s) == "job.run"]
    first_write = min(job_writes, default=float("inf"))
    out = {
        "runner.run_s": total(lambda s: s.name == "runner.run"),
        "runner.cache_fill_s": runner_actions[0].dur if runner_actions else 0.0,
        "runner.table_checks_s": _union([(s.start, s.end) for s in check_spans]),
        "joins.duplicate_keys_s": charged_check("joins.duplicate_keys"),
        "joins.referential_violations_s": charged_check("joins.referential_violations"),
        "aggregates.drift_psi_s": charged_check("aggregates.drift_psi"),
        "joins.snapshot_diff_s": total(
            lambda s: s.name == "joins.snapshot_diff"
            or (s.name.startswith("spark.")
                and parent_name(s) == "job.run_incremental")),
        "job.result_write_s": total(
            lambda s: s.name == "spark.write.parquet"
            and parent_name(s) == "job.run"),
        "job.verdict_collect_s": total(
            lambda s: s.name == "spark.collect" and parent_name(s) == "job.run"),
        "job.prior_merge_s": total(
            lambda s: s.name in ("spark.createDataFrame", "spark.read.parquet")
            and parent_name(s) == "job.run" and s.start < first_write),
        "manifest.save_s": total(lambda s: s.name == "manifest.save"),
        "manifest.save_count": float(sum(s.name == "manifest.save" for s in spans)),
        "manifest.record_partitions_s": total(
            lambda s: s.name == "manifest.record_partitions"),
        "manifest.latest_complete_s": total(
            lambda s: s.name == "manifest.latest_complete"),
        "report.render_s": total(
            lambda s: s.name in ("report.render_txt", "report.render_html",
                                 "report.export_json")),
        "report.violation_sample_s": total(
            lambda s: s.name == "report.collect_violation_sample"),
        "trace.job_wall_s": total(
            lambda s: s.name in JOB_SPANS and parent_name(s) not in JOB_SPANS),
        "trace.uncovered_s": sum(own[s.id] for s in spans if s.name in JOB_SPANS),
    }
    for cid in table_check_ids:
        out[f"runner.table_check.{cid}_s"] = sum(
            s.dur for s in check_spans
            if cid in s.name[len("runner.table_check."):].split("+"))
    return out
