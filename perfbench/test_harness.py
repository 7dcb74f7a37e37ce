"""Self-test of the benchmark harness at a tiny size.

Run from the root of a checkout (about two minutes on 4 cores):

    python3 -m pytest perfbench/test_harness.py -q

The Spark-free tests check the span arithmetic and that BENCHMARK.json,
design.json and the harness agree on names. The Spark tests drive both
workloads on a 400-row table: every gate passes on the real expected set and
fails on a deliberately wrong one, and the traced call reports its layers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

TINY_ROWS = 400


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_agree_with_benchmark_json():
    spec = _spec()
    with open(os.path.join(HERE, "design.json")) as fh:
        design = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert set(design["workloads"]) == set(run.WORKLOADS)
    assert sorted(m["metric"] for m in design["layers"]) == sorted(
        m["name"] for m in spec["per_layer"])


def _tree(*rows):
    """rows: (name, start, end, parent index or None)."""
    return [spans.Span(i, n, s, e, p, 0) for i, (n, s, e, p) in enumerate(rows)]


def test_self_time_subtracts_the_union_of_children():
    tree = _tree(
        ("job.run", 0.0, 10.0, None),
        ("a", 1.0, 4.0, 0),
        ("b", 3.0, 6.0, 0),   # overlaps a, as pool threads do
        ("c", 8.0, 9.0, 0),
        ("d", 2.0, 3.0, 1),
    )
    own = spans.self_times(tree)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(2.0)
    assert own[4] == pytest.approx(1.0)


def test_layer_metrics_attribute_actions_to_their_layer():
    tree = _tree(
        ("job.run", 0.0, 20.0, None),                                  # 0
        ("runner.run", 0.0, 6.0, 0),                                   # 1
        ("spark.count", 1.0, 3.0, 1),                                  # 2 cache fill
        ("runner.table_check.clip_id_unique", 3.0, 5.0, 1),            # 3
        ("joins.duplicate_keys", 3.0, 3.1, 3),                         # 4
        ("spark.count", 3.1, 5.0, 3),                                  # 5
        ("runner.table_check.sr_drift+completeness_transcript", 4.0, 6.0, 1),
        ("spark.createDataFrame", 6.0, 6.5, 0),                        # 7 merge
        ("spark.read.parquet", 6.5, 7.0, 0),                           # 8 merge
        ("spark.write.parquet", 7.0, 9.0, 0),                          # 9
        ("spark.collect", 9.0, 10.0, 0),                               # 10
        ("spark.read.parquet", 10.0, 10.5, 0),                         # 11 rebind
        ("manifest.save", 11.0, 11.5, 0),
        ("report.render_txt", 12.0, 14.0, 0),
        ("report.collect_violation_sample", 14.0, 15.0, 0),
    )
    m = spans.layer_metrics(
        tree, ["clip_id_unique", "sr_drift", "completeness_transcript"])
    assert m["runner.cache_fill_s"] == pytest.approx(2.0)
    assert m["runner.table_checks_s"] == pytest.approx(3.0)
    assert m["joins.duplicate_keys_s"] == pytest.approx(2.0)
    assert m["runner.table_check.sr_drift_s"] == pytest.approx(2.0)
    assert m["runner.table_check.completeness_transcript_s"] == pytest.approx(2.0)
    assert m["job.prior_merge_s"] == pytest.approx(1.0)
    assert m["job.result_write_s"] == pytest.approx(2.0)
    assert m["job.verdict_collect_s"] == pytest.approx(1.0)
    assert m["manifest.save_count"] == 1
    assert m["report.render_s"] == pytest.approx(2.0)
    assert m["trace.job_wall_s"] == pytest.approx(20.0)
    # 20 s wall; children cover 0-10.5, 11-11.5 and 12-15
    assert m["trace.uncovered_s"] == pytest.approx(20.0 - 10.5 - 0.5 - 3.0)


# ----------------------------------------------------------------------
# Spark: both workloads at a tiny size


@pytest.fixture(scope="module")
def tiny():
    from doc_quality_check_spark.sources.clips import generate_clips

    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data_dir = generate_clips(os.path.join(work, "clips"), n_rows=TINY_ROWS, seed=3)
    spark = run.start_spark(work)
    try:
        yield spark, data_dir, work
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def test_suite_decode_gate(tiny):
    spark, data_dir, work = tiny
    wl = run.SuiteDecode(spark, data_dir, work, 3)
    calls = run.timed_calls(wl, 0, run.JobCounter(spark))
    assert len(calls) == 1 and calls[0]["ok"]
    assert calls[0]["jobs"] > 0 and calls[0]["tasks"] >= calls[0]["jobs"]
    assert calls[0]["artifact_bytes"] > 0

    out = wl.fresh_out("decode-gate")
    jr = wl.call(out)
    assert wl.correct(out, jr)
    right = wl.expected
    wl.expected = set(sorted(right)[1:])
    assert not wl.correct(out, jr)
    wl.expected = right | {("clip_00000002", "clip_decodable")}
    assert not wl.correct(out, jr)


def test_incremental_gate_trace_and_probes(tiny):
    spark, data_dir, work = tiny
    wl = run.IncrementalParts(spark, data_dir, work, 3)
    assert wl.shape["touched"] >= 1
    wl.prepare()
    out = wl.fresh_out("incremental-gate")
    jr = wl.call(out)
    assert wl.correct(out, jr)
    verdicts, violations = wl.expected
    pk, cid, n, nv, ok, mv = verdicts[0]
    wl.expected = ([(pk, cid, n, nv, not ok, mv)] + verdicts[1:], violations)
    assert not wl.correct(out, jr)
    wl.expected = (verdicts, violations[1:])
    assert not wl.correct(out, jr)
    wl.expected = (verdicts, violations)

    per_layer = {m["name"] for m in _spec()["per_layer"]}
    check_ids = [n[len("runner.table_check."):-2] for n in per_layer
                 if n.startswith("runner.table_check.")]
    tr = run.traced_call(wl, spark, check_ids, os.path.join(work, "trace.json"))
    m = tr["metrics"]
    assert tr["ok"]
    assert set(m) <= per_layer
    assert m["trace.unpatched_targets"] == 0
    assert m["joins.snapshot_diff_s"] > 0 and m["job.result_write_s"] > 0
    assert m["manifest.save_count"] >= 1 and m["runner.verdict_rows"] > 0
    assert 0 <= m["trace.uncovered_s"] < m["trace.job_wall_s"]

    got = probes.spark_probes(spark, data_dir)
    got.update(probes.python_probes(os.path.join(data_dir, "clips.parquet"),
                                    ["pcm_s16le", "pcm_u8", "flac"]))
    assert set(got) <= per_layer
    assert got["sources.scan_s"] > 0
    assert got["audio.decode_error_rows"] >= 1  # the corrupt-payload rows
