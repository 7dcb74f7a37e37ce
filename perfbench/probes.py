"""Isolated layer probes, run untraced after the traced job call.

They split the runner's cache fill into its layers: the parquet scan, the
Arrow transfer of the bytes column into Python workers, and the Python-side
decode and spectral metrics. Spark probes time a noop sink and report the
median of REPS runs; the transfer and payload-metrics probes subtract the
full-column scan. The decode and spectral probes call the package's
functions directly on the workload's own payloads, with no Spark.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

REPS = 3


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _median_s(make_df) -> float:
    return statistics.median(_noop_s(make_df()) for _ in range(REPS))


def spark_probes(spark, data_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from doc_quality_check_spark.functions.audio import with_payload_metrics
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.compiler import row_violations, with_row_checks
    from doc_quality_check_spark.suite.spec import default_suite

    def payload_len(payloads: pd.Series) -> pd.Series:
        return payloads.map(len)

    length_udf = F.pandas_udf(payload_len, "long")
    suite = default_suite()
    meta_checks = [c for c in suite.row_checks() if not c.kind.startswith("payload_")]

    def clips():
        return load_clips(spark, data_dir)

    def row_checks():
        checked = with_row_checks(clips().drop("bytes"), meta_checks)
        return row_violations(checked, meta_checks, part_cols=suite.partition_by)

    scan = _median_s(clips)
    return {
        "sources.scan_s": scan,
        "sources.scan_meta_s": _median_s(lambda: clips().drop("bytes")),
        "audio.arrow_transfer_s": _median_s(
            lambda: clips().select(length_udf("bytes").alias("n"))) - scan,
        "audio.payload_metrics_s": _median_s(
            lambda: with_payload_metrics(clips(), mode="accurate")[0]) - scan,
        "compiler.row_checks_s": _median_s(row_checks),
    }


def python_probes(clips_path: str, codecs: list[str]) -> dict[str, float]:
    """Median microseconds per clip of decode_payload per codec label, and of
    the spectral metrics (spectral_flatness, energy_ratio,
    zero_crossing_rate) per decoded clip; plus the count of payloads whose
    decode raises."""
    from doc_quality_check_spark.functions.audio import (
        decode_payload,
        energy_ratio,
        spectral_flatness,
        zero_crossing_rate,
    )

    table = pq.read_table(clips_path, columns=["bytes", "codec"])
    decode_us: dict[str, list[float]] = {c: [] for c in codecs}
    spectral_us: list[float] = []
    errors = 0
    for buf, codec in zip(table.column("bytes").to_pylist(),
                          table.column("codec").to_pylist()):
        t0 = time.perf_counter()
        try:
            _, pcm = decode_payload(buf, codec or "")
        except Exception:  # an in-band decode error row in the engine
            errors += 1
            continue
        t1 = time.perf_counter()
        if codec in decode_us:
            decode_us[codec].append((t1 - t0) * 1e6)
        if pcm.size:
            spectral_flatness(pcm)
            energy_ratio(pcm)
            zero_crossing_rate(pcm)
            spectral_us.append((time.perf_counter() - t1) * 1e6)
    out = {f"audio.decode_us.{c}": statistics.median(v) if v else 0.0
           for c, v in decode_us.items()}
    out["audio.spectral_us"] = statistics.median(spectral_us)
    out["audio.decode_error_rows"] = float(errors)
    return out
