"""The metrics the benchmark prints: name → (unit, better, layer).

``BENCHMARK.json`` at the repository root lists the same names, units
and directions (checked by ``perfbench/tests``). End-to-end metrics are
printed on every workload; per-layer metrics are printed by the traced
run, with 0 for a layer the workload does not run.
"""

from __future__ import annotations

import json

WORKLOAD_NAMES = ("lake_rollup", "codec_scan")
TIERS = ("1m", "5m", "1h", "1d")
#: tiers ``apply_retention`` expires by default (1d is kept forever)
EXPIRING_TIERS = ("1m", "5m", "1h")
#: Spark-engine spans: the two timed phases of an operation, the rollup
#: job's staging write and its four tier writes
SPARK_SPANS = ("write", "scan", "staging") + tuple(f"rollup_{t}" for t in TIERS)
SPARK_FIELDS = {
    "run_ms": "ms",
    "cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}

#: ``durationMs`` phases of a micro-batch, as Spark reports them
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
#: read by the lake_rollup traced run from its streaming replay
STREAM_METRICS = {
    "stream.batch_ms": ("ms", "lower"),
    "stream.turns_per_s": ("1/s", "higher"),
    **{f"stream.{ph}_ms": ("ms", "lower") for ph in STREAM_PHASES},
    "stream.state_rows": ("count", "lower"),
    "stream.state_bytes": ("bytes", "lower"),
    "stream.state_commit_ms": ("ms", "lower"),
}

END_TO_END = {
    "setup_s": ("s", "lower", "session"),
    "write_s": ("s", "lower", "jobs.rollup_job / functions.codec"),
    "scan_s": ("s", "lower", "operators.retention / functions.codec"),
    "turns_per_s": ("1/s", "higher", "jobs.rollup_job / functions.codec"),
    "bytes_per_turn": ("bytes", "lower", "sources.catalog / functions.codec"),
}

PER_LAYER = {
    "job.spark_jobs": ("count", "lower", "jobs.rollup_job"),
    "job.spark_stages": ("count", "lower", "jobs.rollup_job"),
    "job.spark_tasks": ("count", "lower", "jobs.rollup_job"),
    "job.staging_s": ("s", "lower", "jobs.rollup_job"),
    "job.bucket_s_max": ("s", "lower", "jobs.rollup_job"),
    "job.bucket_skew": ("ratio", "lower", "jobs.rollup_job"),
    "job.accounted_ratio": ("ratio", "higher", "jobs.rollup_job"),
    **{f"catalog.write_s.rollup_{t}": ("s", "lower", "sources.catalog") for t in TIERS},
    "catalog.commit_ms": ("ms", "lower", "sources.catalog"),
    "catalog.commits": ("count", "lower", "sources.catalog"),
    "lineage.committed_ms": ("ms", "lower", "plans.lineage"),
    "lineage.committed_calls": ("count", "lower", "plans.lineage"),
    "lineage.commit_many_ms": ("ms", "lower", "plans.lineage"),
    "retention.expire_files_ms": ("ms", "lower", "operators.retention"),
    **{
        f"retention.expire_rewrite_s.{t}": ("s", "lower", "operators.retention")
        for t in EXPIRING_TIERS
    },
    "codec.encode_dod_mb_s": ("MB/s", "higher", "functions.codec_batch"),
    "codec.encode_xor_mb_s": ("MB/s", "higher", "functions.codec_batch"),
    "codec.decode_dod_mb_s": ("MB/s", "higher", "functions.codec_batch"),
    "codec.decode_xor_mb_s": ("MB/s", "higher", "functions.codec_batch"),
    "codec.bits_per_value.ts": ("bits", "lower", "functions.codec"),
    "codec.bits_per_value.latency": ("bits", "lower", "functions.codec"),
    "codec.bits_per_value.token": ("bits", "lower", "functions.codec"),
    **{
        f"spark.{span}.{field}": (unit, "lower", "spark")
        for span in SPARK_SPANS
        for field, unit in SPARK_FIELDS.items()
    },
    **{name: (unit, better, "streaming") for name, (unit, better) in STREAM_METRICS.items()},
    "spark.busy_ratio": ("ratio", "higher", "spark"),
    "spark.stderr_errors": ("count", "lower", "spark"),
    # G1 grows the heap in steps, so the same seed reads 2.1 or 2.8 GB:
    # too bimodal for a bound, kept here as a per-layer number
    "mem.peak_rss_mb": ("MB", "lower", "session"),
    "setup.session_s": ("s", "lower", "session"),
    "setup.lake_s": ("s", "lower", "sources.synth"),
    "setup.warmup_s": ("s", "lower", "session"),
    "trace.overhead_s": ("s", "lower", "perfbench"),
}


def declared(trace: bool) -> dict:
    return PER_LAYER if trace else END_TO_END


def result_line(correct: bool, attempted: int, failed: int, values: dict, trace: bool) -> str:
    """The benchmark's last stdout line. Every declared metric must be
    present; a missing one is a bug in the benchmark, not a failed run."""
    spec = declared(trace)
    missing = sorted(set(spec) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(values[name]), "unit": unit}
                for name, (unit, _better, _layer) in spec.items()
            },
        }
    )
