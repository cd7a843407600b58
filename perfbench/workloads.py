"""The benchmark's workloads: lake generation, one timed operation each,
and the checks on that operation's outputs.

An operation has two timed phases, ``write`` and ``scan``:

- ``lake_rollup``: write = one ``jobs.rollup_job.run --gapfill`` into a
  fresh warehouse under a fresh run id; scan = ``apply_retention`` over
  the tiers that run committed, once for each of ``RETENTION_NOWS``.
- ``codec_scan``: write = ``encode_chunks(with_derived(lake))`` to
  parquet; scan = ``decode_chunks_df`` of those files into the noop sink.

Checks run outside the timed phases, except the codec's point and byte
counts and the decoded-turn checksum, which ride the encode and decode
as ``observe()`` aggregates because the noop sink keeps nothing to
compare afterwards.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gc
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import jobs.rollup_job as rollup_job
from biomed_timeseries_preprocessing_spark.functions.codec import (
    decode_chunks_df,
    encode_chunks,
)
from biomed_timeseries_preprocessing_spark.functions.codec_batch import (
    decode_dod_batch,
    decode_xor_batch,
    encode_dod_batch,
    encode_xor_batch,
)
from biomed_timeseries_preprocessing_spark.operators import retention
from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
from biomed_timeseries_preprocessing_spark.oracle import ref as oracle
from biomed_timeseries_preprocessing_spark.sources.catalog import get_catalog
from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts
from biomed_timeseries_preprocessing_spark.streaming.gapfill_stream import streaming_gapfill

from .spec import EXPIRING_TIERS, STREAM_METRICS, STREAM_PHASES, TIERS

#: synthetic conversations start uniformly over January 2026; with the
#: default 7-day 1m horizon these ``now``s, applied in turn as a daily
#: retention job would, expire about 30, 50 and 70 % of the 1m tier and
#: nothing of the coarser tiers. One pass takes about 1 s, too short to
#: time steadily on its own.
RETENTION_NOWS = tuple(dt.datetime(2026, 1, d) for d in (17, 23, 29))
#: mean conversation length of ``synth_transcripts`` is ~850 turns
_TURNS_PER_CONV = 850


def make_lake(spark, seed: int, target_turns: int, path: str) -> int:
    """Write the lake for ``seed``: the shortest prefix (by conv_id) of
    ``synth_transcripts`` conversations that holds ``target_turns`` turns,
    but at least one conversation. Conversation lengths are zipf-skewed,
    so a fixed conversation count would make the lake's size, and every
    timing with it, depend on the seed. Returns the turn count."""
    n = 3 * target_turns // _TURNS_PER_CONV + 16
    every = path + ".all"
    synth_transcripts(spark, n, seed=seed).write.parquet(every)
    lens = pq.read_table(every, columns=["conv_id"]).to_pandas()["conv_id"].value_counts()
    cum = lens.sort_index().cumsum()
    k = max(1, int((cum <= target_turns).sum()))
    spark.read.parquet(every).filter(F.col("conv_id") <= cum.index[k - 1]).write.parquet(path)
    shutil.rmtree(every)
    return int(cum.iloc[k - 1])


@dataclass
class OpResult:
    times: dict = field(default_factory=dict)  # phase → seconds
    bytes_per_turn: float = 0.0
    failures: list = field(default_factory=list)
    lineage: pd.DataFrame | None = None


class Phases:
    """Times an operation's phases. When traced, each phase is also a span,
    labels the Spark jobs it submits and records its job-id window.

    Before each phase, untimed, Python and the JVM collect garbage, so the
    previous phase's garbage (and the shuffle cleanup Spark runs when its
    frames are collected) is not collected inside this phase's timing."""

    def __init__(self, spark, tracer=None, probe=None, describe=None):
        self.spark = spark
        self.tracer, self.probe, self.describe = tracer, probe, describe
        self.start: dict[str, float] = {}
        self.windows: dict[str, tuple[int, int]] = {}

    @contextlib.contextmanager
    def __call__(self, res: OpResult, name: str, label: str):
        gc.collect()
        self.spark._jvm.System.gc()
        lo = self.probe.next_job_id() if self.probe else None
        if self.describe:
            self.describe.set(label)
        span = self.tracer.span(name) if self.tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        self.start[name] = t0
        try:
            with span:
                yield
        finally:
            res.times[name] = time.perf_counter() - t0
            if self.describe:
                self.describe.set(None)
            if self.probe:
                self.windows[name] = (lo, self.probe.next_job_id())


def _checksum(cols):
    """Order-independent multiset checksum: wrap-around sum of xxhash64."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _fold(v) -> int:
    return int(v or 0) % (1 << 63)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf[sorted(pdf.columns)]
        .sort_values(["conv_id", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
    )


def _cutoff(tier: str, now: dt.datetime) -> dt.datetime | None:
    h = retention.DEFAULT_RETENTION.get(tier)
    return None if h is None else now - dt.timedelta(seconds=h)


class RollupWorkload:
    """``rollup_job.run --gapfill`` then ``apply_retention``.

    Checks: the committed tiers' rows for the lake's first conversations
    (a prefix holding ``oracle_turns`` turns) must equal the pandas oracle
    (gap-fill → derive → rollup) bit for bit — a tier row depends only on
    its own conversation's turns, so a prefix is a full check of those
    rows; each whole tier's row count and xxhash64 multiset checksum must
    equal the first operation's; lineage must hold a row for every stage
    × bucket pair; each retention pass must remove exactly the rows
    between the previous pass's cutoff and its own."""

    def __init__(self, target_turns: int, warmups: int, oracle_turns: int):
        self.target_turns, self.warmups, self.oracle_turns = target_turns, warmups, oracle_turns
        self.ref_tiers = None
        #: the traced run also replays this lake through the streaming gap-fill
        self.replays_stream = True

    def prepare(self, spark, lake: str, turns: int) -> None:
        self.spark, self.lake, self.turns = spark, lake, turns
        src = pq.read_table(lake).to_pandas()
        per_conv = src.groupby("conv_id").size().sort_index().cumsum()
        self.oracle_convs = set(per_conv.index[: max(1, int((per_conv <= self.oracle_turns).sum()))])
        derived = oracle.derive_pdf(oracle.gapfill_pdf(src[src["conv_id"].isin(self.oracle_convs)]))
        self.oracle_tiers = {t: _canon(oracle.rollup_pdf(derived, t)) for t in TIERS}

    def op(self, work: str, k: int, phases: Phases) -> OpResult:
        spark, res = self.spark, OpResult()
        wh = os.path.join(work, f"wh{k}")
        run_id = f"bench-{k}"
        args = rollup_job.parse_args(
            ["--source", self.lake, "--warehouse", wh, "--run-id", run_id, "--gapfill"]
        )
        try:
            with phases(res, "write", "staging"):
                rollup_job.run(args, spark=spark)
            cat = get_catalog(wh)
            tiers = {t: _read_table(cat, f"rollup_{t}") for t in TIERS}
            res.bytes_per_turn = sum(
                os.path.getsize(f) for t in TIERS for f in _files(cat, f"rollup_{t}")
            ) / self.turns
            res.lineage = _read_table(cat, "lineage")
            res.lineage = res.lineage[res.lineage["run_id"] == run_id]
            self._check_job(cat, tiers, res.lineage, args.buckets, res.failures)
            with phases(res, "scan", "retention"):
                removed = [
                    retention.apply_retention(cat, spark, now=now) for now in RETENTION_NOWS
                ]
            self._check_retention(cat, tiers, removed, res.failures)
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        return res

    def _check_job(self, cat, tiers, lin, n_buckets, failures) -> None:
        want = {("stage_source", f"all/{n_buckets}")} | {
            (s, f"{b}/{n_buckets}")
            for s in ["gapfill"] + [f"rollup_{t}" for t in TIERS]
            for b in range(n_buckets)
        }
        got = set(zip(lin["stage"], lin["partition_key"]))
        if want - got:
            failures.append(f"lineage misses {sorted(want - got)[:4]}")
        present = int(lin.loc[lin["stage"] == "gapfill", "rows_in"].sum())
        if present != self.turns:
            failures.append(f"gap-fill kept {present} of {self.turns} source turns")
        for t in TIERS:
            got_t = _canon(tiers[t][tiers[t]["conv_id"].isin(self.oracle_convs)])
            try:
                pd.testing.assert_frame_equal(
                    got_t, self.oracle_tiers[t], check_dtype=False, check_exact=True
                )
            except AssertionError as e:
                failures.append(f"tier {t} differs from the oracle: {str(e)[:200]}")
        # one Spark job: per-tier row count and xxhash64 multiset checksum
        df = self.spark.read.parquet(*[f for t in TIERS for f in _files(cat, f"rollup_{t}")])
        got_sums = {
            r["tier"]: (int(r["n"]), _fold(r["c"]))
            for r in df.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n"), _checksum(sorted(df.columns)).alias("c"))
            .collect()
        }
        if self.ref_tiers is None:
            self.ref_tiers = got_sums
        elif got_sums != self.ref_tiers:
            failures.append(f"tier rows/checksums {got_sums} != first run {self.ref_tiers}")

    @staticmethod
    def _check_retention(cat, tiers, removed, failures) -> None:
        """Each pass must remove exactly the rows between the previous
        pass's cutoff and its own, and the rows past the last cutoff must
        be gone."""
        for t in EXPIRING_TIERS:
            ts = tiers[t]["bucket_start"]
            want = [int((ts < _cutoff(t, now)).sum()) for now in RETENTION_NOWS]
            want = [b - a for a, b in zip([0] + want, want)]
            got = [r.get(t) for r in removed]
            after = sum(pq.ParquetFile(f).metadata.num_rows for f in _files(cat, f"rollup_{t}"))
            if got != want or after != len(ts) - sum(want):
                failures.append(
                    f"retention {t}: removed {got} (expected {want}), "
                    f"{after} rows left (expected {len(ts) - sum(want)})"
                )


def _files(cat, table: str) -> list[str]:
    """Data files of the table's current snapshot."""
    snaps = cat.snapshots(table)
    return [f["path"] for f in snaps[-1]["files"]] if snaps else []


def _read_table(cat, table: str) -> pd.DataFrame:
    """The current snapshot read with pyarrow: checks cost no Spark job."""
    return pa.concat_tables([pq.read_table(f) for f in _files(cat, table)]).to_pandas()


class CodecWorkload:
    """Encode the derived lake into codec blobs, then decode them back."""

    def __init__(self, target_turns: int, warmups: int):
        self.target_turns, self.warmups = target_turns, warmups
        self.replays_stream = False

    def prepare(self, spark, lake: str, turns: int) -> None:
        self.spark, self.lake, self.turns = spark, lake, turns
        self.ref_checksum = None

    def _reference(self) -> int:
        """Checksum of the derived input, computed at the first check (after
        the warm-up operation, so it does not pay the cold start)."""
        if self.ref_checksum is None:
            r = (
                with_derived(self.spark.read.parquet(self.lake))
                .agg(_checksum(self._decoded_cols()).alias("c"))
                .collect()[0]
            )
            self.ref_checksum = _fold(r["c"])
        return self.ref_checksum

    @staticmethod
    def _decoded_cols():
        # decode returns latency as float64 with NaN for the conversation head
        lat = F.coalesce(F.col("latency_ms").cast("double"), F.lit(float("nan")))
        return [F.col("conv_id"), F.col("ts"), lat, F.col("token_count").cast("long")]

    def op(self, work: str, k: int, phases: Phases) -> OpResult:
        spark, res = self.spark, OpResult()
        out = os.path.join(work, f"chunks{k}")
        enc_obs, dec_obs = Observation(), Observation()
        try:
            enc = encode_chunks(with_derived(spark.read.parquet(self.lake))).observe(
                enc_obs,
                F.sum("n").alias("points"),
                F.sum(F.col("ts_bytes") + F.col("latency_bytes") + F.col("token_bytes")).alias(
                    "blob_bytes"
                ),
            )
            with phases(res, "write", "encode"):
                enc.write.parquet(out)
            dec = decode_chunks_df(spark.read.parquet(out)).observe(
                dec_obs,
                F.count(F.lit(1)).alias("n"),
                _checksum(self._decoded_cols()).alias("c"),
            )
            with phases(res, "scan", "decode"):
                dec.write.format("noop").mode("overwrite").save()
            points = int(enc_obs.get["points"] or 0)
            res.bytes_per_turn = int(enc_obs.get["blob_bytes"] or 0) / max(points, 1)
            n_dec, c_dec = int(dec_obs.get["n"]), _fold(dec_obs.get["c"])
            if points != self.turns or n_dec != self.turns:
                res.failures.append(
                    f"encoded {points} / decoded {n_dec} points of {self.turns} turns"
                )
            if c_dec != self._reference():
                res.failures.append("decoded turns differ from the derived input")
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res


WORKLOADS = {
    "lake_rollup": lambda: RollupWorkload(100_000, warmups=1, oracle_turns=10_000),
    "codec_scan": lambda: CodecWorkload(150_000, warmups=1),
}


def kernel_metrics(spark, lake: str, reps: int = 3) -> tuple[dict, list]:
    """Batch codec kernels timed as pure numpy on the lake's derived
    columns, blocked per (conversation, hour) as ``encode_chunks`` blocks
    them. Returns (metrics, failures): a decode that does not return the
    encoded values is a failure."""
    pdf = (
        with_derived(spark.read.parquet(lake))
        .select("conv_id", "ts", "turn_idx", "latency_ms", "token_count")
        .toPandas()
    )
    pdf["ts_us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    pdf["hour"] = pdf["ts_us"] // 3_600_000_000
    pdf = pdf.sort_values(["conv_id", "hour", "ts_us", "turn_idx"], kind="mergesort")
    key = (pdf["conv_id"] + "\x1f" + pdf["hour"].astype(str)).to_numpy()
    starts = np.concatenate(([0], np.flatnonzero(key[1:] != key[:-1]) + 1))
    cols = {
        "ts": (pdf["ts_us"].to_numpy(), encode_dod_batch, decode_dod_batch),
        "latency": (
            pdf["latency_ms"].astype("float64").to_numpy(),
            encode_xor_batch,
            decode_xor_batch,
        ),
        "token": (pdf["token_count"].astype("int64").to_numpy(), encode_dod_batch, decode_dod_batch),
    }
    enc_t = {"dod": [], "xor": []}
    dec_t = {"dod": [], "xor": []}
    dod_values = sum(len(v) for c, (v, *_r) in cols.items() if c != "latency")
    out, failures = {}, []
    for c, (values, enc, dec) in cols.items():
        kind = "xor" if c == "latency" else "dod"
        for _ in range(reps):
            t0 = time.perf_counter()
            blobs = enc(values, starts)
            t1 = time.perf_counter()
            decoded, _starts = dec(blobs)
            t2 = time.perf_counter()
            enc_t[kind].append((c, t1 - t0))
            dec_t[kind].append((c, t2 - t1))
        if not np.array_equal(decoded.view(np.uint64), values.view(np.uint64)):
            failures.append(f"codec kernel round trip changed the {c} column")
        out[f"codec.bits_per_value.{c}"] = 8.0 * sum(len(b) for b in blobs) / len(values)
    n_xor = len(cols["latency"][0])
    for kind, n_values in (("dod", dod_values), ("xor", n_xor)):
        for direction, samples in (("encode", enc_t), ("decode", dec_t)):
            # per column: median over reps; MB/s over the columns of this codec
            secs = sum(
                float(np.median([s for col, s in samples[kind] if col == c]))
                for c in {col for col, _ in samples[kind]}
            )
            out[f"codec.{direction}_{kind}_mb_s"] = n_values * 8 / 1e6 / secs
    return out, failures


#: files the lake is split into for the streaming replay, one per micro-batch
STREAM_FILES = 4
_TURN_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _stream_sum():
    """Row count and a checksum that fits a long, so the streaming
    ``observedMetrics`` carry it exactly: sum of 40-bit xxhash64 residues."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "is_gap_filled"]
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))).alias("c"),
    )


def stream_metrics(spark, lake: str, work: str) -> tuple[dict, list]:
    """Replay the lake through ``streaming_gapfill`` into the noop sink,
    one file per micro-batch (``maxFilesPerTrigger=1``), and read each
    batch's progress. The lake is cut by turn_idx into ``STREAM_FILES``
    files, so every conversation's turns arrive in order and gaps across
    a cut are bounded only by a later batch. Returns (metrics, failures):
    the replay's row count and checksum must equal a batch ``gapfill``
    of the same lake."""
    src_dir = os.path.join(work, "stream-src")
    os.makedirs(src_dir)
    lake_df = spark.read.parquet(lake)
    cuts = lake_df.approxQuantile("turn_idx", [k / STREAM_FILES for k in range(1, STREAM_FILES)], 0)
    bounds = [None, *cuts, None]
    t_base = time.time() - 60
    for k in range(STREAM_FILES):
        part = lake_df
        if bounds[k] is not None:
            part = part.filter(F.col("turn_idx") >= bounds[k])
        if bounds[k + 1] is not None:
            part = part.filter(F.col("turn_idx") < bounds[k + 1])
        tmp = os.path.join(work, f"stream-part{k}")
        part.coalesce(1).write.parquet(tmp)
        (name,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src_dir, f"part-{k}.parquet")
        os.rename(os.path.join(tmp, name), dst)
        shutil.rmtree(tmp)
        # the file source picks files up in modification-time order
        os.utime(dst, (t_base + k, t_base + k))

    stream = spark.readStream.schema(_TURN_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = (
        streaming_gapfill(stream)
        .observe("out", *_stream_sum())
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "stream-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p.numInputRows]
    finally:
        q.stop()
    want = gapfill(lake_df).agg(*_stream_sum()).collect()[0]
    got_n = sum(int(p.observedMetrics["out"]["n"]) for p in batches)
    got_c = sum(int(p.observedMetrics["out"]["c"] or 0) for p in batches)
    failures = []
    if len(batches) != STREAM_FILES:
        failures.append(f"stream replay ran {len(batches)} batches, expected {STREAM_FILES}")
    if (got_n, got_c) != (int(want["n"]), int(want["c"])):
        failures.append(
            f"stream replay emitted {got_n} rows (checksum {got_c}); "
            f"batch gapfill {want['n']} rows (checksum {want['c']})"
        )
    shutil.rmtree(src_dir, ignore_errors=True)
    if not batches:
        return {k: 0.0 for k in STREAM_METRICS}, failures
    turns = sum(p.numInputRows for p in batches)
    trigger_ms = [p.durationMs["triggerExecution"] for p in batches]
    state = [p.stateOperators[0] for p in batches]
    out = {
        f"stream.{ph}_ms": float(np.median([p.durationMs.get(ph, 0) for p in batches]))
        for ph in STREAM_PHASES
    }
    out.update(
        {
            "stream.batch_ms": float(np.median(trigger_ms)),
            "stream.turns_per_s": turns / (sum(trigger_ms) / 1000.0),
            "stream.state_rows": float(state[-1].numRowsTotal),
            "stream.state_bytes": float(state[-1].memoryUsedBytes),
            "stream.state_commit_ms": float(np.median([s.commitTimeMs for s in state])),
        }
    )
    return out, failures
