"""Resumable tiered-rollup job — the spark-submit entrypoint.

Run:
  spark-submit --py-files biomed_timeseries_preprocessing_spark.zip jobs/rollup_job.py \
      --source /path/to/transcripts_parquet --warehouse /path/to/wh \
      --run-id nightly-2026-08-16 --buckets 16

Work is partitioned into ``--buckets`` conv_id hash-buckets. The source
is scanned ONCE: a staging write materializes it bucket-partitioned
(``_staging/<run-id>/bucket=N/``), so every subsequent per-bucket read
prunes to its own partition directory instead of re-scanning the input
(the Iceberg analog is writing the ingest table with a
``bucket(conv_id, N)`` partition transform). Per bucket: derive →
1m→5m→1h→1d cascade → dynamic-partition-overwrite commit of each tier +
ONE batched lineage commit carrying all of the bucket's stage rows. A
killed job re-submitted with the same --run-id resumes from the last
committed snapshot: already committed (stage, bucket) pairs are skipped
(anti-join against lineage), and the half-written bucket is safely
re-committed because tier writes are partition *overwrites*
(idempotent), not appends.

Buckets run as independent pipelines in a small thread pool — the
Spark-shaped version of the reference's per-patient joblib loop
(``File_Struct.py:576-579``) with the two things it lacks, atomic
commits and resume. Stages of different buckets overlap, so there is
no global mode (one partitioned Spark job per stage over every bucket):
with identical tables and lineage it was slower in every recorded
comparison — median 7.19 vs 8.50 s at 4 buckets and 9.37 vs 9.94 s at
8 (BENCH/ab_scheduler.json), 209 vs 299 s at 54 M turns
(BENCH/scheduler_identity_scale.json).
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from biomed_timeseries_preprocessing_spark.functions.codec import encode_chunks  # noqa: E402
from biomed_timeseries_preprocessing_spark.operators.derive import (  # noqa: E402
    token_count_col,
    with_derived,
)
from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill  # noqa: E402
from biomed_timeseries_preprocessing_spark.operators.rollup import (  # noqa: E402
    TIER_ORDER,
    rollup_from_turns,
    rollup_merge,
)
from biomed_timeseries_preprocessing_spark.plans.lineage import (  # noqa: E402
    LineageLog,
    attach_audit,
    audit_bounds,
    bucket_of,
    pending_buckets,
    read_audit,
)
from biomed_timeseries_preprocessing_spark.session import engine_cores, get_spark  # noqa: E402
from biomed_timeseries_preprocessing_spark.sources.catalog import (  # noqa: E402
    get_catalog,
    with_bounds,
)
from biomed_timeseries_preprocessing_spark.sources.ingest import (  # noqa: E402
    text_equality_violations,
)
from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--source", help="transcripts parquet path (else --synth-convs)")
    p.add_argument("--synth-convs", type=int, default=0)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--buckets",
        type=int,
        default=0,
        help="resume/commit units (0 = auto: one per ~512 MB of source, "
        "floor 4, cap 4096). Interleaved A/Bs at 0.8M and 8.6M turns "
        "both put 4 buckets ~1.3x faster than 8 and ~1.9x faster than "
        "16 on one box — extra buckets are pure per-pipeline fixed "
        "cost until the lake is big enough to need the resume "
        "granularity, so the count scales with bytes, not a constant.",
    )
    p.add_argument("--tiers", default=",".join(TIER_ORDER))
    p.add_argument("--master", default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--gapfill",
        action="store_true",
        help="materialize+fill missing turns before derive; enforces the "
        "per-turn text-equality invariant (job fails loudly on violation)",
    )
    p.add_argument(
        "--codec-chunks",
        action="store_true",
        help="also write compressed per-(conv, hour) blobs (codec table)",
    )
    p.add_argument(
        "--bucket-parallelism",
        type=int,
        default=0,
        help="concurrent bucket pipelines "
        "(0 = auto: min(buckets, max(4, cores//4)) — 8 beat 4 by ~14% "
        "every rep at 32 cores, a wash at 8; BENCH/ab_workers.json); "
        "commits serialize under a lock either way.",
    )
    p.add_argument(
        "--fail-after-buckets",
        type=int,
        default=0,
        help="test hook: simulate a kill after N buckets committed",
    )
    return p.parse_args(argv)


def auto_buckets(spark, source: str | None, target_bytes: int = 512 << 20) -> int:
    """Size the bucket count from the source: ~one resume/commit unit
    per 512 MB of input, floor 4, cap 4096. Uses the Hadoop FileSystem
    ContentSummary so any scheme the session can read also sizes; a
    sizing failure (or synth source) falls back to the floor."""
    size = None
    if source:
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(source)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            size = fs.getContentSummary(jpath).getLength()
        except Exception:
            size = None
    if not size:
        return 4
    return int(min(4096, max(4, -(-size // target_bytes))))


def run(args, spark=None) -> dict:
    own_spark = spark is None
    if own_spark:
        spark = get_spark(app_name=f"rollup-{args.run_id}", master=args.master)
    if args.buckets <= 0:
        args.buckets = auto_buckets(spark, args.source)
    catalog = get_catalog(args.warehouse)
    log = LineageLog(catalog, spark)
    tiers = [t for t in TIER_ORDER if t in set(args.tiers.split(","))]

    if args.source:
        raw = spark.read.parquet(args.source)
    else:
        raw = synth_transcripts(spark, args.synth_convs)

    # ------------------------------------------------ stage source ONCE
    # bucket-partitioned staging write: the only full scan of the input.
    # Every per-bucket read below prunes to one partition directory.
    staging = os.path.join(args.warehouse, "_staging", args.run_id)
    # the stage marker encodes the bucket modulus: re-running the same
    # --run-id with a different --buckets must re-stage (staging written
    # under the old modulus would silently mismatch every per-bucket
    # read, lineage key, and skew stat below)
    stage_key = f"all/{args.buckets}"
    stage_done = (
        not args.no_resume
        and stage_key in log.committed(args.run_id, "stage_source")
        and os.path.isdir(staging)
    )
    if not stage_done:
        t0 = time.time()
        # the staged row count rides the staging write (no read-back job)
        sobs = Observation()
        raw.withColumn("bucket", bucket_of(F.col("conv_id"), args.buckets)).observe(
            sobs, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").partitionBy("bucket").parquet(staging)
        n_staged = int(sobs.get["n"])
        log.commit(
            run_id=args.run_id,
            stage="stage_source",
            partition_key=stage_key,
            rows_in=n_staged,
            rows_out=n_staged,
            min_ts=None,
            max_ts=None,
            checksum=0,
            wall_ms=int((time.time() - t0) * 1000),
        )
    staged = spark.read.parquet(staging)

    all_buckets = list(range(args.buckets))

    def bkey(b: int) -> str:
        # modulus-scoped lineage key: bucket 3-of-8 and 3-of-4 hold
        # different conversations (see pending_buckets docstring)
        return f"{b}/{args.buckets}"

    first_stage = f"rollup_{tiers[-1]}"  # a bucket counts as done when its
    # deepest tier committed — lineage rows for every tier are still written.
    todo = (
        all_buckets
        if args.no_resume
        else pending_buckets(
            log, args.run_id, first_stage, all_buckets, modulus=args.buckets
        )
    )
    stats = {"buckets_total": len(all_buckets), "buckets_run": 0, "rows_out": 0}
    # Purge partitions left over from a LARGER bucket modulus before any
    # tier commit: lineage keys are modulus-scoped, so a shrink (e.g.
    # auto-sizing 8 -> 4 on a warehouse written under the old default)
    # reruns every bucket 0..N-1 — but commit_overwrite_partitions only
    # replaces matching {bucket: b} partitions, so bucket >= N would keep
    # the old run's rows while their conversations are re-bucketed into
    # 0..N-1 (silent duplicates). Only tables THIS run rewrites are
    # purged (a table the run doesn't touch keeps its old, internally
    # consistent snapshot); metadata-only, and a no-op snapshot is
    # skipped when no stale partition exists (the common case).
    for stale_table in [f"rollup_{t}" for t in tiers] + (
        ["codec_chunks"] if args.codec_chunks else []
    ):
        n_purged = catalog.delete_files_where(
            stale_table, lambda p: int(p.get("bucket", -1)) >= args.buckets
        )
        if n_purged:
            print(
                f"purged {n_purged} stale data files (bucket >= {args.buckets}) "
                f"from {stale_table} — prior run used a larger bucket modulus"
            )
    commit_lock = threading.Lock()  # snapshot catalog + lineage are
    # last-writer-wins files; commits must serialize. Compute does not:
    # buckets are independent Spark jobs and the scheduler interleaves
    # their tasks, so a small thread pool keeps all cores busy while one
    # bucket sits in its (short, locked) commit section.

    def _run_bucket(i: int, b: int) -> None:
        if args.fail_after_buckets and i >= args.fail_after_buckets:
            raise RuntimeError(f"injected failure before bucket {b} (test hook)")
        t0 = time.time()
        lineage_rows = []  # batched: ONE lineage commit per bucket

        def lineage(stage, rows_in, rows_out, lo=None, hi=None, checksum=0):
            lineage_rows.append(
                (args.run_id, stage, bkey(b), rows_in, rows_out, lo, hi, checksum,
                 int((time.time() - t0) * 1000))
            )

        part = staged.filter(F.col("bucket") == b).drop("bucket")
        if args.gapfill:
            # The whole gapfill audit — total + filled counts AND the
            # text-equality invariant — rides the bucket's FIRST write
            # job via two observe() nodes (guide §1: don't run actions
            # you can piggyback). The invariant is an order-independent
            # multiset checksum comparison (count + wrap-around sum of
            # xxhash64(conv, turn, text)) between the source rows
            # (observed right above the staging scan) and the non-gap
            # output rows (observed right above the derive). Equal
            # multisets ⇒ equal (count, sum); it also catches dropped or
            # duplicated turns. The precise row-listing join runs only
            # on the failure path.
            # Narrow-shuffle plan (guide §2.3): token_count and the
            # invariant hash are computed map-side from text BEFORE the
            # gap-fill exchange and the text payload is DROPPED — only
            # ~40 B/row crosses the bucket shuffle. Gap rows get
            # token_count=0, what derive computes from their "" text.
            pobs, gobs = Observation(), Observation()
            narrow = part.select(
                "conv_id",
                "turn_idx",
                "role",
                "tool",
                "ts",
                token_count_col().alias("token_count"),
                F.xxhash64("conv_id", "turn_idx", "text").alias("_th"),
            )
            src = narrow.observe(
                pobs,
                F.count(F.lit(1)).alias("n_in"),
                F.sum(F.col("_th").cast("decimal(38,0)")).alias("c_in"),
            )
            filled = gapfill(src, carry={"token_count": 0, "_th": None})
            work_turns = filled.observe(
                gobs,
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("is_gap_filled")).alias("nf"),
                F.sum(
                    F.when(
                        ~F.col("is_gap_filled"),
                        F.col("_th").cast("decimal(38,0)"),
                    )
                ).alias("c_out"),
            ).drop("is_gap_filled", "_th")
        else:
            work_turns = part

        def check_gapfill() -> int:
            """Validate the observed gap-fill audit. Called once, after the
            bucket's first write and before any commit; returns the filled
            row count, which is also the derived row count (with_derived
            is row-preserving)."""
            gm, pm = gobs.get, pobs.get
            n, nf = int(gm["n"]), int(gm["nf"])
            if (n - nf != int(pm["n_in"] or 0)) or (
                int(gm["c_out"] or 0) != int(pm["c_in"] or 0)
            ):
                nv = text_equality_violations(
                    part, gapfill(part).filter(~F.col("is_gap_filled"))
                ).count()
                raise RuntimeError(
                    f"text-equality invariant violated in bucket {b} "
                    f"({nv} differing turns; in={int(pm['n_in'] or 0)} rows "
                    f"out={n - nf} rows) — refusing to commit "
                    f"(input_hint contract)"
                )
            lineage("gapfill", n - nf, nf)
            return n

        # derived is persisted ONLY when a second consumer (codec) exists;
        # otherwise the 1m rollup is its sole consumer and caching it just
        # adds reduce-side serialization to the heaviest stage (measured on
        # the 54M-turn cascade probe: persist-chained 42.9 s vs read-back
        # 37.6 s at local[16] — BENCH/BASELINE.md round-4 read-back note)
        derived = with_derived(work_turns)
        if args.codec_chunks:
            derived = derived.persist()
        rows_in = None
        bucket_rows_out = 0
        try:
            if args.codec_chunks:
                # data files write lock-free (Iceberg model: uninstalled
                # uuid-dir files are invisible); only the snapshot swap
                # serializes. The blob/point audit rides the write via
                # observe() — same one-job pattern as the tier audits.
                cobs = Observation()
                enc = encode_chunks(derived).observe(
                    cobs,
                    F.count(F.lit(1)).alias("blobs"),
                    F.sum("n").alias("pts"),
                )
                chunk_files = catalog.write_data_files(
                    "codec_chunks", enc, {"bucket": b}
                )
                if args.gapfill:
                    rows_in = check_gapfill()
                with commit_lock:
                    catalog.commit_overwrite_partitions(
                        "codec_chunks", chunk_files, {"bucket": b}
                    )
                cm = cobs.get
                lineage("codec_chunks", int(cm["pts"] or 0), int(cm["blobs"] or 0))
            df = None
            prev_paths: list[str] = []
            for ti, tier in enumerate(tiers):
                if ti == 0:
                    df = rollup_from_turns(derived, tier)
                else:
                    # read-back chaining: tier k+1 merges from the (tiny)
                    # data files tier k just wrote — they are exactly the
                    # rows a persist() would hold, already on fast storage
                    # and invisible to other readers until their commit
                    # (Iceberg jobs chain tables the same way)
                    df = rollup_merge(
                        spark.read.parquet(*prev_paths) if prev_paths else df.limit(0),
                        tier,
                    )
                # the lineage audit (count + extent + checksum) rides the
                # tier write via observe() — ONE Spark job per tier
                audited, obs = attach_audit(
                    df, ["conv_id", "bucket_start", "cnt", "sum_tokens"], "bucket_start"
                )
                if rows_in is None and not args.gapfill:
                    # sum(cnt) over the first tier == derived row count:
                    # the rows_in audit rides the same write job instead
                    # of a separate derived.count() action
                    rows_obs = Observation()
                    audited = audited.observe(
                        rows_obs, F.sum("cnt").alias("rows_in")
                    )
                # the tier write (a Spark job) runs lock-free — holding the
                # commit lock across it serialized all 4-tiers x all-buckets
                # writes, the dominant serial section of the whole job
                # (measured: see BENCH/BASELINE.md round-4 commit-path
                # note); only the O(manifest) snapshot swap needs the lock
                tier_files = catalog.write_data_files(
                    f"rollup_{tier}", audited, {"bucket": b}
                )
                if rows_in is None:
                    rows_in = (
                        check_gapfill()
                        if args.gapfill
                        else int(rows_obs.get["rows_in"] or 0)
                    )
                rows_out, lo, hi, checksum = read_audit(obs)
                if rows_out:
                    # manifest bounds let retention skip files it cannot expire
                    tier_files = with_bounds(tier_files, *audit_bounds(obs))
                else:
                    # an empty bucket commits no file (Spark still writes
                    # one empty file here, which would be an unbounded entry)
                    catalog.discard_data_files(f"rollup_{tier}", tier_files)
                    tier_files = []
                prev_paths = [f["path"] for f in tier_files]
                with commit_lock:
                    catalog.commit_overwrite_partitions(
                        f"rollup_{tier}", tier_files, {"bucket": b}
                    )
                lineage(f"rollup_{tier}", rows_in, rows_out, lo, hi, checksum)
                bucket_rows_out += rows_out
        finally:
            # unpersist even when the bucket raises (e.g. text-equality
            # violation): with a thread pool, other workers keep running
            # while the failure propagates — leaked pinned frames would
            # add memory pressure right when the job is already failing
            if args.codec_chunks:
                derived.unpersist()
        # single atomic lineage commit: a bucket is either fully recorded
        # (deepest tier present → resume skips it) or not at all
        with commit_lock:
            log.commit_many(args.run_id, lineage_rows)
            stats["rows_out"] += bucket_rows_out
            stats["buckets_run"] += 1

    # bucket pipelines run in a small thread pool (concurrent Spark jobs:
    # the scheduler fills the slot gaps one bucket's stage barriers
    # leave). The auto pool size scales with the session's cores: 8
    # workers beat 4 by ~14% on every rep at 32 cores and tied at 8
    # (BENCH/ab_workers.json). The test kill-hook forces sequential so
    # "fail after N buckets committed" stays deterministic.
    if args.fail_after_buckets:
        workers = 1
    else:
        workers = args.bucket_parallelism or min(
            len(todo), max(4, engine_cores(spark) // 4)
        )
    if workers <= 1:
        for i, b in enumerate(todo):
            _run_bucket(i, b)
    else:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(_run_bucket, range(len(todo)), todo))
    if own_spark:
        spark.stop()
    return stats


if __name__ == "__main__":
    print(run(parse_args()))
