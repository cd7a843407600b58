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

Two schedulers (same commits, same lineage, bit-identical tables):
``--scheduler per-bucket`` (default) runs an independent pipeline per
bucket in a thread pool — the Spark-shaped version of the reference's
per-patient joblib loop (``File_Struct.py:576-579``) with the two
things it lacks, atomic commits and resume; stages of different
buckets overlap, measured 10-15% faster than the barrier plan here
(BENCH/ab_scheduler.json). ``--scheduler global`` runs ONE partitioned
Spark job per stage over every pending bucket and slices the
partitionBy(bucket) output per bucket for independent commits — the
shape for a wide cluster when bucket count >> pool size.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

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
        help="per-bucket scheduler only: concurrent bucket pipelines "
        "(0 = auto: min(buckets, max(4, cores//4)) — 8 beat 4 by ~14% "
        "every rep at 32 cores, a wash at 8; BENCH/ab_workers.json); "
        "commits serialize under a lock "
        "either way. Setting this implies --scheduler per-bucket.",
    )
    p.add_argument(
        "--scheduler",
        choices=["auto", "per-bucket", "global"],
        default="auto",
        help="'auto' (default): per-bucket on a single-JVM local master, "
        "global on a multi-executor cluster master — see "
        "resolve_scheduler. 'per-bucket': independent pipeline per "
        "bucket in a thread pool — stages of different buckets overlap, "
        "which measured 10-15%% faster than the global barrier plan on "
        "one box (BENCH/ab_scheduler.json) and gives small failure/retry "
        "domains. 'global': ONE partitioned Spark job per stage over "
        "all pending buckets, per-bucket commit atomicity kept by "
        "slicing the partitionBy(bucket) output per directory "
        "(Iceberg's model) — the shape that trivially saturates a "
        "wide cluster when bucket count >> pool size.",
    )
    p.add_argument(
        "--fail-after-buckets",
        type=int,
        default=0,
        help="test hook: simulate a kill after N buckets committed",
    )
    return p.parse_args(argv)


def resolve_scheduler(master: str, choice: str = "auto") -> str:
    """Pick the bucket scheduler for the deployment shape (VERDICT r4 #4).

    'auto' → 'per-bucket' on a single-JVM local master (local / local[n] /
    local[*]), where overlapping independent bucket pipelines measured
    10-15% faster than the global barrier plan (BENCH/ab_scheduler.json);
    → 'global' on any multi-executor master (yarn, spark://, k8s://,
    local-cluster), where one partitionBy(bucket) job per stage is the
    shape that saturates a wide cluster once bucket count >> driver pool
    size. Both schedulers produce bit-identical tables and lineage
    (BENCH/scheduler_identity_scale.json, proven at 54M turns), so the
    flip is purely a throughput decision. An explicit choice wins."""
    if choice != "auto":
        return choice
    is_local = master == "local" or (
        master.startswith("local[") and not master.startswith("local-cluster")
    )
    return "per-bucket" if is_local else "global"


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
        persisted = []
        lineage_rows = []  # batched: ONE lineage commit per bucket
        try:
            _run_bucket_body(i, b, t0, persisted, lineage_rows)
        finally:
            # unpersist even when the bucket raises (e.g. text-equality
            # violation): with a thread pool, other workers keep running
            # while the failure propagates — leaked pinned frames would
            # add memory pressure right when the job is already failing
            for p in persisted:
                p.unpersist()

    def _run_bucket_body(
        i: int, b: int, t0: float, persisted: list, lineage_rows: list
    ) -> None:
        part = staged.filter(F.col("bucket") == b).drop("bucket")
        rows_in = None
        if args.gapfill:
            # The whole gapfill audit — total + filled counts AND the
            # text-equality invariant — rides the bucket's FIRST real
            # write job via two observe() nodes (guide §1: don't run
            # actions you can piggyback). The invariant is an
            # order-independent multiset checksum comparison (count +
            # wrap-around sum of xxhash64(conv, turn, text)) between
            # the source rows (observed right above the staging scan)
            # and the non-gap output rows (observed right above the
            # derive), instead of r5's (conv_id, turn_idx)-keyed JOIN
            # that shuffled the text payload of both sides per bucket
            # and needed its own action + a persist of the filled frame
            # (guide §2.3: shuffle hashes, not payloads — both checksum
            # subtrees are computed as the rows stream by). Equal
            # multisets ⇒ equal (count, sum); STRICTER than the old
            # inner-join check (also catches dropped/duplicated turns).
            # The precise row-listing join runs only on the failure
            # path, which is also the only path that recomputes the
            # un-persisted filled frame. _gapfill_audit() validates
            # after the first action and always BEFORE any commit.
            # narrow-shuffle plan (guide §2.3): token_count and the
            # invariant hash are computed map-side from text BEFORE the
            # gap-fill exchange and the text payload is DROPPED — only
            # ~40 B/row crosses the bucket shuffle instead of the raw
            # text. The carried hash preserves the invariant's power
            # against row loss/duplication/misrouting (there is no text
            # in flight left to corrupt), and gap rows get
            # token_count=0, exactly what the old derive computed from
            # their "" fill text.
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
            gobs = pobs = None
            work_turns = part
        _audited = []

        def _gapfill_audit() -> None:
            nonlocal rows_in
            if gobs is None or _audited:
                return
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
            _audited.append(True)
            # with_derived is row-preserving, so the observed filled
            # count already IS the derived row count — no extra action
            rows_in = n
            lineage_rows.append(
                (
                    args.run_id,
                    "gapfill",
                    bkey(b),
                    n - nf,
                    nf,
                    None,
                    None,
                    0,
                    int((time.time() - t0) * 1000),
                )
            )
        # derived is persisted ONLY when a second consumer (codec) exists;
        # otherwise the 1m rollup is its sole consumer and caching it just
        # adds reduce-side serialization to the heaviest stage (measured on
        # the 54M-turn cascade probe: persist-chained 42.9 s vs read-back
        # 37.6 s at local[16] — BENCH/BASELINE.md round-4 read-back note)
        derived = with_derived(work_turns)
        if args.codec_chunks:
            derived = derived.persist()
            persisted.append(derived)
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
            _gapfill_audit()  # first action done — validate before commit
            with commit_lock:
                catalog.commit_overwrite_partitions(
                    "codec_chunks", chunk_files, {"bucket": b}
                )
            cm = cobs.get
            lineage_rows.append(
                (
                    args.run_id,
                    "codec_chunks",
                    bkey(b),
                    int(cm["pts"] or 0),
                    int(cm["blobs"] or 0),
                    None,
                    None,
                    0,
                    int((time.time() - t0) * 1000),
                )
            )
        df = None
        prev_paths: list[str] = []
        bucket_rows_out = 0
        for ti, tier in enumerate(tiers):
            if ti == 0:
                df = rollup_from_turns(derived, tier)
            else:
                # read-back chaining: tier k+1 merges from the (tiny)
                # data files tier k just wrote — they are exactly the
                # rows the old persist() held, already on fast storage
                # and invisible to other readers until their commit.
                # Dropping the tier persists removed the cache
                # materialization from the wide stage (Iceberg jobs
                # chain tables the same way)
                df = rollup_merge(
                    spark.read.parquet(*prev_paths) if prev_paths else df.limit(0),
                    tier,
                )
            # the lineage audit (count + extent + checksum) rides the
            # tier write via observe() — ONE Spark job per tier where
            # r3 ran two (audit pass, then write) and r1 ran four
            audited, obs = attach_audit(
                df, ["conv_id", "bucket_start", "cnt", "sum_tokens"], "bucket_start"
            )
            rows_obs = None
            if ti == 0 and rows_in is None and gobs is None:
                # sum(cnt) over the first tier == derived row count:
                # the rows_in audit rides the same write job instead of
                # a separate derived.count() action (gapfill runs get
                # rows_in from the observed filled count instead)
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
            _gapfill_audit()  # no-op after the first call / without --gapfill
            rows_out, lo, hi, checksum = read_audit(obs)
            if rows_obs is not None:
                rows_in = int(rows_obs.get["rows_in"] or 0)
            if rows_out:
                # manifest bounds let retention skip files it cannot expire
                tier_files = with_bounds(tier_files, *audit_bounds(obs))
            else:
                # an empty bucket commits no file, as in the global
                # scheduler's partitionBy write (Spark still writes one
                # empty file here, which would be an unbounded entry)
                catalog.discard_data_files(f"rollup_{tier}", tier_files)
                tier_files = []
            prev_paths = [f["path"] for f in tier_files]
            with commit_lock:
                catalog.commit_overwrite_partitions(
                    f"rollup_{tier}", tier_files, {"bucket": b}
                )
            lineage_rows.append(
                (
                    args.run_id,
                    f"rollup_{tier}",
                    bkey(b),
                    rows_in,
                    rows_out,
                    lo,
                    hi,
                    checksum,
                    int((time.time() - t0) * 1000),
                )
            )
            bucket_rows_out += rows_out
        # single atomic lineage commit: a bucket is either fully recorded
        # (deepest tier present → resume skips it) or not at all
        with commit_lock:
            log.commit_many(args.run_id, lineage_rows)
            stats["rows_out"] += bucket_rows_out
            stats["buckets_run"] += 1

    def _run_global(todo: list[int]) -> None:
        """One partitioned Spark job per stage over ALL pending buckets.

        Spark packs the same work into one job per stage (gap-fill audit, one
        write per tier), and the per-bucket commit/resume granularity
        survives via ``write_data_files_partitioned``: the tier write is
        partitionBy(bucket), its output sliced per bucket directory, and
        each bucket commits its own snapshot + atomic lineage batch —
        the task-write/metadata-commit split again, now with one job
        feeding many commits. Work lost on a kill is the in-flight
        stage (vs the in-flight bucket). On this box the per-bucket
        pool wins by overlapping stages of different buckets
        (BENCH/ab_scheduler.json: 13.1 vs 15.3 s best), so it stays
        the default; this mode is the saturation shape for a wide
        cluster where bucket count >> pool size."""
        t0 = time.time()
        bcol = bucket_of(F.col("conv_id"), args.buckets)
        part = staged.filter(F.col("bucket").isin(todo)).drop("bucket")
        wall = lambda: int((time.time() - t0) * 1000)  # noqa: E731
        lineage_by_bucket: dict[int, list] = {b: [] for b in todo}
        persisted = []
        try:
            if args.gapfill:
                # same narrow-shuffle + checksum-invariant plan as the
                # per-bucket scheduler (see there): hash/count text
                # map-side, drop the payload, carry token_count and the
                # hash through the fill
                narrow = part.select(
                    "conv_id",
                    "turn_idx",
                    "role",
                    "tool",
                    "ts",
                    token_count_col().alias("token_count"),
                    F.xxhash64("conv_id", "turn_idx", "text").alias("_th"),
                )
                filled = gapfill(
                    narrow, carry={"token_count": 0, "_th": None}
                ).persist()
                persisted.append(filled)
                # ONE action: per-bucket totals + filled counts + the
                # multiset-checksum text-equality invariant (both
                # subtrees are map-side partial aggregates; no text
                # ever crosses a shuffle for the audit)
                _ck = F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)")
                counts = (
                    filled.groupBy(bcol.alias("bucket")).agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count_if(F.col("is_gap_filled")).alias("nf"),
                        F.sum(
                            F.when(
                                ~F.col("is_gap_filled"),
                                F.col("_th").cast("decimal(38,0)"),
                            )
                        ).alias("c_out"),
                    )
                )
                ins = part.groupBy(bcol.alias("bucket")).agg(
                    F.count(F.lit(1)).alias("n_in"),
                    F.sum(_ck).alias("c_in"),
                )
                audit = {
                    int(r["bucket"]): r
                    for r in counts.join(ins, "bucket", "left").collect()
                }
                bad = [
                    b
                    for b, r in audit.items()
                    if int(r["n"]) - int(r["nf"]) != int(r["n_in"] or 0)
                    or int(r["c_out"] or 0) != int(r["c_in"] or 0)
                ]
                if bad:
                    nv = text_equality_violations(
                        part, filled.filter(~F.col("is_gap_filled"))
                    ).count()
                    raise RuntimeError(
                        f"text-equality invariant violated in buckets {sorted(bad)} "
                        f"({nv} differing turns) — refusing to commit "
                        f"(input_hint contract)"
                    )
                tier_rows_in = {}
                for b in todo:
                    r = audit.get(b)
                    n, nf = (int(r["n"]), int(r["nf"])) if r is not None else (0, 0)
                    tier_rows_in[b] = n
                    lineage_by_bucket[b].append(
                        (args.run_id, "gapfill", bkey(b), n - nf, nf, None, None, 0, wall())
                    )
                work_turns = filled.drop("is_gap_filled", "_th")
            else:
                work_turns = part
                tier_rows_in = None
            # persist derived only for the codec fan-out — the 1m rollup
            # is otherwise its sole consumer (see the per-bucket
            # scheduler's read-back note)
            derived = with_derived(work_turns)
            if args.codec_chunks:
                derived = derived.persist()
                persisted.append(derived)
                chunk_files = catalog.write_data_files_partitioned(
                    "codec_chunks",
                    encode_chunks(derived).withColumn("bucket", bcol),
                    "bucket",
                )
                # per-bucket blob/point audit off the just-written files
                # (bcol recomputed from conv_id — no dependence on the
                # partition column), one tiny aggregate for all buckets;
                # mirrors the tier-audit read-back below
                cpaths = [
                    e["path"] for entries in chunk_files.values() for e in entries
                ]
                codec_audit = (
                    {
                        int(r["bucket"]): r
                        for r in spark.read.parquet(*cpaths)
                        .groupBy(bcol.alias("bucket"))
                        .agg(
                            F.count(F.lit(1)).alias("blobs"),
                            F.sum("n").alias("pts"),
                        )
                        .collect()
                    }
                    if cpaths
                    else {}
                )
                for b in todo:
                    catalog.commit_overwrite_partitions(
                        "codec_chunks", chunk_files.get(b, []), {"bucket": b}
                    )
                    cr = codec_audit.get(b)
                    lineage_by_bucket[b].append(
                        (
                            args.run_id,
                            "codec_chunks",
                            bkey(b),
                            int(cr["pts"]) if cr is not None else 0,
                            int(cr["blobs"]) if cr is not None else 0,
                            None,
                            None,
                            0,
                            wall(),
                        )
                    )
            df = None
            prev_read = None
            for ti, tier in enumerate(tiers):
                df = (
                    rollup_from_turns(derived, tier)
                    if ti == 0
                    else rollup_merge(prev_read, tier)
                )
                tier_files = catalog.write_data_files_partitioned(
                    f"rollup_{tier}", df.withColumn("bucket", bcol), "bucket"
                )
                # read-back chaining (see per-bucket scheduler): the next
                # tier AND the per-bucket audit read the tiny data files
                # this tier just wrote instead of re-pinning the frame
                paths = [
                    e["path"] for entries in tier_files.values() for e in entries
                ]
                prev_read = (
                    spark.read.parquet(*paths) if paths else df.limit(0)
                )
                # per-bucket audit off the just-written files — same
                # count/extent/checksum tuple the per-bucket scheduler
                # records, one (tiny) aggregate for all buckets; the
                # first tier's sum(cnt) doubles as the derived row count
                audit_rows = {
                    int(r["bucket"]): r
                    for r in prev_read.groupBy(bcol.alias("bucket"))
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.min("bucket_start").alias("lo"),
                        F.max("bucket_start").alias("hi"),
                        F.unix_micros(F.min("bucket_start")).alias("lo_us"),
                        F.unix_micros(F.max("bucket_start")).alias("hi_us"),
                        F.sum(
                            F.xxhash64(
                                "conv_id", "bucket_start", "cnt", "sum_tokens"
                            ).cast("decimal(38,0)")
                        ).alias("c"),
                        F.sum("cnt").alias("rows_in"),
                    )
                    .collect()
                }
                if ti == 0 and tier_rows_in is None:
                    tier_rows_in = {
                        b: int(audit_rows[b]["rows_in"]) if b in audit_rows else 0
                        for b in todo
                    }
                for b in todo:
                    r = audit_rows.get(b)
                    catalog.commit_overwrite_partitions(
                        f"rollup_{tier}",
                        with_bounds(
                            tier_files.get(b, []),
                            r["lo_us"] if r is not None else None,
                            r["hi_us"] if r is not None else None,
                        ),
                        {"bucket": b},
                    )
                    rows_out = int(r["n"]) if r is not None else 0
                    lineage_by_bucket[b].append(
                        (
                            args.run_id,
                            f"rollup_{tier}",
                            bkey(b),
                            tier_rows_in[b],
                            rows_out,
                            r["lo"] if r is not None else None,
                            r["hi"] if r is not None else None,
                            (int(r["c"] or 0) % (1 << 63)) if r is not None else 0,
                            wall(),
                        )
                    )
                    stats["rows_out"] += rows_out
        finally:
            for p in persisted:
                p.unpersist()
        # lineage stays atomic PER BUCKET (resume granularity unchanged):
        # one snapshot commit per bucket, all its stages together
        for b in todo:
            log.commit_many(args.run_id, lineage_by_bucket[b])
            stats["buckets_run"] += 1

    scheduler = resolve_scheduler(
        spark.sparkContext.master, getattr(args, "scheduler", "auto")
    )
    per_bucket = (
        scheduler == "per-bucket"
        or bool(args.fail_after_buckets)
        or bool(args.bucket_parallelism)
    )
    if todo and not per_bucket:
        _run_global(todo)
    elif todo:
        # bucket compute runs in a small thread pool (concurrent Spark
        # jobs — the cluster scheduler fills slot gaps one bucket's stage
        # barriers leave); the test kill-hook forces sequential so "fail
        # after N buckets committed" stays deterministic
        # auto pool size scales with the session's cores: 8 workers beat 4
        # by ~14% on every rep at 32 cores (concurrent bucket pipelines
        # fill the slot gaps each bucket's stage barriers leave) and tied
        # at 8 cores — BENCH/ab_workers.json
        workers = args.bucket_parallelism or min(
            max(1, len(todo)), max(4, engine_cores(spark) // 4)
        )
        if args.fail_after_buckets:
            workers = 1
        if workers <= 1:
            for i, b in enumerate(todo):
                _run_bucket(i, b)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=workers) as pool:
                list(pool.map(_run_bucket, range(len(todo)), todo))
    if own_spark:
        spark.stop()
    return stats


if __name__ == "__main__":
    print(run(parse_args()))
