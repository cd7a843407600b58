"""Lineage/resume + retention + salted-rollup tests (SURVEY §5 item 4:
resume-after-kill == uninterrupted run; FIXTURES F5)."""

import argparse
import datetime as dt
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from biomed_timeseries_preprocessing_spark.operators.derive import with_derived
from biomed_timeseries_preprocessing_spark.operators.retention import apply_retention
from biomed_timeseries_preprocessing_spark.operators.rollup import rollup_from_turns
from biomed_timeseries_preprocessing_spark.plans.skew import rollup_from_turns_salted
from biomed_timeseries_preprocessing_spark.sources.catalog import (
    LocalSnapshotCatalog,
    with_bounds,
)
from jobs.rollup_job import run as run_job


def job_args(**kw):
    base = dict(
        source=None,
        synth_convs=6,
        warehouse=None,
        run_id="t",
        buckets=4,
        tiers="1m,5m,1h,1d",
        master=None,
        no_resume=False,
        fail_after_buckets=0,
        gapfill=False,
        codec_chunks=False,
        bucket_parallelism=0,
    )
    base.update(kw)
    return argparse.Namespace(**base)


def read_sorted(catalog, spark, table):
    return (
        catalog.read(spark, table)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
        .pipe(lambda d: d[sorted(d.columns)])
    )


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    # uninterrupted
    stats = run_job(job_args(warehouse=wh_a, run_id="r1"), spark=spark)
    assert stats["buckets_run"] == 4

    # killed after 2 buckets, then resumed
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(job_args(warehouse=wh_b, run_id="r1", fail_after_buckets=2), spark=spark)
    resumed = run_job(job_args(warehouse=wh_b, run_id="r1"), spark=spark)
    assert resumed["buckets_run"] == 2  # only the pending buckets ran

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_a, spark, f"rollup_{tier}")
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)

    # no recompute: exactly one lineage row per (stage, bucket), plus the
    # single stage_source staging row (written once, skipped on resume)
    lin = cat_b.read(spark, "lineage").toPandas()
    per = lin.groupby(["stage", "partition_key"]).size()
    assert (per == 1).all()
    assert len(per) == 4 * 4 + 1
    assert len(lin[lin.stage == "stage_source"]) == 1


def test_snapshot_isolation_and_expiry(spark, tmp_path):
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    df1 = spark.range(5).withColumnRenamed("id", "v")
    df2 = spark.range(5, 8).withColumnRenamed("id", "v")
    s1 = cat.append("t", df1)
    s2 = cat.append("t", df2)
    assert cat.read(spark, "t", snapshot_id=s1).count() == 5  # time travel
    assert cat.read(spark, "t", snapshot_id=s2).count() == 8
    cat.overwrite("t", df2)
    assert cat.read(spark, "t").count() == 3
    removed = cat.expire_snapshots("t", keep_last=1)
    assert removed > 0
    assert cat.read(spark, "t").count() == 3  # current untouched


def test_retention_expiry(spark, tmp_path, small_transcripts):
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    tier = rollup_from_turns(with_derived(small_transcripts), "1m")
    cat.append("rollup_1m", tier)
    lo, hi = tier.toPandas()["bucket_start"].agg(["min", "max"])
    cutoff = (lo + (hi - lo) / 2).to_pydatetime()
    now = cutoff + dt.timedelta(seconds=7 * 86400)  # horizon lands on cutoff
    removed = apply_retention(cat, spark, now, retention={"1m": 7 * 86400})
    kept = cat.read(spark, "rollup_1m").toPandas()
    assert removed["1m"] > 0
    assert (kept["bucket_start"] >= cutoff).all()
    assert removed["1m"] + len(kept) == tier.count()


def test_salted_rollup_bit_identical(spark, small_transcripts):
    derived = with_derived(small_transcripts)
    plain = (
        rollup_from_turns(derived, "1h")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    salted = (
        rollup_from_turns_salted(derived, "1h", n_salts=8)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        plain[sorted(plain.columns)], salted[sorted(salted.columns)], check_exact=True
    )


def test_job_with_gapfill_and_codec(spark, tmp_path):
    """--gapfill enforces the text-equality invariant and commits a
    gapfill lineage stage; --codec-chunks writes the compressed table."""
    args = job_args(
        warehouse=str(tmp_path / "wh"), run_id="g1", buckets=2, tiers="1m,1h"
    )
    args.gapfill = True
    args.codec_chunks = True
    stats = run_job(args, spark=spark)
    assert stats["buckets_run"] == 2
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    lin = cat.read(spark, "lineage").toPandas()
    assert set(lin["stage"]) == {
        "stage_source", "gapfill", "codec_chunks", "rollup_1m", "rollup_1h"
    }
    gap_rows = lin[lin.stage == "gapfill"]
    assert len(gap_rows) == 2 and gap_rows["rows_out"].sum() > 0
    chunks = cat.read(spark, "codec_chunks")
    assert chunks.count() > 0
    # codec lineage: rows_in = encoded points (== derived turn count),
    # rows_out = blobs — matches the committed table exactly
    codec_rows = lin[lin.stage == "codec_chunks"]
    assert len(codec_rows) == 2
    assert int(codec_rows["rows_out"].sum()) == chunks.count()
    import pyspark.sql.functions as F
    assert int(codec_rows["rows_in"].sum()) == int(
        chunks.agg(F.sum("n")).collect()[0][0]
    )
    # compressed strictly smaller than raw for the ts series
    import pyspark.sql.functions as F
    sums = chunks.select(F.sum("ts_bytes").alias("c"), F.sum("raw_bytes").alias("r")).collect()[0]
    assert sums["c"] < sums["r"]


def test_staging_prunes_per_bucket_scan(spark, tmp_path):
    """The source is scanned once into a bucket-partitioned staging dir;
    each per-bucket read must hit a PartitionFilter (directory pruning),
    not a full re-scan — the scan-multiplication fix."""
    import os

    import pyspark.sql.functions as F

    wh = str(tmp_path / "wh")
    run_job(job_args(warehouse=wh, run_id="r2", tiers="1m"), spark=spark)
    staging = os.path.join(wh, "_staging", "r2")
    parts = {d for d in os.listdir(staging) if d.startswith("bucket=")}
    assert parts and parts <= {f"bucket={b}" for b in range(4)}
    plan = (
        spark.read.parquet(staging)
        .filter(F.col("bucket") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_bucket_parallelism_bit_identical(spark, tmp_path):
    """Concurrent bucket pipelines (thread pool + locked commits) must
    produce byte-identical tiers, codec blobs and lineage content as the
    sequential path — with gapfill + codec on, and with empty buckets in
    play (6 convs over 8 buckets)."""
    wh_s, wh_p = str(tmp_path / "seq"), str(tmp_path / "par")
    base = dict(run_id="rp", buckets=8, gapfill=True, codec_chunks=True)
    stats_s = run_job(job_args(warehouse=wh_s, bucket_parallelism=1, **base), spark=spark)
    stats_p = run_job(job_args(warehouse=wh_p, bucket_parallelism=4, **base), spark=spark)
    assert stats_s["buckets_run"] == stats_p["buckets_run"] == 8
    assert stats_s["rows_out"] == stats_p["rows_out"]
    cat_s, cat_p = LocalSnapshotCatalog(wh_s), LocalSnapshotCatalog(wh_p)
    # every tier file is stamped with bounds (empty buckets commit no
    # file), so retention can skip files without reading them
    for cat in (cat_s, cat_p):
        for tier in ("1m", "5m", "1h", "1d"):
            files = cat.current_files(f"rollup_{tier}")
            assert files and all(f["lower"] <= f["upper"] for f in files)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_s, spark, f"rollup_{tier}")
        b = read_sorted(cat_p, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    lin_s = cat_s.read(spark, "lineage").toPandas()
    lin_p = cat_p.read(spark, "lineage").toPandas()
    per = lin_p.groupby(["stage", "partition_key"]).size()
    # gapfill + codec_chunks + 4 tiers per bucket, plus stage_source
    assert (per == 1).all() and len(per) == 6 * 8 + 1
    key = ["stage", "partition_key", "rows_in", "rows_out", "checksum"]
    pd.testing.assert_frame_equal(
        lin_s[key].sort_values(key).reset_index(drop=True),
        lin_p[key].sort_values(key).reset_index(drop=True),
        check_exact=True,
    )
    # codec table identical blob-for-blob
    cs = cat_s.read(spark, "codec_chunks").toPandas().sort_values(
        ["conv_id", "chunk_start"]).reset_index(drop=True)
    cp = cat_p.read(spark, "codec_chunks").toPandas().sort_values(
        ["conv_id", "chunk_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(cs[sorted(cs.columns)], cp[sorted(cp.columns)])


def test_two_phase_overwrite_invisible_until_commit(spark, tmp_path):
    """Iceberg model: write_data_files runs the Spark job lock-free and
    its files stay invisible until commit_overwrite_partitions swaps the
    snapshot pointer; the committed result is identical to the one-shot
    overwrite_partitions (jobs/rollup_job.py writes tiers this way so
    concurrent bucket workers only serialize the O(manifest) swap)."""
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    base = spark.range(4).withColumnRenamed("id", "v")
    cat.overwrite_partitions("t", base, {"bucket": 0})

    staged = cat.write_data_files("t", spark.range(10, 13).withColumnRenamed("id", "v"), {"bucket": 0})
    assert len(staged) > 0
    # not yet visible: readers still see the bucket-0 files from snap 1
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [0, 1, 2, 3]

    snap = cat.commit_overwrite_partitions("t", staged, {"bucket": 0})
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [10, 11, 12]

    # other partitions survive a two-phase overwrite of bucket 0
    cat.overwrite_partitions("t", spark.range(20, 22).withColumnRenamed("id", "v"), {"bucket": 1})
    staged2 = cat.write_data_files("t", spark.range(30, 31).withColumnRenamed("id", "v"), {"bucket": 0})
    cat.commit_overwrite_partitions("t", staged2, {"bucket": 0})
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [20, 21, 30]
    assert snap >= 2


def test_rerun_under_shrunk_bucket_modulus_purges_stale_partitions(spark, tmp_path):
    """SHRINK direction (ADVICE r4 high): a warehouse written under 8
    buckets and rerun with 4 (reachable without user action: --buckets 0
    auto-sized the old default to 8, the new floor is 4) must not keep
    partitions bucket >= 4 from the old run — their conversations are
    re-bucketed into 0..3, so stale partitions mean silent duplicate
    rows. The job purges bucket >= N before any tier commit, and the
    result equals a fresh run at the new modulus."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    # fresh run at the new (smaller) modulus — the expected end state
    run_job(job_args(warehouse=wh_a, run_id="r1", buckets=4), spark=spark)

    # old run at 8, then rerun of the same warehouse+run-id at 4
    run_job(job_args(warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    rerun = run_job(job_args(warehouse=wh_b, run_id="r1", buckets=4), spark=spark)
    assert rerun["buckets_run"] == 4  # modulus-scoped keys rerun everything

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        # no duplicates: each (conv_id, bucket_start) appears exactly once
        assert not b.duplicated(subset=["conv_id", "bucket_start"]).any()
        pd.testing.assert_frame_equal(
            read_sorted(cat_a, spark, f"rollup_{tier}"), b, check_exact=True
        )


def test_resume_under_changed_bucket_modulus_reruns_everything(spark, tmp_path):
    """Bucket 3-of-4 and 3-of-8 hold different conversations: a resume
    whose bucket count differs from the killed run's (reachable without
    user action once --buckets 0 auto-sizes from a source that grew)
    must NOT skip bucket indices committed under the old modulus. The
    modulus-scoped lineage keys make the resume re-run all buckets, and
    the tiers come out identical to an uninterrupted run at the new
    modulus (tier writes are partition overwrites — idempotent)."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")

    stats = run_job(job_args(warehouse=wh_a, run_id="r1", buckets=8), spark=spark)
    assert stats["buckets_run"] == 8

    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(
            job_args(warehouse=wh_b, run_id="r1", buckets=4, fail_after_buckets=2),
            spark=spark,
        )
    resumed = run_job(job_args(warehouse=wh_b, run_id="r1", buckets=8), spark=spark)
    assert resumed["buckets_run"] == 8  # nothing skipped across the modulus change

    cat_a, cat_b = LocalSnapshotCatalog(wh_a), LocalSnapshotCatalog(wh_b)
    for tier in ("1m", "5m", "1h", "1d"):
        a = read_sorted(cat_a, spark, f"rollup_{tier}")
        b = read_sorted(cat_b, spark, f"rollup_{tier}")
        pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_rerun_after_retention_equals_fresh_run(spark, tmp_path):
    """A nightly re-run (new run id, same warehouse) after a retention
    pass must give every tier bit-identical to a fresh run: the
    retention rewrite keeps each file's {"bucket": b} partition, so the
    re-run's partition overwrites replace the rewritten files instead of
    stacking duplicate rows on top of them."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_job(job_args(warehouse=wh_a, run_id="fresh"), spark=spark)
    run_job(job_args(warehouse=wh_b, run_id="night-1"), spark=spark)

    cat_b = LocalSnapshotCatalog(wh_b)
    src = cat_b.current_files("rollup_1m")
    bucket_of_conv = {
        c: f["partition"]["bucket"]
        for f in src
        for c in pq.read_table(f["path"], columns=["conv_id"])["conv_id"].to_pylist()
    }
    ts = cat_b.read(spark, "rollup_1m").toPandas()["bucket_start"]
    mid = (ts.min() + (ts.max() - ts.min()) / 2).to_pydatetime()
    removed = apply_retention(cat_b, spark, mid + dt.timedelta(days=7))
    assert removed["1m"] > 0

    old_paths = {f["path"] for f in src}
    rewritten = [f for f in cat_b.current_files("rollup_1m") if f["path"] not in old_paths]
    assert rewritten
    for f in rewritten:  # each file keeps its source partition
        convs = set(pq.read_table(f["path"], columns=["conv_id"])["conv_id"].to_pylist())
        assert set(f["partition"]) == {"bucket"}
        assert {bucket_of_conv[c] for c in convs} == {f["partition"]["bucket"]}

    run_job(job_args(warehouse=wh_b, run_id="night-2"), spark=spark)
    cat_a = LocalSnapshotCatalog(wh_a)
    for tier in ("1m", "5m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            read_sorted(cat_a, spark, f"rollup_{tier}"),
            read_sorted(cat_b, spark, f"rollup_{tier}"),
            check_exact=True,
        )


def _next_job_id(spark) -> int:
    """First Spark job id not yet started (after the listener bus drains)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1) + 1


def _table_files(cat, table) -> set[str]:
    return {
        os.path.join(root, n)
        for root, _dirs, names in os.walk(os.path.join(cat.warehouse, table))
        for n in names
    }


def test_retention_job_counts_from_manifest_bounds(spark, tmp_path):
    """Retention reads manifest bounds before touching data: a tier whose
    bounds all lie at or after the cutoff runs no Spark job and commits
    nothing; an expiring tier is rewritten by exactly one job; a rewrite
    that removes nothing commits nothing and leaves no files behind."""
    cat = LocalSnapshotCatalog(str(tmp_path / "wh"))
    t0 = dt.datetime(2026, 1, 10)
    cutoff = t0 + dt.timedelta(days=5)
    now = cutoff + dt.timedelta(days=7)

    def frame(conv, days):
        return spark.createDataFrame(
            [(conv, t0 + dt.timedelta(days=d), 1) for d in days],
            "conv_id string, bucket_start timestamp, cnt long",
        )

    def commit(table, df, bucket, bounded=True):
        files = cat.write_data_files(table, df, {"bucket": bucket})
        if bounded:
            lo, hi = df.select(
                F.unix_micros(F.min("bucket_start")), F.unix_micros(F.max("bucket_start"))
            ).first()
            files = with_bounds(files, lo, hi)
        cat.commit_overwrite_partitions(table, files, {"bucket": bucket})

    commit("rollup_5m", frame("a", [5, 6]), 0)  # lower == cutoff: kept whole
    commit("rollup_5m", frame("b", [8, 9]), 1)
    commit("rollup_1m", frame("a", [1, 5, 6]), 0)  # spans the cutoff
    commit("rollup_1m", frame("b", [2, 3]), 1)  # wholly expired
    commit("rollup_1m", frame("c", [7, 8]), 2)  # after the cutoff
    commit("rollup_1h", frame("a", [6, 7]), 0, bounded=False)

    horizon = {"1m": 7 * 86400, "5m": 7 * 86400, "1h": 7 * 86400}

    def one_tier(tier):
        snaps = len(cat.snapshots(f"rollup_{tier}"))
        j0 = _next_job_id(spark)
        removed = apply_retention(cat, spark, now, retention={tier: horizon[tier]})
        return removed[tier], _next_job_id(spark) - j0, len(cat.snapshots(f"rollup_{tier}")) - snaps

    assert one_tier("5m") == (0, 0, 0)

    before = cat.current_files("rollup_1m")
    assert one_tier("1m") == (3, 1, 1)
    after = cat.current_files("rollup_1m")
    kept = {f["path"] for f in before if f["partition"] == {"bucket": 2}}
    assert kept <= {f["path"] for f in after}  # the bounded-after file untouched
    assert cat.read(spark, "rollup_1m").count() == 4
    for f in after:  # partitions kept, bounds no tighter than the cutoff
        convs = set(pq.read_table(f["path"], columns=["conv_id"])["conv_id"].to_pylist())
        assert convs <= {"abc"[f["partition"]["bucket"]]}
        assert f["lower"] >= TimestampType().toInternal(cutoff)

    files = _table_files(cat, "rollup_1h")
    assert one_tier("1h") == (0, 1, 0)  # unbounded file: scanned, nothing removed
    assert _table_files(cat, "rollup_1h") == files
