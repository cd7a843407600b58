"""Per-(stage, partition) lineage + metrics rows, and resume.

The capability gap called out in SURVEY §2.9/§4: the reference's only
recovery aid is saving raw partials twice (``File_Struct.py:587-593``);
a killed run recomputes every patient. Here every pipeline stage commits
one lineage row per work partition (a conv_id hash-bucket), and resume is
an anti-join: pending = all buckets − committed buckets (FIXTURES F5).

Lineage rows are parquet in the catalog warehouse (append-only, one file
per commit — atomic enough via the snapshot catalog's rename commit).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import LocalSnapshotCatalog

LINEAGE_TABLE = "lineage"
LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_key string, rows_in long, "
    "rows_out long, min_ts timestamp, max_ts timestamp, checksum long, "
    "wall_ms long, committed_at timestamp"
)


def bucket_of(conv_id_col, n_buckets: int):
    """Stable conv_id → work-bucket assignment (hash, not range, so
    buckets stay balanced as new conversations arrive)."""
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


def attach_audit(
    df: DataFrame, checksum_cols: list[str], extent_col: str
) -> tuple[DataFrame, Observation]:
    """Piggyback the lineage audit on the frame's NEXT action instead of
    running a separate pass: returns ``(df.observe(...), observation)``.
    Spark's CollectMetrics node computes the row count, the extent
    (min/max of ``extent_col``, a timestamp) and the order-independent
    checksum (wrap-around sum of xxhash64 over ``checksum_cols``) on the
    rows as they stream through whatever job materializes the frame (in
    rollup_job: the tier's data-file write), so per tier there is
    exactly ONE job and no separate audit action. Read the result with
    ``read_audit`` / ``audit_bounds`` AFTER an action has run on the
    returned frame."""
    obs = Observation()
    audited = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.min(extent_col).alias("lo"),
        F.max(extent_col).alias("hi"),
        F.unix_micros(F.min(extent_col)).alias("lo_us"),
        F.unix_micros(F.max(extent_col)).alias("hi_us"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in checksum_cols]).cast("decimal(38,0)")
        ).alias("c"),
    )
    return audited, obs


def read_audit(obs: Observation) -> tuple[int, object, object, int]:
    """(rows, min_extent, max_extent, checksum) from an ``attach_audit``
    observation; blocks until the frame's first action completes."""
    m = obs.get
    return int(m["n"]), m["lo"], m["hi"], int(m["c"] or 0) % (1 << 63)


def audit_bounds(obs: Observation) -> tuple[int | None, int | None]:
    """The ``attach_audit`` extent as epoch microseconds (Spark's
    ``unix_micros``): the catalog's manifest ``lower``/``upper``."""
    m = obs.get
    return m["lo_us"], m["hi_us"]


@dataclass
class LineageLog:
    catalog: LocalSnapshotCatalog
    spark: SparkSession

    def committed(self, run_id: str, stage: str) -> set[str]:
        """Partition keys already committed for (run lineage, stage).
        run_id scoping is by *pipeline identity* (caller passes the same
        run_id on resume), mirroring Iceberg's snapshot lineage."""
        try:
            df = self.catalog.read(self.spark, LINEAGE_TABLE)
        except FileNotFoundError:
            return set()
        rows = (
            df.filter((F.col("run_id") == run_id) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
            .collect()
        )
        return {r["partition_key"] for r in rows}

    def commit(
        self,
        run_id: str,
        stage: str,
        partition_key: str,
        rows_in: int,
        rows_out: int,
        min_ts,
        max_ts,
        checksum: int,
        wall_ms: int,
    ) -> None:
        self.commit_many(
            run_id,
            [
                (
                    run_id,
                    stage,
                    partition_key,
                    rows_in,
                    rows_out,
                    min_ts,
                    max_ts,
                    checksum,
                    wall_ms,
                )
            ],
        )

    def commit_many(self, run_id: str, rows: list[tuple]) -> None:
        """One snapshot commit for a batch of lineage rows (e.g. every
        stage of one work bucket) — lineage stays atomic per bucket and
        the snapshot count drops from stages×buckets to buckets.

        The parquet file is written driver-side via pyarrow, NOT a Spark
        job: a lineage batch is a handful of tuples already sitting on
        the driver, and callers (rollup_job) invoke this inside their
        commit lock — a createDataFrame→write job here put JVM job
        scheduling inside the only serialized section of the whole
        pipeline (measured as part of the r4 commit-path work,
        BENCH/ab_commit_path.json). Arrow write + manifest swap is
        sub-millisecond and the file is identical to Spark's for readers
        (TIMESTAMP_MICROS adjusted-to-UTC, int64, utf8)."""
        ts_type = pa.timestamp("us", tz="UTC")
        now_us = int(time.time() * 1_000_000)
        cols = list(zip(*rows))
        table = pa.table(
            {
                "run_id": pa.array(cols[0], pa.string()),
                "stage": pa.array(cols[1], pa.string()),
                "partition_key": pa.array(cols[2], pa.string()),
                "rows_in": pa.array(cols[3], pa.int64()),
                "rows_out": pa.array(cols[4], pa.int64()),
                "min_ts": pa.array(cols[5], ts_type),
                "max_ts": pa.array(cols[6], ts_type),
                "checksum": pa.array(cols[7], pa.int64()),
                "wall_ms": pa.array(cols[8], pa.int64()),
                "committed_at": pa.array([now_us] * len(rows), ts_type),
            }
        )
        sub = os.path.join(
            self.catalog._tdir(LINEAGE_TABLE), "data", uuid.uuid4().hex
        )
        os.makedirs(sub, exist_ok=True)
        path = os.path.join(sub, "lineage-00000.parquet")
        pq.write_table(table, path, compression="zstd")
        self.catalog.append_files(
            LINEAGE_TABLE, [{"path": path, "partition": {"run_id": run_id}}]
        )

    def metrics(self, run_id: str | None = None) -> DataFrame:
        df = self.catalog.read(self.spark, LINEAGE_TABLE)
        return df.filter(F.col("run_id") == run_id) if run_id else df


def pending_buckets(
    log: LineageLog,
    run_id: str,
    stage: str,
    all_buckets: list[int],
    modulus: int | None = None,
) -> list[int]:
    """Resume = anti-join of the full bucket list against committed
    lineage (the reference's missing checkpoint/resume, SURVEY §4).

    ``modulus`` scopes the match to commits made under the same bucket
    count (keys ``"{b}/{modulus}"``): bucket index 3 of 8 and bucket 3
    of 4 hold different conversations, so a resume under a changed
    modulus (now reachable without user action via --buckets 0 auto
    sizing when the source grew) must re-run every bucket rather than
    skip indices committed under the old partitioning."""
    done = log.committed(run_id, stage)

    def key(b: int) -> str:
        return f"{b}/{modulus}" if modulus is not None else str(b)

    return [b for b in all_buckets if key(b) not in done]
