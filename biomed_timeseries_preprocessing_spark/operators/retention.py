"""Tier-specific retention expiry.

The reference keeps everything forever (its sinks only ever append new
files); retention is a new capability required by the north_rule: each
rollup tier keeps a different horizon (raw/1m expire first, 1d kept
longest) — the TimescaleDB/Gorilla-style downsample-and-expire pattern.

Two physical strategies, both driven by manifest metadata (mirrors
Iceberg):

- **metadata-only delete** (`expire_files`): drop whole data files whose
  partition metadata says every row is older than the cutoff — zero data
  rewrite, exactly Iceberg's partition-predicate DELETE;
- **rewrite expiry** (`expire_rewrite`): files whose manifest ``lower``
  bound is at or after the cutoff cannot hold an expired row and are left
  alone, so a tier with nothing to expire costs no Spark job at all. The
  other files (and files without bounds) are rewritten in ONE Spark job:
  a single scan, ``observe(count)`` → ``filter(ts >= cutoff)`` →
  ``observe(count, min, max)``, written ``partitionBy`` a per-file tag
  looked up from ``_metadata.file_path``, so every output file keeps its
  source file's partition dict (``{"bucket": b}``) and a later
  ``commit_overwrite_partitions`` of that partition still replaces it.
  The new files carry the observed bounds and land via one
  ``replace_files`` snapshot; a rewrite that removes nothing is
  discarded without a commit.

Timestamp rule: manifest bounds are Spark's ``unix_micros`` of the
observed ``bucket_start`` min/max, and the cutoff is converted to epoch
microseconds with ``TimestampType().toInternal`` — the conversion
PySpark applies to the ``F.lit(older_than)`` filter literal (a naive
datetime is local wall time, an aware one is absolute) — so the skip test
and the filter agree on every row.
"""

from __future__ import annotations

import datetime as dt
import json

import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from ..sources.catalog import LocalSnapshotCatalog, with_bounds

#: default horizons per tier (seconds) — raw-most expires first
DEFAULT_RETENTION = {"1m": 7 * 86400, "5m": 30 * 86400, "1h": 180 * 86400, "1d": None}

#: footer key under which Spark stores a parquet file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def expire_files(catalog: LocalSnapshotCatalog, table: str, older_than: dt.datetime) -> int:
    """Metadata-only expiry for tables whose commits carry a ``max_day``
    partition value (``YYYY-MM-DD`` of the newest bucket_start in the
    file). Returns number of files dropped."""
    cutoff = older_than.strftime("%Y-%m-%d")

    def pred(part: dict) -> bool:
        return "max_day" in part and part["max_day"] < cutoff

    return catalog.delete_files_where(table, pred)


def _spark_schema(path: str) -> StructType | None:
    """The Spark schema Spark wrote into a parquet footer, if any: reading
    with it skips the schema-inference job."""
    raw = (pq.read_schema(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(raw)) if raw else None


def _path_key(path: str) -> str:
    """Last two path components (write dir or partition dir + part-file
    name): unique per data file and free of characters Spark URL-encodes
    in ``_metadata.file_path``."""
    return "/".join(path.split("/")[-2:])


def expire_rewrite(
    catalog: LocalSnapshotCatalog,
    spark: SparkSession,
    table: str,
    older_than: dt.datetime,
    ts_col: str = "bucket_start",
) -> int:
    """Rewrite expiry: keep rows with ts_col >= cutoff in the files that
    may hold older rows, commit the rewrite as one new snapshot (the old
    one remains time-travelable until expire_snapshots). Returns rows
    removed."""
    cutoff_us = TimestampType().toInternal(older_than)
    stale = [
        f for f in catalog.current_files(table) if f.get("lower") is None or f["lower"] < cutoff_us
    ]
    if not stale:
        return 0
    # per-file partition tag: index of the file's partition dict
    parts: dict[str, int] = {}
    tag: dict[str, int] = {}
    for f in stale:
        i = parts.setdefault(json.dumps(f["partition"], sort_keys=True), len(parts))
        if tag.setdefault(_path_key(f["path"]), i) != i:
            raise ValueError(f"{table}: ambiguous data file key {_path_key(f['path'])}")
    part_of = [json.loads(p) for p in parts]
    reader = spark.read
    schema = _spark_schema(stale[0]["path"])
    if schema is not None:
        reader = reader.schema(schema)
    tag_of = F.create_map(*[F.lit(x) for kv in tag.items() for x in kv])
    before, after = Observation(), Observation()
    kept = (
        reader.parquet(*[f["path"] for f in stale])
        .withColumn(
            "_part",
            F.element_at(tag_of, F.substring_index(F.col("_metadata.file_path"), "/", -2)),
        )
        .observe(before, F.count(F.lit(1)).alias("n"))
        .filter(F.col(ts_col) >= F.lit(older_than))
        .observe(
            after,
            F.count(F.lit(1)).alias("n"),
            F.unix_micros(F.min(ts_col)).alias("lo"),
            F.unix_micros(F.max(ts_col)).alias("hi"),
        )
    )
    written = catalog.write_data_files_partitioned(table, kept, "_part")
    if not all(isinstance(i, int) for i in written):  # a row missed the tag map
        raise RuntimeError(f"{table}: rewrite lost file partitions {sorted(map(str, written))}")
    new_files = [{**e, "partition": part_of[i]} for i, entries in written.items() for e in entries]
    a = after.get
    removed = int(before.get["n"]) - int(a["n"])
    if removed == 0:  # nothing expired: no snapshot, no leftover files
        catalog.discard_data_files(table, new_files)
    else:
        catalog.replace_files(
            table, [f["path"] for f in stale], with_bounds(new_files, a["lo"], a["hi"])
        )
    return removed


def apply_retention(
    catalog: LocalSnapshotCatalog,
    spark: SparkSession,
    now: dt.datetime,
    retention: dict[str, int | None] | None = None,
    table_prefix: str = "rollup_",
) -> dict[str, int]:
    """Run expiry across all tiers per their horizons; returns
    tier → rows (or files) removed."""
    retention = retention or DEFAULT_RETENTION
    removed: dict[str, int] = {}
    for tier, horizon in retention.items():
        if horizon is None:
            continue
        cutoff = now - dt.timedelta(seconds=horizon)
        table = f"{table_prefix}{tier}"
        # metadata-only drop of wholly-expired files first (cheap), then
        # ALWAYS rewrite the surviving files that may hold expired rows —
        # files that span the cutoff day would otherwise keep expired
        # rows, making retention results depend on physical file layout.
        # Returned count = rows removed by the rewrite (rows inside
        # metadata-dropped files are never read, so they are not counted).
        expire_files(catalog, table, cutoff)
        removed[tier] = expire_rewrite(catalog, spark, table, cutoff)
    return removed
