"""Bucket-partitioned incremental snapshots: merge cost ∝ batch size.

The flat snapshot (``snapshot.py``) rewrites the ENTIRE snapshot on
every merge — faithful to the reference (``etl-utils.ts:321-330``) but
a full-rewrite cliff at 100 TB. This variant keeps the same
last-write-wins semantics while making each merge touch only the data
it must:

1. the snapshot is stored partitioned by ``bucket = pmod(xxhash64(pk),
   n_buckets)`` (directory partition column → partition pruning);
2. an incoming batch names its affected buckets (distinct over at most
   ``n_buckets`` ints — a tiny driver collect);
3. only those partitions are READ (pruned scan), merged with the batch
   (union + window keep-last, one shuffle over batch-sized data), and
4. only those partitions are REWRITTEN, via dynamic partition
   overwrite — untouched partitions' files are never opened.

With ``n_buckets`` sized so a bucket ≈ a few GB, a 1 GB batch into a
100 TB snapshot reads and writes a few bucket-partitions instead of
100 TB. Determinism matches ``snapshot_records``: new beats old,
within-batch ties broken by ``monotonically_increasing_id``.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fs import hadoop_path_exists, join_uri
from .snapshot import keep_last_dedup

__all__ = ["partitioned_snapshot_upsert", "read_partitioned_snapshot"]

_BUCKET = "__gs_bucket"
_SRC = "__gs_src"
_SEQ = "__gs_seq"
# underscore prefix: Spark's file index treats _-prefixed names as
# hidden, so the sidecar never pollutes a parquet scan of the store dir
_META_FILE = "_gs_store_meta.json"
_ROWS_PER_BUCKET = 500_000
_MAX_AUTO_BUCKETS = 1024


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def auto_n_buckets(batch: DataFrame) -> int:
    """Bucket count sized from the SEED batch (~500k rows/bucket,
    capped at 1024): a tiny store stays a handful of files instead of
    64 near-empty dirs, a large seed spreads immediately. If the store
    will grow far past its seed, pass an explicit count sized for the
    TARGET volume — the count is frozen at creation."""
    rows = batch.count()
    return max(1, min(_MAX_AUTO_BUCKETS, -(-rows // _ROWS_PER_BUCKET)))


def write_store_buckets(spark: SparkSession, path: str, n_buckets: int) -> None:
    """Freeze the store's bucket count into its sidecar meta. Bucket
    membership is pmod(xxhash64(pk), n_buckets) — a later caller using
    a DIFFERENT count would prune the wrong partitions silently, so
    the creation-time value is the store's law."""
    from ..sources.fs import write_text_file

    write_text_file(
        spark, join_uri(path, _META_FILE), json.dumps({"n_buckets": int(n_buckets)})
    )


def read_store_buckets(spark: SparkSession, path: str) -> int | None:
    """The frozen bucket count, or None for stores created before the
    sidecar existed (callers then fall back to their own value, which
    legacy stores always passed consistently)."""
    from ..sources.fs import read_text_file

    if not hadoop_path_exists(spark, join_uri(path, _META_FILE)):
        return None
    return int(
        json.loads(read_text_file(spark, join_uri(path, _META_FILE)))[
            "n_buckets"
        ]
    )


def _resolve_buckets(
    spark: SparkSession, path: str, requested: int | None, batch: DataFrame
) -> int:
    """Frozen store value if the store exists (raising on an explicit
    conflicting request); otherwise the requested value or the
    auto-sized default. An existing store WITHOUT a sidecar (created
    before the sidecar existed, or a crash between data write and
    sidecar write) is only usable with an explicit ``requested`` value
    — guessing a default here would silently prune the wrong
    partitions — and the sidecar is self-healed from it."""
    if hadoop_path_exists(spark, path):
        frozen = read_store_buckets(spark, path)
        if frozen is not None:
            if requested is not None and int(requested) != frozen:
                raise ValueError(
                    f"store at {path} was created with n_buckets={frozen}; "
                    f"got n_buckets={requested} — bucket membership is a "
                    "function of the frozen count, a mismatch silently "
                    "prunes the wrong partitions"
                )
            return frozen
        if requested is None:
            raise ValueError(
                f"store at {path} has no bucket-count sidecar (pre-sidecar "
                "store, or a crash between data and sidecar writes) — pass "
                "the n_buckets it was created with explicitly; it will be "
                "frozen into the sidecar from there on"
            )
        write_store_buckets(spark, path, int(requested))  # self-heal
        return int(requested)
    return int(requested) if requested is not None else auto_n_buckets(batch)


def _snapshot_path(stream: str, snapshot_dir: str) -> str:
    # URI-safe join + Hadoop-FS existence checks: the snapshot dir may
    # live on any Spark-writable scheme, not just the driver's disk
    return join_uri(snapshot_dir, f"{stream}.snapshot.bucketed.parquet")


def read_partitioned_snapshot(
    spark: SparkSession, stream: str, snapshot_dir: str
) -> DataFrame | None:
    """The current snapshot as a DataFrame (bucket column dropped), or
    None when absent."""
    path = _snapshot_path(stream, snapshot_dir)
    if not hadoop_path_exists(spark, path):
        return None
    return spark.read.parquet(path).drop(_BUCKET)


def partitioned_snapshot_upsert(
    stream_data: DataFrame,
    stream: str,
    snapshot_dir: str,
    pk: str | list[str] = "id",
    n_buckets: int | None = None,
    **_: Any,
) -> DataFrame:
    """Merge a batch into the bucket-partitioned snapshot and return
    the post-merge snapshot DataFrame.

    Semantics match ``snapshot_records`` (batch beats snapshot per PK);
    cost is bounded by the batch's bucket fan-out, not snapshot size.
    ``n_buckets`` applies at store CREATION only (default: auto-sized
    from the seed batch, ~500k rows/bucket) and is frozen into the
    store's sidecar meta; later upserts use the frozen value and
    refuse a conflicting explicit one.
    """
    keys = [pk] if isinstance(pk, str) else list(pk)
    spark = stream_data.sparkSession
    path = _snapshot_path(stream, snapshot_dir)
    n_buckets = _resolve_buckets(spark, path, n_buckets, stream_data)
    batch = stream_data.withColumn(_BUCKET, _bucket_expr(keys, n_buckets))

    if not hadoop_path_exists(spark, path):
        batch.write.partitionBy(_BUCKET).mode("overwrite").parquet(path)
        write_store_buckets(spark, path, n_buckets)
        return read_partitioned_snapshot(spark, stream, snapshot_dir)

    # Affected buckets: ≤ n_buckets ints — the one driver-side collect.
    buckets = [r[0] for r in batch.select(_BUCKET).distinct().collect()]

    old = (
        spark.read.parquet(path)
        # partition-pruned scan: only the batch's buckets are read
        .where(F.col(_BUCKET).isin(buckets))
        .withColumn(_SRC, F.lit(0))
        .withColumn(_SEQ, F.lit(0).cast("long"))
    )
    new = batch.withColumn(_SRC, F.lit(1)).withColumn(
        _SEQ, F.monotonically_increasing_id()
    )
    merged = keep_last_dedup(
        old.unionByName(new, allowMissingColumns=True),
        keys,
        [F.col(_SRC).desc(), F.col(_SEQ).desc()],
    ).drop(_SRC, _SEQ)
    # Spark refuses to overwrite a path its plan reads; materialize the
    # (batch-sized) merge to break lineage before rewriting partitions.
    merged = merged.localCheckpoint(eager=True)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # dynamic mode: only partitions present in `merged` (= the
        # affected buckets) are replaced; all others are untouched.
        merged.write.partitionBy(_BUCKET).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return read_partitioned_snapshot(spark, stream, snapshot_dir)
