"""The persisted-store protocol every store in the package shares.

A store is a root directory holding one small JSON meta file and its
data dirs. The meta is the single commit point:

- a meta without a ``version`` key (or no meta at all, for the flat
  and CDX stores) keeps the data at the legacy dir name (``banded/``,
  ``postings/``, ``urls.parquet`` ...); version ``k`` lives in the
  sibling ``<legacy>_v<k>``, so stores written before versioning read,
  append and compact with no migration;
- :func:`commit_meta` writes ``<meta>.tmp``, deletes the meta, then
  renames the tmp into place, and :func:`read_meta` finishes that
  rename when a crash left only the tmp. A meta is never truncated in
  place, and the happy-path read is one file read with no Spark job;
- :meth:`Store.publish` writes a whole new data version, commits the
  meta that names it, then sweeps every data dir the meta can no
  longer reach. A crash before the commit leaves the previous version
  readable and an orphan that the next publish sweeps; a crash after
  it leaves the new version readable. Every step is atomic on object
  stores too, because no data dir is ever renamed.

Appends write into the current data dir. One writer per store; every
commit follows a :func:`read_meta` of the same meta.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs
from .fs import join_uri

__all__ = ["Store", "commit_meta", "flat_store", "open_flat_store", "read_meta"]

META_FILE = "store_meta.json"


def read_meta(spark: SparkSession, meta_path: str) -> dict | None:
    """The committed meta, or None when no commit ever finished."""
    from pyspark.errors import AnalysisException

    try:
        return json.loads(fs.read_text_file(spark, meta_path))
    except AnalysisException:
        pass
    tmp = meta_path + ".tmp"
    try:
        meta = json.loads(fs.read_text_file(spark, tmp))
    except (AnalysisException, ValueError):
        # no tmp, or a first commit that died mid-write
        return None
    # a commit died between deleting the meta and renaming the tmp
    fs.rename_path(spark, tmp, meta_path)
    return meta


def commit_meta(spark: SparkSession, meta_path: str, meta: dict) -> None:
    """Replace the meta crash-safely: tmp write, delete, rename."""
    tmp = meta_path + ".tmp"
    fs.write_text_file(spark, tmp, json.dumps(meta))
    fs.delete_path(spark, meta_path, recursive=False)
    if not fs.rename_path(spark, tmp, meta_path):
        raise IOError(f"store meta commit failed: {tmp} -> {meta_path}")


class Store:
    """One store: ``root``, its legacy data dir name ``data`` (``""``
    means the root itself) and its meta file name."""

    def __init__(self, root: str, data: str, meta_name: str = META_FILE):
        self.root = root
        self.data = data
        self.meta_name = meta_name
        self.meta_path = join_uri(root, meta_name)

    def read_meta(self, spark: SparkSession) -> dict | None:
        return read_meta(spark, self.meta_path)

    def require_meta(self, spark: SparkSession) -> dict:
        """The committed meta; raises ``AnalysisException`` when the
        store has none, as a read of a missing path does."""
        from pyspark.errors import AnalysisException

        meta = self.read_meta(spark)
        if meta is None:
            raise AnalysisException(
                message=f"[PATH_NOT_FOUND] Path does not exist: {self.meta_path}."
            )
        return meta

    def commit(self, spark: SparkSession, meta: dict) -> None:
        commit_meta(spark, self.meta_path, meta)

    def dir_name(self, version: int | None) -> str:
        return self.data if version is None else f"{self.data}_v{int(version)}"

    def data_path(self, meta: dict | None) -> str:
        """Current data dir named by ``meta``."""
        return join_uri(self.root, self.dir_name((meta or {}).get("version")))

    def locate(self, spark: SparkSession) -> tuple[dict | None, str | None]:
        """``(meta, data path)`` of a store whose data may predate its
        meta (flat and CDX stores); the path is None for a store never
        written. Raises when the data dir is gone but leftovers of it
        remain (a rename-swap compaction by an older release died
        mid-swap): reading that store as empty would re-admit every
        key it held."""
        meta = self.read_meta(spark)
        path = self.data_path(meta)
        if meta is not None or fs.hadoop_path_exists(spark, path):
            return meta, path
        stray = [n for n in fs.list_dir_names(spark, self.root) if self._owns(n)]
        if stray:
            raise IOError(
                f"store data {path} is missing but {stray} remain under "
                f"{self.root}: an interrupted compaction by an older "
                "release. Move the complete copy back to "
                f"{self.data or self.root!r} before using the store."
            )
        return None, None

    def create_empty(self, spark: SparkSession, schema) -> str:
        """Write an empty legacy data dir of ``schema`` (DDL string or
        ``StructType``) and commit an empty meta."""
        path = self.data_path(None)
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
        self.commit(spark, {})
        return path

    def publish(
        self,
        spark: SparkSession,
        meta: dict,
        write: Callable[[str, str], None],
        current: dict | None,
        mode: str = "overwrite",
    ) -> None:
        """Make ``write(path, mode)`` the store's data and ``meta`` its
        meta. ``current`` is the committed meta (None: nothing
        committed, so the legacy dir is written). ``mode="overwrite"``
        writes a new version, commits, then sweeps; any other Spark
        save mode writes into the current dir in place."""
        if mode != "overwrite" or current is None:
            version = (current or {}).get("version")
        else:
            version = int(current.get("version", 0)) + 1
        write(join_uri(self.root, self.dir_name(version)), mode)
        meta = {k: v for k, v in meta.items() if k != "version"}
        if version is not None:
            meta["version"] = version
        self.commit(spark, meta)
        if mode == "overwrite" and current is not None:
            self.sweep(spark, meta)

    def sweep(self, spark: SparkSession, meta: dict) -> None:
        """Delete every data dir of this store but the one ``meta``
        names: older versions, orphans of a crashed publish, and the
        leftovers of older releases' rename swaps."""
        keep = self.dir_name(meta.get("version"))
        for name in fs.list_dir_names(spark, self.root):
            if name != keep and self._owns(name):
                fs.delete_path(spark, join_uri(self.root, name))

    def _owns(self, name: str) -> bool:
        if name.startswith(self.meta_name) or name.startswith("."):
            return False  # the meta, its tmp, checksum files
        if not self.data:
            return True
        return (
            name == self.data
            or name.startswith(self.data + "_v")
            or name.startswith(self.data + ".")
        )


def flat_store(store_dir: str, data_name: str) -> Store:
    """A flat streaming store (``urls.parquet``, ``hashes.parquet``,
    ``domains.parquet``, ``signatures.parquet``): meta
    ``<data_name>.meta.json`` beside the data, so several flat stores
    can share one ``store_dir``."""
    return Store(store_dir, data_name, data_name + ".meta.json")


def open_flat_store(
    spark: SparkSession, store_dir: str, data_name: str, schema
) -> str:
    """Current data dir of a flat store, created empty on first use."""
    store = flat_store(store_dir, data_name)
    _, path = store.locate(spark)
    return path or store.create_empty(spark, schema)


def _exclude_batch_filter(store: DataFrame, schema, exclude_batch_id):
    """Drop store rows stamped with ``exclude_batch_id``: on a
    crash-replay they are this batch's own earlier append, and deduping
    against them would reject every survivor. Requires a ``batch_id``
    column in ``schema``."""
    if exclude_batch_id is None:
        return store
    if "batch_id" not in [f.name for f in schema.fields]:
        raise ValueError(
            "exclude_batch_id requires a store seeded with a batch_id "
            "column (stamp appends with F.lit(batch_id))"
        )
    return store.where(
        F.coalesce(F.col("batch_id") != F.lit(int(exclude_batch_id)), F.lit(True))
    )


def compact_partitioned(spark: SparkSession, store: Store, part_col: str) -> None:
    """Rewrite a partitioned store (signature, fingerprint, semantic,
    IVF) as one part file per ``part_col`` dir with full-row
    duplicates dropped, publish it, and drop the streaming replay
    markers under ``<root>/batches`` (compaction runs between committed
    batches, so every marker is stale)."""
    from pyspark.sql.types import StructType

    meta = store.require_meta(spark)
    src = spark.read.schema(StructType.fromJson(meta["schema"])).parquet(
        store.data_path(meta)
    )

    def write(dst: str, mode: str) -> None:
        src.dropDuplicates().repartition(part_col).write.mode(
            mode
        ).partitionBy(part_col).parquet(dst)

    store.publish(spark, meta, write, meta)
    fs.delete_path(spark, join_uri(store.root, "batches"))
