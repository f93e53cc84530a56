"""Destination protocol — the readable, keyed sink.

Reference: DestinationDriverInterface (src/Drivers/DestinationDriverInterface.php:26-81)
— ``read(ids)``, ``readMultiple(idSet)``, ``write(entity) → ids``,
``getExistingIds()``, ``flush()``. Point reads/writes become set
operations here: one snapshot read, one keyed merge, one anti-join.
"""

from __future__ import annotations

from typing import Optional, Protocol, Sequence, runtime_checkable

from pyspark.sql import DataFrame, SparkSession


class VersionedTableDestination:
    """Shared concrete base for the file-format sinks (parquet / csv /
    jsonl / orc): one VersionedParquetTable per destination, keyed
    merge/delete, snapshot-isolated reads. Subclasses set ``fmt``
    (and may pass ``partition_by``); keeping the implementation here
    means a fix to any of read_snapshot / merge / delete_keys /
    read_multiple / existing_ids lands in every format at once."""

    fmt = "parquet"

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        partition_by: Optional[Sequence[str]] = None,
        deletion_vectors: bool = True,
    ):
        """``deletion_vectors`` passes through to the table: parquet
        and ORC tables then merge and delete merge-on-read (see
        storage/table.py); other formats rewrite. The ORC sink passes
        False unless asked, so its version dirs stay plain ORC that an
        ORC reader sees whole."""
        from a2b_spark.storage.table import VersionedParquetTable

        self.table = VersionedParquetTable(
            path, key_cols, partition_by, fmt=self.fmt,
            deletion_vectors=deletion_vectors,
        )
        self.key_cols = tuple(key_cols)

    @property
    def path(self) -> str:
        return self.table.path

    def read_snapshot(self, spark: SparkSession) -> Optional[DataFrame]:
        return self.table.read(spark)

    def merge(self, batch: DataFrame, delete: Optional[DataFrame] = None) -> None:
        self.table.merge(batch, delete=delete)

    def delete_keys(self, keys_df: DataFrame) -> None:
        self.table.delete_keys(keys_df)

    def read_multiple(self, spark: SparkSession, keys_df: DataFrame) -> DataFrame:
        """Bulk point-read (reference readMultiple, C14): semi-join
        instead of an OR-of-ANDs predicate string."""
        snap = self.read_snapshot(spark)
        if snap is None:
            return keys_df.limit(0)
        return snap.join(
            keys_df.select(*self.key_cols).distinct(),
            on=list(self.key_cols),
            how="left_semi",
        )

    def existing_ids(self, spark: SparkSession) -> Optional[DataFrame]:
        snap = self.read_snapshot(spark)
        return None if snap is None else snap.select(*self.key_cols).distinct()


@runtime_checkable
class Destination(Protocol):
    key_cols: tuple[str, ...]

    def read_snapshot(self, spark: SparkSession) -> Optional[DataFrame]:
        """Current destination contents, or None if it doesn't exist yet
        (getExistingIds/read/readMultiple collapse into joins on this)."""
        ...

    def merge(self, batch: DataFrame, delete: Optional[DataFrame] = None) -> None:
        """Keyed upsert of the batch (write + update-on-rerun, C5) that
        also removes the rows keyed by ``delete`` (the orphan prune,
        C7); a key in both ends as the batch row. Versioned tables
        commit both at once where they can, so a re-run commits its
        destination once."""
        ...

    def delete_keys(self, keys_df: DataFrame) -> None:
        """Remove rows matching the key tuples (retraction)."""
        ...

    def read_multiple(self, spark: SparkSession, keys_df: DataFrame) -> DataFrame:
        """Bulk point-read: semi-join the snapshot on key tuples (C14)."""
        ...
