"""Persistent source-ID ↔ destination-ID mapping store.

Reference: one RDBMS table per migration with columns
``source_<id>..., dest_<id>..., updated DATETIMETZ, status SMALLINT``
(0=migrated, 1=stub) and a unique index over all id columns
(DataMigrationMapper.php:24-30, 189-257). Re-runs look keys up here so
they *update* instead of duplicate; reverse lookups support
cross-migration references.

Spark design: one keyed Parquet table per mapping key under a base
directory, with the reference's columns; all lookups are joins
(broadcast when small), never driver-side point reads. At 100 TB the
mapping table is itself big — it merges merge-on-read with deletion
vectors (see storage/table.py) and lookups stay distributed joins on
the source-key columns.

A run writes mapping rows only for keys that have none, stubs it
promotes, or keys re-pointed to other dest ids (exec.executor): dest
ids are deterministic, so an already-mapped changed row costs no
mapping write. ``updated`` is when the row was inserted, promoted or
re-pointed (the reference refreshed it on every update; nothing here
reads it). A table with the ``row_hash`` column of the earlier
stored-hash skip loads without it.
"""

from __future__ import annotations

import os
import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from a2b_spark.core.migration import IdField
from a2b_spark.storage.table import VersionedParquetTable, empty_frame

STATUS_MIGRATED = 0  # reference: DataMigrationMapper STATUS_MIGRATED
STATUS_STUB = 1  # reference: DataMigrationMapper STATUS_STUB


def tableize(name: str) -> str:
    """Sanitize a migration name into a directory-safe table name
    (analogue of the reference's inflector tableize,
    DataMigrationMapper.php:171-181)."""
    s = re.sub(r"(?<!^)(?=[A-Z])", "_", name)
    return re.sub(r"[^A-Za-z0-9_]+", "_", s).lower().strip("_")


def src_col(f: IdField) -> str:
    return f"source_{f.name}"


def dest_col(f: IdField) -> str:
    return f"dest_{f.name}"


class MappingStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def path(self, mapping_key: str) -> str:
        return os.path.join(self.base_dir, tableize(mapping_key))

    def schema(self, source_ids: Sequence[IdField], dest_ids: Sequence[IdField]) -> T.StructType:
        fields = [
            T.StructField(src_col(f), T.LongType() if f.type == "int" else T.StringType())
            for f in source_ids
        ] + [
            T.StructField(dest_col(f), T.LongType() if f.type == "int" else T.StringType())
            for f in dest_ids
        ]
        fields += [
            T.StructField("updated", T.TimestampType()),
            T.StructField("status", T.ShortType()),
        ]
        return T.StructType(fields)

    def table(
        self, mapping_key: str, source_ids: Sequence[IdField], dest_ids: Sequence[IdField], key_side: str = "source"
    ) -> VersionedParquetTable:
        keys = (
            [src_col(f) for f in source_ids]
            if key_side == "source"
            else [dest_col(f) for f in dest_ids]
        )
        # deletion vectors: a re-run's mapping merge touches one row per
        # changed source row, so it commits merge-on-read (new rows as
        # new files, old rows tombstoned) instead of rewriting the table
        return VersionedParquetTable(
            self.path(mapping_key), keys, deletion_vectors=True
        )

    def load(
        self, mapping_key: str, source_ids: Sequence[IdField], dest_ids: Sequence[IdField]
    ) -> DataFrame:
        """The mapping table as a DataFrame (empty with correct schema if
        the migration has never run — planner-visibly empty, so a first
        run's mapping join is removed at plan time)."""
        schema = self.schema(source_ids, dest_ids)
        df = self.table(mapping_key, source_ids, dest_ids).read(self.spark)
        if df is not None:
            return df.select(*schema.fieldNames())
        return empty_frame(self.spark, schema)

    def merge(
        self,
        mapping_key: str,
        batch: DataFrame,
        source_ids: Sequence[IdField],
        dest_ids: Sequence[IdField],
        status: int = STATUS_MIGRATED,
        key_side: str = "source",
    ) -> None:
        """Upsert mapping rows keyed on the source-id columns: insert if
        unseen, else set ``updated``+``status`` and the dest ids
        (reference addMapping/updateMapping, DataMigrationMapper.php:90-135).

        ``batch`` must carry the source_*/dest_* columns (use
        :func:`mapping_batch` to build it from an entity DataFrame).

        ``key_side="dest"`` keys the upsert on the dest-id columns —
        used by orphan *preserve*, whose mapping rows have all-NULL
        source ids (several such rows must not null-safe-match each
        other on the source key).
        """
        stamped = batch.withColumn("updated", F.current_timestamp()).withColumn(
            "status", F.lit(status).cast("short")
        )
        self.table(mapping_key, source_ids, dest_ids, key_side).merge(stamped)

    def append_preserved(
        self,
        mapping_key: str,
        batch: DataFrame,
        source_ids: Sequence[IdField],
        dest_ids: Sequence[IdField],
    ) -> None:
        """Orphan *preserve*: add mapping rows with all-NULL source ids
        (reference DataMigrationExecutor.php:275-328). Insert-only —
        existing rows (including the orphan's old source mapping) are
        kept; re-runs don't duplicate."""
        stamped = batch.withColumn("updated", F.current_timestamp()).withColumn(
            "status", F.lit(STATUS_MIGRATED).cast("short")
        )
        all_keys = [src_col(f) for f in source_ids] + [dest_col(f) for f in dest_ids]
        self.table(mapping_key, source_ids, dest_ids).append(stamped, dedupe_keys=all_keys)

    def dest_ids_for(
        self,
        mapping_key: str,
        keys_df: DataFrame,
        source_ids: Sequence[IdField],
        dest_ids: Sequence[IdField],
    ) -> DataFrame:
        """Source→dest lookup as a join (reference C3
        getDestIdsFromSourceIds, DataMigrationMapper.php:412-418).
        Returns keys_df's columns plus the dest_* columns (null = no
        mapping — the NoMappingForIdsException analogue is a null)."""
        m = self.load(mapping_key, source_ids, dest_ids)
        # Orphan-preserve rows carry ALL-NULL source ids; the null-safe
        # key join would match them against any NULL-keyed lookup row
        # and fan it out once per preserved entity (arbitrary dest ids
        # for data that is explicitly NOT source-mapped). They are not
        # addressable by source key, so exclude them from this lookup.
        not_all_null = None
        for f in source_ids:
            c = m[src_col(f)].isNotNull()
            not_all_null = c if not_all_null is None else (not_all_null | c)
        m = m.filter(not_all_null)
        cond = None
        for f in source_ids:
            c = keys_df[f.name].eqNullSafe(m[src_col(f)])
            cond = c if cond is None else (cond & c)
        # No explicit broadcast hint: AQE converts to broadcast-hash at
        # runtime when the mapping table's actual size is small, without
        # an eager count here.
        joined = keys_df.join(m, on=cond, how="left")
        return joined.select(*[keys_df[c] for c in keys_df.columns], *[m[dest_col(f)] for f in dest_ids])

    def source_ids_for(
        self,
        mapping_key: str,
        keys_df: DataFrame,
        source_ids: Sequence[IdField],
        dest_ids: Sequence[IdField],
    ) -> DataFrame:
        """Reverse (dest→source) lookup, reference
        getSourceIdsFromDestIds (DataMigrationMapper.php:502-508)."""
        m = self.load(mapping_key, source_ids, dest_ids)
        cond = None
        for f in dest_ids:
            c = keys_df[f.name].eqNullSafe(m[dest_col(f)])
            cond = c if cond is None else (cond & c)
        joined = keys_df.join(m, on=cond, how="left")
        return joined.select(*[keys_df[c] for c in keys_df.columns], *[m[src_col(f)] for f in source_ids])


def _retract_source_keys(
    store: "MappingStore",
    mapping_key: str,
    keys_df: DataFrame,
    source_ids: Sequence[IdField],
    dest_ids: Sequence[IdField],
) -> None:
    """Delete mapping rows for the given source keys (``keys_df``
    carries the source id columns under their field names). Part of
    the retraction lifecycle — see exec.executor.retract."""
    renamed = keys_df.select(
        *[F.col(f.name).alias(src_col(f)) for f in source_ids]
    )
    store.table(mapping_key, source_ids, dest_ids).delete_keys(renamed)


def mapping_batch(
    entity: DataFrame, source_ids: Sequence[IdField], dest_ids: Sequence[IdField]
) -> DataFrame:
    """Project an entity DataFrame into mapping-table shape.

    Source id values ride in the executor-maintained ``__src__`` struct
    (collision-proof when a field name appears in both id sets); dest
    id values are the entity's plain columns."""
    cols = [F.col(f"__src__.{f.name}").alias(src_col(f)) for f in source_ids]
    cols += [F.col(f.name).alias(dest_col(f)) for f in dest_ids]
    return entity.select(*cols)
