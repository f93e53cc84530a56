"""YAML directory destination (D2).

Reference: YamlDestinationDriver (src/Drivers/Destination/
YamlDestinationDriver.php:93-247) — one YAML file per entity, id
values become directory segments + filename ``{dest}/{id1}/{id2}.yaml``
(YamlDriverTrait.php:75-85), ids removed from the payload (they live
in the path). Anchor/alias generation (:221-247) is a serialization
nicety the reference itself flags as slow — skipped; aliases dissolve
on parse anyway (YamlDestinationDriverTest.php:78-90).

Spark design: ``foreachPartition`` writer — each executor task dumps
its rows' files directly (no driver round trip). File-per-entity makes
merge natural: writing a batch IS a keyed upsert (same ids → same
path → overwrite). SURVEY §7.3 flags this sink as inherently
pathological at 100 TB (small-files problem) — it exists for
reference parity and human-readable exports, never the scale path.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from a2b_spark.core.migration import IdField
from a2b_spark.sources.yaml_dir import YamlDirSource


def _entity_path(base: str, id_values: Sequence[object]) -> str:
    """THE path rule: ``{base}/{id1}/../{idN}.yaml`` (ids as segments,
    YamlDriverTrait.php:75-85). Single definition shared by writer,
    deleter, and the public helper — three inline copies previously
    risked silently disagreeing on file locations."""
    parts = [str(v) for v in id_values]
    return os.path.join(base, *parts[:-1], f"{parts[-1]}.yaml")


class YamlDirDestination:
    def __init__(self, path: str, id_fields: Sequence[IdField]):
        if not id_fields:
            raise ValueError("YamlDirDestination needs at least one id field")
        self.path = path
        self.id_fields = tuple(id_fields)
        self.key_cols = tuple(f.name for f in id_fields)

    def _file_path(self, id_values: Sequence[object]) -> str:
        return _entity_path(self.path, id_values)

    def read_snapshot(self, spark: SparkSession) -> Optional[DataFrame]:
        if not os.path.isdir(self.path):
            return None
        src = YamlDirSource(self.path, self.id_fields)
        try:
            return src.load(spark)
        except Exception:
            return None

    def merge(self, batch: DataFrame, delete: Optional[DataFrame] = None) -> None:
        """File-per-entity upsert: each row writes (or overwrites) its
        own path — per-file atomicity via tempfile+rename, the same
        trick as the reference's flush. ``delete``'s files go first."""
        if delete is not None:
            self.delete_keys(delete)
        base, ids = self.path, self.key_cols
        os.makedirs(base, exist_ok=True)
        payload_cols = [c for c in batch.columns if c not in ids]

        def write_partition(rows):
            import uuid as _uuid

            import yaml as _yaml

            for row in rows:
                d = row.asDict(recursive=True)
                id_vals = [d.pop(k) for k in ids]
                final = _entity_path(base, id_vals)
                os.makedirs(os.path.dirname(final), exist_ok=True)
                tmp = f"{final}.{_uuid.uuid4().hex}.tmp"
                with open(tmp, "w") as f:
                    _yaml.safe_dump(d, f, sort_keys=True)
                os.replace(tmp, final)

        batch.select(*ids, *payload_cols).foreachPartition(write_partition)

    def delete_keys(self, keys_df: DataFrame) -> None:
        """Distributed delete: each executor task unlinks its rows'
        files — same shape as the writer, no per-row driver round trip
        (local FS assumption is identical to merge's)."""
        base, ids = self.path, self.key_cols

        def delete_partition(rows):
            for row in rows:
                p = _entity_path(base, [row[k] for k in ids])
                if os.path.exists(p):
                    os.remove(p)

        keys_df.select(*ids).distinct().foreachPartition(delete_partition)

    def existing_ids(self, spark: SparkSession) -> Optional[DataFrame]:
        snap = self.read_snapshot(spark)
        return None if snap is None else snap.select(*self.key_cols).distinct()

    def read_multiple(self, spark: SparkSession, keys_df: DataFrame) -> DataFrame:
        snap = self.read_snapshot(spark)
        if snap is None:
            return keys_df.limit(0)
        return snap.join(
            keys_df.select(*self.key_cols).distinct(), on=list(self.key_cols), how="left_semi"
        )
