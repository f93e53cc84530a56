"""Debug/console destination (reference D4, DebugDestinationDriver.php:50-101):
prints entities; reads back nothing, so every row inserts and nothing
orphans. Used by simulate mode (MigrateCommand.php:192-195)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


class ConsoleDestination:
    def __init__(self, key_cols=(), truncate: bool = False, max_rows: int = 50):
        self.key_cols = tuple(key_cols)
        self.truncate = truncate
        self.max_rows = max_rows

    def read_snapshot(self, spark: SparkSession) -> Optional[DataFrame]:
        return None

    def merge(self, batch: DataFrame, delete: Optional[DataFrame] = None) -> None:
        batch.show(self.max_rows, truncate=self.truncate)

    def delete_keys(self, keys_df: DataFrame) -> None:
        pass

    def read_multiple(self, spark: SparkSession, keys_df: DataFrame) -> DataFrame:
        return keys_df.limit(0)
