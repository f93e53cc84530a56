"""JDBC destination (reference D3, DoctrineDestinationDriver.php:65-214
— the ORM sink re-expressed as a keyed JDBC table).

The reference persists entities one at a time with a flush every 100
(:156-164). Spark-side, inserts are ``df.write.jdbc`` with
``batchsize`` (the same batching knob, but per executor partition —
1000s of rows in flight instead of 100).

Upserts have two paths:

* **Staged merge (preferred)** — when ``merge_sql_template`` is set,
  the batch is written to a staging table with ``df.write.jdbc`` and a
  single server-side ``MERGE`` / ``INSERT ... ON CONFLICT`` statement
  folds it into the target. Cost is O(batch), the statement executes
  inside one transaction on the server (atomic — a failure leaves the
  target untouched), and no data rides back through Spark. Ready-made
  templates: ``ANSI_MERGE_SQL`` (MERGE engines: Postgres 15+, Oracle,
  SQL Server, DB2) and ``POSTGRES_UPSERT_SQL`` (ON CONFLICT engines:
  Postgres 9.5+, SQLite, DuckDB).
* **Truncate-rewrite (fallback)** — without a template there is no
  portable merge in plain JDBC: read the snapshot, merge in Spark,
  truncate + rewrite. O(table) per merge and non-atomic mid-write;
  acceptable only for small parity tables, which the docstring of
  ``merge`` says out loud.

Untested against a live server in this container (no JDBC driver jars
baked in); the SQL generation is unit-tested, and every Spark call is
the documented public API.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from a2b_spark.storage.merge import merge_dataframes

# Placeholders available to merge_sql_template:
#   {target}      target table name
#   {staging}     staging table name
#   {key_match}   "t.k1 = s.k1 AND t.k2 = s.k2"
#   {update_set}  "c1 = s.c1, c2 = s.c2"          (non-key columns)
#   {update_set_excluded}  "c1 = EXCLUDED.c1, ..."  (non-key columns)
#   {insert_cols} "k1, c1, c2"
#   {src_cols}    "s.k1, s.c1, s.c2"
#   {key_cols}    "k1, k2"
ANSI_MERGE_SQL = (
    "MERGE INTO {target} t USING {staging} s ON {key_match} "
    "WHEN MATCHED THEN UPDATE SET {update_set} "
    "WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({src_cols})"
)

POSTGRES_UPSERT_SQL = (
    "INSERT INTO {target} ({insert_cols}) "
    "SELECT {insert_cols} FROM {staging} "
    "ON CONFLICT ({key_cols}) DO UPDATE SET {update_set_excluded}"
)


def _quote_ident(c: str) -> str:
    """Double-quote a column identifier, preserving case: Spark's JDBC
    writer creates columns quoted, so in case-folding engines (Derby,
    Postgres, Oracle) an unquoted reference would fold to the wrong
    case and miss; embedded quotes are doubled."""
    return '"' + c.replace('"', '""') + '"'


class JdbcDestination:
    def __init__(
        self,
        url: str,
        table: str,
        key_cols: Sequence[str],
        properties: Optional[dict] = None,
        batchsize: int = 10_000,
        merge_sql_template: Optional[str] = None,
        staging_table: Optional[str] = None,
    ):
        self.url = url
        self.table = table
        self.key_cols = tuple(key_cols)
        self.properties = dict(properties or {})
        self.batchsize = batchsize
        self.merge_sql_template = merge_sql_template
        self.staging_table = staging_table or f"{table}__a2b_stage"

    def _reader(self, spark: SparkSession):
        r = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
        )
        for k, v in self.properties.items():
            r = r.option(k, v)
        return r

    def _writer(self, df: DataFrame, table: str):
        w = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .option("batchsize", str(self.batchsize))
            .option("truncate", "true")  # keep DDL; replace rows
            .mode("overwrite")
        )
        for k, v in self.properties.items():
            w = w.option(k, v)
        return w

    def read_snapshot(self, spark: SparkSession) -> Optional[DataFrame]:
        try:
            return self._reader(spark).load()
        except Exception:
            return None  # table absent on first run

    # -------------------------------------------------- staged merge
    def build_merge_sql(self, columns: Sequence[str]) -> str:
        """Render ``merge_sql_template`` for a batch with ``columns``.

        Pure string construction — unit-testable without a server.
        Key columns come first in insert order iff they come first in
        ``columns``; placeholders preserve the batch's column order so
        the staged table and the statement always agree.
        """
        if not self.merge_sql_template:
            raise ValueError("merge_sql_template is not configured")
        cols = list(columns)
        missing = [k for k in self.key_cols if k not in cols]
        if missing:
            raise ValueError(f"batch is missing key columns: {missing}")
        value_cols = [c for c in cols if c not in self.key_cols]
        q = _quote_ident
        if not value_cols:
            # pure-key table (relationship/link shape): both shipped
            # templates would render an EMPTY update-set clause —
            # malformed SQL. Matched rows need no update when every
            # column is a key, so emit an engine-agnostic insert-only
            # statement instead of the template.
            key_match = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in self.key_cols)
            return (
                f"INSERT INTO {self.table} ({', '.join(q(c) for c in cols)}) "
                f"SELECT {', '.join('s.' + q(c) for c in cols)} "
                f"FROM {self.staging_table} s WHERE NOT EXISTS "
                f"(SELECT 1 FROM {self.table} t WHERE {key_match})"
            )

        return self.merge_sql_template.format(
            target=self.table,
            staging=self.staging_table,
            key_match=" AND ".join(f"t.{q(k)} = s.{q(k)}" for k in self.key_cols),
            update_set=", ".join(f"{q(c)} = s.{q(c)}" for c in value_cols),
            update_set_excluded=", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in value_cols),
            insert_cols=", ".join(q(c) for c in cols),
            src_cols=", ".join(f"s.{q(c)}" for c in cols),
            key_cols=", ".join(q(k) for k in self.key_cols),
        )

    def _execute_sql(self, spark: SparkSession, sql: str) -> None:
        """Run one statement server-side through the JVM's DriverManager
        (the same driver jar Spark's JDBC source uses)."""
        jvm = spark._sc._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def _merge_staged(self, batch: DataFrame) -> None:
        """O(batch) atomic upsert: stage the batch, one MERGE statement."""
        self._writer(batch, self.staging_table).save()
        self._execute_sql(batch.sparkSession, self.build_merge_sql(batch.columns))

    # ------------------------------------------------ rewrite merge
    def _merge_rewrite(self, batch: DataFrame) -> None:
        """Fallback upsert: snapshot ⟕ batch in Spark, truncate+rewrite.
        O(table) and non-atomic mid-write — parity-table scale only.

        The merged frame is MATERIALIZED (eager localCheckpoint, the
        repo's _materialize discipline) before the write: Spark's
        overwrite TRUNCATES the target before the write job runs, and a
        still-lazy plan would re-read the now-empty target — merging
        {1} with batch {2} used to yield only {2}."""
        spark = batch.sparkSession
        current = self.read_snapshot(spark)
        if current is not None:
            batch = merge_dataframes(current, batch, self.key_cols)
        batch = batch.localCheckpoint(eager=True)
        self._writer(batch, self.table).save()

    def merge(self, batch: DataFrame, delete: Optional[DataFrame] = None) -> None:
        if delete is not None:
            self.delete_keys(delete)
        if self.merge_sql_template:
            self._merge_staged(batch)
        else:
            self._merge_rewrite(batch)

    def delete_keys(self, keys_df: DataFrame) -> None:
        spark = keys_df.sparkSession
        if self.merge_sql_template:
            # server-side anti-delete: stage the keys, one DELETE
            stage_keys = keys_df.select(*self.key_cols).distinct()
            self._writer(stage_keys, self.staging_table).save()
            key_match = " AND ".join(
                f"t.{_quote_ident(k)} = s.{_quote_ident(k)}" for k in self.key_cols
            )
            self._execute_sql(
                spark,
                f"DELETE FROM {self.table} AS t WHERE EXISTS "
                f"(SELECT 1 FROM {self.staging_table} s WHERE {key_match})",
            )
            return
        current = self.read_snapshot(spark)
        if current is None:
            return
        remaining = current.join(
            keys_df.select(*self.key_cols).distinct(), on=list(self.key_cols), how="left_anti"
        )
        # write the survivors DIRECTLY (materialized first — overwrite
        # truncates before the job runs and a lazy plan would re-read
        # the emptied table and wipe everything). Routing through
        # _merge_rewrite would merge survivors INTO the full snapshot,
        # i.e. delete nothing.
        remaining = remaining.localCheckpoint(eager=True)
        self._writer(remaining, self.table).save()

    def read_multiple(self, spark: SparkSession, keys_df: DataFrame) -> DataFrame:
        snap = self.read_snapshot(spark)
        if snap is None:
            return keys_df.limit(0)
        return snap.join(
            keys_df.select(*self.key_cols).distinct(), on=list(self.key_cols), how="left_semi"
        )
