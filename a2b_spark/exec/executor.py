"""The migration executor: the reference's per-row loop collapsed into
one distributed dataflow.

Reference loop (DataMigrationExecutor.php:104-149,164-232), per row:
extract+cast ids → mapper lookup source→dest ids → read existing dest
entity (or defaultResult) → transform(row, entity) → null = skip →
write entity → addMapping → after the loop, orphan diff.

Spark dataflow (SURVEY §3.2): the whole loop is

    source
      → cast ids (C2)
      → left-join mapping table (C3): dest ids + stored row hash
      → left-join destination snapshot → ``__existing`` struct (C4);
        the stored hash counts only where the snapshot holds the row
      → transform (C1; filter = skip)
      → assign deterministic dest ids
      → persist the entity; ONE aggregate materializes it and counts
        (rows processed, rows changed)
      → anti-join for orphans (C6) against the pre-run snapshot
      → MERGE into destination (C5), carrying a prune's deletes (C7):
        one destination commit
      → MERGE into mapping table

Per-row becomes per-partition; the joins shuffle on the key columns
(or broadcast when one side is small — AQE decides at runtime); no
data ever round-trips through the driver. A never-run migration's
mapping table is planner-visibly empty, so its join is planned away.

Transform contract (mirrors DataMigrationInterface::transform):
- receives the prepared DataFrame: source columns, ``__src__`` struct
  (the cast source-id tuple plus, once the mapping table stores
  hashes, the hidden ``__prev_hash`` field — the incremental skip's
  stored content hash; keep the struct as-is, DO NOT drop or rebuild
  it: a rebuilt struct loses the hash and every row counts as
  changed), ``__existing`` struct (previously-migrated destination
  entity, null on first sight), and ``__dest_<id>`` precomputed
  destination ids (existing mapping if present, else a deterministic
  hash of the source key).
- returns the entity DataFrame. Dropping rows (``.filter``) = the
  reference's "return null to skip". Updating-in-place = coalescing
  against ``__existing.<col>``.
- must either keep the ``__dest_*`` columns or output destination id
  columns under their declared names.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a2b_spark.core.ids import cast_ids, deterministic_dest_id
from a2b_spark.core.migration import Migration
from a2b_spark.mapping.store import (
    MappingStore,
    STATUS_MIGRATED,
    dest_col,
    mapping_batch,
    src_col,
)

SRC_STRUCT = "__src__"
EXISTING = "__existing"
ROW_HASH = "__row_hash"
PREV_HASH = "__prev_hash"  # hidden __src__ field: the stored row_hash


def _with_row_hash(entity: DataFrame) -> DataFrame:
    """Deterministic content hash of everything the destination would
    receive: xxhash64 of the canonical JSON of the sorted payload
    columns. JSON (with explicit nulls), not a bare multi-column
    xxhash64 — the raw hash folds a NULL column as a no-op, so two
    rows differing only in WHICH column is null would collide."""
    payload = sorted(c for c in entity.columns if c not in (SRC_STRUCT, ROW_HASH))
    return entity.withColumn(
        ROW_HASH,
        F.xxhash64(
            F.to_json(
                F.struct(*[F.col(c) for c in payload]),
                {"ignoreNullFields": "false"},
            )
        ),
    )


def _changed(entity: DataFrame) -> F.Column:
    """Incremental filter over the hashed entity: the row's content hash
    differs from the stored one riding in ``__src__``, or none counts
    (new rows, stubs, hashes a non-incremental run nulled, and rows the
    destination no longer holds — pruned or deleted out of band — whose
    stored hash prepare() masks). A pre-incremental mapping table, or a
    transform that rebuilt ``__src__``, carries no field: every row
    counts as changed once and the hashes backfill on this run's
    mapping merge."""
    if PREV_HASH not in entity.schema[SRC_STRUCT].dataType.fieldNames():
        return F.lit(True)
    prev = F.col(f"{SRC_STRUCT}.{PREV_HASH}")
    return prev.isNull() | (prev != F.col(ROW_HASH))


def existing_field(df: DataFrame, name: str, default) -> F.Column:
    """Read a field off the previously-migrated entity, with a default
    for rows (or runs) where no prior entity exists — the declarative
    analogue of the reference's ``defaultResult()``
    (AbstractDataMigration.php:42-45).

    Handles both "destination doesn't exist yet" (``__existing`` is an
    untyped null) and "destination exists but lacks the field" (schema
    evolution between runs).
    """
    from pyspark.sql import types as T

    if EXISTING not in df.columns:
        raise ValueError("existing_field() must be called on the prepared DataFrame")
    dtype = df.schema[EXISTING].dataType
    if not isinstance(dtype, T.StructType) or name not in dtype.fieldNames():
        return F.lit(default)
    return F.when(F.col(EXISTING).isNull(), F.lit(default)).otherwise(
        F.col(f"{EXISTING}.{name}")
    )


@dataclass
class MigrationResult:
    migration: str
    rows_in: int
    rows_written: int
    rows_skipped: int
    orphan_count: int
    orphans: Optional[DataFrame]  # dest-id rows; None when policy consumed them
    spark_metrics: Optional[dict] = None  # job/stage/task counts (runner fills)
    rows_unchanged: int = 0  # incremental mode: transformed but content-identical


def prepare(
    spark: SparkSession, m: Migration, mapper: MappingStore
) -> tuple[DataFrame, Optional[DataFrame], DataFrame]:
    """Stages C2-C4: returns (prepared_df, dest_snapshot, existing_ids).

    ``existing_ids`` is captured from the snapshot *before* any write —
    the reference snapshots getExistingIds() pre-run
    (DataMigrationExecutor.php:119) and orphan semantics depend on it.
    """
    src = m.source.load(spark)
    src = cast_ids(src, m.source_ids)
    src = src.withColumn(SRC_STRUCT, F.struct(*[F.col(f.name) for f in m.source_ids]))

    map_df = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids)
    cond = None
    for f in m.source_ids:
        c = src[f.name].eqNullSafe(map_df[src_col(f)])
        cond = c if cond is None else (cond & c)
    joined = src.join(map_df, on=cond, how="left")

    dest_names = [f.name for f in m.destination_ids]
    snap = m.destination.read_snapshot(spark)
    if snap is not None:
        snap_keyed = snap.select(
            *[F.col(n).alias(f"__snap_{n}") for n in dest_names],
            F.struct(*[F.col(c) for c in snap.columns]).alias(EXISTING),
        )
        scond = None
        for f in m.destination_ids:
            c = joined[dest_col(f)].eqNullSafe(snap_keyed[f"__snap_{f.name}"])
            scond = c if scond is None else (scond & c)
        joined = joined.join(snap_keyed, on=scond, how="left").drop(
            *[f"__snap_{n}" for n in dest_names]
        )
        existing_ids = snap.select(*dest_names).distinct()
    else:
        joined = joined.withColumn(EXISTING, F.lit(None))
        existing_ids = None
    if "row_hash" in map_df.columns:
        # the stored hash rides inside __src__, the one column every
        # transform keeps, so the incremental skip needs no second
        # mapping read (see _changed). It counts only while the
        # destination holds the row: a pruned row, or one deleted out
        # of band, is written again when it returns unchanged
        prev_hash = map_df["row_hash"]
        if snap is not None:
            prev_hash = F.when(F.col(EXISTING).isNotNull(), prev_hash)
        joined = joined.withColumn(
            SRC_STRUCT, F.col(SRC_STRUCT).withField(PREV_HASH, prev_hash)
        )

    # Precompute destination ids: keep the mapped id when the row was
    # migrated before, else mint a deterministic one (C5 + §4.3).
    for f in m.destination_ids:
        mapped = F.col(dest_col(f))
        if f.type == "int":
            fresh = deterministic_dest_id([sf.name for sf in m.source_ids], m.mapping_key())
        else:
            # "~"-separated: string ids double as path segments in
            # file-layout sinks (YamlDirDestination), so no "/" (path
            # nesting) and no ":" (illegal in Hadoop URIs)
            fresh = F.concat_ws(
                "~", F.lit(m.mapping_key()), *[F.col(sf.name).cast("string") for sf in m.source_ids]
            )
        joined = joined.withColumn(f"__dest_{f.name}", F.coalesce(mapped, fresh))
    # drop the mapping table's columns by QUALIFIED reference: bare
    # names ("status", "updated" — extremely common source column
    # names) would drop same-named SOURCE columns too and silently
    # lose data (round-5 review)
    joined = joined.drop(
        *[map_df[src_col(f)] for f in m.source_ids],
        *[map_df[dest_col(f)] for f in m.destination_ids],
        map_df["updated"],
        map_df["status"],
        # the stored hash as a top-level column: without this drop a
        # pass-through transform would carry the STALE hash into the
        # entity (polluting the destination schema and making
        # _with_row_hash never match) — it lives on in __src__ only
        *([map_df["row_hash"]] if "row_hash" in map_df.columns else []),
    )
    return joined, snap, existing_ids


def retract(
    spark: SparkSession,
    m: Migration,
    mapper: MappingStore,
    source_keys: DataFrame,
) -> int:
    """Hard-delete the given SOURCE keys from both the destination and
    the mapping table — the right-to-erasure lifecycle operation.

    This is deliberately different from orphan ``prune`` (which removes
    destination rows but KEEPS their mappings so a returning source row
    re-acquires its old destination id): retraction erases the mapping
    too. Because destination ids are deterministic hashes of the source
    key, a later re-migration of the same source row still produces the
    same id — erasure does not destabilize references.

    ``source_keys`` carries the source id columns under their declared
    names; returns the number of destination rows removed. Distributed
    end-to-end: one mapping join, two keyed deletes (each a versioned
    merge touching only affected partitions)."""
    from a2b_spark.mapping.store import _retract_source_keys

    keys = cast_ids(source_keys.select(*[f.name for f in m.source_ids]), m.source_ids)
    mapped = mapper.dest_ids_for(m.mapping_key(), keys, m.source_ids, m.destination_ids)
    from functools import reduce

    dest_keys = (
        mapped.select(
            *[F.col(f"dest_{f.name}").alias(f.name) for f in m.destination_ids]
        )
        .filter(
            reduce(
                lambda a, b: a | b,
                [F.col(f.name).isNotNull() for f in m.destination_ids],
            )
        )
        .distinct()
    )
    n = dest_keys.count()  # O(affected keys) — the retraction receipt
    if n:
        m.destination.delete_keys(dest_keys)
    _retract_source_keys(mapper, m.mapping_key(), keys, m.source_ids, m.destination_ids)
    return n


def finalize_entity(entity: DataFrame, m: Migration) -> DataFrame:
    """Normalize the transform's output: materialize destination id
    columns under their declared names, drop helper columns."""
    for f in m.destination_ids:
        helper = f"__dest_{f.name}"
        if f.name in entity.columns:
            if helper in entity.columns:
                entity = entity.drop(helper)
        elif helper in entity.columns:
            entity = entity.withColumnRenamed(helper, f.name)
        else:
            raise ValueError(
                f"transform for {m.name!r} lost destination id {f.name!r} "
                f"(keep '__dest_{f.name}' or emit {f.name!r})"
            )
    if EXISTING in entity.columns:
        entity = entity.drop(EXISTING)
    return entity


def _persist_orphan_report(
    spark: SparkSession, m: Migration, orphan_rows: DataFrame
) -> DataFrame:
    """Materialize the ``report`` policy's orphans so they outlive the
    session — the reference materializes orphan *entities*, not just a
    transient result (DataMigrationExecutor.php:130-135).

    Path-based destinations get a ``<dest>/_orphans`` versioned table
    (overwritten per run: the report is "orphans as of this run", not
    an accumulating log); the returned DataFrame reads from the
    persisted table, so it stays valid after later merges. For
    destinations with no filesystem path (console, JDBC) the live
    DataFrame is returned unpersisted, as before.
    """
    from a2b_spark.storage.table import VersionedParquetTable

    dest_path = getattr(m.destination, "path", None)
    if not dest_path:
        return orphan_rows
    dest_names = [f.name for f in m.destination_ids]
    report = VersionedParquetTable(f"{dest_path}/_orphans", dest_names)
    report.overwrite(orphan_rows)
    return report.read(spark)


def run_migration(
    spark: SparkSession,
    m: Migration,
    mapper: MappingStore,
    orphan_policy: str = "keep",
    collect_stats: bool = True,
    record_mappings: bool = True,
    incremental: bool = False,
) -> MigrationResult:
    """Execute one migration end-to-end (entry point 2 of the reference,
    DataMigrationExecutor::execute).

    orphan_policy ∈ {keep, prune, preserve, report} — the reference's
    interactive prompt (MigrateCommand.php:123-133) is replaced by
    explicit policy; ``report`` returns the orphan rows.

    ``incremental=True`` makes re-runs cost O(changed): each entity row
    carries a content hash, the hash persists in the mapping table, and
    rows whose hash is unchanged since the last run SKIP the
    destination and mapping merges entirely (a 100 TB re-run where 1%
    drifted writes 1%). The stored hash arrives with prepare()'s
    mapping join inside ``__src__``, and counts only while the
    destination snapshot holds the row, so the skip is a filter on the
    persisted entity. Orphan detection still sees the full entity set,
    so prune/preserve/report are unaffected. First run after enabling
    (or over a pre-incremental mapping table, or with a transform that
    rebuilt ``__src__``) writes everything once, backfilling hashes.
    ``rows_written`` counts rows actually merged; content-identical
    rows are reported separately in ``rows_unchanged``
    (``rows_skipped`` stays rows_in − rows_written: transform-filtered
    PLUS unchanged).

    Commits, in order: the destination merge, which also deletes a
    prune's orphans (one commit where the sink can), then the mapping
    merge. A prune keeps the orphans' mapping rows and stored hashes:
    a returning row re-acquires its id, and is rewritten because the
    destination no longer holds it. A crash between the two commits
    converges on the next run over the same source: stale hashes
    rewrite the changed rows and missing destination rows re-insert
    the pruned ones.
    """
    if orphan_policy not in {"keep", "prune", "preserve", "report"}:
        raise ValueError(f"unknown orphan policy {orphan_policy!r}")
    if incremental and not record_mappings:
        raise ValueError(
            "incremental mode stores row hashes in the mapping table; "
            "record_mappings=False would rewrite everything every run"
        )

    prepared, snap, existing_ids = prepare(spark, m, mapper)

    # rows_in via Observation: counted on the SAME pass that
    # materializes the entity batch — no separate count() job re-running
    # the source scan + mapping/snapshot joins (at 100 TB that extra
    # pass is a full table read). Requires the transform's output to
    # derive from the prepared DataFrame, which the transform contract
    # already guarantees.
    obs = None
    if collect_stats:
        from pyspark.sql import Observation

        obs = Observation()
        prepared = prepared.observe(obs, F.count(F.lit(1)).alias("rows_in"))

    entity = m.transform(prepared)
    entity = finalize_entity(entity, m)
    changed = F.lit(True)
    if incremental:
        entity = _with_row_hash(entity)
        changed = _changed(entity)

    # Cache: the entity feeds the destination merge, the mapping merge,
    # and the orphan diff. One aggregate (rows, changed rows) is the
    # cache's eager materialization, before any consumer reads it
    # (persisted fan-out frames race their consumers under AQE).
    entity = entity.persist()
    try:
        rows_processed, rows_written = entity.agg(
            F.count(F.lit(1)), F.count_if(changed)
        ).first()
        rows_in = int(obs.get["rows_in"]) if obs is not None else -1

        dest_names = [f.name for f in m.destination_ids]
        write_set = entity.filter(changed) if incremental else entity

        # orphans are diffed against the PRE-RUN snapshot, so they are
        # known before any commit. Pinned (lazily: the count is the
        # materializing job) because prune consults them again in the
        # destination merge's match
        orphan_ids = None
        orphan_count = 0
        if existing_ids is not None:
            orphan_ids = existing_ids.join(
                entity.select(*dest_names), on=dest_names, how="left_anti"
            ).localCheckpoint(eager=False)
            orphan_count = orphan_ids.count()
        prune = orphan_policy == "prune" and orphan_count > 0

        if rows_written or not incremental or prune:
            # one destination commit carries the upserts and the prune
            m.destination.merge(
                write_set.drop(SRC_STRUCT, ROW_HASH),
                delete=orphan_ids if prune else None,
            )
        if record_mappings and (rows_written or not incremental):
            # non-incremental runs must NULL the stored hash for
            # every row they rewrite: leaving a stale hash behind
            # would make a LATER incremental run silently skip a
            # row whose content rolled back to the hashed value
            # while the destination holds something else entirely
            # (round-6 review, reproduced)
            mb = mapping_batch(
                write_set,
                m.source_ids,
                m.destination_ids,
                extra_cols={
                    "row_hash": F.col(ROW_HASH)
                    if incremental
                    else F.lit(None).cast("long")
                },
            )
            mapper.merge(
                m.mapping_key(), mb, m.source_ids, m.destination_ids, STATUS_MIGRATED
            )

        orphans_df = None
        if existing_ids is not None:
            # Materialize the orphan rows (readMultiple analogue, C6)
            orphan_rows = snap.join(orphan_ids, on=dest_names, how="left_semi")
            if orphan_policy == "preserve" and orphan_count:
                # Reference --preserve: keep rows and add mapping rows with
                # all-NULL source ids (DataMigrationExecutor.php:275-328).
                null_src = orphan_ids.select(
                    *[F.lit(None).cast(f.spark_type).alias(src_col(f)) for f in m.source_ids],
                    *[F.col(f.name).alias(dest_col(f)) for f in m.destination_ids],
                )
                mapper.append_preserved(m.mapping_key(), null_src, m.source_ids, m.destination_ids)
            if orphan_policy == "report":
                orphans_df = _persist_orphan_report(spark, m, orphan_rows)

        skipped = (rows_in - rows_written) if collect_stats else -1
        return MigrationResult(
            migration=m.name,
            rows_in=rows_in,
            rows_written=rows_written,
            rows_skipped=skipped,
            orphan_count=orphan_count,
            orphans=orphans_df,
            rows_unchanged=(rows_processed - rows_written) if incremental else 0,
        )
    finally:
        entity.unpersist()
