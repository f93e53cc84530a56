"""The migration executor: the reference's per-row loop collapsed into
one distributed dataflow.

Reference loop (DataMigrationExecutor.php:104-149,164-232), per row:
extract+cast ids → mapper lookup source→dest ids → read existing dest
entity (or defaultResult) → transform(row, entity) → null = skip →
write entity → addMapping → after the loop, orphan diff.

Spark dataflow (SURVEY §3.2): the whole loop is

    source
      → cast ids (C2)
      → left-join mapping table (C3): mapped dest ids + status
      → left-join destination snapshot → ``__existing`` struct (C4)
      → transform (C1; filter = skip)
      → assign deterministic dest ids
      → flag changed rows (incremental: unlike the destination row)
        and unmapped ones (no mapping row, a stub, other dest ids)
      → persist the entity; ONE aggregate materializes it and counts
        (rows, changed rows, unmapped rows)
      → anti-join for orphans (C6) against the pre-run snapshot
      → MERGE changed rows into destination (C5), carrying a prune's
        deletes (C7): one destination commit
      → MERGE unmapped rows into mapping table (none: no commit)

Per-row becomes per-partition; the joins shuffle on the key columns
(or broadcast when one side is small — AQE decides at runtime); no
data ever round-trips through the driver. A never-run migration's
mapping table is planner-visibly empty, so its join is planned away.

Transform contract (mirrors DataMigrationInterface::transform):
- receives the prepared DataFrame: source columns, ``__src__`` struct
  (the cast source-id tuple plus two hidden fields the executor reads
  after the transform: the destination row and the mapping row's dest
  ids and status; keep the struct as-is), ``__existing`` struct
  (previously-migrated destination entity, null on first sight), and
  ``__dest_<id>`` precomputed destination ids (existing mapping if
  present, else a deterministic hash of the source key).
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
    STATUS_STUB,
    dest_col,
    mapping_batch,
    src_col,
)

SRC_STRUCT = "__src__"
EXISTING = "__existing"
SNAPSHOT = "__snapshot"  # hidden __src__ field: the destination row
MAPPED = "__mapped"  # hidden __src__ field: mapped dest ids + status, or null
CHANGED = "__changed"  # entity flag: write the destination row
UNMAPPED = "__unmapped"  # entity flag: write the mapping row
_CANONICAL = {
    "ignoreNullFields": "false",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _changed(entity: DataFrame) -> F.Column:
    """Incremental change test against the destination row (hidden
    ``__snapshot`` field): the entity's payload differs from that row
    projected to the same columns and cast to their types, compared as
    canonical JSON (explicit nulls, so a NULL moving between columns
    differs; microseconds, where JSON's default keeps milliseconds). A
    row or column the destination lacks counts as changed. Nothing is
    stored beside the data, so no torn commit can leave it stale."""
    payload = sorted(c for c in entity.columns if c != SRC_STRUCT)
    src = entity.schema[SRC_STRUCT].dataType
    if SNAPSHOT not in src.fieldNames() or set(payload) - set(src[SNAPSHOT].dataType.fieldNames()):
        return F.lit(True)
    held = F.col(SRC_STRUCT).getField(SNAPSHOT)
    types = {f.name: f.dataType for f in entity.schema.fields}
    mine, theirs = (
        F.to_json(F.struct(*cols), _CANONICAL)
        for cols in (
            [F.col(c) for c in payload],
            [held.getField(c).cast(types[c]).alias(c) for c in payload],
        )
    )
    return held.isNull() | (mine != theirs)


def _unmapped(entity: DataFrame, m: Migration) -> F.Column:
    """The row needs a mapping write (hidden ``__mapped`` field): no
    mapping row, a stub, or other dest ids. Dest ids are deterministic,
    so a changed row that is already mapped needs none."""
    if MAPPED not in entity.schema[SRC_STRUCT].dataType.fieldNames():
        return F.lit(True)
    mapped = F.col(SRC_STRUCT).getField(MAPPED)
    cond = mapped.isNull() | (mapped.getField("status") == STATUS_STUB)
    for f in m.destination_ids:
        cond = cond | ~F.col(f.name).eqNullSafe(mapped.getField(dest_col(f)))
    return cond


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
    # the destination row and the mapping state ride inside __src__,
    # the one column every transform keeps (see _changed, _unmapped)
    hidden = F.col(SRC_STRUCT).withField(
        MAPPED,
        F.when(
            map_df["status"].isNotNull(),
            F.struct(*[map_df[dest_col(f)] for f in m.destination_ids], map_df["status"]),
        ),
    )
    if snap is not None:
        hidden = hidden.withField(SNAPSHOT, F.col(EXISTING))
    joined = joined.withColumn(SRC_STRUCT, hidden)

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
    return entity.drop(EXISTING)  # a no-op when the transform dropped it


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


def _observed_count(obs, prepared: DataFrame) -> int:
    """The ``rows_in`` the observation counted during the entity
    materialization. A transform whose filter Catalyst folds to an
    empty relation removes the observed node from the plan, and the
    observation then holds no row: only that case pays a count job."""
    from py4j.protocol import Py4JJavaError

    try:
        return int(obs.get["rows_in"])
    except Py4JJavaError:
        return prepared.count()


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

    ``incremental=True`` makes re-runs cost O(changed): rows whose
    content equals the row the destination already holds SKIP the
    destination merge (a 100 TB re-run where 1% drifted writes 1%).
    The destination row arrives with prepare()'s snapshot join inside
    ``__src__``, so the skip is a flag on the persisted entity; no
    content hash is stored anywhere. Orphan detection still sees the
    full entity set, so prune/preserve/report are unaffected. The skip
    needs a sink that reads back what it was given (README lists them);
    the console sink keeps no snapshot, so it writes every row.
    ``rows_written`` counts rows actually merged; content-identical
    rows are reported separately in ``rows_unchanged``
    (``rows_skipped`` stays rows_in − rows_written: transform-filtered
    PLUS unchanged).

    Commits, in order: the destination merge, which also deletes a
    prune's orphans (one commit where the sink can; with no changed
    rows the prune is a delete alone), then the mapping merge of the
    unmapped rows, if any. A prune keeps the orphans' mapping rows: a
    returning row re-acquires its id, and is rewritten because the
    destination no longer holds it. A crash between or inside the
    commits converges on the next run over any source: change is
    judged against the destination itself, and a row whose mapping
    merge was lost still reads as unmapped.
    """
    if orphan_policy not in {"keep", "prune", "preserve", "report"}:
        raise ValueError(f"unknown orphan policy {orphan_policy!r}")
    if incremental and not record_mappings:
        raise ValueError(
            "incremental re-runs keep the mapping table in step with the "
            "destination; record_mappings=False leaves no mapping to keep"
        )

    prepared, snap, existing_ids = prepare(spark, m, mapper)

    # rows_in via Observation: counted on the SAME pass that
    # materializes the entity batch — no separate count() job re-running
    # the source scan + mapping/snapshot joins (at 100 TB that extra
    # pass is a full table read). Requires the transform's output to
    # derive from the prepared DataFrame, which the transform contract
    # already guarantees.
    obs = None
    observed = prepared
    if collect_stats:
        from pyspark.sql import Observation

        obs = Observation()
        observed = prepared.observe(obs, F.count(F.lit(1)).alias("rows_in"))

    entity = finalize_entity(m.transform(observed), m)
    # the flags replace the hidden fields before the cache: the cached
    # entity carries two booleans, not a copy of the destination row
    entity = entity.withColumns(
        {
            CHANGED: _changed(entity) if incremental else F.lit(True),
            UNMAPPED: _unmapped(entity, m),
            SRC_STRUCT: F.col(SRC_STRUCT).dropFields(SNAPSHOT, MAPPED),
        }
    )

    # Cache: the entity feeds the destination merge, the mapping merge,
    # and the orphan diff. One aggregate (rows, changed, unmapped) is
    # the cache's eager materialization, before any consumer reads it
    # (persisted fan-out frames race their consumers under AQE).
    entity = entity.persist()
    try:
        rows_processed, rows_written, rows_unmapped = entity.agg(
            F.count(F.lit(1)), F.count_if(CHANGED), F.count_if(UNMAPPED)
        ).first()
        rows_in = _observed_count(obs, prepared) if obs is not None else -1

        dest_names = [f.name for f in m.destination_ids]

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

        if rows_written or (not incremental and not prune):
            # one destination commit carries the upserts and the prune
            m.destination.merge(
                entity.filter(CHANGED).drop(SRC_STRUCT, CHANGED, UNMAPPED),
                delete=orphan_ids if prune else None,
            )
        elif prune:
            # nothing to upsert: the delete alone, on every sink
            m.destination.delete_keys(orphan_ids)
        if record_mappings and rows_unmapped:
            mb = mapping_batch(
                entity.filter(UNMAPPED), m.source_ids, m.destination_ids
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
