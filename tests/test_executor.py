"""Minimum-slice tests (SURVEY §7.1): the executor's core invariants.

Modeled on the reference's executor tests
(tests/src/DataMigration/DataMigrationExecutorTest.php): a second run
*updates instead of duplicates* (:142-145), transforms see the
previously-written entity (:82-88), orphans are detected and handled
per policy (:148-258, 265-424).
"""

import os

import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource


def make_migration(tmp_path, source_df, transform, name="cust_migration"):
    dest = ParquetDestination(str(tmp_path / "dest"), key_cols=("id",))
    return Migration(
        name=name,
        source=DataFrameSource(source_df),
        destination=dest,
        source_ids=(IdField("c_custkey", "int"),),
        destination_ids=(IdField("id", "int"),),
        transform=transform,
    )


def basic_transform(df):
    return df.select(
        "__src__",
        "__dest_id",
        F.col("c_custkey"),
        F.upper(F.col("c_name")).alias("name"),
        F.col("c_acctbal").alias("balance"),
    )


@pytest.fixture()
def customers(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


def test_second_run_updates_not_duplicates(spark, tmp_path, customers):
    src = customers.limit(50)
    m = make_migration(tmp_path, src, basic_transform)
    mapper = MappingStore(spark, str(tmp_path / "maps"))

    r1 = run_migration(spark, m, mapper)
    assert r1.rows_written == 50

    dest_df = m.destination.read_snapshot(spark)
    assert dest_df.count() == 50
    ids_run1 = {r.id for r in dest_df.select("id").collect()}

    r2 = run_migration(spark, m, mapper)
    assert r2.rows_written == 50
    dest_df2 = m.destination.read_snapshot(spark)
    assert dest_df2.count() == 50, "re-run must update, not duplicate"
    ids_run2 = {r.id for r in dest_df2.select("id").collect()}
    assert ids_run1 == ids_run2, "dest ids must be stable across runs"

    map_df = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids)
    assert map_df.count() == 50
    assert map_df.filter(F.col("status") != 0).count() == 0


def test_transform_sees_existing_entity(spark, tmp_path, customers):
    src = customers.limit(20)

    from a2b_spark.exec.executor import existing_field

    def counting_transform(df):
        # update-in-place semantics: increment a run counter carried on
        # the destination entity (reference ExecutorTest.php:82-88).
        prev = existing_field(df, "runs", 0)
        return df.select(
            "__src__", "__dest_id", "c_custkey", (prev + F.lit(1)).alias("runs")
        )

    m = make_migration(tmp_path, src, counting_transform)
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    run_migration(spark, m, mapper)
    run_migration(spark, m, mapper)
    dest = m.destination.read_snapshot(spark)
    runs = [r.runs for r in dest.select("runs").collect()]
    assert runs == [2] * 20


def test_skip_rows(spark, tmp_path, customers):
    src = customers.limit(30)

    def skipping(df):
        return basic_transform(df).filter(F.col("c_custkey") % 2 == 0)

    m = make_migration(tmp_path, src, skipping)
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    r = run_migration(spark, m, mapper)
    assert r.rows_in == 30
    assert r.rows_written + r.rows_skipped == 30
    assert r.rows_skipped > 0


def test_transform_folded_to_empty_still_counts_rows_in(spark, tmp_path, customers):
    """Catalyst folds ``filter(lit(False))`` to an empty relation, which
    drops the observed node: rows_in still counts the source rows."""
    m = make_migration(
        tmp_path, customers.limit(30),
        lambda df: basic_transform(df).filter(F.lit(False)),
    )
    r = run_migration(spark, m, MappingStore(spark, str(tmp_path / "maps")))
    assert (r.rows_in, r.rows_written) == (30, 0)


@pytest.mark.parametrize("policy", ["keep", "prune", "report", "preserve"])
def test_orphans(spark, tmp_path, customers, policy):
    full = customers.limit(40)
    m = make_migration(tmp_path, full, basic_transform)
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    run_migration(spark, m, mapper)

    # Drop 5 source rows and re-run: exactly 5 orphans.
    keys = sorted(r.c_custkey for r in full.select("c_custkey").collect())
    dropped = set(keys[:5])
    smaller = full.filter(~F.col("c_custkey").isin(dropped))
    m2 = make_migration(tmp_path, smaller, basic_transform)
    r = run_migration(spark, m2, mapper, orphan_policy=policy)
    assert r.orphan_count == 5

    dest = m2.destination.read_snapshot(spark)
    if policy == "prune":
        assert dest.count() == 35
    else:
        assert dest.count() == 40, "keep/report/preserve retain orphan rows"
    if policy == "report":
        assert r.orphans is not None and r.orphans.count() == 5
        # the report is persisted (reference materializes orphan
        # entities) and survives the returned DataFrame's session state
        from a2b_spark.storage.table import VersionedParquetTable

        report = VersionedParquetTable(
            str(tmp_path / "dest" / "_orphans"), ("id",)
        ).read(spark)
        assert report is not None and report.count() == 5
        reported_keys = {row.c_custkey for row in report.collect()}
        assert reported_keys == dropped
        # orphans table must not pollute the destination snapshot
        assert dest.count() == 40
    if policy == "preserve":
        map_df = mapper.load(m2.mapping_key(), m2.source_ids, m2.destination_ids)
        preserved = map_df.filter(F.col("source_c_custkey").isNull())
        assert preserved.count() == 5


def test_deterministic_dest_ids_disjoint_batches(spark, tmp_path, customers):
    """Two disjoint batches through the same migration never collide and
    always mint the same id for the same source key."""
    b1 = customers.limit(30)
    m = make_migration(tmp_path, b1, basic_transform)
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    run_migration(spark, m, mapper)
    first = {
        (r.c_custkey, r.id)
        for r in m.destination.read_snapshot(spark).select("c_custkey", "id").collect()
    }
    run_migration(spark, m, mapper)
    second = {
        (r.c_custkey, r.id)
        for r in m.destination.read_snapshot(spark).select("c_custkey", "id").collect()
    }
    assert first == second


def test_merge_matched_null_overwrites(spark):
    """MERGE semantics: a matched batch row's explicit NULL replaces
    the existing value (COALESCE-style resurrection is a bug)."""
    from a2b_spark.storage.merge import merge_dataframes

    existing = spark.createDataFrame([(1, "keep"), (2, "stale")], "id bigint, v string")
    batch = spark.createDataFrame([(2, None), (3, "new")], "id bigint, v string")
    out = {r["id"]: r["v"] for r in merge_dataframes(existing, batch, ["id"]).collect()}
    assert out == {1: "keep", 2: None, 3: "new"}


def test_partitioned_destination_incremental_merge(spark, tmp_path, customers):
    """The 100 TB merge contract end-to-end: a partitioned destination +
    a small incremental batch rewrites ONLY the touched partitions —
    untouched partition files are hard-linked (same inode) into the new
    version, not rewritten."""
    from a2b_spark.core.migration import IdField, Migration

    def transform(df):
        return df.select(
            "__src__",
            "__dest_id",
            "c_custkey",
            F.col("c_nationkey").alias("nation"),
            F.col("c_acctbal").alias("balance"),
        )

    def mk(src):
        return Migration(
            name="cust_part",
            source=__import__("a2b_spark.sources.base", fromlist=["DataFrameSource"]).DataFrameSource(src),
            destination=ParquetDestination(
                str(tmp_path / "dest"), key_cols=("id",), partition_by=("nation",)
            ),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=transform,
        )

    def inodes(version_dir):
        out = {}
        for root, _, files in os.walk(version_dir):
            for fn in files:
                if not fn.startswith(("_", ".")):
                    p = os.path.join(root, fn)
                    out[os.path.relpath(p, version_dir)] = os.stat(p).st_ino
        return out

    full = customers.limit(100)
    m = mk(full)
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    run_migration(spark, m, mapper)
    table = m.destination.table
    v1_dir = os.path.join(table.path, table.current_version())
    before = inodes(v1_dir)

    # incremental batch: one nation only
    one_nation = full.orderBy("c_custkey").first().c_nationkey
    batch = full.filter(F.col("c_nationkey") == one_nation)
    m2 = mk(batch)
    run_migration(spark, m2, mapper)

    v2_dir = os.path.join(table.path, table.current_version())
    assert v2_dir != v1_dir
    after = inodes(v2_dir)
    prefix = f"nation={one_nation}"
    untouched = [f for f in after if not f.startswith(prefix)]
    assert untouched, "expect more than one partition in the test slice"
    for f in untouched:
        assert after[f] == before[f], f"untouched partition file {f} was rewritten"
    assert any(f.startswith(prefix) for f in after)
    assert m2.destination.read_snapshot(spark).count() == 100


def test_retract_erases_dest_and_mapping(spark, tmp_path, customers):
    """Right-to-erasure: retract removes the source keys from BOTH the
    destination and the mapping table; a later re-migration restores
    the rows under the SAME deterministic dest ids."""
    from a2b_spark.exec.executor import retract

    src = customers.limit(30)
    m = make_migration(tmp_path, src, basic_transform)
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    run_migration(spark, m, mapper)
    ids_before = {
        r["c_custkey"]: r["id"]
        for r in m.destination.read_snapshot(spark).select("c_custkey", "id").collect()
    }

    doomed = src.limit(5).select("c_custkey")
    doomed_keys = {r["c_custkey"] for r in doomed.collect()}
    n = retract(spark, m, mapper, doomed)
    assert n == 5
    snap = m.destination.read_snapshot(spark)
    assert snap.count() == 25
    assert not {r["c_custkey"] for r in snap.select("c_custkey").collect()} & doomed_keys
    map_df = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids)
    assert map_df.count() == 25

    # unknown keys retract 0 and change nothing
    ghost = spark.createDataFrame([(999999,)], "c_custkey long")
    assert retract(spark, m, mapper, ghost) == 0
    assert m.destination.read_snapshot(spark).count() == 25

    # re-migration restores the erased rows with their ORIGINAL ids
    run_migration(spark, m, mapper)
    ids_after = {
        r["c_custkey"]: r["id"]
        for r in m.destination.read_snapshot(spark).select("c_custkey", "id").collect()
    }
    assert ids_after == ids_before


def test_source_columns_named_status_and_updated_survive(spark, tmp_path):
    """The mapping table's housekeeping columns are dropped by
    QUALIFIED reference: a source with its own 'status'/'updated'
    columns (extremely common names) must keep them through
    prepare/transform (round-5 review: bare-name drop lost them)."""
    src = spark.createDataFrame(
        [(1, "active", "2020-01-01"), (2, "closed", "2021-02-02")],
        "k int, status string, updated string",
    )
    m = Migration(
        name="statuses",
        source=DataFrameSource(src),
        destination=ParquetDestination(str(tmp_path / "sd"), key_cols=("id",)),
        source_ids=(IdField("k", "int"),),
        destination_ids=(IdField("id", "int"),),
        transform=lambda d: d.select(
            "__src__", "__dest_id", "k", "status", "updated"
        ),
    )
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    run_migration(spark, m, mapper)
    rows = {r["k"]: (r["status"], r["updated"])
            for r in m.destination.read_snapshot(spark).collect()}
    assert rows == {1: ("active", "2020-01-01"), 2: ("closed", "2021-02-02")}
    # second run exercises the matched-mapping path too
    run_migration(spark, m, mapper)
    assert m.destination.read_snapshot(spark).count() == 2
