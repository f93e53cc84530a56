"""Incremental (skip-unchanged) migration: re-runs cost O(changed).

The scale contract under test: after a full first run, a re-run with
no source drift writes NOTHING (destination version does not advance),
and a re-run with k changed rows merges exactly those k — while orphan
detection still sees the full entity set.
"""

import dataclasses

import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource


def _mig(src_df, dest_path):
    return Migration(
        name="inc",
        source=DataFrameSource(src_df),
        destination=ParquetDestination(dest_path, key_cols=("id",)),
        source_ids=(IdField("c_custkey", "int"),),
        destination_ids=(IdField("id", "int"),),
        transform=lambda df: df.select(
            "__src__", "__dest_id", "c_custkey", "c_name", "c_acctbal"
        ),
    )


@pytest.fixture()
def base(spark, sf_dir, tmp_path):
    # localCheckpoint, not cache(): the suite asserts the shared
    # session's cache manager stays EMPTY (test_prefix cache-hygiene)
    src = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(20).localCheckpoint()
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    dest = str(tmp_path / "dest")
    return src, mapper, dest


def test_unchanged_rerun_writes_nothing(spark, base):
    src, mapper, dest = base
    m = _mig(src, dest)
    r1 = run_migration(spark, m, mapper, incremental=True)
    assert r1.rows_written == 20
    v1 = m.destination.table.current_version()
    r2 = run_migration(spark, _mig(src, dest), mapper, incremental=True)
    assert r2.rows_written == 0
    assert r2.rows_skipped == 20
    # the destination was not even touched: same committed version
    assert m.destination.table.current_version() == v1
    assert m.destination.read_snapshot(spark).count() == 20


def test_changed_subset_writes_only_that_subset(spark, base):
    src, mapper, dest = base
    run_migration(spark, _mig(src, dest), mapper, incremental=True)
    changed_keys = [r.c_custkey for r in src.orderBy("c_custkey").limit(3).collect()]
    drifted = src.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey").isin(changed_keys), F.col("c_acctbal") + 1.0
        ).otherwise(F.col("c_acctbal")),
    )
    m2 = _mig(drifted, dest)
    r2 = run_migration(spark, m2, mapper, incremental=True)
    assert r2.rows_written == 3
    out = {r.c_custkey: r.c_acctbal for r in m2.destination.read_snapshot(spark).collect()}
    base_vals = {r.c_custkey: r.c_acctbal for r in src.collect()}
    for k, v in base_vals.items():
        assert out[k] == pytest.approx(v + (1.0 if k in changed_keys else 0.0))


def test_null_flip_between_columns_is_a_change(spark, tmp_path):
    """{a: null, b: 'x'} -> {a: 'x', b: null} must hash differently
    (the JSON canonicalization keeps explicit nulls)."""
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    dest = str(tmp_path / "dest")

    def mk(a, b):
        df = spark.createDataFrame([(1, a, b)], "c_custkey long, a string, b string")
        return Migration(
            name="inc",
            source=DataFrameSource(df),
            destination=ParquetDestination(dest, key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda d: d.select("__src__", "__dest_id", "a", "b"),
        )

    assert run_migration(spark, mk(None, "x"), mapper, incremental=True).rows_written == 1
    r = run_migration(spark, mk("x", None), mapper, incremental=True)
    assert r.rows_written == 1


def test_legacy_mapping_table_backfills_hashes(spark, base):
    """A mapping table written by a non-incremental run has no hashes:
    the first incremental run rewrites everything once, the second
    writes nothing."""
    src, mapper, dest = base
    run_migration(spark, _mig(src, dest), mapper)  # legacy, no hashes
    r1 = run_migration(spark, _mig(src, dest), mapper, incremental=True)
    assert r1.rows_written == 20  # backfill pass
    r2 = run_migration(spark, _mig(src, dest), mapper, incremental=True)
    assert r2.rows_written == 0


def test_incremental_orphans_still_detected(spark, base):
    src, mapper, dest = base
    run_migration(spark, _mig(src, dest), mapper, incremental=True)
    shrunk = src.orderBy("c_custkey").limit(15)
    r = run_migration(
        spark, _mig(shrunk, dest), mapper, orphan_policy="prune", incremental=True
    )
    assert r.rows_written == 0  # surviving rows unchanged
    assert r.orphan_count == 5
    assert _mig(src, dest).destination.read_snapshot(spark).count() == 15


def test_incremental_requires_mappings(spark, base):
    src, mapper, dest = base
    with pytest.raises(ValueError, match="incremental"):
        run_migration(
            spark, _mig(src, dest), mapper, incremental=True, record_mappings=False
        )


def test_passthrough_transform_stays_clean(spark, base):
    """A contract-legal pass-through transform must not leak the
    mapping table's stored row_hash into the entity (round-6 review:
    it polluted the destination schema AND made every re-run rewrite
    everything because the stale hash joined the payload)."""
    src, mapper, dest = base

    def mk():
        return Migration(
            name="inc",
            source=DataFrameSource(src),
            destination=ParquetDestination(dest, key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda df: df,  # pass-through: keeps EVERY column
        )

    r1 = run_migration(spark, mk(), mapper, incremental=True)
    assert r1.rows_written == 20
    r2 = run_migration(spark, mk(), mapper, incremental=True)
    assert r2.rows_written == 0
    assert r2.rows_unchanged == 20
    assert "row_hash" not in mk().destination.read_snapshot(spark).columns


def test_non_incremental_rewrite_invalidates_hash(spark, tmp_path):
    """Interleaving: incremental(A) -> NON-incremental(B) ->
    incremental(A again). The middle run rewrote the destination to B,
    so the final run MUST write A (round-6 review: a stale stored
    hash made it silently skip, leaving B in the destination)."""
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    dest = str(tmp_path / "dest")

    def mk(val):
        df = spark.createDataFrame([(1, val)], "c_custkey long, v string")
        return Migration(
            name="inc",
            source=DataFrameSource(df),
            destination=ParquetDestination(dest, key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda d: d.select("__src__", "__dest_id", "v"),
        )

    assert run_migration(spark, mk("A"), mapper, incremental=True).rows_written == 1
    run_migration(spark, mk("B"), mapper)  # non-incremental rewrite
    r3 = run_migration(spark, mk("A"), mapper, incremental=True)
    assert r3.rows_written == 1
    assert mk("A").destination.read_snapshot(spark).first().v == "A"


def test_rebuilt_src_struct_rewrites_once_then_skips(spark, base):
    """A transform that rebuilds ``__src__`` from the id columns drops
    the stored hash riding in it: that run treats every row as changed,
    writes it once and backfills the hashes; the next unchanged run
    with a struct-keeping transform writes nothing, and the hidden
    field never reaches the destination."""
    src, mapper, dest = base

    def rebuilt(df):
        return df.select(
            F.struct("c_custkey").alias("__src__"),
            "__dest_id", "c_custkey", "c_name", "c_acctbal",
        )

    assert run_migration(spark, _mig(src, dest), mapper, incremental=True).rows_written == 20
    r = run_migration(
        spark, dataclasses.replace(_mig(src, dest), transform=rebuilt), mapper,
        incremental=True,
    )
    assert (r.rows_written, r.rows_unchanged) == (20, 0)
    m = _mig(src, dest)
    hashes = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids)
    assert hashes.filter(F.col("row_hash").isNull()).count() == 0
    r = run_migration(spark, _mig(src, dest), mapper, incremental=True)
    assert (r.rows_written, r.rows_unchanged) == (0, 20)
    cols = m.destination.read_snapshot(spark).columns
    assert not {"__prev_hash", "row_hash", "__src__"} & set(cols), cols
