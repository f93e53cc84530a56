"""Incremental (skip-unchanged) migration: re-runs cost O(changed).

The scale contract under test: after a full first run, a re-run with
no source drift writes NOTHING (destination version does not advance),
and a re-run with k changed rows merges exactly those k — while orphan
detection still sees the full entity set. Change is judged against the
row the destination holds; the mapping table is written only for keys
that are new, stubs, or re-pointed.
"""

import dataclasses
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.exec.references import ensure_stubs
from a2b_spark.mapping.store import MappingStore, STATUS_MIGRATED
from a2b_spark.sinks.csv import CsvDestination
from a2b_spark.sinks.jsonl import JsonlDestination
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sinks.yaml_dir import YamlDirDestination
from a2b_spark.sources.base import DataFrameSource

HIDDEN = {"__snapshot", "__mapped", "__changed", "__unmapped", "__src__", "row_hash"}


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


def test_microsecond_timestamp_change_is_a_change(spark, tmp_path):
    """A timestamp (with or without time zone) that moves by one
    microsecond is a change: the canonical JSON keeps microseconds."""
    import datetime as dt

    mapper = MappingStore(spark, str(tmp_path / "maps"))
    dest = str(tmp_path / "dest")

    def mk(t, n):
        at = [dt.datetime(2020, 1, 1, 0, 0, 0, us) for us in (t, n)]
        df = spark.createDataFrame([(1, *at)], "c_custkey long, t timestamp, n timestamp_ntz")
        return Migration(
            name="inc",
            source=DataFrameSource(df),
            destination=ParquetDestination(dest, key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda d: d.select("__src__", "__dest_id", "t", "n"),
        )

    written = [
        run_migration(spark, mk(t, n), mapper, incremental=True).rows_written
        for t, n in [(1, 1), (2, 1), (2, 2), (2, 2)]
    ]
    assert written == [1, 1, 1, 0]
    assert mk(2, 2).destination.read_snapshot(spark).first().n.microsecond == 2


def _mapping(spark, m, mapper):
    """key -> (dest id, status), after checking the ids agree with the
    destination's."""
    rows = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids).collect()
    ids = {r.c_custkey: r.id for r in m.destination.read_snapshot(spark).collect()}
    assert {r.source_c_custkey: r.dest_id for r in rows} == ids
    return {r.source_c_custkey: (r.dest_id, r.status) for r in rows}


def test_legacy_mapping_table_with_row_hash_loads(spark, base):
    """A mapping table that still carries the ``row_hash`` column of the
    earlier stored-hash change test (here: after a non-incremental run)
    loads without it; the incremental run writes only the key it has
    not seen, and the next run writes nothing."""
    src, mapper, dest = base
    m = _mig(src, dest)
    run_migration(spark, _mig(src.orderBy("c_custkey").limit(19), dest), mapper)
    table = mapper.table(m.mapping_key(), m.source_ids, m.destination_ids)
    table.overwrite(table.read(spark).withColumn("row_hash", F.lit(7).cast("long")))
    assert "row_hash" not in mapper.load(m.mapping_key(), m.source_ids, m.destination_ids).columns
    r1 = run_migration(spark, m, mapper, incremental=True)
    assert (r1.rows_written, r1.rows_unchanged) == (1, 19)
    maps = _mapping(spark, m, mapper)
    assert len(maps) == 20 and {s for _, s in maps.values()} == {STATUS_MIGRATED}
    v = table.current_version()
    r2 = run_migration(spark, _mig(src, dest), mapper, incremental=True)
    assert r2.rows_written == 0
    assert table.current_version() == v
    assert not HIDDEN & set(m.destination.read_snapshot(spark).columns)


def test_update_only_rerun_makes_no_mapping_commit(spark, base):
    """Rows that change but are already mapped rewrite the destination
    only: the mapping table's version does not move."""
    src, mapper, dest = base
    m = _mig(src, dest)
    run_migration(spark, m, mapper, incremental=True)
    table = mapper.table(m.mapping_key(), m.source_ids, m.destination_ids)
    v, maps = table.current_version(), _mapping(spark, m, mapper)
    drifted = src.withColumn("c_name", F.concat("c_name", F.lit("!")))
    r = run_migration(spark, _mig(drifted, dest), mapper, incremental=True)
    assert r.rows_written == 20
    assert table.current_version() == v
    assert _mapping(spark, m, mapper) == maps


def test_stub_promoted_to_migrated(spark, base):
    """A key first mapped as a stub is promoted to STATUS_MIGRATED by
    the incremental run that migrates it, under the stub's id; the next
    run writes nothing and makes no mapping commit."""
    src, mapper, dest = base
    m = _mig(src, dest)
    stubbed = src.orderBy("c_custkey").limit(3).select("c_custkey")
    assert ensure_stubs(spark, m, mapper, stubbed) == 3
    stubs = {
        r.source_c_custkey: r.dest_id
        for r in mapper.load(m.mapping_key(), m.source_ids, m.destination_ids).collect()
    }
    r = run_migration(spark, m, mapper, incremental=True)
    assert r.rows_written == 20
    maps = _mapping(spark, m, mapper)
    assert {s for _, s in maps.values()} == {STATUS_MIGRATED}
    assert {k: maps[k][0] for k in stubs} == stubs
    table = mapper.table(m.mapping_key(), m.source_ids, m.destination_ids)
    v = table.current_version()
    assert run_migration(spark, _mig(src, dest), mapper, incremental=True).rows_written == 0
    assert table.current_version() == v


def test_prune_only_rerun_commits_no_data_file(spark, base):
    """An incremental prune re-run with orphans and no changed rows is
    one destination commit that links the base files and writes no
    (empty) data file; the mapping table does not move."""
    src, mapper, dest = base
    m = _mig(src.repartition(2), dest)
    run_migration(spark, m, mapper, incremental=True)
    table = mapper.table(m.mapping_key(), m.source_ids, m.destination_ids)
    dv, mv = m.destination.table.current_version(), table.current_version()
    r = run_migration(
        spark, _mig(src.orderBy("c_custkey").limit(19), dest), mapper,
        orphan_policy="prune", incremental=True,
    )
    assert (r.rows_written, r.orphan_count) == (0, 1)
    assert table.current_version() == mv
    new = m.destination.table.current_version()
    assert new != dv
    _assert_only_linked_files(os.path.join(dest, new))
    assert m.destination.read_snapshot(spark).count() == 19


def test_empty_full_rerun_commits_no_data_file(spark, base):
    """A non-incremental re-run whose transform filters every row merges
    an empty batch: the commit links the base files and stages no
    (empty) data file."""
    src, mapper, dest = base
    m = _mig(src.repartition(2), dest)
    run_migration(spark, m, mapper)
    dv = m.destination.table.current_version()
    empty = dataclasses.replace(
        m, transform=lambda df: m.transform(df).filter(F.col("c_custkey") < 0)
    )
    assert run_migration(spark, empty, mapper).rows_written == 0
    new = m.destination.table.current_version()
    assert new != dv
    _assert_only_linked_files(os.path.join(dest, new))
    assert m.destination.read_snapshot(spark).count() == 20


def _assert_only_linked_files(vdir):
    files = [
        os.path.join(root, f)
        for root, _, names in os.walk(vdir)
        for f in names
        if f.endswith(".parquet") and "_dv" not in root
    ]
    assert files
    assert all(pq.ParquetFile(f).metadata.num_rows > 0 for f in files)
    assert all(os.stat(f).st_nlink > 1 for f in files)  # linked, none new


def test_yaml_dir_unchanged_rerun_writes_nothing(spark, tmp_path, sf_dir):
    """A YAML-directory destination reads back its own types: an
    incremental re-run over unchanged input writes nothing."""
    nations = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dest = YamlDirDestination(str(tmp_path / "yaml"), (IdField("id", "string"),))
    mapper = MappingStore(spark, str(tmp_path / "maps"))

    def mk():
        return Migration(
            name="to_yaml",
            source=DataFrameSource(nations),
            destination=dest,
            source_ids=(IdField("n_nationkey", "int"),),
            destination_ids=(IdField("id", "string"),),
            transform=lambda d: d.select(
                "__src__", "__dest_id", "n_nationkey", "n_regionkey", "n_name"
            ),
        )

    n = nations.count()
    assert run_migration(spark, mk(), mapper, incremental=True).rows_written == n
    r = run_migration(spark, mk(), mapper, incremental=True)
    assert (r.rows_written, r.rows_unchanged) == (0, n)


@pytest.mark.parametrize("sink", [CsvDestination, JsonlDestination], ids=["csv", "jsonl"])
def test_text_sink_unchanged_rerun_keeps_microseconds(spark, tmp_path, sink):
    """CSV and JSONL tables write timestamps (with and without time
    zone) to the microsecond, so they read back what was written: an
    incremental re-run over unchanged input writes nothing."""
    import datetime as dt

    at = dt.datetime(2020, 1, 1, 0, 0, 0, 123456)
    df = spark.createDataFrame(
        [(k, at, at, 0.1 * k) for k in range(5)],
        "c_custkey long, t timestamp, n timestamp_ntz, x double",
    )
    mapper = MappingStore(spark, str(tmp_path / "maps"))
    m = Migration(
        name="inc",
        source=DataFrameSource(df),
        destination=sink(str(tmp_path / "dest"), key_cols=("id",)),
        source_ids=(IdField("c_custkey", "int"),),
        destination_ids=(IdField("id", "int"),),
        transform=lambda d: d.select("__src__", "__dest_id", "t", "n", "x"),
    )
    assert run_migration(spark, m, mapper, incremental=True).rows_written == 5
    row = m.destination.read_snapshot(spark).first()
    assert (row.t.microsecond, row.n) == (123456, at)
    r = run_migration(spark, m, mapper, incremental=True)
    assert (r.rows_written, r.rows_unchanged) == (0, 5)


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
    """A contract-legal pass-through transform must not leak mapping
    columns, hidden ``__src__`` fields or the executor's flags into the
    entity: they would pollute the destination schema AND make every
    re-run rewrite everything by joining the payload."""
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
    cols = mk().destination.read_snapshot(spark).columns
    assert not (HIDDEN | {"status", "updated"}) & set(cols), cols


def test_non_incremental_rewrite_invalidates_hash(spark, tmp_path):
    """Interleaving: incremental(A) -> NON-incremental(B) ->
    incremental(A again). The middle run rewrote the destination to B,
    so the final run MUST write A (a stored hash of A once made it
    silently skip, leaving B in the destination)."""
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
    the hidden fields riding in it: that run treats every row as
    changed and unmapped, writes it once and leaves the mapping as it
    was; the next unchanged run with a struct-keeping transform writes
    nothing, and no hidden field reaches the destination."""
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
    maps = _mapping(spark, m, mapper)
    assert len(maps) == 20 and {s for _, s in maps.values()} == {STATUS_MIGRATED}
    r = run_migration(spark, _mig(src, dest), mapper, incremental=True)
    assert (r.rows_written, r.rows_unchanged) == (0, 20)
    assert _mapping(spark, m, mapper) == maps
    cols = m.destination.read_snapshot(spark).columns
    assert not HIDDEN & set(cols), cols
