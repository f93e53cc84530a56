"""The re-run contract under ``incremental=True`` + ``orphan_policy=
"prune"``: a re-run over drifted sources gives the destination and
mapping a clean run would give — including rows that were pruned, or
deleted out of band, and then come back with unchanged content, and
after a crash inside or between the commits of one run, whatever the
source does next."""

import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource
from a2b_spark.storage.table import VersionedParquetTable

DROPPED = 3  # rows version B drops (lowest keys)
UPDATED = 2  # rows version B changes (next keys)


@pytest.fixture()
def versions(spark, sf_dir):
    a = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(30).localCheckpoint()
    keys = sorted(r.c_custkey for r in a.select("c_custkey").collect())
    dropped, updated = keys[:DROPPED], keys[DROPPED:DROPPED + UPDATED]
    b = (
        a.filter(~F.col("c_custkey").isin(dropped))
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey").isin(updated), F.col("c_acctbal") + 1.0)
            .otherwise(F.col("c_acctbal")),
        )
        .localCheckpoint()
    )
    return {"A": a, "B": b}, dropped


def _mig(src, root):
    return Migration(
        name="contract",
        source=DataFrameSource(src),
        destination=ParquetDestination(f"{root}/dest", key_cols=("id",)),
        source_ids=(IdField("c_custkey", "int"),),
        destination_ids=(IdField("id", "int"),),
        transform=lambda df: df.select(
            "__src__", "__dest_id", "c_custkey", "c_name", "c_acctbal"
        ),
    )


def _run(spark, src, root):
    m = _mig(src, root)
    return run_migration(
        spark, m, MappingStore(spark, f"{root}/maps"),
        orphan_policy="prune", incremental=True,
    )


def _state(spark, root):
    """(destination rows, mapping rows without the timestamp)."""
    m = _mig(spark.createDataFrame([], "c_custkey long"), root)
    dest = sorted(
        (r.id, r.c_custkey, r.c_name, r.c_acctbal)
        for r in m.destination.read_snapshot(spark).collect()
    )
    mapping = MappingStore(spark, f"{root}/maps").load(
        m.mapping_key(), m.source_ids, m.destination_ids
    )
    maps = sorted(
        (r.source_c_custkey, r.dest_id, r.status) for r in mapping.collect()
    )
    return dest, maps


def test_pruned_rows_return_under_incremental_prune(spark, tmp_path, versions):
    """A -> B -> A: rows B pruned come back in the last run, under
    their first ids, and the state equals the first run's."""
    v, dropped = versions
    root = str(tmp_path / "t")
    _run(spark, v["A"], root)
    first = _state(spark, root)
    ids = {c: i for i, c, _, _ in first[0]}
    r_b = _run(spark, v["B"], root)
    assert r_b.orphan_count == DROPPED
    assert r_b.rows_written == UPDATED
    dest_b = {c for _, c, _, _ in _state(spark, root)[0]}
    assert dest_b.isdisjoint(dropped)
    r_a = _run(spark, v["A"], root)
    assert r_a.rows_written == DROPPED + UPDATED
    assert r_a.orphan_count == 0
    dest, maps = _state(spark, root)
    assert {c: i for i, c, _, _ in dest} == ids
    assert dest == first[0]
    assert maps == first[1]


def test_row_deleted_out_of_band_comes_back(spark, tmp_path, versions):
    """A destination row removed behind the migration's back is
    re-inserted under its old id by the next incremental run over the
    unchanged source: change is judged against the row the destination
    holds, and it holds none."""
    v, _ = versions
    root = str(tmp_path / "t")
    _run(spark, v["A"], root)
    first = _state(spark, root)
    gone = first[0][0][0]
    m = _mig(v["A"], root)
    m.destination.delete_keys(spark.createDataFrame([(gone,)], "id long"))
    assert gone not in {r[0] for r in _state(spark, root)[0]}
    r = _run(spark, v["A"], root)
    assert (r.rows_written, r.orphan_count) == (1, 0)
    assert _state(spark, root) == first


@pytest.mark.parametrize(
    "crash_at, first, then",
    [
        pytest.param("dest_commit", "A", "B", id="dest_commit"),
        pytest.param("mapping_merge", "B", "A", id="mapping_merge"),
    ],
)
def test_crash_between_commits_converges(
    spark, tmp_path, versions, monkeypatch, crash_at, first, then
):
    """A torn destination commit (staged, never claimed) or a crash
    after the run's only destination commit, before the mapping merge:
    the next run over the same source reaches the clean run's state,
    and so does the run after it. The torn run goes A -> B, so its one
    merge-on-read commit carries the prune's deletes with the updates;
    the mapping crash goes B -> A, so the run has keys to map."""
    v, _ = versions
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for root in (clean, crashed):
        # two files whose hashed-id bands overlap: no file isolates a
        # key, so the drift run merges on read in one commit
        _run(spark, v[first].repartition(2), root)
    _run(spark, v[then], clean)
    table = _mig(v[then], crashed).destination.table
    before = table.current_version()

    def boom(*_a, **_k):
        raise RuntimeError("injected crash")

    tombstones = []
    if crash_at == "mapping_merge":
        monkeypatch.setattr(MappingStore, "merge", boom)
    else:
        commit = VersionedParquetTable._commit_version

        def torn(self, *a, **k):
            tombstones.append(k["dv_new"].num_rows)
            monkeypatch.setattr(VersionedParquetTable, "_claim_version_dir", boom)
            commit(self, *a, **k)

        monkeypatch.setattr(VersionedParquetTable, "_commit_version", torn)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, v[then], crashed)
    monkeypatch.undo()
    # the torn commit tombstones the replaced and the pruned rows at once
    assert tombstones == ([UPDATED + DROPPED] if crash_at == "dest_commit" else [])
    # a torn commit never becomes visible; the mapping crash follows
    # the run's only destination commit
    assert (table.current_version() == before) == (crash_at == "dest_commit")
    _run(spark, v[then], crashed)
    assert _state(spark, crashed) == _state(spark, clean)
    for root in (clean, crashed):
        _run(spark, v[first], root)
    assert _state(spark, crashed) == _state(spark, clean)


def test_crash_after_destination_commit_then_rollback(spark, tmp_path, monkeypatch):
    """Ten rows X; a run that turns row 0 into Y crashes right after its
    destination commit; an incremental run over X must write row 0
    back: nothing beside the destination may claim it still holds X."""
    root = str(tmp_path / "t")
    x = spark.createDataFrame([(k, "x") for k in range(10)], "k long, v string")
    y = x.withColumn("v", F.when(F.col("k") == 0, "y").otherwise(F.col("v")))

    def mig(src):
        return Migration(
            name="rollback",
            source=DataFrameSource(src),
            destination=ParquetDestination(f"{root}/dest", key_cols=("id",)),
            source_ids=(IdField("k", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda df: df.select("__src__", "__dest_id", "k", "v"),
        )

    def run(src):
        return run_migration(
            spark, mig(src), MappingStore(spark, f"{root}/maps"), incremental=True
        )

    run(x)
    merge = ParquetDestination.merge

    def merge_then_crash(self, *a, **k):
        merge(self, *a, **k)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(ParquetDestination, "merge", merge_then_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(y)
    monkeypatch.undo()
    assert {r.k: r.v for r in mig(x).destination.read_snapshot(spark).collect()}[0] == "y"
    assert run(x).rows_written == 1
    dest = {r.k: r.v for r in mig(x).destination.read_snapshot(spark).collect()}
    assert dest == {k: "x" for k in range(10)}
