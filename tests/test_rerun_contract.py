"""The re-run contract under ``incremental=True`` + ``orphan_policy=
"prune"``: a re-run over drifted sources gives the destination and
mapping a clean run would give — including rows that were pruned and
then come back with unchanged content, and after a crash between two
commits of one run."""

import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource

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
        (r.source_c_custkey, r.dest_id, r.row_hash, r.status)
        for r in mapping.collect()
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


@pytest.mark.parametrize("crash_at", ["mapping_merge", "orphan_delete"])
def test_crash_between_commits_converges(
    spark, tmp_path, versions, monkeypatch, crash_at
):
    """A crash after the destination commit (before the mapping merge)
    or after the mapping commit (before the orphan delete): the next
    run over the same source reaches the clean run's state, and so
    does the run after it."""
    v, _ = versions
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for root in (clean, crashed):
        _run(spark, v["A"], root)
    _run(spark, v["B"], clean)

    def boom(*_a, **_k):
        raise RuntimeError("injected crash")

    if crash_at == "mapping_merge":
        monkeypatch.setattr(MappingStore, "merge", boom)
    else:
        monkeypatch.setattr(ParquetDestination, "delete_keys", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, v["B"], crashed)
    monkeypatch.undo()
    _run(spark, v["B"], crashed)
    assert _state(spark, crashed) == _state(spark, clean)
    for root in (clean, crashed):
        _run(spark, v["A"], root)
    assert _state(spark, crashed) == _state(spark, clean)
