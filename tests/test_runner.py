"""Pipeline runner: DAG order, groups/explicit selection, parallel
levels, simulate mode (reference MigrateCommandTest territory)."""

import threading

import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration, MigrationRegistry
from a2b_spark.exec.references import ReferenceStore
from a2b_spark.exec.runner import run_pipeline, simulate_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource


@pytest.fixture()
def pipeline(spark, tmp_path, sf_dir):
    """region -> nation -> customer DAG with a cross-migration
    reference from customer to nation."""
    reg = MigrationRegistry()
    mapper = MappingStore(spark, str(tmp_path / "maps"))

    def simple(name, table, key, extra_group="default", depends=()):
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        return Migration(
            name=name,
            source=DataFrameSource(df),
            destination=ParquetDestination(str(tmp_path / f"{name}_dest"), key_cols=("id",)),
            source_ids=(IdField(key, "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda d: d.drop("__existing"),
            depends=depends,
            group=extra_group,
        )

    reg.register(simple("region", "region", "r_regionkey"))
    reg.register(simple("nation", "nation", "n_nationkey", depends=("region",)))
    reg.register(simple("supplier", "supplier", "s_suppkey", extra_group="aux"))

    cust_df = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def cust_transform(d):
        return d.select(
            "__src__", "__dest_id", "c_custkey", "c_nationkey", F.col("c_name").alias("name")
        )

    reg.register(
        Migration(
            name="customer",
            source=DataFrameSource(cust_df),
            destination=ParquetDestination(str(tmp_path / "customer_dest"), key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=cust_transform,
            depends=("nation",),
        )
    )
    return reg, mapper


def test_dag_order_and_results(spark, pipeline):
    reg, mapper = pipeline
    order = []
    results = run_pipeline(
        spark,
        reg,
        mapper,
        names=("customer",),
        progress=lambda stage, name, r: order.append(name) if stage == "start" else None,
    )
    # depends closure pulled in region+nation, in dependency order
    assert order == ["region", "nation", "customer"]
    assert set(results) == {"region", "nation", "customer"}
    assert results["customer"].rows_written > 0

    # referenced output is resolvable after the pipeline ran
    refs = ReferenceStore(spark, reg, mapper)
    tbl = refs.lookup_table("nation")
    assert tbl.count() == results["nation"].rows_written


def test_group_selection(spark, pipeline):
    reg, mapper = pipeline
    results = run_pipeline(spark, reg, mapper, groups=("aux",))
    assert set(results) == {"supplier"}


def test_parallel_levels_thread_fanout(spark, pipeline):
    reg, mapper = pipeline
    seen_threads = set()
    run_pipeline(
        spark,
        reg,
        mapper,
        groups=("default", "aux"),
        max_parallel=4,
        progress=lambda s, n, r: seen_threads.add(threading.get_ident()),
    )
    # at least one level ran on >1 driver thread (region+supplier are
    # independent); smoke-proof that concurrent submission works
    assert len(seen_threads) >= 2


def test_simulate_writes_nothing(spark, pipeline):
    reg, mapper = pipeline
    results = run_pipeline(spark, reg, mapper, names=("region",), simulate=True)
    assert results["region"].rows_written > 0
    assert reg.get("region").destination.read_snapshot(spark) is None
    sim = simulate_migration(reg.get("region"))
    assert sim.destination is not reg.get("region").destination


def test_run_pipeline_collects_spark_metrics(spark, tmp_path, sf_dir):
    """C16: each migration's result carries job/stage/task counts from
    its job group (status-tracker aggregation)."""
    from a2b_spark.core.migration import IdField, Migration, MigrationRegistry
    from a2b_spark.exec.runner import run_pipeline
    from a2b_spark.mapping.store import MappingStore
    from a2b_spark.sinks.parquet import ParquetDestination
    from a2b_spark.sources.base import DataFrameSource

    src = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(15)
    reg = MigrationRegistry()
    reg.register(
        Migration(
            name="metrics_mig",
            source=DataFrameSource(src),
            destination=ParquetDestination(str(tmp_path / "d"), key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda df: df.select("__src__", "__dest_id", "c_custkey"),
        )
    )
    results = run_pipeline(
        spark, reg, MappingStore(spark, str(tmp_path / "maps")), progress=lambda *a: None
    )
    r = results["metrics_mig"]
    assert r.rows_in == 15 and r.rows_written == 15
    m = r.spark_metrics
    assert m is not None and m["jobs"] >= 1 and m["tasks"] >= 1
    assert m["failed_tasks"] == 0


def test_cli_main_end_to_end(spark, tmp_path, sf_dir, monkeypatch):
    """The `python -m a2b_spark.exec.runner` entrypoint (reference
    MigrateCommand analogue): module discovery via --module, group
    selection, --prune policy, exit code 0, and rows actually landing
    in the destination."""
    import sys
    import textwrap

    from a2b_spark.exec.runner import main

    mod_dir = tmp_path / "climod"
    mod_dir.mkdir()
    (mod_dir / "cli_pipeline_mod.py").write_text(
        textwrap.dedent(
            f"""
            from a2b_spark.core.migration import IdField, Migration, MigrationRegistry
            from a2b_spark.sinks.parquet import ParquetDestination
            from a2b_spark.sources.base import DataFrameSource

            MAPPING_DIR = {str(tmp_path / "cli_maps")!r}
            DEST = {str(tmp_path / "cli_dest")!r}
            REGISTRY = MigrationRegistry()
            REGISTRY.register(Migration(
                name="region",
                source=DataFrameSource(
                    lambda spark: spark.read.parquet({f"{sf_dir}/region.parquet"!r})
                ),
                destination=ParquetDestination(DEST, key_cols=("id",)),
                source_ids=(IdField("r_regionkey", "int"),),
                destination_ids=(IdField("id", "int"),),
                transform=lambda d: d.drop("__existing"),
            ))
            """
        )
    )
    monkeypatch.syspath_prepend(str(mod_dir))
    rc = main(["--module", "cli_pipeline_mod", "--prune"])
    assert rc == 0
    dest = ParquetDestination(str(tmp_path / "cli_dest"), key_cols=("id",))
    n = dest.read_snapshot(spark).count()
    assert n == spark.read.parquet(f"{sf_dir}/region.parquet").count()


def test_maker_cli_generates_parseable_module(tmp_path):
    import ast

    from a2b_spark.maker import main as maker_main

    rc = maker_main(
        [
            "demo",
            "--source", str(tmp_path / "in.parquet"),
            "--destination", str(tmp_path / "out"),
            "--out", str(tmp_path),
            "--source-id", "c_custkey:int",
            "--dest-id", "id:string",
            "--depends", "regions",
        ]
    )
    assert rc == 0
    src = (tmp_path / "demo_migration.py").read_text()
    ast.parse(src)
    assert "IdField('id', 'string')" in src and "depends=('regions',)" in src


def test_same_mapping_key_migrations_serialize(spark, tmp_path, sf_dir):
    """`extends` siblings share one mapping table; the runner must not
    run them concurrently (their merges would collide on the versioned
    table's optimistic-concurrency check)."""
    import threading

    active = {"n": 0, "max": 0, "lock": threading.Lock()}

    def make(name, extends=None):
        df = spark.read.parquet(f"{sf_dir}/region.parquet")

        def tf(d):
            with active["lock"]:
                active["n"] += 1
                active["max"] = max(active["max"], active["n"])
            import time

            time.sleep(0.3)
            with active["lock"]:
                active["n"] -= 1
            return d.drop("__existing")

        return Migration(
            name=name,
            source=DataFrameSource(df),
            destination=ParquetDestination(str(tmp_path / f"{name}_d"), key_cols=("id",)),
            source_ids=(IdField("r_regionkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=tf,
            extends=extends,
        )

    reg = MigrationRegistry()
    parent = reg.register(make("parent"))
    reg.register(make("childa", extends="parent"))
    reg.register(make("childb", extends="parent"))
    mapper = MappingStore(spark, str(tmp_path / "maps2"))
    results = run_pipeline(spark, reg, mapper, max_parallel=4)
    assert len(results) == 3
    # all three share mapping_key 'parent' -> one chain -> never overlap
    assert active["max"] == 1, f"extends siblings overlapped: {active['max']}"


def test_simulate_leaves_mapping_store_untouched(spark, pipeline):
    """Simulate ('nothing written') must not persist mapping rows
    either — a simulate run used to mark every row STATUS_MIGRATED,
    poisoning later stub creation and reference resolution
    (round-5 review)."""
    reg, mapper = pipeline
    m = reg.get("region")
    run_pipeline(spark, reg, mapper, names=("region",), simulate=True)
    snap = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids)
    assert snap.count() == 0, "simulate persisted mapping rows"
    # the real run afterwards migrates normally
    results = run_pipeline(spark, reg, mapper, names=("region",))
    assert results["region"].rows_written > 0
    assert (
        mapper.load(m.mapping_key(), m.source_ids, m.destination_ids).count()
        == results["region"].rows_written
    )


def test_no_deps_is_honored_and_extends_orders(spark, tmp_path, sf_dir):
    """with_deps=False must NOT resurrect skipped dependencies
    (parallel_batches used to re-expand the closure), and an
    extends-child must be leveled AFTER its parent (round-5 review)."""
    from a2b_spark.core.migration import IdField, Migration, MigrationRegistry
    from a2b_spark.sinks.parquet import ParquetDestination
    from a2b_spark.sources.base import DataFrameSource

    reg = MigrationRegistry()
    df = spark.range(3).selectExpr("cast(id as int) as k", "cast(id as string) as v")

    def mk(name, depends=(), extends=None):
        return reg.register(
            Migration(
                name=name,
                source=DataFrameSource(df),
                destination=ParquetDestination(str(tmp_path / name), key_cols=("id",)),
                source_ids=(IdField("k", "int"),),
                destination_ids=(IdField("id", "int"),),
                transform=lambda d: d.select("__src__", "__dest_id", "k", "v"),
                depends=tuple(depends),
                extends=extends,
            )
        )

    dep = mk("dep")
    parent = mk("parent", depends=("dep",))
    child = mk("child", extends="parent")

    # no-deps: only the requested migration appears in the batches
    batches = reg.parallel_batches(reg.resolve_order([child], with_deps=False))
    assert [[m.name for m in b] for b in batches] == [["child"]]

    # with deps: child must land in a LATER level than parent, which
    # lands after dep
    order = reg.resolve_order([child])
    batches = reg.parallel_batches(order)
    lvl = {m.name: i for i, b in enumerate(batches) for m in b}
    assert lvl["dep"] < lvl["parent"] < lvl["child"], lvl


def test_maker_rejects_invalid_inputs(tmp_path):
    """The scaffolder must fail fast instead of writing a module that
    raises SyntaxError on import (round-5 review)."""
    import pytest as _p

    from a2b_spark.maker import make_migration

    with _p.raises(ValueError, match="must not be empty"):
        make_migration(str(tmp_path), "m1", "s", "d", destination_ids=())
    with _p.raises(ValueError, match="empty field name"):
        make_migration(str(tmp_path), "m2", "s", "d", source_ids=(("", "int"),))
    with _p.raises(ValueError, match="unknown type"):
        make_migration(str(tmp_path), "m3", "s", "d", source_ids=(("id", "uuid"),))
    with _p.raises(ValueError, match="identifier"):
        make_migration(str(tmp_path), "bad-name", "s", "d")


def _customer_registry(spark, tmp_path, sf_dir, n=15, src=None):
    if src is None:
        src = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(n).localCheckpoint()
    reg = MigrationRegistry()
    reg.register(
        Migration(
            name="rerun_mig",
            source=DataFrameSource(src),
            destination=ParquetDestination(str(tmp_path / "d"), key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda df: df.select("__src__", "__dest_id", "c_custkey", "c_name"),
        )
    )
    return reg, MappingStore(spark, str(tmp_path / "maps"))


def test_rerun_spark_metrics_are_per_run(spark, tmp_path, sf_dir):
    """Each run has its own job group: a re-run's job count covers only
    the jobs launched during that run, not the earlier runs' jobs."""
    reg, mapper = _customer_registry(spark, tmp_path, sf_dir)
    jsc = spark.sparkContext._jsc.sc()
    run_pipeline(spark, reg, mapper, progress=lambda *a: None)
    before = int(jsc.dagScheduler().nextJobId())
    r2 = run_pipeline(spark, reg, mapper, progress=lambda *a: None)["rerun_mig"]
    launched = int(jsc.dagScheduler().nextJobId()) - before
    assert 1 <= r2.spark_metrics["jobs"] <= launched


def test_run_pipeline_incremental_skips_unchanged(spark, tmp_path, sf_dir):
    """``incremental`` reaches run_migration through run_pipeline: an
    unchanged re-run writes nothing and leaves the destination version
    where it was."""
    reg, mapper = _customer_registry(spark, tmp_path, sf_dir)
    r1 = run_pipeline(spark, reg, mapper, incremental=True, progress=lambda *a: None)
    assert r1["rerun_mig"].rows_written == 15
    table = reg.get("rerun_mig").destination.table
    v1 = table.current_version()
    r2 = run_pipeline(spark, reg, mapper, incremental=True, progress=lambda *a: None)
    assert r2["rerun_mig"].rows_written == 0
    assert r2["rerun_mig"].rows_unchanged == 15
    assert table.current_version() == v1


# Spark jobs per run measured on the 15-row migration below (fresh
# load, then an incremental re-run with no drift); the budget allows
# 2 more, so an added action, or a shuffle brought back onto a
# never-run migration's empty mapping table, fails here
FRESH_RUN_JOBS = 4
UNCHANGED_RERUN_JOBS = 7
# an incremental prune re-run that drops one row and updates one, on a
# merge-on-read destination: the prune rides the destination merge's
# commit, and the updated row is already mapped, so a separate delete
# commit or a mapping merge fails here
PRUNE_RERUN_JOBS = 13
JOB_HEADROOM = 2


def test_job_budget_fresh_and_unchanged_rerun(spark, tmp_path, sf_dir):
    """A run's Spark jobs stay within the measured budget: one
    materialization of the entity, no join against an empty mapping
    table, no second mapping read for the incremental skip."""
    reg, mapper = _customer_registry(spark, tmp_path, sf_dir)
    runs = [
        run_pipeline(spark, reg, mapper, incremental=True, progress=lambda *a: None)[
            "rerun_mig"
        ]
        for _ in range(2)
    ]
    assert [r.rows_written for r in runs] == [15, 0]
    assert runs[0].spark_metrics["jobs"] <= FRESH_RUN_JOBS + JOB_HEADROOM
    assert runs[1].spark_metrics["jobs"] <= UNCHANGED_RERUN_JOBS + JOB_HEADROOM


def test_job_budget_prune_rerun(spark, tmp_path, sf_dir):
    """An incremental prune re-run commits its destination once and
    its mapping never: no separate delete commit, no mapping merge."""
    # two source partitions -> two destination files whose hashed-id
    # bands overlap, so the re-run merges merge-on-read
    a = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .limit(15)
        .repartition(2)
        .localCheckpoint()
    )
    keys = sorted(r.c_custkey for r in a.select("c_custkey").collect())
    b = (
        a.filter(F.col("c_custkey") != keys[0])
        .withColumn(
            "c_name",
            F.when(F.col("c_custkey") == keys[1], F.lit("renamed"))
            .otherwise(F.col("c_name")),
        )
        .localCheckpoint()
    )
    runs = []
    for src in (a, b):
        reg, mapper = _customer_registry(spark, tmp_path, sf_dir, src=src)
        runs.append(
            run_pipeline(
                spark, reg, mapper, orphan_policy="prune", incremental=True,
                progress=lambda *a: None,
            )["rerun_mig"]
        )
    assert (runs[1].rows_written, runs[1].orphan_count) == (1, 1)
    assert runs[1].spark_metrics["jobs"] <= PRUNE_RERUN_JOBS + JOB_HEADROOM
