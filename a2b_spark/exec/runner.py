"""Pipeline runner — the ``a2b:migrate`` CLI analogue (§3.1).

Reference flow (MigrateCommand.php:108-247): validate options → select
migrations (explicit names or groups) → resolve the dependency DAG →
per migration: optionally swap the destination for the debug driver
(``--simulate``), execute, apply orphan policy, flush.

Spark-first differences:
- independent migrations (same DAG level) run CONCURRENTLY: Spark's
  scheduler accepts jobs from multiple driver threads, and the FAIR
  pool keeps one long migration from starving the rest. On a 1000-
  executor cluster this is how you keep the cluster busy while one
  migration waits on a skewed shuffle.
- ``--simulate`` swaps in ConsoleDestination (reference: reflection
  hack swapping to the debug driver, MigrateCommand.php:192-195) —
  here it's a dataclasses.replace, no reflection.
- per-row progress echo (ConsoleOutputFormatter) is an anti-pattern at
  scale; we report per-migration results through a callback and expose
  Spark job-group labels so the Spark UI carries the fine-grained
  progress.
"""

from __future__ import annotations

import dataclasses
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Optional, Sequence

from pyspark.sql import SparkSession

from a2b_spark.core.migration import Migration, MigrationRegistry
from a2b_spark.exec.executor import MigrationResult, run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.console import ConsoleDestination

ProgressFn = Callable[[str, str, Optional[MigrationResult]], None]


def _default_progress(stage: str, name: str, result: Optional[MigrationResult]) -> None:
    if result is not None:
        print(f"[a2b] {stage} {name}: {result}")
    else:
        print(f"[a2b] {stage} {name}")


def simulate_migration(m: Migration) -> Migration:
    """C13: same migration, console destination (nothing written)."""
    return dataclasses.replace(m, name=m.name, destination=ConsoleDestination())


def run_pipeline(
    spark: SparkSession,
    registry: MigrationRegistry,
    mapper: MappingStore,
    groups: tuple[str, ...] = ("default",),
    names: tuple[str, ...] = (),
    orphan_policy: str = "keep",
    simulate: bool = False,
    with_deps: bool = True,
    max_parallel: int = 4,
    progress: ProgressFn = _default_progress,
    incremental: bool = False,
) -> dict[str, MigrationResult]:
    """Select → resolve DAG → execute level-by-level, independent
    migrations within a level in parallel driver threads (each level is
    a barrier: level N+1 may reference level N's output).
    ``incremental`` passes through to :func:`run_migration` (a
    simulated run records no mappings, so it never runs incremental)."""
    selected = registry.select(groups=groups, names=names)
    for m in selected:
        registry.validate_extends(m)
    batches = registry.parallel_batches(registry.resolve_order(selected, with_deps=with_deps))

    results: dict[str, MigrationResult] = {}

    def run_one(m: Migration) -> MigrationResult:
        target = simulate_migration(m) if simulate else m
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", "a2b")
        # one job group per RUN: the status tracker keeps every group's
        # jobs, so a per-name group would sum all earlier runs
        group = f"a2b:{m.name}:{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"migration {m.name}", interruptOnCancel=False)
        progress("start", m.name, None)
        try:
            # simulate: nothing persists — neither destination rows (the
            # console swap) nor mapping rows; a simulate run must not
            # poison stub creation / reference lookups for real runs
            r = run_migration(
                spark,
                target,
                mapper,
                orphan_policy=orphan_policy,
                record_mappings=not simulate,
                incremental=incremental and not simulate,
            )
        finally:
            sc.setJobGroup(None, None)
        # C16: job/stage/task counts for this migration's job group from
        # the driver's status tracker (the Spark UI shows the live view
        # under the same label)
        from a2b_spark.exec.metrics import job_group_metrics

        r.spark_metrics = job_group_metrics(sc, group)
        progress("done", m.name, r)
        return r

    def run_chain(ms: list[Migration]) -> list[MigrationResult]:
        return [run_one(m) for m in ms]

    for level in batches:
        # Migrations sharing a mapping table (`extends`) OR a
        # destination must never run concurrently: both would
        # read-merge-write the same versioned table and one commit
        # would be rejected by its optimistic-concurrency check (or,
        # without it, silently lost). Union-find over the two sharing
        # relations chains them sequentially inside one worker;
        # fully-independent migrations still fan out.
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a: str, b: str) -> None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra

        def dest_key(m: Migration) -> str:
            d = m.destination
            return f"dest:{getattr(d, 'path', None) or id(d)}"

        for m in level:
            union(f"map:{m.mapping_key()}", dest_key(m))
        chains: dict[str, list[Migration]] = {}
        for m in level:
            chains.setdefault(find(f"map:{m.mapping_key()}"), []).append(m)
        groups = list(chains.values())
        if len(groups) == 1 or max_parallel <= 1:
            for ms in groups:
                for r in run_chain(ms):
                    results[r.migration] = r
        else:
            with ThreadPoolExecutor(max_workers=max_parallel) as pool:
                futs = [pool.submit(run_chain, ms) for ms in groups]
                for fut in futs:
                    for r in fut.result():
                        results[r.migration] = r
    return results


def main(argv: Optional[Sequence[str]] = None) -> int:
    """CLI: ``python -m a2b_spark.exec.runner --module mypipeline
    [--group g ...] [--name n ...] [--simulate] [--prune|--preserve]
    [--incremental]``.
    ``--module`` must expose ``REGISTRY`` (a MigrationRegistry) and
    ``MAPPING_DIR``; mirrors the reference's tagged-service discovery
    as plain Python imports."""
    import argparse
    import importlib

    from a2b_spark.session import get_spark

    p = argparse.ArgumentParser(prog="a2b-migrate")
    p.add_argument("--module", required=True)
    p.add_argument("--group", action="append", default=[])
    p.add_argument("--name", action="append", default=[])
    p.add_argument("--simulate", action="store_true")
    p.add_argument("--no-deps", action="store_true")
    ex = p.add_mutually_exclusive_group()
    ex.add_argument("--prune", action="store_true")
    ex.add_argument("--preserve", action="store_true")
    p.add_argument("--incremental", action="store_true")
    args = p.parse_args(argv)

    mod = importlib.import_module(args.module)
    spark = get_spark("a2b-migrate")
    policy = "prune" if args.prune else ("preserve" if args.preserve else "keep")
    results = run_pipeline(
        spark,
        mod.REGISTRY,
        MappingStore(spark, mod.MAPPING_DIR),
        groups=tuple(args.group) or ("default",),
        names=tuple(args.name),
        orphan_policy=policy,
        simulate=args.simulate,
        with_deps=not args.no_deps,
        incremental=args.incremental,
    )
    return 0 if results is not None else 1


if __name__ == "__main__":
    raise SystemExit(main())
