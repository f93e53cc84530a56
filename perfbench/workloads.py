"""The two workloads. Each is a closed loop: one pass starts only after
the previous one returned.

* ``migrate`` — ``run_pipeline`` loads the four dimension migrations
  into empty tables, then ``run_migration(incremental=True,
  orphan_policy="prune")`` re-runs ``orders`` and ``lineitems``, their
  sources switching between versions A and B.
* ``query_mix`` — six registered read-only queries over the test tables,
  in an order fixed by the seed, each forced with a ``noop`` write.

``setup`` is the untimed warm-up; ``run_pass`` times one pass and then,
outside the timed region, reads the counters and checks the outputs.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Optional

from perfbench import checks, dag, probes
from perfbench.spans import Tracer

QUERY_MIX = (
    "q01_pricing_summary",
    "q05_top_customers_per_nation",
    "q71_correlated_scalar_subquery",
    "q37_asof_join",
    "q26_near_dup_minhash_lsh",
    "q30_knn_lsh",
)


@dataclass
class Ctx:
    spark: object
    inputs: object  # gen.Inputs
    work: str
    seed: int
    max_parallel: int
    counters: probes.SparkCounters


@dataclass
class PassOut:
    seconds: float
    attempted: int
    failed: int
    unexpected: list  # problems other than the known defect
    known: list  # problems matching the known defect
    metrics: dict  # per-pass figures: rows_per_s, write_amp, layer counts


def _quiet(*_):
    pass


def _timed(tracer: Optional[Tracer], index: int, fn, **attrs):
    if tracer is None:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0
    with tracer.pass_span(index, **attrs) as rec:
        out = fn()
    return out, rec["end"] - rec["start"]


def _spark_metrics(delta: dict) -> dict:
    return {f"spark.{k}": v for k, v in delta.items()}


def _migration_metrics(results, storage: dict, mapping_storage: dict) -> dict:
    rows_in = sum(r.rows_in for r in results)
    rows_written = sum(r.rows_written for r in results)
    out = {
        "exec.executor.rows_in": rows_in,
        "exec.executor.rows_written": rows_written,
        "exec.executor.orphans": sum(r.orphan_count for r in results),
        "exec.executor.write_ratio": rows_written / rows_in if rows_in else 0.0,
        "mapping.bytes_written": mapping_storage["bytes_written"],
    }
    out.update({f"storage.{k}": v for k, v in storage.items()})
    return out


def _tally(problems_by_op: dict) -> tuple[int, list, list]:
    failed, unexpected, known = 0, [], []
    for op, problems in problems_by_op.items():
        if problems:
            failed += 1
        for p in problems:
            (known if p.startswith(checks.KNOWN_DEFECT) else unexpected).append(f"{op}: {p}")
    return failed, unexpected, known


class Migrate:
    """One pass is a nightly re-run of the DAG: the four dimension
    migrations are reloaded through ``run_pipeline`` into empty tables
    (first commits, id minting, the runner's thread pool), then the two
    fact migrations re-run with ``incremental=True`` and
    ``orphan_policy="prune"`` against their persistent tables, their
    sources switching between versions A and B."""

    name = "migrate"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        inputs = ctx.inputs
        dirs = inputs.version_dirs
        self.facts_dest = os.path.join(ctx.work, "facts", "dest")
        self.facts_map = os.path.join(ctx.work, "facts", "map")
        self.registries = {
            v: dag.build(ctx.spark, dirs[v], self.facts_dest, self.facts_map) for v in "AB"
        }
        self.sources = {v: {m: checks.source_frame(dirs[v], m) for m in dag.TABLES} for v in "AB"}
        self.version = "A"
        self.first_ids: dict = {}
        self._last_dims: Optional[str] = None
        # bytes of the rows a pass writes, deletes or restores, each priced
        # at its table's source bytes per row: every dimension row (they
        # are reloaded) and the drifted fact rows
        dims_bytes = sum(inputs.source_bytes["A"][dag.TABLES[m][0]] for m in dag.DIMENSIONS)
        self.changed_bytes = {
            v: dims_bytes + sum(
                inputs.changed_rows[t] * inputs.source_bytes[v][t] / inputs.rows[v][t]
                for t in (dag.TABLES[m][0] for m in dag.FACTS)
            )
            for v in "AB"
        }

    def _dimensions(self, dirname: str):
        from a2b_spark.exec import runner

        root = os.path.join(self.ctx.work, "dims", dirname)
        registry, mapper = dag.build(
            self.ctx.spark, self.ctx.inputs.version_dirs["A"],
            os.path.join(root, "dest"), os.path.join(root, "map"),
        )

        def go():
            return list(runner.run_pipeline(
                self.ctx.spark, registry, mapper, names=dag.DIMENSIONS, orphan_policy="keep",
                max_parallel=self.ctx.max_parallel, progress=_quiet,
            ).values())

        return root, registry, mapper, go

    def _facts(self, version: str):
        registry, mapper = self.registries[version]
        order = registry.resolve_order(registry.select(names=dag.FACTS), with_deps=False)

        def go():
            from a2b_spark.exec import executor

            return [
                executor.run_migration(
                    self.ctx.spark, m, mapper, orphan_policy="prune", incremental=True
                )
                for m in order
            ]

        return go

    def setup(self) -> None:
        """Warm the dimension load once, meanwhile load the facts from
        version A with ``incremental=True`` (so every mapping row carries
        its content hash), then re-run them onto B. Every timed pass after
        it restores fact rows whose hashes are stored: the steady state.
        ``lineitems`` references only ``orders``, so the facts need no
        dimension tables of their own."""
        root, _, _, dims = self._dimensions("warmup")
        with ThreadPoolExecutor(1) as pool:
            warm = pool.submit(dims)
            self._facts("A")()
            warm.result()
        shutil.rmtree(root)
        self._facts("B")()
        self.version = "B"

    def run_pass(self, i: int, tracer: Optional[Tracer]) -> PassOut:
        ctx = self.ctx
        prev, now = self.version, ("B" if self.version == "A" else "A")
        root, dims_registry, dims_mapper, dims = self._dimensions(f"p{i}")
        facts = self._facts(now)
        facts_roots = probes.table_roots(self.facts_dest, self.facts_map)
        before = probes.snapshot(facts_roots)
        c0 = ctx.counters.totals()
        results, seconds = _timed(tracer, i, lambda: dims() + facts(), workload=self.name, version=now)
        self.version = now
        spark = ctx.counters.delta(c0, ctx.counters.totals())
        dims_map = os.path.join(root, "map")
        roots = facts_roots + probes.table_roots(os.path.join(root, "dest"), dims_map)
        storage = probes.storage_delta(before, roots)
        mstore = probes.storage_delta(before, probes.table_roots(self.facts_map, dims_map))

        problems: dict = {}
        for name in dag.DIMENSIONS:
            problems[name], ids = checks.check_cold(
                ctx.spark, dims_registry.get(name), dims_mapper,
                self.sources["A"][name], self.first_ids.get(name),
            )
            self.first_ids.setdefault(name, ids)
        registry, mapper = self.registries[now]
        orders = None
        for name in dag.FACTS:
            problems[name], dest = checks.check_drift(
                ctx.spark, registry.get(name), mapper,
                self.sources[now][name], self.sources[prev][name], orders,
            )
            orders = dest if name == "orders" else orders
        failed, unexpected, known = _tally(problems)
        if self._last_dims:
            shutil.rmtree(self._last_dims)
        self._last_dims = root

        metrics = {
            "rows_per_s": sum(r.rows_in for r in results) / seconds,
            "write_amp": storage["bytes_written"] / self.changed_bytes[now],
        }
        metrics.update(_migration_metrics(results, storage, mstore))
        metrics.update(_spark_metrics(spark))
        return PassOut(seconds, len(problems), failed, unexpected, known, metrics)


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx: Ctx):
        from a2b_spark.queries import ORACLES, QUERIES

        self.ctx = ctx
        self.sf_dir = ctx.inputs.base_dir
        # the seed fixes the order the queries run in, every pass
        order = random.Random(ctx.seed).sample(QUERY_MIX, len(QUERY_MIX))
        self.queries = {q: QUERIES[q] for q in order}
        self.oracles = {q: ORACLES[q] for q in QUERY_MIX}
        self.rows_read = 0  # rows of the tables the mix reads, per pass
        self.problems: dict = {}

    def setup(self) -> None:
        """Run every query once with its result collected and compared
        with its oracle; this pass is also the warm-up."""
        from tools.check_oracle import make_duckdb_con

        spark = self.ctx.spark
        con = make_duckdb_con(self.sf_dir)
        rows = self.ctx.inputs.rows["base"]
        for q, fn in self.queries.items():
            try:
                df = fn(spark, self.sf_dir)
                tables = {os.path.basename(p.rstrip("/")).split(".")[0] for p in df.inputFiles()}
                self.rows_read += sum(rows.get(t, 0) for t in tables)
                self.problems[q] = checks.check_query(q, df.toPandas(), df.schema, con, self.oracles[q])
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                self.problems[q] = [f"raised {type(exc).__name__}: {exc}"]
        con.close()

    def run_pass(self, i: int, tracer: Optional[Tracer]) -> PassOut:
        ctx = self.ctx
        spark = ctx.spark
        timings: dict = {}

        def call(name, fn, **attrs):
            if tracer is None:
                return fn()
            with tracer.span(name, **attrs):
                return fn()

        def go():
            for q, fn in self.queries.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = call("queries.build", lambda: fn(spark, self.sf_dir), query=q)
                t1 = time.perf_counter()
                call("queries.exec", df.write.format("noop").mode("overwrite").save, query=q)
                timings[q] = (t1 - t0, time.perf_counter() - t1)

        c0 = ctx.counters.totals()
        _, seconds = _timed(tracer, i, go, workload=self.name)
        spark_delta = ctx.counters.delta(c0, ctx.counters.totals())
        metrics = {
            "rows_per_s": self.rows_read / seconds,
            "write_amp": spark_delta["shuffle_write_bytes"] / max(1, spark_delta["input_bytes"]),
            "queries.build_s": sum(b for b, _ in timings.values()),
            "queries.exec_s": sum(e for _, e in timings.values()),
        }
        for q, (b, e) in timings.items():
            metrics[f"queries.{q.split('_', 1)[0]}_s"] = b + e
        metrics.update(_spark_metrics(spark_delta))
        # the oracle comparisons made in setup are reported with pass 0
        checked = self.problems if i == 0 else {}
        failed, unexpected, known = _tally(checked)
        return PassOut(seconds, len(self.queries) + len(checked), failed, unexpected, known, metrics)


WORKLOADS = {w.name: w for w in (Migrate, QueryMix)}
