"""Model-based re-run contract: random source-version sequences run
through ``run_migration`` under every orphan policy, with and without
``incremental``, must leave the destination and the mapping table
exactly where a small pure-Python model of A2B's semantics puts them
(PAPER.md; DataMigrationExecutor.php:368-382: every source row is
written under its mapped id, and rows the source no longer has are
kept, pruned, preserved or reported).

The model also fixes the stored content hash of each mapping row: the
hash of the row's last written content after an incremental run, NULL
after a non-incremental rewrite. A prune keeps the hash; a stored hash
counts only while the destination holds the row, so an incremental run
writes a row the destination lacks even when its hash matches."""

import os

from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import ROW_HASH, _with_row_hash, run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource

SRC_SCHEMA = "k long, v string, w string"
# (None, "x") -> ("x", None) is the NULL flip between columns
_CONTENT = st.sampled_from([("a", "b"), ("a", "c"), (None, "x"), ("x", None), (None, None)])
_VERSION = st.dictionaries(st.integers(0, 5), _CONTENT, max_size=6)
# steps pick from a small pool of versions, so rows drop and come back
# with the same content (the A -> B -> A shape of a nightly re-run)
_STEP = st.tuples(
    st.integers(0, 2),  # pool index
    st.sampled_from(["keep", "prune", "preserve", "report"]),
    st.booleans(),  # incremental
)


def _mig(spark, version: dict, root: str) -> Migration:
    rows = [(k, v, w) for k, (v, w) in sorted(version.items())]
    return Migration(
        name="model",
        source=DataFrameSource(spark.createDataFrame(rows, SRC_SCHEMA)),
        destination=ParquetDestination(f"{root}/dest", key_cols=("id",)),
        source_ids=(IdField("k", "int"),),
        destination_ids=(IdField("id", "int"),),
        transform=lambda df: df.select("__src__", "__dest_id", "k", "v", "w"),
    )


class Model:
    """A2B's re-run semantics over source key -> content dicts."""

    def __init__(self):
        self.dest: dict = {}  # key -> content in the destination
        self.hashed: dict = {}  # key -> content its stored hash covers, or None
        self.preserved: set = set()  # keys whose dest id has a NULL-source mapping

    def run(self, version: dict, policy: str, incremental: bool) -> tuple[int, int]:
        """Apply one run; returns (rows_written, orphan_count)."""
        if incremental:
            written = sum(
                1
                for k, c in version.items()
                if k not in self.dest or self.hashed.get(k) is None or self.hashed[k] != c
            )
        else:
            written = len(version)
        orphans = set(self.dest) - set(version)
        self.dest.update(version)
        for k, c in version.items():
            self.hashed[k] = c if incremental else None
        if policy == "prune":
            for k in orphans:
                del self.dest[k]
        elif policy == "preserve":
            self.preserved |= orphans
        return written, len(orphans)


def _expected_hashes(spark, model: Model, ids: dict) -> dict:
    """key -> the hash an incremental run stores for the model's
    content (computed by the executor's own hash over the entity's
    destination columns)."""
    rows = [(ids[k], k, *c) for k, c in model.hashed.items() if c is not None]
    if not rows:
        return {}
    df = spark.createDataFrame(rows, "id long, k long, v string, w string")
    return {r.k: r[ROW_HASH] for r in _with_row_hash(df).collect()}


def _check(spark, root: str, model: Model, ids: dict) -> None:
    m = _mig(spark, {}, root)
    snap = m.destination.read_snapshot(spark)
    dest_rows = snap.collect() if snap is not None else []
    for r in dest_rows:
        # dest ids are stable for a key across drops and returns
        assert ids.setdefault(r.k, r.id) == r.id, (r.k, r.id, ids[r.k])
    assert {r.k: (r.v, r.w) for r in dest_rows} == model.dest
    assert len(dest_rows) == len(model.dest)

    mapping = MappingStore(spark, f"{root}/maps").load(
        m.mapping_key(), m.source_ids, m.destination_ids
    ).collect()
    keyed = {r.source_k: r for r in mapping if r.source_k is not None}
    assert len(keyed) == sum(1 for r in mapping if r.source_k is not None)
    assert set(keyed) == set(model.hashed)
    for k, r in keyed.items():
        assert ids.setdefault(k, r.dest_id) == r.dest_id
    expected = _expected_hashes(spark, model, ids)
    assert {k: r.row_hash for k, r in keyed.items()} == {
        k: expected.get(k) for k in model.hashed
    }
    assert sorted(r.dest_id for r in mapping if r.source_k is None) == sorted(
        ids[k] for k in model.preserved
    )


@settings(
    max_examples=int(os.environ.get("A2B_RERUN_MODEL_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@seed(20261017)
# directed cases, always run: a pruned row returns unchanged under
# incremental; a NULL flip and a preserve across a non-incremental run
@example(
    pool=[{0: ("a", "b"), 1: (None, "x"), 2: ("a", "c")}, {1: ("x", None), 2: ("a", "c")}],
    steps=[(0, "prune", True), (1, "prune", True), (0, "prune", True)],
)
@example(
    pool=[{0: (None, "x"), 1: ("a", "b")}, {0: ("x", None)}],
    steps=[(0, "keep", True), (1, "preserve", False), (0, "report", True), (1, "keep", True)],
)
@given(
    pool=st.lists(_VERSION, min_size=2, max_size=3),
    steps=st.lists(_STEP, min_size=2, max_size=4),
)
def test_rerun_model(spark, tmp_path_factory, pool, steps):
    """Each run's counts, and the destination and mapping state after
    it, equal the model's."""
    root = str(tmp_path_factory.mktemp("rerun_model"))
    mapper = MappingStore(spark, f"{root}/maps")
    model, ids = Model(), {}
    for i, policy, incremental in steps:
        version = pool[i % len(pool)]
        r = run_migration(
            spark, _mig(spark, version, root), mapper,
            orphan_policy=policy, incremental=incremental,
        )
        written, orphans = model.run(version, policy, incremental)
        assert (r.rows_in, r.rows_written, r.orphan_count) == (
            len(version), written, orphans
        ), (version, policy, incremental)
        _check(spark, root, model, ids)
