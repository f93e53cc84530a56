"""Model-based re-run contract: random source-version sequences run
through ``run_migration`` under every orphan policy, with and without
``incremental``, must leave the destination and the mapping table
exactly where a small pure-Python model of A2B's semantics puts them
(PAPER.md; DataMigrationExecutor.php:368-382: every source row is
written under its mapped id, and rows the source no longer has are
kept, pruned, preserved or reported) — also when one run crashes at
one of its commits and the runs after it see any source version.

An incremental run writes the rows whose content differs from what
the destination holds (rows it lacks included). Each run commits, in
order: the destination (when it writes or prunes), the mapping rows
of keys not mapped yet, and a preserve's NULL-source mapping rows."""

import os

from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.mapping.store import STATUS_MIGRATED, MappingStore
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
# (step that crashes, index of the commit it crashes at); a step or a
# commit past the end means no crash
_CRASH = st.tuples(st.integers(0, 3), st.integers(0, 2))

# the commit calls a run makes, by the name the model gives them
_COMMITS = [
    (ParquetDestination, "merge", "dest"),
    (ParquetDestination, "delete_keys", "dest"),
    (MappingStore, "merge", "mapping"),
    (MappingStore, "append_preserved", "preserve"),
]


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
        self.mapped: set = set()  # keys with a source-keyed mapping row
        self.preserved: set = set()  # keys whose dest id has a NULL-source mapping

    def run(
        self, version: dict, policy: str, incremental: bool, crash_at: int = -1
    ) -> tuple[int, int, list]:
        """Apply one run, or its commits before ``crash_at``; returns
        (rows_written, orphan_count, the names of its commits)."""
        if incremental:
            written = sum(1 for k, c in version.items() if k not in self.dest or self.dest[k] != c)
        else:
            written = len(version)
        orphans = set(self.dest) - set(version)
        prune = policy == "prune" and bool(orphans)
        commits = []
        if written or prune or not incremental:
            commits.append("dest")
        if set(version) - self.mapped:
            commits.append("mapping")
        if policy == "preserve" and orphans:
            commits.append("preserve")
        for name in commits[: crash_at if crash_at >= 0 else None]:
            if name == "dest":
                self.dest.update(version)
                if prune:
                    for k in orphans:
                        del self.dest[k]
            elif name == "mapping":
                self.mapped |= set(version)
            else:
                self.preserved |= orphans
        return written, len(orphans), commits


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
    assert set(keyed) == model.mapped
    for k, r in keyed.items():
        assert ids.setdefault(k, r.dest_id) == r.dest_id
    assert {r.status for r in mapping} <= {STATUS_MIGRATED}
    assert sorted(r.dest_id for r in mapping if r.source_k is None) == sorted(
        ids[k] for k in model.preserved
    )


class _Crash(RuntimeError):
    pass


def _run_crashing(spark, m, mapper, policy, incremental, crash_at):
    """``run_migration`` with its ``crash_at``-th commit call raising
    before it commits (-1: none); returns (result or None, the names of
    the commit calls made)."""
    calls = []
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in _COMMITS]

    def wrap(fn, name):
        def commit(*a, **k):
            calls.append(name)
            if len(calls) - 1 == crash_at:
                raise _Crash(name)
            return fn(*a, **k)

        return commit

    for (owner, attr, fn), (_, _, name) in zip(saved, _COMMITS):
        setattr(owner, attr, wrap(fn, name))
    try:
        return run_migration(
            spark, m, mapper, orphan_policy=policy, incremental=incremental
        ), calls
    except _Crash:
        return None, calls
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


@settings(
    max_examples=int(os.environ.get("A2B_RERUN_MODEL_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@seed(20261017)
# directed cases, always run: a pruned row returns unchanged under
# incremental; a NULL flip and a preserve across a non-incremental run;
# a run crashed after its destination commit, then rolled back
@example(
    pool=[{0: ("a", "b"), 1: (None, "x"), 2: ("a", "c")}, {1: ("x", None), 2: ("a", "c")}],
    steps=[(0, "prune", True), (1, "prune", True), (0, "prune", True)],
    crash=(9, 0),
)
@example(
    pool=[{0: (None, "x"), 1: ("a", "b")}, {0: ("x", None)}],
    steps=[(0, "keep", True), (1, "preserve", False), (0, "report", True), (1, "keep", True)],
    crash=(9, 0),
)
@example(
    pool=[{0: ("a", "b"), 1: ("a", "b")}, {0: ("a", "c"), 1: ("a", "b"), 2: ("x", None)}],
    steps=[(0, "keep", True), (1, "keep", True), (0, "prune", True)],
    crash=(1, 1),
)
@given(
    pool=st.lists(_VERSION, min_size=2, max_size=3),
    steps=st.lists(_STEP, min_size=2, max_size=4),
    crash=_CRASH,
)
def test_rerun_model(spark, tmp_path_factory, pool, steps, crash):
    """Each run's counts and commits, and the destination and mapping
    state after it, equal the model's."""
    root = str(tmp_path_factory.mktemp("rerun_model"))
    mapper = MappingStore(spark, f"{root}/maps")
    model, ids = Model(), {}
    for step, (i, policy, incremental) in enumerate(steps):
        version = pool[i % len(pool)]
        crash_at = crash[1] if step == crash[0] else -1
        r, calls = _run_crashing(
            spark, _mig(spark, version, root), mapper, policy, incremental, crash_at
        )
        written, orphans, commits = model.run(version, policy, incremental, crash_at)
        crashed = 0 <= crash_at < len(commits)
        assert calls == commits[: crash_at + 1 if crashed else None], (version, policy)
        assert (r is None) == crashed
        if r is not None:
            assert (r.rows_in, r.rows_written, r.orphan_count) == (
                len(version), written, orphans
            ), (version, policy, incremental)
        _check(spark, root, model, ids)
