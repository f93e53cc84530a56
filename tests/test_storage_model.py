"""Randomized interleaving model for the lakehouse storage surface —
the round-10 tranche (deletion vectors flat+partitioned × CDF
pre-images × IVM × merge/append/delete pruning × restore × vacuum ×
compact) had pairwise tests but no whole-surface model. This drives
RANDOM OPERATION SEQUENCES against a CDF(preimages)+optionally-DV
table and asserts, at every step:

- ``read()`` ≡ a pure-Python dict model of the table,
- atomicity: an op that RAISES (the documented loud contracts — e.g.
  append of an existing key) leaves the committed
  version and content untouched,
- IVM: ``refresh_rollup`` after every commit keeps the rollup equal
  to a full group-by recompute of the model,

and at sequence end:

- batch ``table_changes`` over the retained window ≡ the keyed diff
  of the model's per-version snapshots (restore must show up as the
  inverse diff; compact must contribute nothing).

Example counts are deliberately small by default (each step is
several real Spark jobs); ``A2B_STORAGE_MODEL_EXAMPLES`` cranks the
count for the periodic deep run (200+ sequences), whose result is
recorded in ROUNDLOG.md.
"""

import os

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from a2b_spark.storage.ivm import refresh_rollup
from a2b_spark.storage.table import VersionedParquetTable

_EXAMPLES = int(os.environ.get("A2B_STORAGE_MODEL_EXAMPLES", "12"))

_SET = settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
        HealthCheck.filter_too_much,
    ],
)

_KEYS = st.integers(0, 6)
_GROUPS = st.sampled_from(["g0", "g1"])
_VALS = st.integers(0, 50)

_row = st.tuples(_KEYS, _GROUPS, _VALS)
_rows = st.lists(_row, min_size=1, max_size=4, unique_by=lambda r: r[0])

_op = st.one_of(
    st.tuples(st.just("merge"), _rows),
    st.tuples(st.just("append"), _rows, st.booleans()),  # dedupe?
    st.tuples(st.just("delete"), st.lists(_KEYS, min_size=1, max_size=3,
                                          unique=True)),
    st.tuples(st.just("restore"), st.integers(0, 9)),  # index into retained
    st.tuples(st.just("compact")),
    st.tuples(st.just("zorder")),  # compact(cluster_by=keys): layout-only
    st.tuples(st.just("purge")),   # physically drop DV tombstones
    st.tuples(st.just("vacuum"), st.integers(2, 5)),  # keep
    st.tuples(st.just("widen")),   # w int -> bigint: metadata-only commit
    st.tuples(st.just("addcon"), st.booleans()),  # True = satisfiable
    st.tuples(st.just("dropcon")),
)

_ops = st.lists(_op, min_size=2, max_size=7)


def _schema(src, spark) -> str:
    """Batch schema matching the table's CURRENT w type — widen (and
    restore across a widen, which rolls the sidecar schema back)
    changes what a valid batch looks like mid-sequence."""
    wt = dict(src.read(spark).dtypes)["w"] if src.exists() else "int"
    return f"k long, g string, x double, w {wt}"


def _model_rollup(model: dict) -> dict:
    """group -> (count, sum_x) from the python model."""
    out = {}
    for k, (g, x, _w) in model.items():
        n, s = out.get(g, (0, 0))
        out[g] = (n + 1, s + x)
    return out


def _keyed_diff(before: dict, after: dict) -> set:
    """(k, change) keyed diff of two model snapshots."""
    d = set()
    for k in after:
        if k not in before:
            d.add((k, "insert"))
        elif before[k] != after[k]:
            d.add((k, "update"))
    for k in before:
        if k not in after:
            d.add((k, "delete"))
    return d


def _read_model(table, spark) -> dict:
    df = table.read(spark)
    if df is None:
        return {}
    return {r.k: (r.g, int(r.x), int(r.w)) for r in df.collect()}


def _run_sequence(spark, tmp_path, dv, partitioned, ops, fmt="parquet"):
    src = VersionedParquetTable(
        str(tmp_path / "src"),
        key_cols=("k",),
        partition_by=("g",) if partitioned else None,
        retention=40,  # explicit vacuum ops only — no auto-trim surprises
        deletion_vectors=dv,
        fmt=fmt,
    )
    src.overwrite(
        spark.createDataFrame(
            [(100, "g0", 1.0, 3), (101, "g1", 2.0, 5)],
            "k long, g string, x double, w int",
        )
    )
    src.enable_cdf(preimages=True)
    roll = VersionedParquetTable(
        str(tmp_path / "roll"), key_cols=("g",), retention=40
    )
    model = {100: ("g0", 1, 3), 101: ("g1", 2, 5)}
    # record every version committed so far (enable_cdf may itself
    # commit): content is identical pre/post enablement
    snapshots = {
        VersionedParquetTable._parse_version_number(v): dict(model)
        for v in src.versions()
    }

    def record():
        snapshots[src.current_version_number()] = dict(model)

    def check_read():
        got = _read_model(src, spark)
        assert got == model, (got, model)

    def check_rollup():
        refresh_rollup(roll, src, spark, ["g"], ["x"])
        got = {
            r.g: (int(r.n_rows), int(r.x)) for r in roll.read(spark).collect()
        }
        assert got == _model_rollup(model), (got, _model_rollup(model))

    for op in ops:
        kind = op[0]
        before_v = src.current_version_number()
        try:
            if kind == "merge":
                rows = [(k, g, float(x), x * 2 + 1) for k, g, x in op[1]]
                src.merge(spark.createDataFrame(rows, _schema(src, spark)))
                for k, g, x in op[1]:
                    model[k] = (g, x, x * 2 + 1)
            elif kind == "append":
                rows = [(k, g, float(x), x * 2 + 1) for k, g, x in op[1]]
                dedupe = op[2]
                src.append(
                    spark.createDataFrame(rows, _schema(src, spark)),
                    dedupe_keys=("k",) if dedupe else None,
                )
                for k, g, x in op[1]:
                    if k not in model:
                        model[k] = (g, x, x * 2 + 1)
                    elif not dedupe:
                        raise AssertionError(
                            "append of existing key without dedupe_keys "
                            "must have raised"
                        )
            elif kind == "delete":
                src.delete_keys(
                    spark.createDataFrame([(k,) for k in op[1]], "k long")
                )
                for k in op[1]:
                    model.pop(k, None)
            elif kind == "restore":
                # restore rolls sidecar metadata back with the data
                # (the Delta contract), so restoring past the CDF
                # enablement boundary would turn CDF off for future
                # commits and refresh_rollup would (correctly,
                # loudly) refuse — a CDC-consuming pipeline restores
                # within the feature window, and so does the model
                retained = [
                    v for v in src.versions() if src.cdf_enabled(v)
                ]
                if not retained:
                    continue
                target = retained[op[1] % len(retained)]
                src.restore(target, spark)
                tn = VersionedParquetTable._parse_version_number(target)
                if tn in snapshots:
                    model = dict(snapshots[tn])
                else:  # pragma: no cover — retention keeps snapshots
                    model = _read_model(src, spark)
            elif kind == "compact":
                src.compact(spark, min_files=2)
                # layout-only: model unchanged
            elif kind == "zorder":
                src.compact(spark, min_files=1, cluster_by=["k"])
                # clustered rewrite: layout-only, model unchanged
            elif kind == "purge":
                src.purge_deleted(spark)
                # tombstoned rows leave the files; logical content
                # (and therefore the model) is unchanged
            elif kind == "vacuum":
                src.vacuum(keep=op[1])
                record()
                continue  # no new version; nothing else to re-check
            elif kind == "widen":
                # metadata-only: data files hardlink, reads upcast;
                # raises if already widened (except-branch atomicity)
                src.widen_column(spark, "w", "bigint")
            elif kind == "addcon":
                # satisfiable constraint commits layout-only; an
                # unsatisfiable one must raise ConstraintViolation and
                # leave the table untouched (x is always in 0..50)
                expr = "x >= 0" if op[1] else "x > 999999"
                src.add_constraint(spark, "c_model", expr)
            elif kind == "dropcon":
                src.drop_constraint("c_model")  # raises if absent
        except (ValueError, AssertionError) as e:
            if isinstance(e, AssertionError):
                raise
            # documented loud contract (e.g. an existing key
            # appended): the table must be EXACTLY as before
            assert src.current_version_number() == before_v, (kind, e)
            check_read()
            continue
        record()
        check_read()
        check_rollup()

    # ---- end of sequence: batch table_changes ≡ model snapshot diffs
    versions = src.versions()
    if len(versions) < 2:
        return
    nums = [VersionedParquetTable._parse_version_number(v) for v in versions]
    want = set()
    for a, b in zip(nums, nums[1:]):
        if a in snapshots and b in snapshots:
            for k, change in _keyed_diff(snapshots[a], snapshots[b]):
                want.add((k, change, b))
    from a2b_spark.storage.cdf import table_changes

    got = {
        (r.k, r.change, r._commit_version)
        for r in table_changes(src, spark).collect()
    }
    assert got == want, (got ^ want, ops)


@_SET
@seed(20260816)
@given(
    dv=st.booleans(),
    partitioned=st.booleans(),
    fmt=st.sampled_from(["parquet", "orc"]),
    ops=_ops,
)
def test_storage_interleaving_model(
    spark, tmp_path_factory, dv, partitioned, fmt, ops
):
    tmp = tmp_path_factory.mktemp("storage_model")
    _run_sequence(spark, tmp, dv, partitioned, ops, fmt=fmt)


@pytest.mark.deep
@settings(
    parent=_SET,
    max_examples=int(os.environ.get("A2B_STORAGE_MODEL_DEEP_EXAMPLES", "200")),
)
@seed(20260816)
@given(
    dv=st.booleans(),
    partitioned=st.booleans(),
    fmt=st.sampled_from(["parquet", "orc"]),
    ops=_ops,
)
def test_storage_interleaving_model_deep(
    spark, tmp_path_factory, dv, partitioned, fmt, ops
):
    """The periodic deep sweep (round-11 verdict item 8), reproducible
    as ``python -m pytest -m deep -q`` — deselected from the default
    run by pytest.ini's addopts. Same model, 200 sequences (~15 min);
    override the count with A2B_STORAGE_MODEL_DEEP_EXAMPLES."""
    tmp = tmp_path_factory.mktemp("storage_model_deep")
    _run_sequence(spark, tmp, dv, partitioned, ops, fmt=fmt)


def test_storage_model_restore_then_ivm_directed(spark, tmp_path):
    """Directed companion (always runs, no randomness): restore's
    inverse-diff CDF must keep the incremental rollup equal to the
    recompute — the exact round-9→10 fix surface."""
    _run_sequence(
        spark,
        tmp_path,
        dv=True,
        partitioned=True,
        ops=[
            ("merge", [(0, "g0", 5), (1, "g1", 7)]),
            ("delete", [100]),
            ("restore", 1),
            ("merge", [(2, "g0", 9)]),
            ("compact",),
            ("delete", [0, 2]),
            ("vacuum", 4),
            ("restore", 0),
        ],
    )
