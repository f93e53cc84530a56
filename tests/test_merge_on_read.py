"""Merge-on-read keyed merges (Delta DV / Iceberg v2 position-delete
analogue): on an unpartitioned parquet/ORC table with deletion vectors
whose files all span the key range (salted hash ids), a merge writes
only its batch as new files, hard-links every base file and tombstones
each matched old row by a file-scoped ``(data file name, key)`` vector
entry. Every read surface must agree with a plain dict model."""

import os

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from a2b_spark.storage.table import DV_DIR, DV_FILE, VersionedParquetTable


def _data_files(vdir):
    return sorted(
        os.path.join(vdir, f) for f in os.listdir(vdir) if not f.startswith(("_", "."))
    )


def _hashed_table(spark, tmp_path, n=400, files=4, fmt="parquet", name="t"):
    """Keys are xxhash64 ids: every file's key band spans the range."""
    t = VersionedParquetTable(
        str(tmp_path / name), key_cols=("k",), retention=10,
        deletion_vectors=True, fmt=fmt,
    )
    t.overwrite(
        spark.range(0, n)
        .select(F.xxhash64("id").alias("k"), F.col("id").alias("i"),
                F.concat(F.lit("v"), F.col("id")).alias("v"))
        .repartition(files)
    )
    return t


def _key(spark, i):
    return spark.range(i, i + 1).select(F.xxhash64("id")).first()[0]


def _model(t, spark, version=None):
    return {r.k: (r.i, r.v) for r in t.read(spark, version=version).collect()}


def _vector(t, version=None):
    d = os.path.join(t.path, version or t.current_version(), DV_DIR)
    if not os.path.isdir(d):
        return []
    import pyarrow.parquet as pq

    return sorted(
        (r[DV_FILE], r["k"])
        for f in os.listdir(d)
        for r in pq.read_table(os.path.join(d, f)).to_pylist()
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_mor_merge_links_every_base_file(spark, tmp_path, fmt):
    t = _hashed_table(spark, tmp_path, fmt=fmt)
    base = t.current_version()
    base_files = {os.path.basename(p) for p in _data_files(os.path.join(t.path, base))}
    model = _model(t, spark)
    upd = [(_key(spark, i), i, f"u{i}") for i in (3, 77, 250)]
    new = [(_key(spark, 1000), 1000, "new")]
    t.merge(spark.createDataFrame(upd + new, "k long, i long, v string"))
    vdir = os.path.join(t.path, t.current_version())
    files = _data_files(vdir)
    linked = [p for p in files if os.path.basename(p) in base_files]
    fresh = [p for p in files if os.path.basename(p) not in base_files]
    # every base file linked, the new files hold only the batch rows
    assert {os.path.basename(p) for p in linked} == base_files
    assert all(os.stat(p).st_nlink > 1 for p in linked)
    raw = spark.read.format(fmt).load(fresh)
    assert sorted(r.k for r in raw.collect()) == sorted(k for k, _, _ in upd + new)
    # one entry per matched old row, each naming the file that holds it
    vec = _vector(t)
    assert sorted(k for _, k in vec) == sorted(k for k, _, _ in upd)
    assert {f for f, _ in vec} <= base_files
    for k, i, v in upd + new:
        model[k] = (i, v)
    assert _model(t, spark) == model


def test_mor_surfaces_agree_after_merge_and_delete(spark, tmp_path):
    """read, read_pruned, time travel, restore, clone and both CDC
    surfaces agree after a merge-on-read merge and a vector delete."""
    from a2b_spark.storage.cdf import table_changes

    t = _hashed_table(spark, tmp_path, n=200)
    t.enable_cdf()
    v0 = t.current_version()
    m0 = _model(t, spark)
    k5, k9, k11 = (_key(spark, i) for i in (5, 9, 11))
    t.merge(spark.createDataFrame(
        [(k5, 5, "five"), (k9, 9, "nine")], "k long, i long, v string"
    ))
    v1 = t.current_version()
    m1 = {**m0, k5: (5, "five"), k9: (9, "nine")}
    t.delete_keys(spark.createDataFrame([(k9,), (k11,)], "k long"))
    v2 = t.current_version()
    m2 = {k: x for k, x in m1.items() if k not in (k9, k11)}
    # the delete tombstoned the merge's NEW row of k9 in its new file
    assert (k9 in {k for _, k in _vector(t)}) and len(_vector(t)) == 4
    assert _model(t, spark) == m2
    assert _model(t, spark, version=v1) == m1
    assert _model(t, spark, version=v0) == m0
    pruned = t.read_pruned(spark, [("i", "<=", 20)]).collect()
    assert {r.k: (r.i, r.v) for r in pruned} == {
        k: x for k, x in m2.items() if x[0] <= 20
    }
    c = t.clone(str(tmp_path / "clone"))
    assert _model(c, spark) == m2
    changes = {
        (r.k, r.change, r._commit_version)
        for r in table_changes(t, spark, from_version=v0).collect()
    }
    n1, n2 = (VersionedParquetTable._parse_version_number(v) for v in (v1, v2))
    assert changes == {
        (k5, "update", n1), (k9, "update", n1),
        (k9, "delete", n2), (k11, "delete", n2),
    }
    t.restore(v1, spark)
    assert _model(t, spark) == m1
    t.restore(v0, spark)
    assert _model(t, spark) == m0


def test_mor_fold_rewrites_only_over_threshold_files(spark, tmp_path):
    """A file whose tombstoned share passes DV_FOLD_FRACTION is rewritten
    (its live rows join the merge's new files, its entries leave the
    vector); every other file stays linked with its entries."""
    from a2b_spark.storage.table import DV_FOLD_FRACTION

    t = _hashed_table(spark, tmp_path, n=20, files=2)
    base = t.current_version()
    by_file = {}
    for r in t.read(spark).select(
        "k", "i", F.col("_metadata.file_name").alias("f")
    ).collect():
        by_file.setdefault(r.f, []).append((r.k, r.i))
    (fa, rows_a), (fb, rows_b) = sorted(by_file.items(), key=lambda x: -len(x[1]))
    n_a = int(len(rows_a) * DV_FOLD_FRACTION) + 1  # over the threshold
    batch = [(k, i, "u") for k, i in rows_a[:n_a] + rows_b[:1]]
    model = _model(t, spark)
    t.merge(spark.createDataFrame(batch, "k long, i long, v string"))
    vdir = os.path.join(t.path, t.current_version())
    names = {os.path.basename(p) for p in _data_files(vdir)}
    assert fa not in names and fb in names
    assert os.stat(os.path.join(vdir, fb)).st_nlink > 1
    assert _vector(t) == [(fb, rows_b[0][0])]
    for k, i, v in batch:
        model[k] = (i, v)
    assert _model(t, spark) == model
    # the folded file's live rows were rewritten, not lost
    assert {k for k, _ in rows_a} <= set(_model(t, spark))
    assert base in t.versions()


# ------------------------------------------- merge carrying deletes
_TWIN_PATHS = {
    "parquet_mor": {},
    "partitioned": {"partition_by": ("p",)},
    "cdf": {"cdf": True},
    "orc_no_vectors": {"fmt": "orc", "deletion_vectors": False},
}


def _twin_tables(spark, tmp_path, fmt="parquet", deletion_vectors=True,
                 partition_by=None, cdf=False):
    """Two tables with the same hashed-key rows."""
    data = spark.range(0, 60).select(
        F.xxhash64("id").alias("k"), F.col("id").alias("i"),
        (F.col("id") % 3).alias("p"), F.concat(F.lit("v"), F.col("id")).alias("v"),
    ).repartition(3).localCheckpoint()
    twins = []
    for name in ("one", "two"):
        t = VersionedParquetTable(
            str(tmp_path / name), key_cols=("k",), partition_by=partition_by,
            retention=10, deletion_vectors=deletion_vectors, fmt=fmt,
        )
        t.overwrite(data)
        if cdf:
            t.enable_cdf()
        twins.append(t)
    return twins


@pytest.mark.parametrize("path", sorted(_TWIN_PATHS))
def test_merge_with_delete_reads_as_delete_then_merge(spark, tmp_path, path):
    """``merge(batch, delete=keys)`` reads as ``delete_keys(keys)`` then
    ``merge(batch)`` on every path; a key in both ends as the batch row.
    Merge-on-read commits it as one ``merge`` version."""
    from a2b_spark.storage.cdf import table_changes

    one, two = _twin_tables(spark, tmp_path, **_TWIN_PATHS[path])
    base, n_versions = one.current_version(), len(one.versions())
    k0, k1, k2, k3, new = (_key(spark, i) for i in (0, 1, 2, 3, 500))
    batch = spark.createDataFrame(
        [(k0, 0, 0, "upd"), (k1, 1, 1, "both"), (new, 500, 2, "new")],
        "k long, i long, p long, v string",
    )
    delete = spark.createDataFrame([(k1,), (k2,), (k3,)], "k long")
    model = _model(one, spark)
    one.merge(batch, delete=delete)
    two.delete_keys(delete)
    two.merge(batch)
    for k in (k2, k3):
        del model[k]
    model.update({k0: (0, "upd"), k1: (1, "both"), new: (500, "new")})
    assert _model(one, spark) == model
    assert _model(two, spark) == model
    if path == "parquet_mor":
        assert len(one.versions()) == n_versions + 1
        assert one.history()[-1]["op"] == "merge"
        assert sorted(k for _, k in _vector(one)) == sorted((k0, k1, k2, k3))
    if path == "cdf":
        def changes(t):
            return sorted(
                (r.k, r.change, r._commit_version)
                for r in table_changes(t, spark, from_version=base).collect()
            )

        got = changes(one)
        assert {(k, c) for k, c, _ in got} >= {(k2, "delete"), (k3, "delete")}
        assert got == changes(two)


def test_merge_with_delete_folds_without_deleted_rows(spark, tmp_path):
    """Keys a merge deletes inside a file it folds do not ride along
    with the folded file's live rows, nor fill a partial batch's
    missing columns as old rows."""
    from a2b_spark.storage.table import DV_FOLD_FRACTION

    t = _hashed_table(spark, tmp_path, n=20, files=2)
    by_file = {}
    for r in t.read(spark).select(
        "k", "i", F.col("_metadata.file_name").alias("f")
    ).collect():
        by_file.setdefault(r.f, []).append((r.k, r.i))
    (fa, rows_a), (fb, rows_b) = sorted(by_file.items(), key=lambda x: -len(x[1]))
    n_a = int(len(rows_a) * DV_FOLD_FRACTION) + 1  # over the threshold
    gone = [k for k, _ in rows_a[:n_a]]
    model = _model(t, spark)
    t.merge(
        spark.createDataFrame([(rows_b[0][0], "u")], "k long, v string"),
        delete=spark.createDataFrame([(k,) for k in gone], "k long"),
    )
    names = {
        os.path.basename(p)
        for p in _data_files(os.path.join(t.path, t.current_version()))
    }
    assert fa not in names and fb in names
    for k in gone:
        del model[k]
    model[rows_b[0][0]] = (rows_b[0][1], "u")
    assert _model(t, spark) == model


# ------------------------------------------------------- model test
def _spread(i: int) -> int:
    """Small model key -> a salted 63-bit id, so file key bands
    overlap the way hashed destination ids do."""
    return (i * 0x9E3779B97F4A7C15) % (1 << 63)


_KEYS = st.integers(0, 11)
_op = st.one_of(
    st.tuples(
        st.just("merge"),
        st.lists(st.tuples(_KEYS, st.integers(0, 99)), min_size=1, max_size=5,
                 unique_by=lambda r: r[0]),
    ),
    st.tuples(st.just("delete"), st.lists(_KEYS, min_size=1, max_size=4, unique=True)),
    st.tuples(st.just("compact")),
    st.tuples(st.just("purge")),
)


@settings(
    max_examples=int(os.environ.get("A2B_MOR_MODEL_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@seed(20261017)
@given(ops=st.lists(_op, min_size=2, max_size=7))
def test_mor_model(spark, tmp_path_factory, ops):
    """Random merge/delete/compact/purge sequences on a vector table
    keyed on spread ids ≡ a dict model, after every step; the vector
    only ever names files of its own version."""
    tmp = tmp_path_factory.mktemp("mor_model")
    t = VersionedParquetTable(
        str(tmp / "t"), key_cols=("k",), retention=20, deletion_vectors=True
    )
    model = {_spread(i): i for i in range(8)}
    t.overwrite(
        spark.createDataFrame(list(model.items()), "k long, x long").repartition(3)
    )
    for op in ops:
        if op[0] == "merge":
            rows = [(_spread(i), x) for i, x in op[1]]
            t.merge(spark.createDataFrame(rows, "k long, x long"))
            model.update(rows)
        elif op[0] == "delete":
            keys = [_spread(i) for i in op[1]]
            t.delete_keys(spark.createDataFrame([(k,) for k in keys], "k long"))
            for k in keys:
                model.pop(k, None)
        elif op[0] == "compact":
            t.compact(spark, min_files=2)
        else:
            t.purge_deleted(spark)
        got = {r.k: r.x for r in t.read(spark).collect()}
        assert got == model, (op, got, model)
        vdir = os.path.join(t.path, t.current_version())
        names = {os.path.basename(p) for p in _data_files(vdir)}
        assert {f for f, _ in _vector(t)} <= names
