"""Deletion vectors (Delta DV analogue, key-list form): small deletes
on an unpartitioned parquet table commit as a metadata-sized tombstone
list under ``_dv/`` — every data file hardlinks, reads apply the
vector as a broadcast anti join, full rewrites purge and clear it."""

import os

import pytest
from pyspark.sql import functions as F

from a2b_spark.storage.table import DV_DIR, VersionedParquetTable
from a2b_spark.storage import table as table_mod


def _data_files(vdir):
    out = []
    for root, dirs, files in os.walk(vdir):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith(("_", "."))
        )
    return sorted(out)


def _dv_table(spark, tmp_path, n=40, retention=10):
    t = VersionedParquetTable(
        str(tmp_path / "t"), key_cols=("k",), retention=retention,
        deletion_vectors=True,
    )
    t.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(n)], "k long, v string")
    )
    return t


def test_dv_delete_rewrites_zero_files(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    base = t.current_version()
    base_files = {os.path.basename(p) for p in _data_files(os.path.join(t.path, base))}
    t.delete_keys(spark.createDataFrame([(3,), (7,)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    files = _data_files(vdir)
    # EVERY data file hardlinked, none rewritten, none added
    assert {os.path.basename(p) for p in files} == base_files
    assert all(os.stat(p).st_nlink > 1 for p in files)
    assert os.path.isdir(os.path.join(vdir, DV_DIR))
    got = {r.k for r in t.read(spark).collect()}
    assert got == set(range(40)) - {3, 7}
    # time travel still sees the pre-delete rows
    assert {r.k for r in t.read(spark, version=base).collect()} == set(range(40))
    # second DV delete unions the vector
    t.delete_keys(spark.createDataFrame([(8,)], "k long"))
    assert {r.k for r in t.read(spark).collect()} == set(range(40)) - {3, 7, 8}
    # re-deleting tombstoned keys is a no-op: no new commit
    pre = t.current_version()
    t.delete_keys(spark.createDataFrame([(3,), (8,)], "k long"))
    assert t.current_version() == pre


def test_dv_read_pruned_applies_vector(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.compact(spark, target_file_bytes=2 << 10, min_files=1, cluster_by=["k"])
    t.delete_keys(spark.createDataFrame([(5,)], "k long"))
    got = {r.k for r in t.read_pruned(spark, [("k", "<=", 10)]).collect()}
    assert got == set(range(11)) - {5}


def test_dv_merge_reintroduces_tombstoned_key(spark, tmp_path):
    """A merge whose batch holds a tombstoned key must (a) surface the
    NEW row at read, exactly once, and (b) drop the key from the
    carried vector — its stale bytes were rewritten DV-filtered."""
    t = _dv_table(spark, tmp_path)
    # key-clustered so the pruned merge path runs
    t.compact(spark, target_file_bytes=2 << 10, min_files=1, cluster_by=["k"])
    t.delete_keys(spark.createDataFrame([(3,), (30,)], "k long"))
    t.merge(spark.createDataFrame([(3, "REBORN")], "k long, v string"))
    rows = t.read(spark).filter(F.col("k").isin(3, 30)).collect()
    assert [(r.k, r.v) for r in rows] == [(3, "REBORN")]
    dv = spark.read.parquet(
        os.path.join(t.path, t.current_version(), DV_DIR)
    )
    assert {r.k for r in dv.collect()} == {30}  # 3 left the vector
    assert t.read(spark).count() == 39  # 40 - deleted 30, 3 reborn


def test_dv_full_rewrite_purges_and_clears(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(1,), (2,)], "k long"))
    t.compact(spark, target_file_bytes=1 << 30, min_files=1, cluster_by=["k"])
    vdir = os.path.join(t.path, t.current_version())
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    # physically purged: the raw files no longer hold the keys
    raw = spark.read.parquet(*_data_files(vdir))
    assert {r.k for r in raw.collect()} == set(range(40)) - {1, 2}


def test_dv_append_full_rewrite_clears(spark, tmp_path):
    t = _dv_table(spark, tmp_path, n=10)
    t.delete_keys(spark.createDataFrame([(4,)], "k long"))
    t.append(spark.createDataFrame([(100, "new")], "k long, v string"))
    vdir = os.path.join(t.path, t.current_version())
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {r.k for r in t.read(spark).collect()} == (set(range(10)) - {4}) | {100}


def test_dv_cap_falls_back_to_rewrite(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(table_mod, "DV_MAX_KEYS", 4)
    t = _dv_table(spark, tmp_path, n=30)
    t.delete_keys(spark.createDataFrame([(i,) for i in range(6)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    # over the cap: the rewrite path ran, no vector written
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {r.k for r in t.read(spark).collect()} == set(range(6, 30))
    # under the cap: vector path
    t.delete_keys(spark.createDataFrame([(7,)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    assert os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {r.k for r in t.read(spark).collect()} == set(range(6, 30)) - {7}


def test_dv_cdf_and_table_changes_agree(spark, tmp_path):
    from a2b_spark.storage.cdf import table_changes
    from a2b_spark.storage.table import CDF_DIR

    t = _dv_table(spark, tmp_path, n=12)
    t.enable_cdf()
    t.delete_keys(spark.createDataFrame([(2,), (9,)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    cdf_rows = spark.read.parquet(os.path.join(vdir, CDF_DIR))
    assert {(r.k, r.change, r.v) for r in cdf_rows.collect()} == {
        (2, "delete", None), (9, "delete", None)
    }
    vs = t.versions()
    diff = table_changes(t, spark, from_version=vs[-2])
    assert {(r.k, r.change) for r in diff.collect()} == {
        (2, "delete"), (9, "delete")
    }


def test_dv_restore_and_clone_carry_vector(spark, tmp_path):
    t = _dv_table(spark, tmp_path, n=8)
    t.delete_keys(spark.createDataFrame([(0,)], "k long"))
    dv_version = t.current_version()
    t.delete_keys(spark.createDataFrame([(1,)], "k long"))
    # clone carries the live vector
    c = t.clone(str(tmp_path / "clone"))
    assert {r.k for r in c.read(spark).collect()} == set(range(2, 8))
    # restore back to the one-tombstone version
    t.restore(dv_version)
    assert {r.k for r in t.read(spark).collect()} == set(range(1, 8))
    # constraint metadata commits carry it too
    t.add_constraint(spark, "k_nonneg", "k >= 0")
    assert {r.k for r in t.read(spark).collect()} == set(range(1, 8))


def test_dv_noop_outside_scope(spark, tmp_path):
    """A table WITHOUT the flag never takes the DV path — partitioned
    or not — even when a delete would qualify."""
    t = VersionedParquetTable(
        str(tmp_path / "p"), key_cols=("k",), partition_by=("p",),
        retention=10,  # deletion_vectors NOT set
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, i % 2, f"v{i}") for i in range(10)], "k long, p int, v string"
        )
    )
    t.delete_keys(spark.createDataFrame([(4,)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {r.k for r in t.read(spark).collect()} == set(range(10)) - {4}


def test_dv_purge_rewrites_only_matching_files(spark, tmp_path):
    """purge_deleted (REORG APPLY PURGE analogue): rewrite ONLY the
    stats-matched files holding tombstoned rows, hardlink the rest,
    clear the vector; a layout-only commit both CDC surfaces skip."""
    from a2b_spark.storage.cdf import table_changes

    t = _dv_table(spark, tmp_path)
    t.compact(spark, target_file_bytes=2 << 10, min_files=1, cluster_by=["k"])
    t.enable_cdf()
    t.delete_keys(spark.createDataFrame([(3,), (4,)], "k long"))
    pre_version = t.current_version()
    stats = t.purge_deleted(spark)
    assert stats["purged_keys"] == 2
    assert stats["files_rewritten"] >= 1
    assert stats["files_linked"] >= 1  # band-matching really pruned
    vdir = os.path.join(t.path, t.current_version())
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    linked = [p for p in _data_files(vdir) if os.stat(p).st_nlink > 1]
    assert len(linked) == stats["files_linked"]
    # physically purged, logically identical
    raw = spark.read.parquet(*_data_files(vdir))
    assert {r.k for r in raw.collect()} == set(range(40)) - {3, 4}
    assert {r.k for r in t.read(spark).collect()} == set(range(40)) - {3, 4}
    # time travel to the DV version still applies its vector
    assert {r.k for r in t.read(spark, version=pre_version).collect()} == (
        set(range(40)) - {3, 4}
    )
    # CDC: the purge commit is layout-only — the range's only changes
    # are the delete's
    diff = table_changes(t, spark, from_version=t.versions()[-3])
    assert {(r.k, r.change) for r in diff.collect()} == {
        (3, "delete"), (4, "delete")
    }
    # idempotent: no vector, no-op
    assert t.purge_deleted(spark)["purged_keys"] == 0


# ---------------------------------------------------- partitioned DVs
def _dv_ptable(spark, tmp_path, n=40, derived=False, name="pt"):
    t = VersionedParquetTable(
        str(tmp_path / name), key_cols=("k",), partition_by=("p",),
        retention=10, deletion_vectors=True,
        partitions_derived_from_keys=derived,
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, i % 4, f"v{i}") for i in range(n)], "k long, p int, v string"
        )
    )
    return t


def test_dv_partitioned_delete_rewrites_zero_files(spark, tmp_path):
    """A small delete on a PARTITIONED table is metadata-sized too:
    every data file hardlinks (partition subdirs preserved), only the
    vector is written — no partition rewrite."""
    t = _dv_ptable(spark, tmp_path)
    base = t.current_version()
    base_rels = {
        os.path.relpath(p, os.path.join(t.path, base))
        for p in _data_files(os.path.join(t.path, base))
    }
    t.delete_keys(spark.createDataFrame([(5,), (6,)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    files = _data_files(vdir)
    assert {os.path.relpath(p, vdir) for p in files} == base_rels
    assert all(os.stat(p).st_nlink > 1 for p in files)
    assert os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {r.k for r in t.read(spark).collect()} == set(range(40)) - {5, 6}
    assert {r.k for r in t.read(spark, version=base).collect()} == set(range(40))


def test_dv_partitioned_carry_through_commits(spark, tmp_path):
    """Later partitioned commits (merge/append/compact of OTHER keys)
    must CARRY the vector — dropping it would resurrect tombstones in
    hardlinked partitions."""
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(5,)], "k long"))
    # merge a fresh key into a different partition
    t.merge(spark.createDataFrame([(100, 0, "new")], "k long, p int, v string"))
    assert 5 not in {r.k for r in t.read(spark).collect()}
    # append fresh keys
    t.append(spark.createDataFrame([(101, 1, "a")], "k long, p int, v string"))
    got = {r.k for r in t.read(spark).collect()}
    assert 5 not in got and {100, 101} <= got
    # compact
    t.compact(spark, target_file_bytes=1 << 20, min_files=1)
    assert 5 not in {r.k for r in t.read(spark).collect()}


@pytest.mark.parametrize("derived", [False, True])
def test_dv_partitioned_merge_reintroduces_key(spark, tmp_path, derived):
    """Merging a DV-tombstoned key back in must surface it EXACTLY
    once (stale partition rewritten even though the filtered read
    cannot see the stale row) and trim it from the vector."""
    t = _dv_ptable(spark, tmp_path, derived=derived, name=f"pt{derived}")
    t.delete_keys(spark.createDataFrame([(5,), (9,)], "k long"))
    # re-introduce k=5 (its partition p=1 under i%4... 5%4=1) with the
    # SAME partition value (required under derived=True)
    t.merge(spark.createDataFrame([(5, 1, "back")], "k long, p int, v string"))
    rows = [r for r in t.read(spark).collect() if r.k == 5]
    assert len(rows) == 1 and rows[0].v == "back"
    # 9 stays tombstoned; the raw bytes of 5 are gone from disk
    got = {r.k for r in t.read(spark).collect()}
    assert 9 not in got
    raw = t._read_nodv(spark)
    assert [r.v for r in raw.collect() if r.k == 5] == ["back"]


def test_dv_partitioned_append_tombstoned_key_reads_once(spark, tmp_path):
    """Appending a tombstoned key back, into another partition than its
    stale row's: the stale partition hard-links with its vector entry,
    which names the old file only, so the new row surfaces once."""
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(5,)], "k long"))
    t.append(spark.createDataFrame([(5, 2, "x")], "k long, p int, v string"))
    assert [(r.p, r.v) for r in t.read(spark).collect() if r.k == 5] == [(2, "x")]
    # the stale row still lies on disk, hidden by its entry
    raw = t._read_nodv(spark)
    assert sorted(r.v for r in raw.collect() if r.k == 5) == ["v5", "x"]


def test_dv_partitioned_purge(spark, tmp_path):
    """Partition-granular purge: only partitions holding tombstoned
    bytes rewrite, the rest hardlink, the vector clears, row content
    is unchanged (layout-only for both CDC surfaces)."""
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(4,), (8,)], "k long"))  # both p=0
    before = {(r.k, r.v) for r in t.read(spark).collect()}
    stats = t.purge_deleted(spark)
    assert stats["purged_keys"] == 2
    assert stats["files_linked"] > 0  # p=1..3 hardlinked
    vdir = os.path.join(t.path, t.current_version())
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {(r.k, r.v) for r in t.read(spark).collect()} == before
    # tombstoned bytes physically gone
    raw = {r.k for r in t._read_nodv(spark).collect()}
    assert 4 not in raw and 8 not in raw
    # idempotent: second purge is a no-op (no vector)
    pre = t.current_version()
    assert t.purge_deleted(spark)["purged_keys"] == 0
    assert t.current_version() == pre


def test_dv_partitioned_restore_and_clone_carry_vector(spark, tmp_path):
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(5,)], "k long"))
    dv_version = t.current_version()
    c = t.clone(str(tmp_path / "clone"))
    assert 5 not in {r.k for r in c.read(spark).collect()}
    t.merge(spark.createDataFrame([(5, 1, "back")], "k long, p int, v string"))
    assert 5 in {r.k for r in t.read(spark).collect()}
    t.restore(dv_version)
    assert 5 not in {r.k for r in t.read(spark).collect()}


def test_dv_partitioned_cdf_delete_rows(spark, tmp_path):
    from a2b_spark.storage.cdf import table_changes

    t = _dv_ptable(spark, tmp_path)
    t.enable_cdf()
    v0 = t.current_version()
    t.delete_keys(spark.createDataFrame([(5,), (6,)], "k long"))
    ch = table_changes(t, spark, from_version=v0)
    got = {(r.k, r.change) for r in ch.collect()}
    assert got == {(5, "delete"), (6, "delete")}


def test_dv_delete_match_scan_is_stats_scoped(spark, tmp_path, monkeypatch):
    """Round-11: the DV delete's matched-key pin must read only the
    files whose _STATS key band can hold the deleted keys — O(touched
    files), not O(table) — on flat AND partitioned layouts. Spied via
    _read_files (the pruned-scan entry point); correctness of the
    resulting vector is asserted on both."""
    from a2b_spark.storage.table import VersionedParquetTable

    calls = []
    orig = VersionedParquetTable._read_files

    def spy(self, spark_, base, abs_paths, schema):
        calls.append(list(abs_paths))
        return orig(self, spark_, base, abs_paths, schema)

    monkeypatch.setattr(VersionedParquetTable, "_read_files", spy)

    # ---- flat, key-clustered into 4 disjoint-band files
    t = VersionedParquetTable(
        str(tmp_path / "flat"), key_cols=("k",), deletion_vectors=True
    )
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.overwrite(df.repartitionByRange(4, "k"))
    t.enable_cdf(preimages=True)
    t.delete_keys(spark.createDataFrame([(7,), (13,)], "k long"))
    assert calls, "DV delete did not take the stats-scoped scan"
    assert len(calls[-1]) == 1, calls[-1]  # keys 7,13 live in ONE band
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == sorted(set(range(400)) - {7, 13})

    # ---- partitioned: files live under partition subdirs; bands must
    # still scope the scan to the partitions holding the keys
    calls.clear()
    p = VersionedParquetTable(
        str(tmp_path / "part"), key_cols=("k",), partition_by=("p",),
        deletion_vectors=True,
    )
    pdf = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.floor(F.col("id") / 50).cast("int").alias("p"),  # key-ranged
        (F.col("id") * 3).alias("v"),
    )
    p.overwrite(pdf.repartitionByRange(8, "p"))
    p.delete_keys(spark.createDataFrame([(5,), (200,)], "k long"))
    assert calls, "partitioned DV delete did not take the scoped scan"
    import glob

    total = len(
        glob.glob(str(tmp_path / "part" / "v_*" / "**" / "*.parquet"),
                  recursive=True)
    )
    # keys 5 and 200 live in two partitions' files out of 8
    assert 0 < len(calls[-1]) < total, (len(calls[-1]), total)
    got = sorted(r.k for r in p.read(spark).collect())
    assert got == sorted(set(range(400)) - {5, 200})


def _spread_table(spark, tmp_path, name="spread", **kw):
    """Four files whose key bands all span the key range: no file
    isolates a key, so a merge commits merge-on-read."""
    t = VersionedParquetTable(
        str(tmp_path / name), key_cols=("k",), retention=10, **kw
    )
    t.overwrite(
        spark.range(40)
        .select(F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"))
        .repartition(4)
    )
    return t


def test_dv_clone_merges_on_read(spark, tmp_path):
    """A clone keeps the source's ``deletion_vectors`` flag: its merge
    links every base file and tombstones the replaced row."""
    c = _spread_table(spark, tmp_path, deletion_vectors=True).clone(
        str(tmp_path / "clone")
    )
    base = os.path.join(c.path, c.current_version())
    c.merge(spark.createDataFrame([(3, "x")], "k long, v string"))
    vdir = os.path.join(c.path, c.current_version())
    assert os.path.isdir(os.path.join(vdir, DV_DIR))
    linked = {os.stat(p).st_ino for p in _data_files(vdir)}
    assert {os.stat(p).st_ino for p in _data_files(base)} <= linked
    assert [r.v for r in c.read(spark).collect() if r.k == 3] == ["x"]


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _pkv(spark, rows):
    return spark.createDataFrame(rows, "k long, p int, v string")


def _overwrite(spark, tmp_path):
    t = _spread_table(spark, tmp_path, deletion_vectors=True)
    t.delete_keys(_keys(spark, 3))
    src = t.current_version()
    t.overwrite(_kv(spark, [(1, "a"), (2, "b")]))
    return t, os.path.join(t.path, src)


def _mor_merge(spark, tmp_path):
    t = _spread_table(spark, tmp_path, deletion_vectors=True)
    src = t.current_version()
    t.merge(_kv(spark, [(3, "x"), (100, "new")]))
    return t, os.path.join(t.path, src)


def _pruned_merge(spark, tmp_path):
    t = VersionedParquetTable(str(tmp_path / "clustered"), key_cols=("k",))
    t.overwrite(
        spark.range(40)
        .select(F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
        .repartitionByRange(4, "k")
    )
    src = t.current_version()
    t.merge(_kv(spark, [(3, "x")]))
    return t, os.path.join(t.path, src)


def _partitioned_merge(spark, tmp_path):
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(_keys(spark, 5))
    src = t.current_version()
    t.merge(_pkv(spark, [(7, 3, "x")]))
    return t, os.path.join(t.path, src)


def _dv_delete(spark, tmp_path):
    t = _dv_ptable(spark, tmp_path)
    src = t.current_version()
    t.delete_keys(_keys(spark, 5, 6))
    return t, os.path.join(t.path, src)


def _purge(spark, tmp_path):
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(_keys(spark, 4, 9))
    src = t.current_version()
    assert t.purge_deleted(spark)["purged_keys"] == 2
    return t, os.path.join(t.path, src)


def _restore(spark, tmp_path):
    t = _spread_table(spark, tmp_path, deletion_vectors=True)
    t.delete_keys(_keys(spark, 3))
    src = t.current_version()
    t.merge(_kv(spark, [(4, "x")]))
    t.restore(src)
    return t, os.path.join(t.path, src)


def _clone(spark, tmp_path):
    t = _dv_ptable(spark, tmp_path)
    t.delete_keys(_keys(spark, 5))
    return t.clone(str(tmp_path / "clone")), os.path.join(t.path, t.current_version())


def _add_constraint(spark, tmp_path):
    t = _spread_table(spark, tmp_path, deletion_vectors=True)
    t.delete_keys(_keys(spark, 3))
    src = t.current_version()
    t.add_constraint(spark, "k_nonneg", "k >= 0")
    return t, os.path.join(t.path, src)


def _disable_cdf(spark, tmp_path):
    t = _spread_table(spark, tmp_path, deletion_vectors=True)
    t.enable_cdf()
    t.delete_keys(_keys(spark, 3))
    src = t.current_version()
    t.disable_cdf()
    assert not t.cdf_enabled()  # the omitted sidecar stays omitted
    return t, os.path.join(t.path, src)


_COMMITS = {
    "overwrite": _overwrite,
    "merge-on-read": _mor_merge,
    "file-pruned merge": _pruned_merge,
    "partitioned merge": _partitioned_merge,
    "dv delete": _dv_delete,
    "purge": _purge,
    "restore": _restore,
    "clone": _clone,
    "add_constraint": _add_constraint,
    "disable_cdf": _disable_cdf,
}


@pytest.mark.parametrize("kind", list(_COMMITS))
def test_every_commit_keeps_the_version_invariant(spark, tmp_path, kind):
    """Whatever the commit kind: ``_ADDED`` lists exactly the new data
    files (no inode shared with the version the commit was built
    from), ``_SCHEMA`` and ``_COMMIT_INFO`` are written, and every
    vector entry names a data file of the new version."""
    import json

    import pyarrow.parquet as pq

    from a2b_spark.storage.table import ADDED, COMMIT_INFO, DV_FILE, SCHEMA

    t, src = _COMMITS[kind](spark, tmp_path)
    vdir = os.path.join(t.path, t.current_version())
    src_inodes = {os.stat(p).st_ino for p in _data_files(src)}
    new = {
        os.path.relpath(p, vdir)
        for p in _data_files(vdir)
        if os.stat(p).st_ino not in src_inodes
    }
    with open(os.path.join(vdir, ADDED)) as f:
        assert set(json.load(f)) == new
    assert os.path.isfile(os.path.join(vdir, SCHEMA))
    assert os.path.isfile(os.path.join(vdir, COMMIT_INFO))
    named = {
        name
        for delta in t._dv_deltas(vdir)
        for name in pq.read_table(delta, columns=[DV_FILE]).column(0).to_pylist()
    }
    assert named <= set(t._file_ids(vdir).values())
