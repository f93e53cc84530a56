"""Versioned-table scale contract: partitioned merges and deletes touch
only the partitions the batch touches; everything else is hard-linked
(metadata-only) into the new version. This is the property that keeps
a small incremental merge O(batch), not O(100 TB table)."""

import os

import pytest
from pyspark.sql import functions as F

from a2b_spark.storage.table import VersionedParquetTable


def _inodes(version_dir):
    """{relpath: inode} for every data file under a version dir."""
    out = {}
    for root, _, files in os.walk(version_dir):
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(root, fn)
            out[os.path.relpath(p, version_dir)] = os.stat(p).st_ino
    return out


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("id",), partition_by=("p",))
    base = spark.createDataFrame(
        [(i, f"p{i % 4}", f"v{i}") for i in range(40)], "id int, p string, v string"
    )
    t.overwrite(base)
    return t


def test_partitioned_merge_rewrites_only_touched(spark, table):
    v1 = os.path.join(table.path, table.current_version())
    before = _inodes(v1)

    batch = spark.createDataFrame(
        [(0, "p0", "UPDATED"), (100, "p0", "NEW")], "id int, p string, v string"
    )
    table.merge(batch)
    v2 = os.path.join(table.path, table.current_version())
    assert v2 != v1
    after = _inodes(v2)

    touched = {f for f in after if f.startswith("p=p0")}
    untouched = {f for f in after if not f.startswith("p=p0")}
    assert touched and untouched
    # untouched partitions: identical files, same inode (hard-linked)
    for f in untouched:
        assert after[f] == before[f], f"untouched partition file {f} was rewritten"
    # touched partition: fresh files
    for f in touched:
        assert before.get(f) != after[f]

    # contents correct: update applied, insert present, other partitions intact
    cur = table.read(spark)
    assert cur.count() == 41
    assert cur.filter("id = 0").first().v == "UPDATED"
    assert cur.filter("id = 100").first().v == "NEW"
    assert cur.filter("p != 'p0'").count() == 30


def test_partitioned_delete_rewrites_only_touched(spark, table):
    v1 = os.path.join(table.path, table.current_version())
    before = _inodes(v1)

    # keys carry the partition column -> partition-aware path
    keys = spark.createDataFrame([(1, "p1"), (5, "p1")], "id int, p string")
    table.delete_keys(keys)
    after = _inodes(os.path.join(table.path, table.current_version()))
    for f in (f for f in after if not f.startswith("p=p1")):
        assert after[f] == before[f], f"untouched partition file {f} was rewritten"
    cur = table.read(spark)
    assert cur.count() == 38
    assert cur.filter(F.col("id").isin(1, 5)).count() == 0


def test_snapshot_isolation_across_partitioned_merge(spark, table):
    held = table.read(spark)
    held_count = held.count()
    table.merge(
        spark.createDataFrame([(0, "p0", "X")], "id int, p string, v string")
    )
    # the pre-merge plan still reads its (immutable) version dir
    assert held.count() == held_count


def test_merge_new_partition_appears(spark, table):
    table.merge(
        spark.createDataFrame([(200, "p9", "fresh")], "id int, p string, v string")
    )
    cur = table.read(spark)
    assert cur.filter("p = 'p9'").count() == 1
    assert cur.count() == 41


def test_time_travel_reads_retained_versions(spark, table):
    v1 = table.current_version()
    table.merge(
        spark.createDataFrame([(0, "p0", "CHANGED")], "id int, p string, v string")
    )
    v2 = table.current_version()
    assert v1 != v2 and table.versions() == [v1, v2]
    # historical read sees the pre-merge value, live read the new one
    old = table.read(spark, version=v1)
    assert old.filter("id = 0").first().v == "v0"
    assert table.read(spark).filter("id = 0").first().v == "CHANGED"
    with pytest.raises(ValueError, match="not retained"):
        table.read(spark, version="v_does_not_exist")


def test_vacuum_bounds_time_travel(spark, table):
    for i in range(3):
        table.merge(
            spark.createDataFrame([(i, f"p{i % 4}", f"m{i}")], "id int, p string, v string")
        )
    all_versions = table.versions()
    table.vacuum(keep=2)
    kept = table.versions()
    assert kept == all_versions[-2:]
    # the live version survives vacuum and still reads
    assert table.read(spark).count() == 40
    with pytest.raises(ValueError):
        table.read(spark, version=all_versions[0])


def test_vacuum_ignores_orphan_dirs(spark, table):
    """A crashed writer's orphan dir (newer than _CURRENT, never
    committed) must not occupy a retention slot: with keep=1 vacuum
    must keep the LIVE version, not count the orphan toward `keep` and
    delete committed history. STALE orphans are swept; a FRESH one may
    be a concurrent writer between claim and marker flip — vacuum must
    leave it alone or it would delete the dir _CURRENT is about to
    point at (round-9 review finding)."""
    import shutil
    import time

    table.merge(
        spark.createDataFrame([(0, "p0", "CHANGED")], "id int, p string, v string")
    )
    live = table.current_version()
    # simulate a mid-commit crash LONG AGO: stale orphan, swept
    orphan = os.path.join(table.path, "v_99999999999999_zz")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-half-written.parquet"), "w") as f:
        f.write("garbage")
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    # and a writer claiming RIGHT NOW: fresh orphan, preserved
    claimed = os.path.join(table.path, "v_99999999999999_aa")
    os.makedirs(claimed)
    table.vacuum(keep=1)
    assert table.versions() == [live]
    assert not os.path.isdir(orphan), "stale orphan dir must be swept"
    assert os.path.isdir(claimed), "in-flight claimed dir must survive"
    assert table.read(spark).count() == 40
    shutil.rmtree(claimed)


def test_vacuum_noop_without_current_marker(spark, table):
    """A table whose _CURRENT marker is lost (partial copy) is damaged
    but RECOVERABLE by rewriting the marker — vacuum must not classify
    its version dirs as orphans and delete them."""
    from a2b_spark.storage.table import CURRENT

    marker = os.path.join(table.path, CURRENT)
    dirs_before = sorted(d for d in os.listdir(table.path) if d.startswith("v_"))
    os.remove(marker)
    table.vacuum(keep=1)
    dirs_after = sorted(d for d in os.listdir(table.path) if d.startswith("v_"))
    assert dirs_after == dirs_before, "vacuum deleted dirs from a markerless table"
    # recovery: rewrite the marker and the table reads again
    with open(marker, "w") as f:
        f.write(dirs_before[-1])
    assert table.read(spark).count() == 40


def _data_file_count(version_dir):
    return len(_inodes(version_dir))


def test_compact_unpartitioned(spark, tmp_path):
    t = VersionedParquetTable(str(tmp_path / "u"), key_cols=("id",))
    # 8-way repartition models the small-file state a stream of tiny
    # commits leaves behind
    t.overwrite(
        spark.createDataFrame(
            [(j, "b") for j in range(40)], "id int, v string"
        ).repartition(8)
    )
    before = t.read(spark).orderBy("id").collect()
    vdir = os.path.join(t.path, t.current_version())
    n_before = _data_file_count(vdir)
    assert n_before >= 2
    stats = t.compact(spark)  # default target >> data: everything packs to 1
    vdir2 = os.path.join(t.path, t.current_version())
    assert _data_file_count(vdir2) == 1
    assert stats["partitions_rewritten"] == 1
    assert stats["files_before"] == n_before
    assert t.read(spark).orderBy("id").collect() == before


def test_compact_noop_when_already_compact(spark, tmp_path):
    t = VersionedParquetTable(str(tmp_path / "n"), key_cols=("id",))
    t.overwrite(spark.range(10).coalesce(1))
    v = t.current_version()
    stats = t.compact(spark)
    assert stats["partitions_rewritten"] == 0
    assert t.current_version() == v, "no-op compaction must not commit"


def test_compact_partitioned_links_untouched(spark, table):
    # fragment ONLY p0: its rows spread over 4 shuffle partitions (4
    # files), every other partition collapses into one task (1 file)
    cur = table.read(spark)
    table.overwrite(
        cur.repartition(
            6,
            F.when(F.col("p") == "p0", (F.col("id") / 4).cast("int") % 4).otherwise(F.lit(99)),
        )
    )
    before = table.read(spark).orderBy("id").collect()
    vdir = os.path.join(table.path, table.current_version())
    ino_before = _inodes(vdir)
    p0_files = [f for f in ino_before if f.startswith("p=p0")]
    assert len(p0_files) >= 2
    stats = table.compact(spark)
    vdir2 = os.path.join(table.path, table.current_version())
    ino_after = _inodes(vdir2)
    assert stats["partitions_rewritten"] >= 1
    assert len([f for f in ino_after if f.startswith("p=p0")]) == 1
    # untouched partitions are hard-links of the previous version's files
    for f, ino in ino_after.items():
        if not f.startswith("p=p0"):
            assert ino_before.get(f) == ino, f"untouched file {f} was rewritten"
    assert table.read(spark).orderBy("id").collect() == before


def test_hive_escaped_partition_values(spark, tmp_path):
    """Partition values containing Hive-escaped characters (':', '%',
    '=', '#') are stored in dirs like ``p=10%3A30`` while the column
    holds ``10:30``. Every path that compares directory names against
    column values — partitioned merge, delete, compact — must unescape
    first; the round-4 advice found compact silently dropping such
    partitions and merge would duplicate their rows."""
    t = VersionedParquetTable(
        str(tmp_path / "esc"), key_cols=("id",), partition_by=("p",)
    )
    vals = ["2020-01-01 10:30:00", "50%off", "a=b", "plain"]
    base = spark.createDataFrame(
        [(i, vals[i % 4], f"v{i}") for i in range(16)],
        "id int, p string, v string",
    )
    t.overwrite(base)
    # escaped dirs actually exist on disk (the premise of the test)
    vdir = os.path.join(t.path, t.current_version())
    assert any("%3A" in d for d in os.listdir(vdir)), os.listdir(vdir)

    # partitioned merge touching ONLY the escaped-value partitions must
    # update in place, not duplicate (old files hard-linked + new data)
    t.merge(
        spark.createDataFrame(
            [(0, "2020-01-01 10:30:00", "UPD"), (1, "50%off", "UPD")],
            "id int, p string, v string",
        )
    )
    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 16, "merge duplicated rows in escaped partitions"
    assert rows[0] == "UPD" and rows[1] == "UPD"

    # partition-aware delete inside an escaped partition
    t.delete_keys(
        spark.createDataFrame(
            [(4, "2020-01-01 10:30:00")], "id int, p string"
        )
    )
    assert t.read(spark).count() == 15

    # compact: fragment the ':' partition, then verify no data loss and
    # the partition really was rewritten (not silently skipped)
    cur = t.read(spark)
    t.overwrite(
        cur.repartition(
            5,
            F.when(
                F.col("p") == "2020-01-01 10:30:00",
                F.col("id") % 3,
            ).otherwise(F.lit(9)),
        )
    )
    before = sorted(map(tuple, t.read(spark).collect()))
    vdir = os.path.join(t.path, t.current_version())
    frag = [f for f in _inodes(vdir) if f.startswith("p=2020-01-01 10%3A30%3A00")]
    assert len(frag) >= 2
    stats = t.compact(spark)
    assert stats["partitions_rewritten"] >= 1
    after_files = [
        f
        for f in _inodes(os.path.join(t.path, t.current_version()))
        if f.startswith("p=2020-01-01 10%3A30%3A00")
    ]
    assert len(after_files) == 1, "escaped partition was not compacted"
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_null_partition_values_rejected(spark, tmp_path):
    """NULL partition values would silently corrupt the hardlink-reuse
    layout (Hive default-partition dir never matches the touched-set
    strings) — writes must refuse them up front."""
    t = VersionedParquetTable(
        str(tmp_path / "np"), key_cols=("id",), partition_by=("p",)
    )
    bad = spark.createDataFrame([(1, None, "x")], "id int, p string, v string")
    with pytest.raises(Exception, match="null partition value"):
        t.overwrite(bad)
    # merge path: table exists, batch carries a null partition
    t.overwrite(spark.createDataFrame([(1, "a", "x")], "id int, p string, v string"))
    with pytest.raises(Exception, match="null partition value"):
        t.merge(bad)


def test_orc_format_round_trip(spark, tmp_path):
    """ORC as the columnar alternative: merge + time travel behave the
    same as parquet (self-describing files, no _SCHEMA sidecar)."""
    t = VersionedParquetTable(str(tmp_path / "orc_t"), key_cols=("id",), fmt="orc")
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string"))
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    old = t.versions()[0]
    first = {r["id"]: r["v"] for r in t.read(spark, version=old).collect()}
    assert first == {1: "a", 2: "b"}
    assert not os.path.exists(os.path.join(t.path, "_SCHEMA"))


def test_commit_history_labels_operations(spark, tmp_path):
    t = VersionedParquetTable(str(tmp_path / "h"), key_cols=("id",), retention=10)
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, v string"))
    t.merge(spark.createDataFrame([(2, "b")], "id int, v string"))
    t.delete_keys(spark.createDataFrame([(1,)], "id int"))
    ops = [h["op"] for h in t.history()]
    assert ops == ["overwrite", "merge", "delete"]
    assert all(h["ts"] for h in t.history())


def test_optimistic_concurrency_rejects_stale_commit(spark, tmp_path):
    """A commit whose base version was superseded must raise instead of
    silently discarding the other writer's rows (Delta-style CAS)."""
    from a2b_spark.storage.table import ConcurrentWriteError

    t1 = VersionedParquetTable(str(tmp_path / "cc"), key_cols=("id",))
    t1.overwrite(spark.createDataFrame([(1, "a")], "id int, v string"))
    base = t1.current_version()
    # a second writer lands a merge between t1's snapshot and commit
    t2 = VersionedParquetTable(str(tmp_path / "cc"), key_cols=("id",))
    t2.merge(spark.createDataFrame([(2, "b")], "id int, v string"))
    with pytest.raises(ConcurrentWriteError):
        t1._commit("v_0000000099", base=base)
    # the winner's data is intact
    assert t1.read(spark).count() == 2


def test_merge_key_moving_between_partitions(spark, tmp_path):
    """A batch row may change its partition value; the stale row in the
    OLD partition must be rewritten away, not hard-linked back in
    (round-5 review: silent duplicate keys)."""
    t = VersionedParquetTable(
        str(tmp_path / "mv"), key_cols=("id",), partition_by=("region",)
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "eu", "a"), (2, "eu", "b"), (3, "us", "c")],
            "id int, region string, v string",
        )
    )
    t.merge(spark.createDataFrame([(1, "us", "moved")], "id int, region string, v string"))
    rows = {r["id"]: (r["region"], r["v"]) for r in t.read(spark).collect()}
    assert t.read(spark).count() == 3, "key 1 duplicated across partitions"
    assert rows[1] == ("us", "moved")
    assert rows[2] == ("eu", "b") and rows[3] == ("us", "c")


def test_boolean_partition_values_roundtrip(spark, tmp_path):
    """Python str(True)='True' vs Spark cast 'true' used to desync the
    touched set from the filter and dir names (round-5 review)."""
    t = VersionedParquetTable(
        str(tmp_path / "bp"), key_cols=("id",), partition_by=("flag",)
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, True, "a"), (2, False, "b")], "id int, flag boolean, v string"
        )
    )
    t.merge(spark.createDataFrame([(1, True, "A2")], "id int, flag boolean, v string"))
    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 2 and rows[1] == "A2"
    t.delete_keys(spark.createDataFrame([(2,)], "id int"))
    assert {r["id"] for r in t.read(spark).collect()} == {1}


def test_delete_keys_null_safe_and_partition_derived(spark, tmp_path):
    """delete_keys must match NULL keys null-safely (merge/append's
    contract) and, on a partitioned table, derive the touched
    partitions from the data without partition values in keys_df."""
    t = VersionedParquetTable(
        str(tmp_path / "dk"), key_cols=("id",), partition_by=("p",)
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", "x"), (None, "a", "nullrow"), (2, "b", "y")],
            "id int, p string, v string",
        )
    )
    t.delete_keys(spark.createDataFrame([(None,)], "id int"))
    assert {r["v"] for r in t.read(spark).collect()} == {"x", "y"}
    # partition-scoped: deleting id=2 must hard-link partition a
    import os as _os

    v1 = _os.path.join(t.path, t.current_version())
    ino = _inodes(v1)
    t.delete_keys(spark.createDataFrame([(2,)], "id int"))
    v2 = _os.path.join(t.path, t.current_version())
    after = _inodes(v2)
    a_files = [f for f in after if f.startswith("p=a")]
    assert a_files and all(ino.get(f) == after[f] for f in a_files), "partition a rewritten"
    assert {r["id"] for r in t.read(spark).collect()} == {1}


def test_concurrent_same_base_writers_never_share_a_dir(spark, tmp_path):
    """Two writers from the same base compute the same next-version
    name; the loser must fail loudly WITHOUT touching the winner's
    committed files (round-5 review: shared-dir overwrite)."""
    import pytest as _pytest

    from a2b_spark.storage.table import ConcurrentWriteError

    t = VersionedParquetTable(str(tmp_path / "cc"), key_cols=("id",))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, v string"))
    base = t.current_version()
    # writer A commits
    t.overwrite(
        spark.createDataFrame([(1, "A")], "id int, v string"), op="merge", base=base
    )
    winner = t.read(spark).collect()
    # writer B from the SAME base: must raise and leave A's data intact
    with _pytest.raises(ConcurrentWriteError):
        t.overwrite(
            spark.createDataFrame([(1, "B")], "id int, v string"), op="merge", base=base
        )
    assert t.read(spark).collect() == winner


def test_csv_schema_is_per_version(spark, tmp_path):
    """Schema evolution on a csv table must not retro-type older
    versions: time travel reads each version with ITS schema."""
    t = VersionedParquetTable(
        str(tmp_path / "cs"), key_cols=("id",), fmt="csv", retention=5
    )
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, v string"))
    v1 = t.current_version()
    t.overwrite(
        spark.createDataFrame([(1, "a", 9)], "id int, v string, extra int")
    )
    assert t.read(spark).columns == ["id", "v", "extra"]
    old = t.read(spark, version=v1)
    assert old.columns == ["id", "v"]
    assert old.schema["id"].dataType.simpleString() == "int"


def test_delete_all_rows_leaves_readable_empty_table(spark, tmp_path):
    """Deleting every row writes a version with ZERO data files (Spark
    emits nothing for an empty partitioned frame); the schema sidecar
    must keep the table readable — and mergeable again — instead of
    UNABLE_TO_INFER_SCHEMA (found by the op-sequence fuzz)."""
    for part in (None, ("p",)):
        t = VersionedParquetTable(
            str(tmp_path / f"empty_{bool(part)}"), key_cols=("id",), partition_by=part
        )
        t.overwrite(
            spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], "id int, p string, v string")
        )
        t.delete_keys(spark.createDataFrame([(1,), (2,)], "id int"))
        empty = t.read(spark)
        assert empty.count() == 0
        assert set(empty.columns) == {"id", "p", "v"}
        # the table comes back to life on the next merge (column order
        # varies: partitioned reads list partition columns last)
        t.merge(spark.createDataFrame([(3, "c", "z")], "id int, p string, v string"))
        assert [
            (r["id"], r["p"], r["v"]) for r in t.read(spark).collect()
        ] == [(3, "c", "z")]


# ------------------------------------------------------- version diff
def test_snapshot_diff_classifies_and_is_null_safe(spark):
    from a2b_spark.storage.diff import snapshot_diff

    before = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        "id int, s string, x double",
    )
    after = spark.createDataFrame(
        [
            (1, "a", 1.0),      # unchanged -> omitted
            (2, "b", None),     # unchanged incl. NULL==NULL -> omitted
            (3, "c", 3.5),      # value change -> update
            (5, "e", 5.0),      # new key -> insert
        ],
        "id int, s string, x double",
    )
    got = {r.id: r.change for r in snapshot_diff(before, after, ["id"]).collect()}
    assert got == {3: "update", 4: "delete", 5: "insert"}


def test_snapshot_diff_null_to_value_is_update(spark):
    from a2b_spark.storage.diff import snapshot_diff

    before = spark.createDataFrame([(1, None)], "id int, s string")
    after = spark.createDataFrame([(1, "x")], "id int, s string")
    got = snapshot_diff(before, after, ["id"]).collect()
    assert [(r.id, r.change) for r in got] == [(1, "update")]


def test_version_diff_defaults_to_last_two_versions(spark, tmp_path):
    from a2b_spark.storage.diff import version_diff

    t = VersionedParquetTable(str(tmp_path / "d"), key_cols=("id",))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    t.overwrite(v1)
    with pytest.raises(ValueError):
        version_diff(t, spark)  # only one version retained
    t.overwrite(spark.createDataFrame([(1, "a"), (3, "c")], "id int, s string"))
    got = {r.id: r.change for r in version_diff(t, spark).collect()}
    assert got == {2: "delete", 3: "insert"}
    # explicit compare_cols restricted to a constant column -> no update
    t.overwrite(spark.createDataFrame([(1, "z"), (3, "c")], "id int, s string"))
    assert version_diff(t, spark).count() == 1  # s changed for id 1
    assert (
        version_diff(t, spark, compare_cols=[]).count() == 0
    ), "empty compare set must see equal-key rows as unchanged"


def test_version_diff_oldest_v_to_raises(spark, tmp_path):
    from a2b_spark.storage.diff import version_diff

    t = VersionedParquetTable(str(tmp_path / "w"), key_cols=("id",))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    t.overwrite(spark.createDataFrame([(2, "b")], "id int, s string"))
    first = t.versions()[0]
    with pytest.raises(ValueError, match="oldest retained"):
        version_diff(t, spark, v_to=first)
    # explicit v_from works in any direction
    got = version_diff(t, spark, v_from=t.versions()[1], v_to=first).collect()
    assert {(r.id, r.change) for r in got} == {(1, "insert"), (2, "delete")}


def test_version_diff_null_keys_and_unretained_version(spark, tmp_path):
    """REGRESSION: the diff joined keys with plain equality, so an
    unchanged NULL-key row was mis-reported as delete+insert; an
    explicit unretained v_to raised a bare list.index error."""
    import pytest as _pytest

    from a2b_spark.storage.diff import snapshot_diff, version_diff
    from a2b_spark.storage.table import VersionedParquetTable

    before = spark.createDataFrame(
        [(None, 1.0), (1, 2.0), (2, 3.0)], "k int, x double"
    )
    # NULL key unchanged; k=1 updated; k=2 deleted; k=3 inserted
    after = spark.createDataFrame(
        [(None, 1.0), (1, 9.0), (3, 4.0)], "k int, x double"
    )
    got = {(r.k, r.change) for r in snapshot_diff(before, after, ["k"]).collect()}
    assert got == {(1, "update"), (2, "delete"), (3, "insert")}
    # NULL-key update is reported as an update, not delete+insert
    after2 = spark.createDataFrame([(None, 5.0)], "k int, x double")
    got2 = {(r.k, r.change) for r in
            snapshot_diff(before, after2, ["k"]).collect()}
    assert (None, "update") in got2 and (None, "delete") not in got2

    t = VersionedParquetTable(str(tmp_path / "vd"), key_cols=("k",))
    t.overwrite(before)
    t.overwrite(after)
    with _pytest.raises(ValueError, match="not retained"):
        version_diff(t, spark, v_to="v_0000000099")


def test_running_total_rejects_fractional_values(spark):
    """REGRESSION: float values were silently cast to long (a running
    balance of ±0.5s collapsed to zeros)."""
    import pytest as _pytest

    from a2b_spark.operators.prefix import running_total

    df = spark.createDataFrame([(1, 0.5), (2, 0.5)], "ts long, amount double")
    with _pytest.raises(ValueError, match="truncate"):
        running_total(df, "ts", "amount")
    ok = running_total(
        df.withColumn("cents", (F.col("amount") * 100).cast("long")), "ts", "cents"
    )
    assert [r.running for r in ok.orderBy("ts").collect()] == [50, 100]


def test_restore_rolls_back_content_schema_and_stats(spark, tmp_path):
    """RESTORE (Delta analogue): a retained version's content becomes
    the new current via hardlinks — undo without rewriting history.
    Content, schema evolution, and the _STATS sidecar all roll back;
    CDF sees the inverse diff as one ordinary commit."""
    import os

    from a2b_spark.storage.cdf import table_changes

    t = VersionedParquetTable(str(tmp_path / "r"), key_cols=("k",), retention=10)
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v1 = t.current_version()
    t.merge(spark.createDataFrame([(1, "A"), (3, "c", )], "k long, v string"))
    t.restore(v1)

    cur = t.read(spark)
    assert {(r.k, r.v) for r in cur.collect()} == {(1, "a"), (2, "b")}
    ops = [h["op"] for h in t.history()]
    assert ops[-1] == "restore" and len(ops) == 3
    # data files are hardlinks of the restored version's inodes
    vdir = os.path.join(t.path, t.current_version())
    links = [
        os.stat(os.path.join(vdir, f)).st_nlink
        for f in os.listdir(vdir)
        if not f.startswith(("_", "."))
    ]
    assert links and all(n > 1 for n in links)
    # CDF: the restore commit diffs as the inverse of what it undoes
    ch = {
        (r.k, r.change)
        for r in table_changes(
            t, spark, from_version=t.versions()[1]
        ).collect()
    }
    assert ch == {(1, "update"), (3, "delete")}
    # restoring the live version is a no-op
    n_before = len(t.versions())
    t.restore(t.current_version())
    assert len(t.versions()) == n_before
    with pytest.raises(ValueError, match="not retained"):
        t.restore("v_0000000099")

    # schema evolution rolls back with the data
    t.merge(spark.createDataFrame([(9, "z", 1.0)], "k long, v string, w double"))
    assert len(t.read(spark).columns) == 3
    t.restore(v1)
    assert t.read(spark).columns == ["k", "v"]

    # the restored version's stats sidecar still prunes (empty part
    # files have no min/max and are conservatively kept)
    kept, total = t.prune_files([("k", "=", 999)])
    assert total > 0 and len(kept) < total
    assert t.read_pruned(spark, [("k", "=", 999)]).count() == 0


def test_check_constraints_enforced_versioned_and_restorable(spark, tmp_path):
    """CHECK constraints (Delta ADD CONSTRAINT parity): existing data
    validated on add, every content commit enforced before anything
    becomes visible, NULL results pass (SQL CHECK), metadata commits
    are hardlinked and skipped by the appends stream, and constraints
    roll back with restore."""
    from a2b_spark.storage.table import ConstraintViolation

    t = VersionedParquetTable(str(tmp_path / "ck"), key_cols=("k",), retention=10)
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, None)], "k long, x double")
    )
    # NULL x passes CHECK (SQL semantics)
    t.add_constraint(spark, "x_positive", "x > 0")
    assert [c["name"] for c in t.constraints()] == ["x_positive"]
    assert t.history()[-1]["op"] == "add_constraint"
    pre_version = t.current_version_number()

    # violating merge: rejected BEFORE any version is committed
    with pytest.raises(ConstraintViolation, match="x_positive"):
        t.merge(spark.createDataFrame([(3, -5.0)], "k long, x double"))
    assert t.current_version_number() == pre_version
    # passing merge commits
    t.merge(spark.createDataFrame([(3, 5.0)], "k long, x double"))
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 3}

    # duplicate name / unknown drop raise
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint(spark, "x_positive", "x > 1")
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("nope")
    # adding a constraint the EXISTING data violates is rejected
    with pytest.raises(ConstraintViolation, match="existing row"):
        t.add_constraint(spark, "x_big", "x > 100")

    # restore to the pre-constraint version rolls enforcement back
    t.restore(t.versions()[0])
    assert t.constraints() == []
    t.merge(spark.createDataFrame([(9, -1.0)], "k long, x double"))  # now legal

    # re-add and drop
    t.delete_keys(spark.createDataFrame([(9,)], "k long"))
    t.add_constraint(spark, "x_positive", "x > 0")
    t.drop_constraint("x_positive")
    assert t.constraints() == []
    t.merge(spark.createDataFrame([(7, -2.0)], "k long, x double"))


def test_constraint_commits_skipped_by_appends_stream(spark, tmp_path):
    from a2b_spark.storage.cdf import _AppendsStreamReader

    t = VersionedParquetTable(
        str(tmp_path / "cs2"),
        key_cols=("k",),
        partition_by=("epoch",),
        partitions_derived_from_keys=True,
        retention=10,
    )
    t.append(spark.createDataFrame([(1, 0, 1.0)], "k long, epoch int, x double"))
    t.add_constraint(spark, "x_pos", "x > 0")
    t.append(spark.createDataFrame([(2, 1, 2.0)], "k long, epoch int, x double"))
    r = _AppendsStreamReader({"path": t.path})
    rows = []
    for p in r.partitions({"version": 0}, {"version": 3}):
        for b in r.read(p):
            rows.extend(b.to_pylist())
    got = {(d["k"], d["_commit_version"]) for d in rows}
    assert got == {(1, 1), (2, 3)}  # commit 2 (constraint) streams nothing


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """SHALLOW CLONE: the clone's v1 hardlinks the source's current
    data (no bytes copied), both sides diverge independently, and
    vacuuming the source past the cloned version cannot break the
    clone (inode refcounts keep shared bytes alive)."""
    import os

    src = VersionedParquetTable(str(tmp_path / "src"), key_cols=("k",), retention=2)
    src.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    src.add_constraint(spark, "k_pos", "k > 0")
    dst = src.clone(str(tmp_path / "dst"))

    assert {(r.k, r.v) for r in dst.read(spark).collect()} == {(1, "a"), (2, "b")}
    assert dst.history()[-1]["op"] == "clone"
    # constraints came along
    assert [c["name"] for c in dst.constraints()] == ["k_pos"]
    # data files share inodes with the source (zero copy)
    vdir = os.path.join(dst.path, dst.current_version())
    links = [
        os.stat(os.path.join(vdir, f)).st_nlink
        for f in os.listdir(vdir)
        if not f.startswith(("_", "."))
    ]
    assert links and all(n > 1 for n in links)

    # divergence: writes to the clone don't touch the source
    dst.merge(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert {r.k for r in src.read(spark).collect()} == {1, 2}
    # the clone enforces the cloned constraint
    from a2b_spark.storage.table import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        dst.merge(spark.createDataFrame([(-9, "x")], "k long, v string"))

    # vacuum the SOURCE past the shared version: clone still reads
    for i in range(4):
        src.merge(spark.createDataFrame([(10 + i, "z")], "k long, v string"))
    assert len(src.versions()) <= 2  # retention trimmed the clone base
    assert {r.k for r in dst.read(spark).collect()} == {1, 2, 3}

    # cloning onto an existing table refuses
    with pytest.raises(ValueError, match="already has commits"):
        src.clone(str(tmp_path / "dst"))


def test_constraint_enforcement_is_single_pass(spark, tmp_path):
    """The round-8 weak mark: CHECK enforcement must not re-compute a
    constrained write's plan. Violation counts ride an Observation on
    the staging write itself, so a constrained overwrite triggers
    EXACTLY as many Spark jobs as an unconstrained one — and N
    constraints are N aggregate columns in that same single pass, not
    N extra actions. A violating write still aborts pre-flip and
    leaves no staged .tmp dir behind."""
    import os

    from a2b_spark.storage.table import ConstraintViolation

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, x double")

    t0 = VersionedParquetTable(str(tmp_path / "np"), key_cols=("k",), retention=10)
    t0.overwrite(df)
    sc.setJobGroup("cons_probe_plain", "unconstrained overwrite")
    t0.overwrite(df)
    jobs_plain = len(tracker.getJobIdsForGroup("cons_probe_plain"))
    sc.setJobGroup("", "")

    t1 = VersionedParquetTable(str(tmp_path / "cp"), key_cols=("k",), retention=10)
    t1.overwrite(df)
    t1.add_constraint(spark, "x_pos", "x > 0")
    t1.add_constraint(spark, "k_pos", "k > 0")
    sc.setJobGroup("cons_probe_checked", "two-constraint overwrite")
    t1.overwrite(df)
    jobs_checked = len(tracker.getJobIdsForGroup("cons_probe_checked"))
    sc.setJobGroup("", "")

    assert jobs_plain > 0
    assert jobs_checked == jobs_plain

    # violating write: aborts before the flip, no staged orphan dir
    pre = t1.current_version()
    with pytest.raises(ConstraintViolation, match="x_pos"):
        t1.overwrite(spark.createDataFrame([(3, -1.0)], "k long, x double"))
    assert t1.current_version() == pre
    assert not [d for d in os.listdir(t1.path) if d.startswith(".tmp-")]

    # partitioned touched-commit path: same single-pass machinery
    t2 = VersionedParquetTable(
        str(tmp_path / "pp"),
        key_cols=("k",),
        partition_by=("p",),
        retention=10,
    )
    t2.overwrite(spark.createDataFrame([(1, 0, 1.0)], "k long, p int, x double"))
    t2.add_constraint(spark, "x_pos", "x > 0")
    pre2 = t2.current_version()
    with pytest.raises(ConstraintViolation, match="x_pos"):
        t2.merge(spark.createDataFrame([(2, 0, -9.0)], "k long, p int, x double"))
    assert t2.current_version() == pre2
    assert not [d for d in os.listdir(t2.path) if d.startswith(".tmp-")]
    t2.merge(spark.createDataFrame([(2, 0, 9.0)], "k long, p int, x double"))
    assert {r.k for r in t2.read(spark).collect()} == {1, 2}


def _mutating_batch(spark, counter_path, base_key=100):
    """A batch whose rows CHANGE on every evaluation (a file counter
    bumps per pass) — models sampled/rand/repartitionByRange lineage.
    One partition, so one evaluation = one bump."""

    def gen(it):
        import pandas as pd

        for _ in it:
            pass
        n = 0
        if os.path.exists(counter_path):
            with open(counter_path) as f:
                n = int(f.read())
        with open(counter_path, "w") as f:
            f.write(str(n + 1))
        yield pd.DataFrame({"k": [base_key + 10 * n], "v": [f"eval{n}"]})

    seed = spark.createDataFrame([(1,)], "x int").repartition(1)
    return seed.mapInPandas(gen, "k long, v string")


def test_merge_pins_nondeterministic_batch(spark, tmp_path):
    """REGRESSION (round-10 advice): merge consults the batch from up
    to 4 independent actions (prune collects, data write, CDF write).
    Un-pinned, a non-deterministic batch could prune files by key set
    A, commit data for set B, and record change rows for set C — the
    eager localCheckpoint at the top of merge() must make every
    action see ONE evaluation."""
    counter = str(tmp_path / "evals")
    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("k",), retention=10)
    t.overwrite(
        spark.createDataFrame([(i, "base") for i in range(8)], "k long, v string")
    )
    t.enable_cdf()
    t.merge(_mutating_batch(spark, counter))
    with open(counter) as f:
        assert int(f.read()) == 1  # evaluated exactly once
    rows = {(r.k, r.v) for r in t.read(spark).collect()}
    assert (100, "eval0") in rows and len(rows) == 9
    from a2b_spark.storage.table import CDF_DIR

    cdf_dir = os.path.join(t.path, t.current_version(), CDF_DIR)
    got = {(r.k, r.change) for r in spark.read.parquet(cdf_dir).collect()}
    assert got == {(100, "insert")}  # change rows match the data commit


def test_append_pins_nondeterministic_batch(spark, tmp_path):
    """Same divergence class for append: the duplicate-key guard, the
    CDF change rows and the data write must all see one evaluation."""
    counter = str(tmp_path / "evals")
    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("k",), retention=10)
    t.overwrite(spark.createDataFrame([(1, "base")], "k long, v string"))
    t.enable_cdf()
    t.append(_mutating_batch(spark, counter, base_key=200))
    with open(counter) as f:
        assert int(f.read()) == 1
    rows = {(r.k, r.v) for r in t.read(spark).collect()}
    assert rows == {(1, "base"), (200, "eval0")}
    from a2b_spark.storage.table import CDF_DIR

    cdf_dir = os.path.join(t.path, t.current_version(), CDF_DIR)
    got = {(r.k, r.v) for r in spark.read.parquet(cdf_dir).collect()}
    assert got == {(200, "eval0")}


def _backdate(t, version, hours):
    """Rewrite a version's _COMMIT_INFO timestamp `hours` into the past."""
    import datetime as dt
    import json as _json

    from a2b_spark.storage.table import COMMIT_INFO

    p = os.path.join(t.path, version, COMMIT_INFO)
    with open(p) as f:
        info = _json.loads(f.read())
    info["ts"] = (
        dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=hours)
    ).isoformat()
    with open(p, "w") as f:
        f.write(_json.dumps(info))


def test_vacuum_older_than_time_based_retention(spark, tmp_path):
    """vacuum(older_than=...) trims by COMMIT TIMESTAMP: fresh history
    survives regardless of count, backdated versions go, keep= is the
    floor, and the live version is untouchable."""
    import datetime as dt

    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("k",), retention=20)
    t.overwrite(spark.createDataFrame([(0, "a")], "k long, v string"))
    for i in range(1, 6):
        t.merge(spark.createDataFrame([(i, "x")], "k long, v string"))
    assert len(t.versions()) == 6
    # everything is fresh: a pure time-based vacuum keeps all of it
    t.vacuum(older_than=dt.timedelta(hours=1))
    assert len(t.versions()) == 6
    # backdate the first three commits past the cutoff
    for v in t.versions()[:3]:
        _backdate(t, v, hours=2)
    t.vacuum(older_than=dt.timedelta(hours=1))
    assert len(t.versions()) == 3  # exactly the backdated ones trimmed
    # keep= floors time-based trimming
    for v in t.versions():
        _backdate(t, v, hours=2)
    t.vacuum(keep=2, older_than=dt.timedelta(hours=1))
    assert len(t.versions()) == 2
    # older_than=0 with the default keep floor of 1: live version only
    t.vacuum(older_than=0)
    assert t.versions() == [t.current_version()]
    assert {r.k for r in t.read(spark).collect()} == set(range(6))


def test_vacuum_older_than_covers_cdc_lag(spark, tmp_path):
    """The examples/lakehouse_cdc.py hazard: count-based retention
    vacuums commits a LAGGING CDC consumer has not read. Sized as
    'older than the consumer's longest downtime', time-based retention
    keeps every commit inside the lag window no matter how many land —
    the whole history stays streamable."""
    import datetime as dt

    from a2b_spark.storage.cdf import table_changes

    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("k",), retention=50)
    t.overwrite(spark.createDataFrame([(0, "a")], "k long, v string"))
    t.enable_cdf()
    for i in range(1, 8):  # a burst of 7 commits while the consumer is down
        t.merge(spark.createDataFrame([(i, "x")], "k long, v string"))
    t.vacuum(older_than=dt.timedelta(hours=1))
    # nothing trimmed: the lag window covers the burst, so a consumer
    # restarting from scratch still reads the full history
    assert t.earliest_streamable_version() == 0
    changes = table_changes(t, spark)
    assert changes.count() == 7  # every post-enablement commit intact
    # once the burst AGES past the window it may go; the stream floor
    # moves accordingly and the retained suffix stays readable
    for v in t.versions()[:4]:
        _backdate(t, v, hours=3)
    t.vacuum(older_than=dt.timedelta(hours=1))
    lo = t.earliest_streamable_version()
    assert lo > 0
    suffix = table_changes(
        t, spark, from_version=f"v_{lo:010d}"
    )
    assert suffix.count() == len(t.versions()) - 1


def test_vacuum_older_than_never_punches_holes(spark, tmp_path):
    """Non-monotone commit timestamps (clock step, unreadable
    _COMMIT_INFO falling back to a fresh mtime) must never produce a
    GAP in retained history — time-based vacuum trims only the
    contiguous oldest prefix, because a hole wedges every stream and
    table_changes range crossing it."""
    import datetime as dt

    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("k",), retention=20)
    t.overwrite(spark.createDataFrame([(0, "a")], "k long, v string"))
    for i in range(1, 5):
        t.merge(spark.createDataFrame([(i, "x")], "k long, v string"))
    vs = t.versions()
    # v1 and v3 look old, v2 looks FRESH (clock stepped back between)
    _backdate(t, vs[0], hours=3)
    _backdate(t, vs[2], hours=3)
    t.vacuum(older_than=dt.timedelta(hours=1))
    # only the contiguous old prefix (v1) goes; v3 survives because
    # trimming it would orphan the fresh v2 behind it... (v2 fresh
    # stops the scan before v3)
    assert t.versions() == vs[1:]
    nums = [int(v.split("_")[1]) for v in t.versions()]
    assert nums == list(range(nums[0], nums[0] + len(nums)))  # contiguous


def test_fully_deleted_read_plans_joins_away(spark, tmp_path):
    """A fully deleted (partitioned: Spark writes no file for an empty
    frame) version reads as a planner-visible empty frame: a join
    against it is removed at plan time, not shuffled."""
    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("id",), partition_by=("p",))
    rows = [(i, f"p{i % 2}", f"v{i}") for i in range(6)]
    t.overwrite(spark.createDataFrame(rows, "id int, p string, v string"))
    t.delete_keys(spark.createDataFrame([(i,) for i in range(6)], "id int"))
    gone = t.read(spark)
    assert gone.count() == 0
    src = spark.range(10).select(F.col("id").cast("int").alias("id"))
    joined = src.join(gone, on="id", how="left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert joined.filter(F.col("v").isNotNull()).count() == 0
