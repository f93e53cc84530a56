"""Versioned Parquet table: MVCC-style snapshot isolation + atomic
commits on plain Parquet — a minimal stand-in for Delta/Iceberg.

Why: Spark reads lazily. A merge whose plan still references the
current table contents must not delete those files mid-job, and the
orphan anti-diff (executor C6) compares against the *pre-run* snapshot
after the destination has already been rewritten. Swapping files in
place (first attempt) breaks both. Versioning fixes it the same way
real table formats do:

    path/
      _CURRENT            ← text file naming the live version (atomic os.replace)
      v_0000000001/…parquet
      v_0000000002/…parquet

- Readers resolve ``_CURRENT`` once; the version dir they hold is
  immutable, so in-flight plans never lose files.
- Writers produce a whole new version dir, then flip ``_CURRENT``
  atomically. Concurrent readers see old-or-new, never a mix —
  the same all-or-nothing guarantee the reference gets from its
  tempfile+copy flush (CsvDestinationDriver.php:198-203).
- Every write commits through ONE primitive, ``_commit_version``: a
  new version is linked files + new files + deletion vector +
  sidecars. Overwrite links nothing; partitioned merges, appends and
  deletes rewrite ONLY touched partitions and hard-link the other
  partitions' files (metadata-only copy, the local-FS analogue of
  Iceberg manifest reuse; O(touched data + total file count), not
  O(table)); pruned merges and deletes link at file granularity;
  restore, clone and the metadata commits link every file and write
  none.
- Keyed merges and deletes on an unpartitioned parquet/ORC table with
  ``deletion_vectors`` commit MERGE-ON-READ: the batch is written as
  new files, every base data file is hard-linked, and each matched old
  row is tombstoned by a file-scoped ``(data file name, key)`` entry in
  the version's deletion vector (see ``DV_DIR``). Reads anti-join the
  vector on ``_metadata.file_name`` + key. A write then costs
  O(changed rows), even when the ``_STATS`` key bands of hashed ids
  cannot prune any file. A file whose tombstoned share passes
  ``DV_FOLD_FRACTION`` is folded: its live rows ride the next merge's
  new files and the file is dropped. ``purge_deleted`` rewrites just
  the files the vector names, partitioned or not.
- ``vacuum`` trims old versions (default retention 3) at commit time.

On a real cluster this module is the seam where Delta/Iceberg slots
in; every caller goes through read()/merge()/overwrite()/delete_keys().
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a2b_spark.storage.merge import merge_dataframes

CURRENT = "_CURRENT"
SCHEMA = "_SCHEMA"
COMMIT_INFO = "_COMMIT_INFO"
CONSTRAINTS = "_CONSTRAINTS"
# column names dropped by drop_columns() whose PHYSICAL data may still
# live in hardlinked files of this version — re-introducing such a name
# must force a full rewrite or the stale physical values would resurface
DROPPED = "_DROPPED"
# CDF (change data feed) versioned property marker + per-commit change
# files (Delta's delta.enableChangeDataFeed design: changes are WRITTEN
# at commit time so streams read files instead of re-deriving diffs)
CDF_ENABLED = "_CDF_ENABLED"
CDF_DIR = "_cdf"
# DELETION VECTORS (Delta DV / Iceberg position-delete analogue,
# file-scoped): a version's ``_dv/`` holds parquet DELTA files, one per
# commit that tombstoned rows, each listing ``(DV_FILE, *key_cols)``
# entries: "the row with this key in the data file with this name is
# deleted". Every read anti-joins the union (broadcast: the entry count
# is capped) on ``_metadata.file_name`` + key, so a tombstone hides
# exactly one physical row and never a newer row of the same key in
# another file. A commit carries the base's deltas by HARDLINK and drops
# the entries of data files it no longer links (a delta that loses some
# entries is rewritten filtered), so vector bytes per commit are
# O(new tombstones). Any full rewrite (overwrite/compact/unpartitioned
# append) physically purges and clears the vector.
DV_DIR = "_dv"
DV_FILE = "_dv_file"  # the data-file-name column of a vector entry
_DV_HASH = "_dv_hash"  # transient join key of the read-side anti join
DV_MAX_KEYS = 1 << 16  # broadcast guard: beyond this, rewrite instead
# fold rule of the merge-on-read merge: a data file whose tombstoned
# share of rows passes this fraction is rewritten (its live rows join
# the merge's new files) instead of hard-linked, and its entries leave
# the vector. A fully tombstoned file is simply dropped.
DV_FOLD_FRACTION = 0.5
# Per-commit list of the data files THIS commit freshly wrote (JSON,
# relative paths) — recorded before any hardlink step, so it is
# exactly the new bytes. The appends-stream planner reads it instead
# of diffing two full per-version file maps: a C-commit drain then
# costs O(total new files), not O(C²) sidecar entries (version n's
# _STATS lists all n files of history).
ADDED = "_ADDED"
# ops whose commits change layout/metadata but no row content
LAYOUT_ONLY_OPS = {
    "compact",
    "purge",  # deletion-vector purge: identical row content
    "add_constraint",
    "drop_constraint",
    "drop_columns",
    "widen_column",
    "enable_cdf",
    "disable_cdf",
}

# Delta-style TYPE WIDENING pairs whose parquet files Spark 4 reads
# directly under the wider schema (vectorized-reader upcast) — the
# widen commit can therefore be metadata-only, zero files rewritten
_WIDEN_OK = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}

# df.dtypes speaks simpleString names ('tinyint'/'smallint'/'int'/
# 'bigint') — NOT the type-class names ('byte'/'short'/'integer'/'long')


class ConstraintViolation(ValueError):
    """A write batch (or, for add_constraint, the existing table)
    contains rows that fail a CHECK constraint."""


_UNSET_BASE = object()


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this write's snapshot and its
    commit flip. The write is abandoned (its version dir is left as an
    uncommitted orphan for vacuum); retry re-reads the new current."""

# per-format reader/writer options (CSV mirrors the reference's
# header-row convention, CsvSourceDriver.php:39-72). Text formats write
# timestamps to the microsecond (Spark's default keeps milliseconds, so
# a table would not read back what it was given); the fraction is
# optional, so tables written with the default still parse.
_TEXT_TIMESTAMPS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]",
}
_FORMAT_OPTIONS: dict[str, dict[str, str]] = {
    "parquet": {},
    "orc": {},  # columnar alternative; schema-carrying like parquet
    "csv": {"header": "true", **_TEXT_TIMESTAMPS},
    "json": dict(_TEXT_TIMESTAMPS),
}


@contextlib.contextmanager
def _stats_friendly_timestamps(spark: SparkSession):
    """Spark's default parquet timestamp encoding is INT96, which
    carries NO footer min/max statistics — it blinds the ``_STATS``
    file-skipping layer to every timestamp predicate. TIMESTAMP_MICROS
    is stats-capable and read identically by Spark/DuckDB/pyarrow. Set
    transiently around table writes (the driver harness builds its own
    session, so the table must not depend on caller conf), restore
    after."""
    key = "spark.sql.parquet.outputTimestampType"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """A typed empty frame the optimizer can see is empty: ``limit(0)``
    folds to an empty local relation, so a join against it is planned
    away instead of shuffling an opaque empty RDD."""
    return spark.createDataFrame([], schema).limit(0)


class VersionedParquetTable:
    """Versioned keyed table; ``fmt`` selects the file format. Parquet
    is the scale path; csv/json exist for reference-parity sinks
    (CsvDestinationDriver) and interchange. Non-parquet formats persist
    their schema (``_SCHEMA``) at write time and re-apply it on read —
    type-stable round trips without inference drift."""

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        partition_by: Sequence[str] | None = None,
        retention: int = 3,
        fmt: str = "parquet",
        partitions_derived_from_keys: bool = False,
        deletion_vectors: bool = False,
    ):
        """``partitions_derived_from_keys``: caller's promise that every
        partition column is a PURE FUNCTION of the key columns (e.g. a
        hash bucket of the key). Then a key can never move between
        partitions, and merge may skip the current-table key-location
        scan that otherwise guards against stale-row duplication —
        restoring strictly O(touched) merges for bucket-partitioned
        stores (streaming history tables).

        ``deletion_vectors``: WRITE-side opt-in (Delta DV analogue) on
        a parquet or ORC table. Small deletes (partitioned or not) and
        keyed merges into an unpartitioned table commit merge-on-read:
        data files hardlink, matched rows are tombstoned in the
        file-scoped vector (see the ``DV_DIR`` note), and a merge writes
        only its batch. Partitioned commits carry the vector; a key
        merged or appended back after its delete lands in a new file,
        which its old entry never names, so it surfaces exactly once;
        ``purge_deleted`` rewrites only the files that hold tombstoned
        bytes. Read-side application
        is unconditional: any handle reading a version that carries a
        ``_dv/`` vector applies it, flag or not — correctness lives in
        the data, not the handle."""
        if fmt not in _FORMAT_OPTIONS:
            raise ValueError(f"unsupported table format {fmt!r}")
        self.path = path
        self.key_cols = tuple(key_cols)
        self.partition_by = tuple(partition_by) if partition_by else None
        self.retention = retention
        self.fmt = fmt
        self.partitions_derived_from_keys = partitions_derived_from_keys
        self.deletion_vectors = deletion_vectors

    # ------------------------------------------------------------- reads
    @staticmethod
    def _parse_version_number(name: str) -> int:
        """``v_{n:010d}`` → n. The ONLY place the version-name format
        is interpreted — ``current_version_number`` (which streaming
        epoch counters build on) and ``_next_version`` must never
        parse it independently, or a format change desyncs them."""
        return int(name.split("_")[1])

    def current_version(self) -> Optional[str]:
        marker = os.path.join(self.path, CURRENT)
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            name = f.read().strip()
        return name or None

    def exists(self) -> bool:
        return self.current_version() is not None

    def current_version_number(self) -> Optional[int]:
        """The committed version as a MONOTONE integer (None before the
        first commit). Unlike ``len(versions())`` this never plateaus
        under retention vacuuming, so it is safe to derive epoch-style
        counters from; it also keeps the version-name format private
        to this module."""
        v = self.current_version()
        return None if v is None else self._parse_version_number(v)

    def versions(self) -> list[str]:
        """Retained COMMITTED version names, oldest → newest. Every
        committed write is one entry until ``vacuum`` trims history —
        the retention window bounds how far ``read(version=...)`` time
        travel reaches (the same contract as Delta/Iceberg retention).

        Only dirs ≤ the ``_CURRENT`` marker count: a writer mid-commit
        (or one that crashed before the marker flip) leaves a
        newer-named dir that is NOT readable history — listing it
        would let time travel read a half-written version."""
        cur = self.current_version()
        if cur is None or not os.path.isdir(self.path):
            return []
        return sorted(
            d for d in os.listdir(self.path) if d.startswith("v_") and d <= cur
        )

    def earliest_streamable_version(self) -> int:
        """Oldest starting OFFSET a brand-new CDF stream can begin
        from without hitting a vacuumed gap — the operational question
        both stream consumers otherwise answer only by raising. Valid
        as the appends source's ``startingversion`` option and as
        ``TableChangesStream``'s ``start_version``.

        A stream starting at offset ``k`` delivers commits
        ``k+1 .. current``; each needs its own version dir retained
        AND its predecessor's (the diff base / hardlink-identity
        source) — except version 1, which diffs against the empty
        table by construction. So on a table whose oldest retained
        commit is ``r``, the answer is ``0`` when ``r <= 1`` (full
        history retained) and ``r`` otherwise.

        Retention/checkpoint contract: ``vacuum`` keeps the last
        ``retention`` commits, so a live stream's stored offset must
        never fall more than ``retention - 1`` commits behind the
        writer — size ``retention`` to cover the consumer's longest
        expected downtime, or restart from a fresh checkpoint at this
        offset (accepting that the vacuumed prefix is re-delivered as
        part of no diff at all — it is simply absent)."""
        nums = sorted(self._parse_version_number(v) for v in self.versions())
        if not nums:
            return 0
        # vacuum trims oldest-first so the retained set is contiguous,
        # but a hand-pruned dir could leave an interior gap: the
        # earliest safe start is then the first version AFTER the
        # last gap (its predecessor must be retained too).
        lo = nums[0]
        for a, b in zip(nums, nums[1:]):
            if b != a + 1:
                lo = b
        return 0 if lo <= 1 else lo

    @staticmethod
    def _has_data_files(vdir: str) -> bool:
        """True when the version dir holds any DATA file — ``_``/``.``
        prefixed files AND directories (``_cdf``) are metadata."""
        from a2b_spark.storage.stats import keep_data_dir

        for root, dirs, files in os.walk(vdir):
            dirs[:] = [d for d in dirs if keep_data_dir(d)]
            if any(not fn.startswith(("_", ".")) for fn in files):
                return True
        return False

    def _version_schema(self, v: str):
        """The version's authoritative schema from its ``_SCHEMA``
        sidecar (table-root sidecar as pre-round-5 back-compat), or
        None when neither exists. THE one place sidecar schema
        resolution lives — read(), read_pruned() and the empty-table
        branch all go through it."""
        import json as _json

        from pyspark.sql import types as T

        for schema_file in (
            os.path.join(self.path, v, SCHEMA),
            os.path.join(self.path, SCHEMA),
        ):
            if os.path.exists(schema_file):
                with open(schema_file) as f:
                    return T.StructType.fromJson(_json.loads(f.read()))
        return None

    def read(self, spark: SparkSession, version: Optional[str] = None) -> Optional[DataFrame]:
        """Read the live version, or a retained historical one (time
        travel) when ``version`` names an entry of ``versions()``."""
        df = self._read_nodv(spark, version)
        if df is None:
            return None
        v = version or self.current_version()
        return self._apply_dv(spark, df, os.path.join(self.path, v))

    def _read_nodv(
        self, spark: SparkSession, version: Optional[str] = None
    ) -> Optional[DataFrame]:
        """:meth:`read` WITHOUT the deletion-vector anti join — the
        PHYSICAL rows, tombstoned ones included: what is on disk, which
        the filtered read by definition cannot show."""
        v = version or self.current_version()
        if v is None:
            return None
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version!r} not retained at {self.path}; "
                f"available: {self.versions()}"
            )
        vdir = os.path.join(self.path, v)
        if not self._has_data_files(vdir):
            # a fully-deleted table: Spark writes NO data files for an
            # empty (especially partitioned) frame, so the version is
            # readable only through its schema sidecar
            schema = self._version_schema(v)
            if schema is not None:
                return empty_frame(spark, schema)
        reader = spark.read.format(self.fmt).options(**_FORMAT_OPTIONS[self.fmt])
        # The per-version sidecar is the AUTHORITATIVE schema of that
        # version — applied for every format, parquet included (the
        # Delta model: schema from the log, not the footers). This is
        # what makes ADD-COLUMN schema evolution work: a version whose
        # untouched partitions hard-link pre-evolution files reads
        # them with the widened schema (missing columns null-fill),
        # instead of taking whichever file's footer Spark samples
        # first. A parquet version with no sidecar at all falls back
        # to footer inference.
        schema = self._version_schema(v)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(vdir)

    # -------------------------------------------------- deletion vectors
    def _dv_deltas(self, vdir: str) -> list[str]:
        """Absolute paths of the version's vector delta files (see the
        ``DV_DIR`` note), sorted; empty when it carries no vector."""
        d = os.path.join(vdir, DV_DIR)
        if not self.key_cols or not os.path.isdir(d):
            return []
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def _file_id_col(self):
        """The identity a vector entry gives the data file of a scanned
        row: its file name, under its ``col=value/`` partition path on a
        partitioned table (Spark names the files of one write alike in
        every partition). Values are Spark's cast('string'), the dialect
        ``_leaf_partitions`` and ``_partition_filter`` speak."""
        name = F.col("_metadata.file_name")
        if not self.partition_by:
            return name
        return F.concat_ws(
            "/",
            *[
                F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                for c in self.partition_by
            ],
            name,
        )

    def _file_ids(self, vdir: str) -> dict[str, str]:
        """Relative data-file path → its identity in vector entries
        (see :meth:`_file_id_col`), for every data file of ``vdir``."""
        from a2b_spark.storage import stats as _stats

        if not self.partition_by:
            return {r: os.path.basename(r) for r in _stats._data_files(vdir)}
        out = {}
        for leaf, values in _leaf_partitions(vdir, len(self.partition_by)):
            prefix = "/".join(
                f"{c}={v}" for c, v in zip(self.partition_by, values)
            )
            for fn in os.listdir(leaf):
                if not fn.startswith(("_", ".")):
                    out[os.path.relpath(os.path.join(leaf, fn), vdir)] = (
                        f"{prefix}/{fn}"
                    )
        return out

    def _dv_df(self, spark: SparkSession, version: str) -> Optional[DataFrame]:
        """The version's deletion vector as ``(DV_FILE, *key_cols)``
        rows (None when it carries none), read under the version's
        CURRENT key types so entries written before a type widening
        still match. The explicit schema comes from the ``_SCHEMA``
        sidecar, which skips Spark's schema-inference job; a version
        without a sidecar falls back to inference."""
        deltas = self._dv_deltas(os.path.join(self.path, version))
        if not deltas:
            return None
        from pyspark.sql import types as T

        reader = spark.read
        schema = self._version_schema(version)
        if schema is not None:
            reader = reader.schema(
                T.StructType(
                    [T.StructField(DV_FILE, T.StringType())]
                    + [schema[k] for k in self.key_cols]
                )
            )
        return reader.parquet(*deltas)

    def _dv_file_counts(self, vdir: str) -> dict[str, int]:
        """Tombstoned rows per data-file identity in the version's vector —
        a driver-side read of the deltas' file column (the vector is
        capped at DV_MAX_KEYS entries)."""
        import pyarrow.parquet as _pq
        from collections import Counter

        counts: Counter = Counter()
        for p in self._dv_deltas(vdir):
            counts.update(_pq.read_table(p, columns=[DV_FILE]).column(0).to_pylist())
        return dict(counts)

    def _apply_dv(
        self,
        spark: SparkSession,
        df: DataFrame,
        vdir: str,
        keep_file: bool = False,
    ) -> DataFrame:
        """Anti-join the version's deletion vector onto a data SCAN of
        that version, on the scan's file identity + key — a
        BROADCAST anti join (the vector is capped at DV_MAX_KEYS), so
        applying it costs one map-side pass, never a shuffle.
        ``keep_file``: keep the data-file identity as a ``DV_FILE``
        column, which the merge-on-read paths turn into new vector
        entries."""
        dv = self._dv_df(spark, os.path.basename(vdir))
        if keep_file or dv is not None:
            df = df.withColumn(DV_FILE, self._file_id_col())
        if dv is None:
            return df
        # the join key is ONE 64-bit hash of the entry, so Spark builds a
        # long-keyed hash relation (a multi-column key would allocate a
        # memory page per broadcast — tens of MB of heap churn per
        # read); the exact, NULL-safe entry match is the join condition
        # (a struct comparison, not an equality Spark would turn into
        # another hash key), so a hash collision never hides a row
        cols = (DV_FILE, *self.key_cols)

        def entry(side: str):
            return F.struct(
                *[F.col(f"{side}.{c}").alias(f"c{i}") for i, c in enumerate(cols)]
            )

        out = (
            df.withColumn(_DV_HASH, F.xxhash64(*cols)).alias("__data")
            .join(
                F.broadcast(
                    dv.withColumn(_DV_HASH, F.xxhash64(*cols)).alias("__dv")
                ),
                (F.col(f"__data.{_DV_HASH}") == F.col(f"__dv.{_DV_HASH}"))
                & F.array_contains(F.array(entry("__dv")), entry("__data")),
                "left_anti",
            )
            .drop(_DV_HASH)
        )
        return out if keep_file else out.drop(DV_FILE)

    # ----------------------------------------------------- file skipping
    def _write_stats_sidecar(self, tmp_target: str, src_dir: Optional[str]) -> None:
        """Per-file min/max statistics (``_STATS``), parquet and ORC —
        written into the staging dir so it commits atomically with the
        data. Files hard-linked from ``src_dir`` reuse its entries by
        inode. New files pay a driver-side
        footer-only read: parquet via pyarrow, ORC via the JVM ORC
        reader (``stats.collect_orc_footer_stats`` — zero Spark jobs;
        the round-13 per-commit distributed harvest cost one job per
        commit, which doubled the ORC walk queries). Very large ORC
        commits (> MAX_FOOTER_HARVEST_FILES new files) or any footer
        surprise fall back to the one distributed aggregation
        (``stats.collect_file_stats_spark``). An ORC commit with no
        active SparkSession simply skips the sidecar: every reader
        treats a stats-less version as never-prunable."""
        if self.fmt not in ("parquet", "orc"):
            return
        from a2b_spark.storage import stats as _stats

        collector = None
        if self.fmt != "parquet":
            spark = SparkSession.getActiveSession()
            if spark is None:
                return
            fmt = self.fmt

            def collector(vdir, rels, _spark=spark, _fmt=fmt):
                if _fmt == "orc":
                    got = _stats.collect_orc_footer_stats(_spark, vdir, rels)
                    if got is not None:
                        return got
                return _stats.collect_file_stats_spark(_spark, vdir, rels, _fmt)

        src_stats = _stats.load_stats(src_dir) if src_dir else None
        _stats.write_stats(
            tmp_target,
            _stats.build_version_stats(
                tmp_target, src_dir, src_stats, batch_collector=collector
            ),
        )

    def prune_files(
        self, predicates, version: Optional[str] = None
    ) -> tuple[list[str], int]:
        """Driver-side file skipping: data files of ``version`` whose
        stats may satisfy the conjunctive ``predicates`` (list of
        (col, op, value); op in =, <, <=, >, >=, between — between
        takes a (lo, hi) tuple). Returns (kept absolute paths, total
        file count). Files without usable stats are always kept;
        partition columns are not in file stats (Spark prunes them
        from the directory layout during the pruned read)."""
        from a2b_spark.storage import stats as _stats

        v = version or self.current_version()
        if v is None:
            return [], 0
        preds = _stats.normalize_predicates(predicates)
        vdir = os.path.join(self.path, v)
        s = _stats.load_stats_arrow(vdir)
        all_files = _stats._data_files(vdir)
        if s is None:  # pre-stats version: nothing can be skipped
            return [os.path.join(vdir, f) for f in all_files], len(all_files)
        # vectorized pyarrow.compute prune over the whole sidecar at
        # once: planning stays sub-second at 10⁵+ file entries, and
        # only the KEPT paths materialize as Python strings. A file
        # missing from the sidecar is always kept.
        kept = [
            os.path.join(vdir, f)
            for f in _stats.keep_files(s, all_files, preds)
        ]
        return kept, len(all_files)

    def read_pruned(
        self, spark: SparkSession, predicates, version: Optional[str] = None
    ) -> Optional[DataFrame]:
        """``read`` + file skipping: scan only the files whose stats
        may satisfy ``predicates``, then apply the SAME predicates as a
        real filter — exact results whether or not any file has stats,
        with the scan bounded by the driver-side prune (the
        data-skipping contract of Delta/Iceberg readers). Parquet and
        ORC; other formats fall back to a filtered full read."""
        from a2b_spark.storage import stats as _stats

        v = version or self.current_version()
        if v is None:
            return None
        preds = _stats.normalize_predicates(predicates)
        cond = _stats.predicates_to_column(preds)
        if self.fmt not in ("parquet", "orc"):
            full = self.read(spark, version=v)
            return None if full is None else full.filter(cond)
        # the filter evaluates timestamp literals in the SESSION
        # timezone while the sidecar stores naive UTC — re-express the
        # pruning literals so a non-UTC session can never skip a file
        # the filter would match. Schema from the sidecar (two stat
        # calls), NOT a full read(): a DataFrameReader.load here would
        # list the whole version dir before pruning even starts,
        # negating the sub-second planning win at 10^5 files.
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
        sidecar_schema = self._version_schema(v)
        schema = sidecar_schema
        if schema is None:
            schema = self.read(spark, version=v).schema
        stat_preds = _stats.localize_ts_predicates(preds, schema, tz)
        kept, _total = self.prune_files(stat_preds, version=v)
        if not kept:
            base = self.read(spark, version=v)
            return None if base is None else base.filter(F.lit(False)).filter(cond)
        vdir = os.path.join(self.path, v)
        reader = (
            spark.read.format(self.fmt)
            .options(**_FORMAT_OPTIONS[self.fmt])
            .option("basePath", vdir)  # keep partition columns
        )
        # the version's sidecar schema (resolved once above), like
        # read(): kept files from before an add-column evolution
        # null-fill the new column instead of steering footer inference
        if sidecar_schema is not None:
            reader = reader.schema(sidecar_schema)
        # the vector anti-joins the SCAN (it keys on the scan's file
        # names); the filter still pushes down below the join
        return self._apply_dv(spark, reader.load(kept), vdir).filter(cond)

    # ------------------------------------------------------------ writes
    def _next_version(self) -> str:
        v = self.current_version()
        n = self._parse_version_number(v) + 1 if v else 1
        return f"v_{n:010d}"

    def _commit(self, version: str, base=_UNSET_BASE) -> None:
        """Flip ``_CURRENT`` to ``version``. ``base`` is the version
        this write DERIVED from (None for a fresh table): optimistic
        concurrency a la Delta — if another writer committed since,
        flipping would silently discard their rows, so raise instead
        and leave this write's dir as an uncommitted orphan (vacuum
        removes it). Detection, not prevention: a tiny TOCTOU window
        between the check and the rename remains — same-table writers
        should still be serialized (the pipeline runner serializes
        migrations sharing a mapping table); this check turns a silent
        lost update into a loud error."""
        os.makedirs(self.path, exist_ok=True)
        if base is not _UNSET_BASE:
            now = self.current_version()
            if now != base:
                raise ConcurrentWriteError(
                    f"{self.path}: base version {base!r} superseded by "
                    f"{now!r} during the write; retry against the new "
                    "current version"
                )
        tmp = os.path.join(self.path, f".{CURRENT}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, os.path.join(self.path, CURRENT))  # atomic flip
        self.vacuum()

    def _reject_null_partitions(self, df: DataFrame) -> DataFrame:
        """NULL partition values would land in Hive's
        ``__HIVE_DEFAULT_PARTITION__`` directory, which the touched-set
        string comparison can never match — a later partition-aware
        merge/delete/compact would then hard-link the stale copy of
        that partition NEXT TO its rewrite (duplicate rows) or drop it
        (lost rows). Reject at write time, inside the write itself
        (JVM raise_error in the partition column — no extra pass)."""
        for c in self.partition_by:
            dtype = df.schema[c].dataType.simpleString()
            df = df.withColumn(
                c,
                F.when(
                    F.col(c).isNull(),
                    F.raise_error(
                        F.lit(
                            f"null partition value in {c!r}: the hardlink-"
                            "reuse layout requires non-null partition columns"
                        )
                    ).cast(dtype),
                ).otherwise(F.col(c)),
            )
        return df

    def _claim_version_dir(self, tmp_target: str, version: str) -> str:
        """Atomically claim ``version``'s directory by renaming the
        uniquely-named staging dir into place. Two same-base writers
        compute the SAME next-version name; writing it directly would
        let the loser overwrite the winner's already-committed files
        mid-read. rename() onto an existing non-empty dir fails, so
        exactly one writer claims the name; the loser cleans up and
        raises before touching anything committed."""
        target = os.path.join(self.path, version)
        try:
            os.rename(tmp_target, target)
        except OSError as exc:
            shutil.rmtree(tmp_target, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{self.path}: version dir {version!r} already claimed by "
                "a concurrent writer; retry against the new current version"
            ) from exc
        return target

    def _commit_info(self, op: str) -> str:
        import datetime
        import json as _json

        return _json.dumps(
            {"op": op, "ts": datetime.datetime.now(datetime.timezone.utc).isoformat()}
        )

    def _commit_version(
        self,
        df: Optional[DataFrame],
        linked: Sequence[str],
        src_dir: Optional[str],
        op: str,
        base: Optional[str],
        cdf_df: Optional[DataFrame] = None,
        dv_new=None,
        sidecars: Optional[dict] = None,
    ) -> None:
        """THE commit of a table version: linked files + new files +
        vector + sidecars, staged in a ``.tmp-*`` dir, then claimed and
        flipped live in one step (see :meth:`_claim_version_dir`).

        ``df`` holds the rows of the new files (None: no new file); a
        partitioned table writes it partitioned. ``linked``: relative
        data-file paths hard-linked from ``src_dir``, the version the
        new one is built from (another table's, for a clone); their
        ``_STATS`` entries are reused by inode, and ``src_dir``'s
        deletion vector carries for them, plus ``dv_new`` (pyarrow
        ``(DV_FILE, *key_cols)`` entries). ``src_dir``'s metadata
        sidecars carry forward unless ``sidecars`` replaces them
        ({filename: text, or None to omit}); ``_DROPPED`` carries only
        while files are linked, since only linked files can hold
        dropped columns' bytes. ``base``: the version the content
        derives from, checked at the flip (see :meth:`_commit`).
        ``cdf_df``: this commit's change rows; on a CDF-enabled table
        they default to a keyed diff of ``df`` against the base rows
        outside the linked files. CHECK constraints ride the staging
        write (layout-only ops rewrite validated rows and skip them)
        and are verified before anything is linked or flipped."""
        import json as _json

        from a2b_spark.storage import stats as _stats

        sidecars = dict(sidecars or {})
        version = self._next_version()
        tmp_target = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        if df is None:
            os.makedirs(tmp_target)
        else:
            stale = (
                self._dropped_tombstones(base) & set(df.columns) if linked else ()
            )
            if stale:
                # merge/append escalate to a full rewrite first: linked
                # files would resurface the pre-drop values
                raise ValueError(
                    f"column(s) {sorted(stale)} were dropped and their physical "
                    f"data survives in hardlinked files at {self.path}; "
                    "re-introduce them via a full rewrite (overwrite/merge)"
                )
            check = lambda: None  # noqa: E731
            if op not in LAYOUT_ONLY_OPS:
                df, check = self._constraint_observation(df, base)
            if cdf_df is None:
                cdf_df = self._fallback_cdf(df, base, op, linked)
            out = self._reject_null_partitions(df) if self.partition_by else df
            writer = (
                out.write.mode("overwrite").format(self.fmt)
                .options(**_FORMAT_OPTIONS[self.fmt])
            )
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            with _stats_friendly_timestamps(df.sparkSession):
                writer.save(tmp_target)
            try:  # BEFORE anything is linked or flipped
                check()
            except ConstraintViolation:
                shutil.rmtree(tmp_target, ignore_errors=True)
                raise
            if linked:
                self._drop_empty_write(tmp_target)
            # per-VERSION schema sidecar, written for every format: a
            # version holding zero rows may have no data file at all,
            # and read() then falls back to a typed empty frame
            sidecars[SCHEMA] = _json.dumps(df.schema.jsonValue())
        self._write_cdf(tmp_target, cdf_df)
        with open(os.path.join(tmp_target, ADDED), "w") as f:  # before the links
            f.write(_json.dumps(_stats._data_files(tmp_target)))
        for rel in linked:
            dst = os.path.join(tmp_target, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(os.path.join(src_dir, rel), dst)
        sidecars[COMMIT_INFO] = self._commit_info(op)
        for fn, content in sidecars.items():
            if content is not None:
                with open(os.path.join(tmp_target, fn), "w") as f:
                    f.write(content)
        self._write_stats_sidecar(tmp_target, src_dir)
        # application metadata committed via ``extra_files`` (e.g. the
        # streaming rollup's last-batch marker) must survive unrelated
        # commits, or a restarted stream re-folds applied batches
        skip = {_stats.STATS_FILE, ADDED, *sidecars} | (set() if linked else {DROPPED})
        carried = os.listdir(src_dir) if src_dir and os.path.isdir(src_dir) else []
        for fn in carried:
            src, dst = os.path.join(src_dir, fn), os.path.join(tmp_target, fn)
            if (
                fn.startswith("_") and fn not in skip
                and os.path.isfile(src) and not os.path.exists(dst)
            ):
                shutil.copyfile(src, dst)
        self._stage_dv(tmp_target, src_dir if linked else None, dv_new)
        self._claim_version_dir(tmp_target, version)
        self._commit(version, base=base)

    def history(self) -> list[dict]:
        """Commit log of the retained versions, oldest → newest — the
        DESCRIBE HISTORY analogue: [{version, op, ts}]. Versions
        written before commit-info existed report op/ts = None."""
        import json as _json

        out = []
        for v in self.versions():
            info_path = os.path.join(self.path, v, COMMIT_INFO)
            info = {"op": None, "ts": None}
            if os.path.exists(info_path):
                with open(info_path) as f:
                    info = _json.loads(f.read())
            out.append({"version": v, **info})
        return out

    def restore(self, version: str, spark: Optional[SparkSession] = None) -> None:
        """Commit a RETAINED historical version's content as the NEW
        current version (Delta ``RESTORE TABLE ... TO VERSION``): undo
        that doesn't rewrite history — the bad commits stay retained
        for audit/time-travel until vacuum, and downstream CDF sees
        the restore as one ordinary commit whose diff is the inverse
        of what it undoes.

        Metadata-only cost: every data file of the restored version is
        HARDLINKED into the new version dir (inode reuse, no data
        copied or rewritten), and the sidecars (``_SCHEMA``,
        ``_STATS``, extra metadata) come from the restored version, so
        schema evolution rolls back with the data. The appends
        streaming source rejects restore commits like any rewrite
        (op="restore" is not append-only); ``TableChangesStream``
        delivers the keyed diff."""
        versions = self.versions()
        if version not in versions:
            raise ValueError(
                f"version {version!r} not retained at {self.path}; "
                f"available: {versions}"
            )
        base = self.current_version()
        if version == base:
            return  # restoring the live version is a no-op
        cdf = None
        # the NEW version inherits the RESTORED version's _CDF_ENABLED
        # sidecar (not the base's), but change files are written when
        # EITHER side had CDF on: gating on the restored flag alone
        # would leave a flag-ON restore commit without change files
        # (permanently wedging any stream crossing it — round-9 review
        # finding), while gating only on it leaves a flag-OFF restore
        # FROM a CDF-enabled base unreadable mid-stream: unlike a
        # disable_cdf commit (layout-only, skipped), restore is a
        # content commit, so a crossing stream would raise "no change
        # files" instead of draining the inverse diff first. With both
        # gates, a stream crossing a flag-off restore consumes the
        # inverse diff, then errors on the NEXT content commit exactly
        # like any post-disable content commit.
        if self.cdf_enabled(version) or self.cdf_enabled(base):
            # the restore commit's change rows are the INVERSE of what
            # it undoes: a keyed diff current → restored snapshot
            if spark is None:
                raise ValueError(
                    f"restore on CDF-enabled table {self.path} needs the "
                    "spark session to derive the inverse change rows: "
                    "restore(version, spark)"
                )
            from a2b_spark.storage.diff import keyed_changes

            cdf = keyed_changes(
                self.read(spark, version=base),
                self.read(spark, version=version),
                self.key_cols,
                preimages=self.cdf_preimages(base)
                or self.cdf_preimages(version),
            )
        self._hardlink_commit(version, op="restore", base=base, cdf_df=cdf)

    def clone(self, dest_path: str) -> "VersionedParquetTable":
        """SHALLOW CLONE (Delta analogue): a NEW independent table at
        ``dest_path`` whose first version hardlinks this table's
        current data files — zero bytes copied, created in one
        metadata commit. The clone diverges freely afterward; vacuum
        on either side stays safe because shared bytes live until the
        last inode reference drops. Same-filesystem only (hardlink
        semantics); sidecars (schema, stats, constraints) copy so the
        clone starts with identical metadata."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"table {self.path} has no committed versions")
        dst = VersionedParquetTable(
            dest_path,
            key_cols=self.key_cols,
            partition_by=self.partition_by,
            retention=self.retention,
            fmt=self.fmt,
            partitions_derived_from_keys=self.partitions_derived_from_keys,
            deletion_vectors=self.deletion_vectors,
        )
        if dst.current_version() is not None:
            raise ValueError(f"clone target {dest_path} already has commits")
        os.makedirs(dest_path, exist_ok=True)
        dst._hardlink_commit(cur, op="clone", base=None, src_root=self.path)
        return dst

    def _hardlink_commit(
        self,
        src_version: str,
        op: str,
        base: Optional[str],
        sidecars: Optional[dict] = None,
        src_root: Optional[str] = None,
        cdf_df: Optional[DataFrame] = None,
    ) -> None:
        """Commit a new version that links every data file of
        ``src_version`` (``src_root``: the SOURCE table of a clone) and
        writes no new file: restore, clone and the metadata commits.
        ``sidecars`` replace the source's ({filename: text, or None to
        omit}); ``cdf_df`` holds restore's inverse diff."""
        from a2b_spark.storage import stats as _stats

        src_dir = os.path.join(src_root or self.path, src_version)
        self._commit_version(
            None, _stats._data_files(src_dir), src_dir, op, base,
            cdf_df=cdf_df, sidecars=sidecars,
        )

    # ------------------------------------------------------- constraints
    def constraints(self, version: Optional[str] = None) -> list[dict]:
        """CHECK constraints of ``version`` (default current):
        [{"name", "expr"}]. Constraints are VERSIONED metadata — they
        carry forward with every commit and roll back with restore."""
        import json as _json

        v = version or self.current_version()
        if v is None:
            return []
        p = os.path.join(self.path, v, CONSTRAINTS)
        if not os.path.exists(p):
            return []
        try:
            with open(p) as f:
                return _json.loads(f.read())
        except (OSError, ValueError):
            return []

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> None:
        """ADD CONSTRAINT name CHECK (expr) — Delta semantics: the
        EXISTING data must already satisfy the expression (checked
        here, one filter count), and every subsequent content commit
        enforces it on the written rows before anything becomes
        visible. NULL expression results pass (SQL CHECK semantics);
        only FALSE rows violate. Metadata-only commit: data files
        hardlink, op="add_constraint"."""
        import json as _json

        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"table {self.path} has no committed versions; write data "
                "first (constraints are versioned metadata)"
            )
        cons = self.constraints(cur)
        if any(c["name"] == name for c in cons):
            raise ValueError(f"constraint {name!r} already exists at {self.path}")
        bad = (
            self.read(spark, version=cur)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"cannot add constraint {name!r}: {bad} existing row(s) "
                f"violate CHECK ({expr})"
            )
        self._hardlink_commit(
            cur,
            op="add_constraint",
            base=cur,
            sidecars={
                CONSTRAINTS: _json.dumps(cons + [{"name": name, "expr": expr}])
            },
        )

    def drop_constraint(self, name: str) -> None:
        """DROP CONSTRAINT name (metadata-only commit); unknown names
        raise so a typo can't silently leave enforcement on."""
        import json as _json

        cur = self.current_version()
        cons = self.constraints(cur)
        if not any(c["name"] == name for c in cons):
            raise ValueError(f"no constraint {name!r} at {self.path}")
        remaining = [c for c in cons if c["name"] != name]
        self._hardlink_commit(
            cur,
            op="drop_constraint",
            base=cur,
            sidecars={
                CONSTRAINTS: _json.dumps(remaining) if remaining else None
            },
        )

    # ------------------------------------------------- schema evolution
    def drop_columns(self, spark: SparkSession, *cols: str) -> None:
        """DROP COLUMN (Delta ``ALTER TABLE … DROP COLUMN`` parity):
        a METADATA-ONLY commit — data files hardlink the current
        version, only the ``_SCHEMA`` sidecar shrinks, and every read
        projects the surviving columns (parquet/JSON readers ignore
        extra physical columns under an explicit schema). O(file
        count), zero data rewritten — the shape that survives 100 TB.

        The dropped names are recorded in a ``_DROPPED`` tombstone
        sidecar: their physical bytes still live in the hardlinked
        files, so a later write RE-INTRODUCING such a name escalates
        to a full rewrite (merge/append handle this) — otherwise old
        partitions would resurface the pre-drop values under the new
        column. Any full-rewrite commit clears the tombstones.

        Guards: key and partition columns cannot be dropped (they are
        identity/structure, not payload); a CHECK constraint that
        still references a dropped column must be dropped first (the
        constraint set is validated against the shrunken schema);
        at least one column must survive. CDF treats the commit as
        layout-only (no row changed); ``restore`` to a pre-drop
        version brings the column back — sidecars roll back with the
        data."""
        import json as _json

        from pyspark.sql import types as T

        dropped = list(dict.fromkeys(cols))
        if not dropped:
            raise ValueError("drop_columns: no columns given")
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot drop columns at {self.path}: commit data first "
                "(schema is versioned metadata)"
            )
        schema = self._version_schema(cur)
        if schema is None:
            schema = self.read(spark, version=cur).schema
        names = {f.name for f in schema.fields}
        missing = [c for c in dropped if c not in names]
        if missing:
            raise ValueError(f"no such column(s) {missing} at {self.path}")
        protected = [
            c
            for c in dropped
            if c in set(self.key_cols) or c in set(self.partition_by or ())
        ]
        if protected:
            raise ValueError(
                f"cannot drop key/partition column(s) {protected} at "
                f"{self.path} (identity/structure, not payload)"
            )
        survivors = [f for f in schema.fields if f.name not in set(dropped)]
        if not survivors:
            raise ValueError(f"cannot drop every column of {self.path}")
        new_schema = T.StructType(survivors)
        empty = spark.createDataFrame([], new_schema)
        for c in self.constraints(cur):
            try:
                empty.filter(F.expr(c["expr"])).schema  # forces analysis
            except Exception as exc:  # AnalysisException: unresolved ref
                raise ValueError(
                    f"CHECK constraint {c['name']!r} ({c['expr']}) still "
                    f"references a dropped column; drop the constraint "
                    f"first"
                ) from exc
        tombs = sorted(self._dropped_tombstones(cur) | set(dropped))
        self._hardlink_commit(
            cur,
            op="drop_columns",
            base=cur,
            sidecars={
                SCHEMA: _json.dumps(new_schema.jsonValue()),
                DROPPED: _json.dumps(tombs),
            },
        )

    def widen_column(self, spark: SparkSession, col: str, new_type: str) -> None:
        """TYPE WIDENING (Delta ``ALTER TABLE … TYPE`` parity): a
        METADATA-ONLY commit — data files hardlink, only the
        ``_SCHEMA`` sidecar's field type widens, and every read
        upcasts the old physical values in the parquet reader (Spark 4
        reads int32 under bigint/double natively). Only the safe pairs
        in ``_WIDEN_OK`` are allowed; anything lossy (long→int,
        double→float, string↔numeric) raises. Time travel still reads
        each version under ITS OWN type; CDF treats the commit as
        layout-only (no row changed)."""
        import json as _json

        from pyspark.sql import types as T

        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot widen columns at {self.path}: commit data first "
                "(schema is versioned metadata)"
            )
        schema = self._version_schema(cur)
        if schema is None:
            schema = self.read(spark, version=cur).schema
        names = {f.name: f for f in schema.fields}
        if col not in names:
            raise ValueError(f"no such column {col!r} at {self.path}")
        target = T._parse_datatype_string(new_type)
        old_s = names[col].dataType.simpleString()
        new_s = target.simpleString()
        if old_s == new_s:
            return  # already that type: no-op
        if (old_s, new_s) not in _WIDEN_OK:
            raise ValueError(
                f"cannot widen {col!r} {old_s} -> {new_s}: only the safe "
                f"upcasts {sorted(_WIDEN_OK)} are metadata-only"
            )
        new_schema = T.StructType(
            [
                T.StructField(f.name, target if f.name == col else f.dataType,
                              f.nullable, f.metadata)
                for f in schema.fields
            ]
        )
        self._hardlink_commit(
            cur,
            op="widen_column",
            base=cur,
            sidecars={SCHEMA: _json.dumps(new_schema.jsonValue())},
        )

    # ------------------------------------------------- change data feed
    def enable_cdf(self, preimages: bool = False) -> None:
        """Turn on the CHANGE DATA FEED (Delta
        ``delta.enableChangeDataFeed`` parity): from the NEXT content
        commit on, every write also stages its keyed change rows
        (after-image + ``change``) as parquet under the version's
        ``_cdf/`` dir, atomically with the data. ``preimages=True``
        additionally records old values (``update_preimage`` rows;
        deletes carry full payloads) so downstream aggregates can
        DECREMENT — see :meth:`cdf_preimages`; it assumes unique keys
        (the keyed-table contract). Streams
        (``readStream.format("a2b_table_changes")``) then read those
        files directly — no join at read time, each commit streamed N
        times for the cost of one churn-sized write. The property is
        VERSIONED metadata: it rolls back with restore and copies with
        clone; commits from before enablement have no change files
        (a stream must start at-or-after the enabling commit)."""
        if not self.key_cols:
            raise ValueError(
                "CDF requires key columns (changes are keyed diffs); "
                f"table {self.path} has none"
            )
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot enable CDF at {self.path}: commit data first "
                "(the property is versioned metadata)"
            )
        if self.cdf_enabled(cur):
            if preimages and not self.cdf_preimages(cur):
                raise ValueError(
                    f"CDF already enabled WITHOUT preimages at {self.path}; "
                    "disable_cdf() first (mixing change-row shapes across "
                    "commits would corrupt signed folds over a range)"
                )
            return
        self._hardlink_commit(
            cur,
            op="enable_cdf",
            base=cur,
            sidecars={CDF_ENABLED: "pre" if preimages else "1"},
        )

    def cdf_preimages(self, version: Optional[str] = None) -> bool:
        """True when the version's CDF records PRE-IMAGES: updates
        emit an extra ``update_preimage`` row and deletes carry their
        full old payload — the contract incremental aggregate
        maintenance (storage/ivm.py) folds over."""
        v = version or self.current_version()
        if v is None:
            return False
        p = os.path.join(self.path, v, CDF_ENABLED)
        try:
            with open(p) as f:
                return f.read().strip() == "pre"
        except OSError:
            return False

    def disable_cdf(self) -> None:
        cur = self.current_version()
        if cur is None or not self.cdf_enabled(cur):
            return
        self._hardlink_commit(
            cur, op="disable_cdf", base=cur, sidecars={CDF_ENABLED: None}
        )

    def cdf_enabled(self, version: Optional[str] = None) -> bool:
        v = version or self.current_version()
        return v is not None and os.path.exists(
            os.path.join(self.path, v, CDF_ENABLED)
        )

    def _write_cdf(self, tmp_target: str, cdf_df: Optional[DataFrame]) -> None:
        """Stage a commit's change rows under ``<staging>/_cdf/`` —
        the underscore prefix keeps Spark's directory reads and every
        internal data-file walker away from them. Unpartitioned write:
        partition columns of the table are ordinary payload columns
        here (change files are consumed by commit, not by key)."""
        if cdf_df is None:
            return
        with _stats_friendly_timestamps(cdf_df.sparkSession):
            (
                cdf_df.write.mode("overwrite")
                .format("parquet")
                .save(os.path.join(tmp_target, CDF_DIR))
            )

    def _fallback_cdf(
        self, new_df: DataFrame, base: Optional[str], op: str, linked: Sequence[str]
    ) -> Optional[DataFrame]:
        """Change rows for a content commit whose caller did not build
        them explicitly (overwrite and rollup paths): one keyed diff of
        the new rows against the base rows they replace — those outside
        the ``linked`` files, which carry over unchanged."""
        if base is None or op in LAYOUT_ONLY_OPS or not self.cdf_enabled(base):
            return None
        from a2b_spark.storage import stats as _stats
        from a2b_spark.storage.diff import keyed_changes

        spark = new_df.sparkSession
        before = self.read(spark, version=base)
        if linked:
            vdir, keep = os.path.join(self.path, base), set(linked)
            before = self._scan_files(
                spark, base,
                [os.path.join(vdir, r) for r in _stats._data_files(vdir) if r not in keep],
                self._version_schema(base),
            )
        return keyed_changes(
            before, new_df, self.key_cols,
            preimages=self.cdf_preimages(base),
        )

    def _dropped_tombstones(self, version: Optional[str]) -> set[str]:
        """Column names dropped at-or-before ``version`` whose physical
        data may survive in hardlinked files (see :meth:`drop_columns`)."""
        import json as _json

        if version is None:
            return set()
        p = os.path.join(self.path, version, DROPPED)
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(_json.load(f))

    def _constraint_observation(self, df: DataFrame, base: Optional[str]):
        """Single-pass CHECK enforcement (Delta's design): attach ONE
        ``Observation`` whose per-constraint violation counts are
        computed DURING the staging write itself — a constrained merge
        runs its join exactly once, and N constraints are N aggregate
        expressions in one pass, not N extra actions. Returns
        ``(df, check)``; callers run the staging action on the
        returned df, then call ``check()`` BEFORE the ``_CURRENT``
        flip — on violation it raises :class:`ConstraintViolation`, so
        the table never exposes a half-valid version (the staged tmp
        dir is the caller's to discard). Zero cost when no constraints
        exist: the frame is returned untouched."""
        cons = [] if base is None else self.constraints(base)
        if not cons:
            return df, lambda: None
        from pyspark.sql import Observation

        obs = Observation()
        metrics = [
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(c["expr"]), F.lit(True)), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias(f"viol_{i}")
            for i, c in enumerate(cons)
        ]
        observed = df.observe(obs, *metrics)

        def check() -> None:
            got = obs.get  # blocks until the staging action finished
            for i, c in enumerate(cons):
                bad = got.get(f"viol_{i}") or 0  # empty write sums to NULL
                if bad:
                    raise ConstraintViolation(
                        f"{bad} row(s) violate CHECK constraint {c['name']!r} "
                        f"({c['expr']}) at {self.path}"
                    )

        return observed, check

    def overwrite(
        self,
        df: DataFrame,
        extra_files: Optional[dict] = None,
        op: str = "overwrite",
        base=_UNSET_BASE,
        cdf_df: Optional[DataFrame] = None,
    ) -> None:
        """Replace the table's content with ``df``: a full rewrite, so
        the deletion vector and drop-column tombstones clear.

        ``extra_files``: {filename: text} written into the NEW
        version directory BEFORE the commit flip — metadata that must
        be atomic with the data (e.g. a streaming fold's last-batch
        marker); a crash can never commit one without the other.
        ``op`` labels the commit in :meth:`history`. ``base``: the
        version this write's CONTENT derived from (read-modify-write
        callers pass their snapshot version so the optimistic check
        covers the whole read-to-commit span, not just the write).
        ``cdf_df``: this commit's change rows when the caller already
        derived them cheaply (merge/append); on a CDF-enabled table
        they default to a keyed diff against the base snapshot."""
        if base is _UNSET_BASE:
            base = self.current_version()
        self._commit_version(
            df, [], base and os.path.join(self.path, base), op, base,
            cdf_df=cdf_df, sidecars=extra_files,
        )

    def merge(self, batch: DataFrame, delete: Optional[DataFrame] = None) -> None:
        """Keyed upsert (MERGE INTO … WHEN MATCHED UPDATE WHEN NOT
        MATCHED INSERT), NULL-safe on the key columns.

        ``delete`` (key tuples under the key columns' names) also
        removes those rows (… WHEN NOT MATCHED BY SOURCE THEN DELETE,
        by key); a key in both ends as the batch row. The merge-on-read
        path carries both in ONE commit: one vector delta tombstones
        the replaced and the deleted rows alike. Every other path
        (partitioned, CDF-enabled, key-clustered, vectors off, a vector
        past its cap) commits ``delete_keys(delete)``, then the merge."""
        spark = batch.sparkSession
        base = self.current_version()
        if base is None:
            self.overwrite(batch, op="merge", base=None)
            return
        tombstone_clash = bool(
            self._dropped_tombstones(base) & set(batch.columns)
        )
        # copy-on-write when _STATS isolates the matching files
        # (key-clustered tables), else merge-on-read with vectors
        mor = (
            not self.partition_by and not tombstone_clash
            and self.deletion_vectors and self.fmt in ("parquet", "orc")
        )
        isolate = mor and self._stats_may_isolate(os.path.join(self.path, base))
        if delete is not None and (not mor or isolate or self.cdf_enabled(base)):
            self.delete_keys(delete)
            self.merge(batch)
            return
        # PIN the batch once (the repo's fan-out-frame discipline, like
        # delete_keys pins its key set): merge consults it from up to 4
        # independent actions — the _prunable_key_files pre-check/
        # distinct collects or the merge-on-read match, the touched-
        # partition collects, the staged data write, and the CDF
        # change-file write. A non-deterministic batch (sampled/rand
        # lineage) re-evaluated per action could prune files by key set
        # A, commit data for set B, and record change rows for set C.
        # Skipped only when exactly one action will consult it (the
        # unpartitioned tombstone-clash full rewrite without CDF). On
        # the partitioned-merge path the pin is lazy and the touched-
        # partition collect is its materializing job (see
        # _pin_with_touched).
        touched_pre: Optional[set] = None
        if self.partition_by and not tombstone_clash:
            batch, touched_pre = self._pin_with_touched(batch)
        elif self.partition_by or not tombstone_clash or self.cdf_enabled(base):
            batch = batch.localCheckpoint(eager=True)
        if not self.partition_by and not tombstone_clash:
            if (not mor or isolate) and self._try_merge_file_pruned(
                spark, batch, base
            ):
                return
            if delete is not None:
                # pinned like the batch (the match and the fold both read
                # it); lazily: the match is its materializing job
                delete = delete.select(*self.key_cols).localCheckpoint(eager=False)
            if mor and self._try_merge_on_read(spark, batch, base, delete):
                return
        if delete is not None:  # merge-on-read declined (e.g. the vector cap)
            self.delete_keys(delete)
            self.merge(batch)
            return
        current = self.read(spark, version=base)  # pinned snapshot
        cdf = None
        if self.cdf_enabled(base):
            # batch-sized change join (NOT a table-sized diff of the
            # merged output — see diff.merge_changes)
            from a2b_spark.storage.diff import merge_changes

            cdf = merge_changes(
                current, batch, self.key_cols,
                preimages=self.cdf_preimages(base),
            )
        if self.partition_by and not tombstone_clash:
            self._merge_partitioned(current, batch, base, cdf, touched_pre)
        else:
            # unpartitioned — or the batch RE-INTRODUCES a dropped
            # column: untouched hardlinked partitions still hold the
            # pre-drop physical values, so a full rewrite (which the
            # overwrite path is) must replace them before the name is
            # live again; the rewrite clears the tombstone
            self.overwrite(
                merge_dataframes(current, batch, self.key_cols),
                op="merge",
                base=base,
                cdf_df=cdf,
            )

    def append(self, batch: DataFrame, dedupe_keys: Sequence[str] | None = None) -> None:
        """Insert-only commit: add batch rows, optionally skipping rows
        whose ``dedupe_keys`` tuple already exists (NULL-safe), so
        re-runs are idempotent.

        On a PARTITIONED table only the batch's partitions are
        rewritten (existing rows of those partitions union the new
        ones; every other partition hard-links) — a streaming ingest
        appending into a growing table costs O(batch + touched), not a
        full-table rewrite per commit. The dedupe anti-join still
        compares against the WHOLE current table (a thin key scan,
        not a rewrite), so idempotence holds even when dedupe keys
        span partitions."""
        base = self.current_version()
        if base is None:
            self.overwrite(batch, op="append", base=None)
            return
        # PIN the batch once when more than one action will consult it
        # (touched-partition collect, duplicate-key CDC guard, CDF
        # change-file write, the data write itself) — see merge() for
        # the non-deterministic-lineage divergence this prevents. On a
        # partitioned table the pin's materializing collect also
        # answers which partitions the batch touches (see
        # _pin_with_touched).
        touched_pre: Optional[set] = None
        if self.partition_by and not dedupe_keys:
            batch, touched_pre = self._pin_with_touched(batch)
        elif self.partition_by or self.cdf_enabled(base):
            # with dedupe_keys the touched set must be recomputed on the
            # POST-anti-join batch anyway (a partition whose rows all
            # dedupe away must hardlink, not rewrite), so collecting it
            # with the pin would be wasted — plain pin
            batch = batch.localCheckpoint(eager=True)
        current = self.read(batch.sparkSession, version=base)
        if dedupe_keys:
            c = current.alias("e")
            b = batch.alias("b")
            cond = None
            for k in dedupe_keys:
                e = F.col(f"b.{k}").eqNullSafe(F.col(f"e.{k}"))
                cond = e if cond is None else (cond & e)
            batch = b.join(c, on=cond, how="left_anti")
        cdf = None
        if self.cdf_enabled(base):
            if self.key_cols and not dedupe_keys:
                # append stamps every change row 'insert'; a batch key
                # that ALREADY exists would make the two CDC surfaces
                # disagree (batch table_changes' keyed diff reports
                # 'update' — or nothing — for it) AND leave the table
                # duplicate-keyed. A clashing key fails loudly; the
                # probe side is BOUNDED so fresh-key appends (the
                # streaming-ingest hot path) never pay a whole-table
                # key scan: on an unpartitioned clustered table only
                # the files whose _STATS key band overlaps the batch
                # are probed, and with key-derived partitions only the
                # batch's own partitions can hold a clash.
                from a2b_spark.storage.diff import null_safe_key_cond

                probe = current
                if not self.partition_by:
                    info = self._prunable_key_files(batch, base)
                    if info is not None:
                        kept_abs, _, schema = info
                        probe = self._scan_files(
                            batch.sparkSession, base, kept_abs, schema
                        )
                elif self.partitions_derived_from_keys:
                    # dedupe_keys is None in this branch, so the pin's
                    # collect already answered the touched set
                    touched = (
                        touched_pre
                        if touched_pre is not None
                        else self._touched_partitions(batch)
                    )
                    probe = current.filter(self._partition_filter(touched))
                clash = (
                    batch.alias("b")
                    .join(
                        probe.alias("c"),
                        null_safe_key_cond(self.key_cols, "b", "c"),
                        "left_semi",
                    )
                    .limit(1)
                    .count()
                )
                if clash:
                    raise ValueError(
                        f"append on CDF-enabled keyed table {self.path}: "
                        "batch contains a key that already exists, so the "
                        "'insert' change rows would contradict the keyed "
                        "diff. Pass dedupe_keys= to skip existing keys, or "
                        "use merge() to update them"
                    )
            # insert-only commit: the change rows ARE the batch
            cdf = batch.withColumn("change", F.lit("insert"))
        if self.partition_by and not (
            self._dropped_tombstones(base) & set(batch.columns)
        ):
            touched = (
                touched_pre
                if touched_pre is not None
                else self._touched_partitions(batch)
            )
            if not touched:
                return
            appended = (
                current.filter(self._partition_filter(touched))
                .unionByName(batch, allowMissingColumns=True)
            )
            self._commit_touched(
                appended, touched, op="append", base=base, cdf_df=cdf
            )
            return
        # unpartitioned — or re-introducing a dropped column (see
        # merge(): hardlinked partitions would resurface stale values)
        self.overwrite(
            current.unionByName(batch, allowMissingColumns=True),
            op="append",
            base=base,
            cdf_df=cdf,
        )

    def delete_keys(self, keys_df: DataFrame) -> None:
        """Remove every current row whose key tuple appears in
        ``keys_df`` (NULL-safe, matching merge/append's key
        semantics). On a partitioned table only the partitions that
        actually HOLD matching rows are rewritten (derived from the
        current data, so callers need not — and cannot wrongly —
        supply partition values); the rest hard-link. On an
        UNPARTITIONED key-clustered table the same ``_STATS``
        file-pruning as merge applies: files that cannot hold any
        deleted key hard-link unchanged. With CDF enabled the change
        rows come from one batch-sized SEMI join (the deleted rows
        with NULL payloads), not a table-sized diff."""
        base = self.current_version()
        if base is None:
            return
        from a2b_spark.storage.diff import null_safe_key_cond

        current = self.read(keys_df.sparkSession, version=base)
        # PIN the key set once (eager localCheckpoint, the repo's
        # fan-out-frame discipline): delete consults it from up to 4
        # independent actions (partition/file pruning, the anti join,
        # the CDF semi join) — a non-deterministic keys_df re-evaluated
        # per action would hard-link files by key set A while deleting
        # set B and recording set C
        keys = (
            keys_df.select(*self.key_cols).distinct().localCheckpoint(eager=True)
        )

        def _match(cur: DataFrame, how: str) -> DataFrame:
            return cur.alias("c").join(
                keys.alias("k"), null_safe_key_cond(self.key_cols, "c", "k"), how
            )

        def _remaining(cur: DataFrame) -> DataFrame:
            return _match(cur, "left_anti")

        def _delete_cdf(cur: DataFrame) -> Optional[DataFrame]:
            return self._delete_changes(_match(cur, "left_semi"), cur.schema, base)

        # deletion vectors first, partitioned or not: a small delete
        # commits metadata-sized (every data file hardlinks — the
        # loop preserves partition subdirs — and only the key list is
        # written); the rewrite paths below are the cap-overflow
        # fallback
        if self.deletion_vectors and self.fmt in ("parquet", "orc"):
            if self._try_delete_dv(keys_df.sparkSession, current, keys, base):
                return
        if self.partition_by:
            touched = self._key_match_partitions(current, keys)
            if not touched:
                return
            scoped = current.filter(self._partition_filter(touched))
            # the commit CARRIES any live vector: entries of the
            # rewritten partitions' files leave it (their rows were
            # staged from the DV-filtered read); hardlinked partitions
            # still need theirs
            self._commit_touched(
                _remaining(scoped),
                touched,
                op="delete",
                base=base,
                cdf_df=_delete_cdf(scoped),
            )
            return
        kept_info = self._prunable_key_files(keys, base, pinned_distinct=True)
        if kept_info is not None:
            kept_abs, keep_rels, schema = kept_info
            scoped = self._scan_files(
                keys_df.sparkSession, base, kept_abs, schema
            )
            self._commit_version(
                _remaining(scoped), keep_rels, os.path.join(self.path, base),
                op="delete", base=base, cdf_df=_delete_cdf(scoped),
            )
            return
        self.overwrite(
            _remaining(current), op="delete", base=base,
            cdf_df=_delete_cdf(current),
        )

    def _delete_changes(
        self, matched: DataFrame, schema, base: str
    ) -> Optional[DataFrame]:
        """Change rows of a delete, None when CDF is off. ``matched``:
        the deleted rows (their key columns suffice without
        pre-images); ``schema``: the table's. With pre-images a delete
        carries its full old payload so signed folds can decrement
        (unique keys assumed — the keyed-table contract); otherwise one
        KEY-level row per deleted key with a NULL payload (the keyed
        diff of batch table_changes: a duplicate-keyed physical layout
        still emits one row per key)."""
        if not self.cdf_enabled(base):
            return None
        reserved = {"change", "_commit_version"} & set(schema.names)
        if reserved:
            raise ValueError(
                "table data columns collide with reserved CDF output "
                f"columns {sorted(reserved)}; rename them before "
                "enabling CDF"
            )
        if self.cdf_preimages(base):
            return matched.select(*schema.names).withColumn("change", F.lit("delete"))
        return matched.select(*self.key_cols).distinct().select(
            *self.key_cols,
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
                if f.name not in self.key_cols
            ],
            F.lit("delete").alias("change"),
        )

    # ------------------------------------------------- partitioned merge
    def _pin_with_touched(self, batch: DataFrame) -> tuple[DataFrame, set[tuple]]:
        """Pin ``batch`` AND discover its touched partitions in the
        SAME Spark job: the checkpoint is LAZY and the
        ``_touched_partitions`` distinct+collect is its materializing
        action, so the standalone eager-checkpoint job disappears and
        later consumers read the pinned blocks. (A first version rode
        a ``collect_set`` Observation on an eager checkpoint instead —
        same job count, but ``Observation.get`` waits on the async
        listener bus, measured ~80ms per call, which at ~10 commits
        per storage walk cost MORE than the collect job it removed.
        The collect is a plain all-partitions action — none of the
        CollectLimit incremental-materialization hazards that made the
        lazy pin lose in connected_components.) Semantics are
        identical: same cast('string') dialect, DISTINCT dedup, and
        the NULL partition-value check still raises before any
        commit work."""
        pinned = batch.localCheckpoint(eager=False)
        return pinned, self._touched_partitions(pinned)

    def _touched_partitions(self, df: DataFrame) -> set[tuple]:
        """Partition tuples present in ``df`` — a small driver-side list
        (partition columns are low-cardinality by design; this is not a
        data collect). Values are stringified by SPARK's cast('string'),
        never Python str(): the two disagree on booleans ('true' vs
        'True') and float formatting, and every consumer
        (_partition_filter, the Hive dir names) speaks Spark's dialect
        — a Python-str mismatch silently turned merges into
        insert-plus-hardlink duplication."""
        rows = (
            df.select(
                *[F.col(c).cast("string").alias(c) for c in self.partition_by]
            )
            .distinct()
            .collect()
        )
        for r in rows:
            if any(x is None for x in r):
                raise ValueError(
                    "null partition value in batch: the hardlink-reuse "
                    "layout requires non-null partition columns "
                    f"(partition_by={self.partition_by})"
                )
        return {tuple(r) for r in rows}

    def _partition_filter(self, touched: set[tuple]):
        cond = None
        for i, c in enumerate(self.partition_by):
            e = F.col(c).cast("string").isin([t[i] for t in touched])
            cond = e if cond is None else (cond & e)
        return cond

    def _commit_touched(
        self,
        touched_df: DataFrame,
        touched: set[tuple],
        op: str,
        base: str,
        extra_files: Optional[dict] = None,
        cdf_df: Optional[DataFrame] = None,
    ) -> None:
        """Commit ``touched_df`` as the new contents of the ``touched``
        partitions and hard-link every other partition's files from
        ``base`` — the local-FS analogue of Iceberg manifest reuse, at
        O(touched data + total file count). The rewritten partitions
        were staged from the DV-filtered read, so their files' vector
        entries leave with them."""
        vdir = os.path.join(self.path, base)
        linked = [
            os.path.relpath(os.path.join(leaf, fn), vdir)
            for leaf, values in _leaf_partitions(vdir, len(self.partition_by))
            if values not in touched
            for fn in os.listdir(leaf)
            if not fn.startswith(("_", "."))
        ]
        self._commit_version(
            touched_df, linked, vdir, op, base,
            cdf_df=cdf_df, sidecars=extra_files,
        )

    def _key_match_partitions(self, current: DataFrame, keys: DataFrame) -> set[tuple]:
        """Partitions of CURRENT rows whose key matches ``keys``
        (NULL-safe). A batch row may carry a DIFFERENT partition value
        than the stored row with the same key (partition columns are
        data, not identity); rewriting only the batch's partitions
        would hard-link the stale old row alongside the new one —
        duplicate keys. Cost: one key+partition-column scan of the
        current version (columnar, no rewrite) — the price of allowing
        keys to move between partitions."""
        c = current.alias("c")
        k = keys.select(*self.key_cols).distinct().alias("k")
        cond = None
        for col in self.key_cols:
            e = F.col(f"c.{col}").eqNullSafe(F.col(f"k.{col}"))
            cond = e if cond is None else (cond & e)
        return self._touched_partitions(
            c.join(k, cond, "left_semi").select(*self.partition_by)
        )

    def _merge_partitioned(
        self, current: DataFrame, batch: DataFrame, base: str,
        cdf_df: Optional[DataFrame], touched: set[tuple],
    ) -> None:
        """Rewrite the partitions the batch touches (``touched``, from
        merge()'s pin job) merged with the batch; hard-link the rest. A
        tombstoned row in a linked file keeps its file-scoped vector
        entry, so a re-introduced key surfaces once, from its new file."""
        if not self.partitions_derived_from_keys:
            # keys may move between partitions: also rewrite wherever
            # the batch's keys CURRENTLY live (one thin scan)
            touched = touched | self._key_match_partitions(current, batch)
        if not touched:
            return
        merged_touched = merge_dataframes(
            current.filter(self._partition_filter(touched)), batch, self.key_cols
        )
        self._commit_touched(
            merged_touched, touched, op="merge", base=base, cdf_df=cdf_df
        )

    # the key types whose batch min/max can be compared against file
    # stats without cross-timezone/truncation subtleties
    _PRUNABLE_KEY_TYPES = (
        "tinyint", "smallint", "int", "bigint",
        "string", "date", "float", "double",
    )

    def _try_merge_file_pruned(self, spark: SparkSession, batch, base) -> bool:
        """Delta-style MERGE file pruning on an UNPARTITIONED parquet
        table: files whose ``_STATS`` key range excludes every batch
        key cannot hold a matched row — they HARD-LINK into the new
        version unchanged, and only the possibly-matching files are
        read, merged with the batch, and rewritten. A small-batch
        merge into a large key-clustered table (compact(cluster_by=
        key)) then costs O(batch + touched files), not a full-table
        rewrite — the partition-level touched commit, at file
        granularity.

        Returns False (caller runs the full-rewrite path) when the
        sidecar is missing, the first key's type is outside the
        stats-comparable set, the batch holds NULL first-keys (NULL
        never falls in a [min,max] band, but NULL-keyed rows DO merge
        under eqNullSafe), or pruning keeps every file anyway."""
        info = self._prunable_key_files(batch, base)
        if info is None:
            return False
        kept_abs, keep_rels, schema = info
        current_touched = self._scan_files(spark, base, kept_abs, schema)
        merged = merge_dataframes(current_touched, batch, self.key_cols)
        cdf = None
        if self.cdf_enabled(base):
            from a2b_spark.storage.diff import merge_changes

            # matched rows live ONLY in kept files (the pruning
            # contract), so the touched subset yields identical changes
            cdf = merge_changes(
                current_touched, batch, self.key_cols,
                preimages=self.cdf_preimages(base),
            )
        # the rewritten files were read DV-filtered, so their vector
        # entries (a re-introduced key's included) leave with them
        self._commit_version(
            merged, keep_rels, os.path.join(self.path, base),
            op="merge", base=base, cdf_df=cdf,
        )
        return True

    def _try_merge_on_read(
        self, spark: SparkSession, batch: DataFrame, base: str,
        delete: Optional[DataFrame] = None,
    ) -> bool:
        """MERGE-ON-READ keyed merge into an unpartitioned parquet/ORC
        table with deletion vectors (Delta DV / Iceberg v2 position
        deletes): the batch's merged rows are written as NEW files,
        every base data file is HARDLINKED, and each matched old row is
        tombstoned by a ``(data file name, key)`` vector entry. The
        commit writes O(batch) bytes even when every file's ``_STATS``
        key band spans the whole key range (salted hash ids,
        hash-partitioned files), where file pruning keeps everything.

        The match (one table scan, key columns only) over the batch keys
        and the ``delete`` keys is collected driver-side as the vector
        entries, capped at DV_MAX_KEYS+1: replaced and deleted rows are
        tombstoned by one delta. A batch carrying every table column IS
        the new rows; otherwise the batch's own matched old rows fill
        the missing columns. Fold rule: a file whose tombstoned share
        passes ``DV_FOLD_FRACTION`` is not linked; its remaining live
        rows (neither replaced nor deleted) join this commit's new
        files and its entries leave the vector.

        Returns False (caller runs the full-rewrite path) when the base
        has no data files, the merge would change the type of a stored
        column (linked files keep their physical type), or the matched
        rows plus the carried vector would pass DV_MAX_KEYS.

        PRECONDITION: ``batch`` and ``delete`` are pinned (merge()
        localCheckpoints them) — the batch is consulted by the match,
        the merge and the CDF, the delete keys by the match and the
        fold."""
        from a2b_spark.storage import stats as _stats
        from a2b_spark.storage.diff import merge_changes, null_safe_key_cond

        vdir = os.path.join(self.path, base)
        ids = self._file_ids(vdir)
        all_rels = sorted(ids)
        if not all_rels:
            return False
        schema = self._version_schema(base)
        scan = self._scan_files(
            spark, base, [os.path.join(vdir, r) for r in all_rels], schema,
            keep_file=True,
        )
        stored = {f.name: f.dataType for f in scan.schema.fields}
        if any(
            f.name in stored and stored[f.name] != f.dataType
            for f in batch.schema.fields
        ):
            return False
        key_cond = null_safe_key_cond(self.key_cols, "c", "b")
        batch_keys = batch.select(*self.key_cols)
        keys = batch_keys if delete is None else batch_keys.unionByName(delete)
        matched = scan.alias("c").join(keys.alias("b"), key_cond, "left_semi")
        entries = (
            matched.select(DV_FILE, *self.key_cols).limit(DV_MAX_KEYS + 1).toArrow()
        )
        carried = self._dv_file_counts(vdir)
        if sum(carried.values()) + entries.num_rows > DV_MAX_KEYS:
            return False
        dead = dict(carried)
        for name in entries.column(DV_FILE).to_pylist():
            dead[name] = dead.get(name, 0) + 1
        stats = _stats.load_stats_arrow(vdir)
        rows = {} if stats is None else {
            ids[rel]: n
            for rel, n in zip(
                stats.column("rel").to_pylist(), stats.column("rows").to_pylist()
            )
            if rel in ids
        }
        fold = {
            name
            for name, n_dead in dead.items()
            if rows.get(name) and n_dead > DV_FOLD_FRACTION * rows[name]
        }
        # the old rows are re-derived (same immutable base version) only
        # where needed: for CDF, and for columns the batch does not carry;
        # deleted rows are no old rows of the batch
        old_rows = (
            matched if delete is None
            else scan.alias("c").join(batch_keys.alias("b"), key_cond, "left_semi")
        ).drop(DV_FILE)
        if set(stored) - {DV_FILE} <= set(batch.columns):
            new_rows = batch  # each batch row replaces its old row whole
        else:
            new_rows = merge_dataframes(old_rows, batch, self.key_cols)
        if any(dead[name] < rows[name] for name in fold):
            # live rows of folded files neither replaced nor deleted
            folded = [os.path.join(vdir, r) for r in all_rels if ids[r] in fold]
            survivors = self._scan_files(spark, base, folded, schema).alias("c").join(
                keys.alias("b"), key_cond, "left_anti"
            )
            new_rows = new_rows.unionByName(survivors, allowMissingColumns=True)
        cdf = None
        if self.cdf_enabled(base):
            # matched rows are the only existing rows the batch can
            # change, so the batch-sized change join over them equals
            # the one over the whole table
            cdf = merge_changes(
                old_rows, batch, self.key_cols,
                preimages=self.cdf_preimages(base),
            )
        self._commit_version(
            new_rows, [r for r in all_rels if ids[r] not in fold], vdir,
            op="merge", base=base, cdf_df=cdf, dv_new=entries,
        )
        return True

    def _try_delete_dv(
        self, spark: SparkSession, current: DataFrame, keys: DataFrame,
        base: str,
    ) -> bool:
        """DELETION-VECTOR delete on a parquet or ORC table,
        partitioned or not: commit = every data file HARDLINKED (the
        link loop recreates partition subdirs) + one vector delta of
        ``(data file name, key)`` entries for the matched rows — zero
        data files rewritten, metadata-sized regardless of how large
        the touched files or partitions are (the step past
        file-granular pruning, which still rewrites a whole file to
        drop one row). Falls back (returns False) when the combined
        vector would exceed DV_MAX_KEYS — the rewrite paths then purge
        physically. No-op deletes (no live key matched) return True
        without a commit, like the partitioned path.

        The match scan is DV-FILTERED, so re-deleting an
        already-tombstoned key never bloats the vector, and the CDF
        change rows (key-level, NULL payload — same contract as every
        delete path) fire only for genuinely live rows. The matched
        entries are collected driver-side, capped at DV_MAX_KEYS+1; on
        a CDF-enabled table the change rows re-derive the same match
        (the base version is immutable and ``keys`` pinned).

        PRECONDITION: ``keys`` must already be materialized (its only
        caller, :meth:`delete_keys`, eagerly localCheckpoints the key
        frame before dispatching here): the ``_prunable_key_files``
        probe and the match semi join both consult it."""
        from a2b_spark.storage import stats as _stats
        from a2b_spark.storage.diff import null_safe_key_cond

        # the match reads FULL rows only when CDF pre-images need the
        # payloads — otherwise the scan projects the file identity and
        # the KEY COLUMNS alone, so on a wide table the whole delete
        # reads a few key columns' pages, not the table. STATS-SCOPED
        # scan: the ``_STATS`` key-band pruning merge uses picks the
        # files that can physically hold the deleted keys (O(touched
        # files) on a key-clustered or many-partition table); no
        # sidecar or unprunable keys → every file.
        need_payload = self.cdf_enabled(base) and self.cdf_preimages(base)
        vdir = os.path.join(self.path, base)
        keep_rels = _stats._data_files(vdir)
        pruned = (
            self._prunable_key_files(keys, base, pinned_distinct=True)
            if self._stats_may_isolate(vdir)
            else None
        )
        if pruned is not None:
            kept_abs, _, schema = pruned
        else:
            kept_abs = [os.path.join(vdir, r) for r in keep_rels]
            schema = self._version_schema(base)
        if not kept_abs:
            return True  # no data file can hold a key: nothing to delete
        scan = self._scan_files(spark, base, kept_abs, schema, keep_file=True)
        src = scan if need_payload else scan.select(DV_FILE, *self.key_cols)
        matched = src.alias("c").join(
            keys.alias("k"),
            null_safe_key_cond(self.key_cols, "c", "k"),
            "left_semi",
        )
        entries = (
            matched.select(DV_FILE, *self.key_cols).limit(DV_MAX_KEYS + 1).toArrow()
        )
        if entries.num_rows == 0:
            return True  # nothing live matched: no commit
        carried = sum(self._dv_file_counts(vdir).values())
        if entries.num_rows + carried > DV_MAX_KEYS:
            return False  # vector would outgrow its broadcast budget
        self._commit_version(
            None,  # no new rows: hardlinks + vector only
            keep_rels, vdir, op="delete", base=base,
            cdf_df=self._delete_changes(matched, current.schema, base),
            dv_new=entries,
        )
        return True

    def purge_deleted(self, spark: SparkSession) -> dict:
        """Physically remove the deletion vector's tombstoned rows —
        the DV maintenance op (Delta's REORG TABLE ... APPLY (PURGE)):
        rewrite ONLY the data files the vector names (DV-filtered
        read, into the same partitions on a partitioned table),
        hardlink everything else, and clear the vector. A
        layout-only commit: row content is identical before and after
        (CDF consumers skip it), but the table stops paying the
        per-read anti join and vacuum can eventually reclaim the
        tombstoned bytes. Returns {"files_rewritten", "files_linked",
        "purged_keys"}."""
        base = self.current_version()
        out = {"files_rewritten": 0, "files_linked": 0, "purged_keys": 0}
        if base is None:
            return out
        vdir = os.path.join(self.path, base)
        named = self._dv_file_counts(vdir)
        if not named:
            return out
        from a2b_spark.storage import stats as _stats

        n_keys = sum(named.values())
        all_rels = _stats._data_files(vdir)
        ids = self._file_ids(vdir)
        rewrite = [r for r in all_rels if ids.get(r) in named]
        keep_rels = [r for r in all_rels if ids.get(r) not in named]
        self._commit_version(
            self._scan_files(
                spark, base, [os.path.join(vdir, r) for r in rewrite],
                self._version_schema(base),
            ) if rewrite else None,
            keep_rels, vdir, op="purge", base=base,
        )
        return {
            "files_rewritten": len(rewrite),
            "files_linked": len(keep_rels),
            "purged_keys": n_keys,
        }

    def _prunable_key_files(
        self, keyed_df: DataFrame, base: Optional[str],
        pinned_distinct: bool = False,
    ):
        """The shared planning step of file-pruned merge/delete:
        collect the DISTINCT (driver-bounded) first-key values of
        ``keyed_df`` and match them against the ``_STATS`` per-file
        bands. Returns ``(kept_abs_paths, keep_rel_paths,
        sidecar_schema)`` or None when pruning is inapplicable (no
        sidecar / unprunable key type / NULL or NaN keys / key set
        over the 64k cap / nothing skippable).

        ``pinned_distinct``: the caller guarantees ``keyed_df`` is
        already DISTINCT on the key tuple and MATERIALIZED (the
        delete path pins ``keys_df.distinct().localCheckpoint()``).
        Then one bounded ``limit(cap+1).collect()`` replaces the
        two-action probe (map-only pre-check + distinct shuffle): the
        NULL/NaN test runs driver-side on ≤ cap+1 collected scalars,
        and an over-cap key set stops at the limit instead of paying
        a count — one Spark action instead of two per delete."""
        if self.fmt not in ("parquet", "orc") or base is None:
            return None
        from a2b_spark.storage import stats as _stats

        vdir = os.path.join(self.path, base)
        k = self.key_cols[0]
        if k not in keyed_df.columns:
            return None
        ktype = dict(keyed_df.dtypes).get(k)
        if ktype not in self._PRUNABLE_KEY_TYPES:
            return None
        # per-file matching needs the key SET — a [min,max] band is
        # useless the moment a batch mixes low-key updates with a
        # high-key insert (the band then spans the whole table). 64k
        # scalar keys is a few MB driver-side.
        cap = 1 << 16
        if pinned_distinct:
            # distinct first-key values via a bounded fetch over the
            # pinned blocks; multi-column keys still dedupe the first
            # key inside the same single action
            src = keyed_df.select(k)
            if len(self.key_cols) > 1:
                src = src.distinct()
            vals = [r[0] for r in src.limit(cap + 1).collect()]
            if not vals or len(vals) > cap:
                return None
            # NULL/NaN keys merge via eqNullSafe but never fall in a
            # [min,max] band (and NaN sorts above every value yet
            # parquet stats ignore it) — driver-side test on ≤ cap+1
            # scalars replaces the map-only pre-check action
            if any(x is None or (isinstance(x, float) and x != x) for x in vals):
                return None
            keys = vals
        else:
            # cheap one-pass pre-check first: a bulk-load-sized batch must
            # not pay a distinct shuffle just to discover it exceeds the cap
            unbandable = F.col(k).isNull()
            if ktype in ("float", "double"):
                # NaN sorts above every value yet parquet stats ignore it;
                # NULL keys merge via eqNullSafe but never fall in a band
                unbandable = unbandable | F.isnan(F.col(k))
            pre = keyed_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(unbandable.cast("long")).alias("bad"),
            ).first()
            if not pre["n"] or pre["bad"] or pre["n"] > 4 * cap:
                return None
            keys = [
                r[0] for r in keyed_df.select(k).distinct().limit(cap + 1).collect()
            ]
            if not keys or len(keys) > cap:
                return None
        kept_rels = self._files_matching_keys(vdir, k, sorted(keys))
        if kept_rels is None:
            return None
        all_rels = _stats._data_files(vdir)
        if len(kept_rels) >= len(all_rels):
            return None  # nothing skippable — plain path, same cost
        kept_abs = [os.path.join(vdir, rel) for rel in sorted(kept_rels)]
        keep_rels = [rel for rel in all_rels if rel not in kept_rels]
        return kept_abs, keep_rels, self._version_schema(base)

    def _read_files(self, spark: SparkSession, base: str, abs_paths, schema):
        """Scan exactly ``abs_paths`` of version ``base`` under the
        sidecar schema — PHYSICAL rows, the deletion vector not yet
        applied (see :meth:`_scan_files`) — or an empty typed frame
        when no file matched (a pure-insert batch)."""
        if not abs_paths:
            if schema is None:
                schema = self.read(spark, version=base).schema
            return empty_frame(spark, schema)
        reader = (
            spark.read.format(self.fmt)
            .options(**_FORMAT_OPTIONS[self.fmt])
            .option("basePath", os.path.join(self.path, base))
        )
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(abs_paths)

    def _scan_files(
        self, spark: SparkSession, base: str, abs_paths, schema,
        keep_file: bool = False,
    ) -> DataFrame:
        """:meth:`_read_files` with the version's deletion vector
        applied: these scans feed REWRITES (pruned merge/delete/purge)
        and vector maintenance, and an unfiltered read would physically
        resurrect tombstoned rows into new files. ``keep_file`` keeps
        the ``DV_FILE`` identity column (see :meth:`_apply_dv`)."""
        df = self._read_files(spark, base, abs_paths, schema)
        if not abs_paths:
            return (
                df.withColumn(DV_FILE, F.lit(None).cast("string"))
                if keep_file
                else df
            )
        return self._apply_dv(
            spark, df, os.path.join(self.path, base), keep_file=keep_file
        )

    def _stats_may_isolate(self, vdir: str) -> bool:
        """True when the ``_STATS`` bands of the first key column are
        pairwise disjoint across the version's files (files without
        usable stats aside) — a key-clustered layout, where the
        stats-scoped merge/delete planning can skip files. False for a
        hashed or hash-partitioned layout, where every band spans the
        key range, and when there is no usable sidecar: the planning
        probe's collect job is then skipped. Driver-side, no job."""
        from a2b_spark.storage import stats as _stats

        tbl = _stats.load_stats_arrow(vdir)
        spec = (
            None if tbl is None
            else _stats._stat_col_specs(tbl.schema.names).get(self.key_cols[0])
        )
        if spec is None:
            return False
        bands = sorted(
            (mn, mx)
            for mn, mx in zip(
                tbl.column(spec["min"]).to_pylist(), tbl.column(spec["max"]).to_pylist()
            )
            if mn is not None and mx is not None
        )
        return all(a[1] < b[0] for a, b in zip(bands, bands[1:]))

    @staticmethod
    def _files_matching_keys(vdir: str, key: str, keys_sorted: list):
        """Relative data-file paths whose ``_STATS`` [min,max] band for
        ``key`` contains at least one of ``keys_sorted`` — files with
        missing/unusable stats are always kept (may-match). Returns
        None when the sidecar lacks the key column entirely (no
        pruning possible). One bisect per file entry."""
        from bisect import bisect_left

        from a2b_spark.storage import stats as _stats

        tbl = _stats.load_stats_arrow(vdir)
        if tbl is None:
            return None
        spec = _stats._stat_col_specs(tbl.schema.names).get(key)
        if spec is None:
            return None
        rels = tbl.column("rel").to_pylist()
        mins = tbl.column(spec["min"]).to_pylist()
        maxs = tbl.column(spec["max"]).to_pylist()
        kept = set()
        for rel, mn, mx in zip(rels, mins, maxs):
            if mn is None or mx is None:
                kept.add(rel)  # no usable stats: may match
                continue
            try:
                i = bisect_left(keys_sorted, mn)
            except TypeError:
                return None  # incomparable key/stat types: no pruning
            if i < len(keys_sorted) and keys_sorted[i] <= mx:
                kept.add(rel)
        return kept

    def _drop_empty_write(self, tmp_target: str) -> None:
        """Spark's writer stages one 0-row part file for an empty frame
        (it keeps the schema that way). Where linked files and the
        ``_SCHEMA`` sidecar carry the schema, remove it: an empty batch
        adds no data file. One footer read, only when the write staged
        exactly one file — an empty frame never stages more."""
        from a2b_spark.storage import stats as _stats

        staged = _stats._data_files(tmp_target)
        if len(staged) != 1:
            return
        path = os.path.join(tmp_target, staged[0])
        if self.fmt == "parquet":
            import pyarrow.parquet as pq

            rows = pq.read_metadata(path).num_rows
        else:
            import pyarrow.orc as orc

            rows = orc.ORCFile(path).nrows
        if rows == 0:
            head, name = os.path.split(path)
            for fn in (name, f".{name}.crc"):
                if os.path.exists(os.path.join(head, fn)):
                    os.remove(os.path.join(head, fn))

    def _stage_dv(self, tmp_target: str, src_vdir: Optional[str], dv_new=None) -> None:
        """Stage the staged version's deletion vector AFTER its data
        files are in place: every delta of ``src_vdir`` whose entries
        all name a data file of the new version is HARDLINKED, a delta
        with some dead entries is rewritten without them, a wholly dead
        one is dropped; ``dv_new`` (pyarrow entries) becomes one new
        delta, also without dead entries. Driver-side pyarrow only —
        the vector is capped at DV_MAX_KEYS entries."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        deltas = self._dv_deltas(src_vdir) if src_vdir else []
        if not deltas and (dv_new is None or not dv_new.num_rows):
            return
        live = pa.array(sorted(set(self._file_ids(tmp_target).values())), pa.string())
        dst = os.path.join(tmp_target, DV_DIR)

        def put(tbl, src: Optional[str] = None) -> None:
            mask = pc.is_in(tbl.column(DV_FILE), value_set=live)
            n = pc.sum(mask).as_py() or 0
            if not n:
                return
            os.makedirs(dst, exist_ok=True)
            if src is not None and n == tbl.num_rows:
                os.link(src, os.path.join(dst, os.path.basename(src)))
            else:
                pq.write_table(
                    tbl.filter(mask),
                    os.path.join(dst, f"dv-{uuid.uuid4().hex}.parquet"),
                )

        for src in deltas:
            put(pq.read_table(src), src)
        if dv_new is not None and dv_new.num_rows:
            put(dv_new)

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
        cluster_by: Sequence[str] | None = None,
        cluster_mode: str = "range",
    ) -> dict:
        """Bin-pack small files (the OPTIMIZE of Delta/Iceberg): rewrite
        any partition holding ``min_files``-or-more data files into
        ``ceil(bytes / target_file_bytes)`` files; partitions already
        compact are hard-linked, not rewritten. Incremental keyed merges
        add a file per commit, so long-lived tables trend toward many
        tiny files — death by task-scheduling and footer overhead at
        100 TB (a 1-row parquet file still costs a task + a footer
        read). Data is byte-identical; the commit is a normal new
        version, so time travel retains the pre-compaction layout until
        vacuum.

        ``cluster_by``: the OPTIMIZE ZORDER analogue — ALSO re-layout
        the data so those columns' value ranges are DISJOINT across
        files (range repartition + within-file sort, lexicographic on
        the column tuple), which is what turns the ``_STATS``
        file-skipping sidecar from "never wrong" into "actually
        skips": after clustering, a point or range predicate on the
        leading cluster column prunes to O(matching files) instead of
        reading everything. Clustering REWRITES every partition
        (changing layout is the point — ``min_files`` only gates the
        no-cluster fast path), still sizing file counts by bytes.
        ``cluster_mode``: ``"range"`` (default) lays files out
        lexicographically on the column tuple — exact skipping on the
        LEADING column, prefix benefits on the rest. ``"zorder"``
        bit-interleaves the columns (storage/zorder.py) so each file
        covers a small hyper-rectangle and predicates on ANY clustered
        column prune — the OPTIMIZE ZORDER BY semantics. Single-column
        cluster_by should stay on "range" (interleaving one column is
        just a coarser range).

        Per-partition output file counts are computed driver-side from
        the leaf directory listing (O(file count), no data read) and
        applied via a ``__bucket`` column — hash of the key columns mod
        that partition's target count — so one shuffle produces exactly
        the target layout. Returns
        ``{"partitions_rewritten", "files_before", "files_after"}``.
        """
        import math

        cur = self.current_version()
        empty = {"partitions_rewritten": 0, "files_before": 0, "files_after": 0}
        if cur is None:
            return empty
        vdir = os.path.join(self.path, cur)

        def _data_files(d: str) -> list[str]:
            return [
                os.path.join(d, f)
                for f in os.listdir(d)
                if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
            ]

        if cluster_mode not in ("range", "zorder"):
            raise ValueError(
                f"cluster_mode must be 'range' or 'zorder', got {cluster_mode!r}"
            )
        if cluster_by:
            cur_df = self.read(spark, version=cur)
            missing = [c for c in cluster_by if c not in cur_df.columns]
            if missing:
                raise ValueError(f"cluster_by columns not in table: {missing}")

        def _cluster_layout(df: DataFrame, n: int, lead: Sequence[str]):
            """Range-partition + within-file sort on the cluster layout
            key: the raw column tuple ("range") or the interleaved-bit
            z-value ("zorder"). ``lead``: partition columns, kept ahead
            of the key so each leaf's rows stay contiguous."""
            if cluster_mode == "zorder":
                from a2b_spark.storage.zorder import zorder_key

                # collision-proof temp name: withColumn REPLACES an
                # existing column, so a user column literally named
                # "__z" would be silently destroyed by the rewrite
                zc = f"__z_{uuid.uuid4().hex[:8]}"
                df = df.withColumn(zc, zorder_key(df, list(cluster_by)))
                out = df.repartitionByRange(
                    max(1, n), *lead, zc
                ).sortWithinPartitions(*lead, zc)
                return out.drop(zc)
            return df.repartitionByRange(
                max(1, n), *lead, *cluster_by
            ).sortWithinPartitions(*lead, *cluster_by)

        if not self.partition_by:
            files = _data_files(vdir)
            if cluster_by:
                if not files:
                    return empty
                n = max(
                    1,
                    math.ceil(sum(os.path.getsize(f) for f in files) / target_file_bytes),
                )
                clustered = _cluster_layout(
                    self.read(spark, version=cur), n, lead=()
                )
                self.overwrite(clustered, op="compact", base=cur)
                return {
                    "partitions_rewritten": 1,
                    "files_before": len(files),
                    "files_after": n,
                }
            if len(files) < min_files:
                return {**empty, "files_before": len(files), "files_after": len(files)}
            n = max(1, math.ceil(sum(os.path.getsize(f) for f in files) / target_file_bytes))
            if n >= len(files):
                return {**empty, "files_before": len(files), "files_after": len(files)}
            self.overwrite(self.read(spark, version=cur).repartition(n), op="compact", base=cur)
            return {
                "partitions_rewritten": 1,
                "files_before": len(files),
                "files_after": n,
            }

        # partitioned: plan per-leaf target counts from the listing
        plan: dict[tuple, int] = {}
        before = after = 0
        for leaf, values in _leaf_partitions(vdir, len(self.partition_by)):
            files = _data_files(leaf)
            before += len(files)
            n = max(
                1, math.ceil(sum(os.path.getsize(f) for f in files) / target_file_bytes)
            )
            if cluster_by:
                # re-layout rewrites every non-empty partition
                if files:
                    plan[values] = n
                    after += n
            elif len(files) >= min_files and n < len(files):
                plan[values] = n
                after += n
            else:
                after += len(files)
        if not plan:
            return {**empty, "files_before": before, "files_after": before}

        current = self.read(spark, version=cur)  # pinned snapshot
        touched_df = current.filter(self._partition_filter(set(plan)))
        if cluster_by:
            # contiguous (partition, cluster) ranges: partitionBy splits
            # each range task by partition value, so a leaf's rows land
            # in ~(leaf share of rows)·N contiguous files, each covering
            # a disjoint cluster-column range; within-file sort keeps
            # row groups tight for the footer stats
            total_n = sum(plan.values())
            clustered = _cluster_layout(
                touched_df, total_n, lead=self.partition_by
            )
            self._commit_touched(clustered, set(plan), op="compact", base=cur)
            return {
                "partitions_rewritten": len(plan),
                "files_before": before,
                "files_after": after,
            }
        # per-partition bucket count via a literal map (partition lists
        # are low-cardinality by design — same contract as
        # _touched_partitions)
        sep = "\x00"
        pkey = F.concat_ws(sep, *[F.col(c).cast("string") for c in self.partition_by])
        nmap = F.create_map(
            *[
                F.lit(x)
                for vals, n in plan.items()
                for x in (sep.join(vals), n)
            ]
        )
        bucketed = touched_df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(c) for c in self.key_cols]), nmap[pkey]),
        ).repartition(*self.partition_by, "__bucket")
        self._commit_touched(bucketed.drop("__bucket"), set(plan), op="compact", base=cur)
        return {
            "partitions_rewritten": len(plan),
            "files_before": before,
            "files_after": after,
        }

    # ------------------------------------------------------------ vacuum
    def vacuum(self, keep: int | None = None, older_than=None) -> None:
        """Trim committed history to the newest ``keep`` versions.

        ``older_than`` (a ``datetime.timedelta`` or seconds) switches
        to TIME-BASED retention — the operational contract a CDC
        consumer needs (examples/lakehouse_cdc.py: a count-based window
        silently vacuums commits an availableNow stream with lag has
        not read yet; "newer than the consumer's longest downtime"
        is statable, "fewer than N commits behind" is not): only
        committed versions whose COMMIT TIMESTAMP (``_COMMIT_INFO``;
        dir mtime for pre-feature versions, unknown age keeps) is
        older than the cutoff are trimmed. ``keep`` then defaults to 1
        (purely time-based; pass both for the intersection — a version
        survives if EITHER guard holds). The automatic per-commit
        vacuum stays count-based (``self.retention``); tables serving
        lagging consumers should set ``retention`` high and run
        ``vacuum(older_than=...)`` on their own schedule.

        Counts only COMMITTED versions (the same ``d <= _CURRENT`` rule
        as :meth:`versions`): a crashed/mid-commit writer's orphan dir
        (newer than the marker) must not occupy a retention slot —
        otherwise it would silently push committed time-travel history,
        or at keep=1 the live version itself, out of the window. Orphan
        dirs newer than ``_CURRENT`` are deleted only after the same
        grace period as staging dirs — a CONCURRENT writer sits between
        ``_claim_version_dir`` and the marker flip for a moment, and an
        ungraced vacuum there would delete the dir the marker is about
        to point at, bricking the table (round-9 review finding). The
        live version is always preserved."""
        import time as _time

        if keep is None:
            keep = 1 if older_than is not None else self.retention
        if not os.path.isdir(self.path):
            return
        cur = self.current_version()
        all_dirs = sorted(d for d in os.listdir(self.path) if d.startswith("v_"))
        if cur is None:
            # version dirs with no/empty _CURRENT marker = a damaged
            # table (marker lost in a partial copy), not orphans —
            # deleting here would turn a recoverable state (rewrite the
            # marker by hand) into permanent data loss. No-op.
            return
        cutoff = _time.time() - 3600
        committed = [d for d in all_dirs if d <= cur]
        orphans = []
        for d in all_dirs:
            if d <= cur:
                continue
            try:
                if os.path.getmtime(os.path.join(self.path, d)) < cutoff:
                    orphans.append(d)  # crashed writer's leftover
            except OSError:
                pass  # vanished mid-scan (the writer just claimed it)
        doomed = committed[:-keep] if keep else committed
        if older_than is not None:
            seconds = (
                older_than.total_seconds()
                if hasattr(older_than, "total_seconds")
                else float(older_than)
            )
            ts_cutoff = _time.time() - seconds
            # trim only the CONTIGUOUS oldest prefix: stop at the first
            # version failing the age test (non-monotone commit
            # timestamps — a clock step, an unreadable _COMMIT_INFO
            # falling back to a fresh mtime — must never punch a hole
            # in retained history, which would wedge every stream and
            # table_changes range crossing it)
            aged = []
            for d in doomed:
                age = self._commit_ts_epoch(d)
                if age is None or age >= ts_cutoff:
                    break
                aged.append(d)
            doomed = aged
        for d in doomed + orphans:
            if d == cur:
                continue
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        # crashed writers leave .tmp-* staging dirs (never referenced
        # by the marker); reclaim them — but only STALE ones, because
        # vacuum runs at every commit and a concurrent writer's staging
        # dir may be mid-write (same grace-period rule as Delta's
        # uncommitted-file cleanup)
        import time as _time

        cutoff = _time.time() - 3600
        for d in os.listdir(self.path):
            if d.startswith(".tmp-"):
                p = os.path.join(self.path, d)
                try:
                    if os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass

    def _commit_ts_epoch(self, version: str) -> Optional[float]:
        """A version's commit time as an epoch float — from its
        ``_COMMIT_INFO`` timestamp, falling back to dir mtime for
        pre-commit-info versions; None (= unknown age, never vacuum by
        time) when both are unreadable."""
        import datetime as _dt
        import json as _json

        info = os.path.join(self.path, version, COMMIT_INFO)
        try:
            with open(info) as f:
                ts = _json.loads(f.read()).get("ts")
            if ts:
                return _dt.datetime.fromisoformat(ts).timestamp()
        except (OSError, ValueError):
            pass
        try:
            return os.path.getmtime(os.path.join(self.path, version))
        except OSError:
            return None


def _unescape_hive(s: str) -> str:
    """Inverse of Hive/Spark ``escapePathName``: directory names encode
    special characters (``:``, ``%``, ``=``, ``#`` …) as ``%XX`` hex.
    Every comparison against actual column values (``_partition_filter``,
    ``_commit_touched``'s touched set, ``compact``'s plan keys) must use
    the UNESCAPED value — comparing the raw dir name silently selects
    zero rows for e.g. timestamp-string partitions (round-4 advice:
    data loss in compact, duplicate rows in partitioned merge/delete)."""
    if "%" not in s:
        return s
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%" and i + 2 < len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass  # not a hex escape: keep the literal '%'
        out.append(c)
        i += 1
    return "".join(out)


def _leaf_partitions(root: str, depth: int):
    """Yield (leaf_dir, partition_value_tuple) for a Hive-layout tree.
    Values are UNESCAPED (see :func:`_unescape_hive`) so they compare
    equal to ``cast('string')`` of the partition columns."""
    stack = [(root, ())]
    while stack:
        d, vals = stack.pop()
        if len(vals) == depth:
            yield d, vals
            continue
        for name in os.listdir(d):
            sub = os.path.join(d, name)
            if os.path.isdir(sub) and "=" in name:
                stack.append(
                    (sub, vals + (_unescape_hive(name.split("=", 1)[1]),))
                )
