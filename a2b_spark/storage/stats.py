"""Per-file column statistics for VersionedParquetTable — the
file-skipping layer (Delta/Iceberg data-skipping analogue).

At 100 TB a table is millions of parquet files; Spark's row-group
pruning only helps AFTER a file's footer is opened, and opening a
million footers is itself the bottleneck. Delta and Iceberg solve
this with per-file min/max statistics in the commit metadata so the
DRIVER can drop files before any scan task is scheduled. Same here:
each commit writes a ``_STATS`` sidecar mapping every data file's
relative path to per-column {min, max, null_count} harvested from the
parquet FOOTERS of the just-written files (metadata-only reads — no
data pages; cost proportional to NEW files only, hardlinked files
reuse the base version's entries by inode).

Reference parity note: the reference (A2B) delegates all storage to
its source/destination DBs and has no analogue; this is part of the
beyond-reference lakehouse surface (SURVEY §8) alongside versioning,
compaction, optimistic concurrency and vacuum.

Safety model: statistics can only SKIP a file when its [min, max]
range provably cannot satisfy a predicate. Missing stats (unsupported
column type, truncated string upper bound, NaN floats, a file written
before stats existed) always mean KEEP — the pruned read then applies
the full predicate as a real Spark filter, so results are exact even
when stats are absent; the stats only decide how many files the scan
touches.

Supported predicate ops: =, <, <=, >, >=, between (conjunctive AND).
IS NULL / IS NOT NULL are deliberately out: null_count is recorded
and used only for the all-null fast skip of value predicates.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import warnings
from typing import Any, Iterable, Optional, Sequence

STATS_FILE = "_STATS"
STATS_FORMAT_VERSION = 1  # JSON layout (read back-compat)
STATS_PARQUET_VERSION = 2  # columnar layout (written since round 8)
MAX_STATS_COLUMNS = 32  # Delta's first-N-columns discipline
MAX_STRING_LEN = 64

# arrow type family -> tag stored in the sidecar
_TAGS = {"int": "i", "float": "f", "string": "s", "bool": "b", "ts": "ts", "date": "d"}


def _type_tag(arrow_type) -> Optional[str]:
    import pyarrow as pa

    if pa.types.is_integer(arrow_type):
        return "i"
    if pa.types.is_floating(arrow_type):
        return "f"
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return "s"
    if pa.types.is_boolean(arrow_type):
        return "b"
    if pa.types.is_timestamp(arrow_type):
        return "ts"
    if pa.types.is_date(arrow_type):
        return "d"
    return None


def _encode(v: Any, tag: str) -> Optional[Any]:
    """JSON-encode a stats value; None = unknown/unencodable (never
    prunes)."""
    if v is None:
        return None
    if tag == "f":
        v = float(v)
        return None if v != v else v  # NaN -> unknown
    if tag == "i":
        return int(v)
    if tag == "b":
        return bool(v)
    if tag == "s":
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        return str(v)
    if tag == "ts":
        # normalize to NAIVE UTC: Spark writes TIMESTAMP_MICROS as
        # UTC-adjusted instants (pyarrow yields tz-aware datetimes);
        # storing naive-UTC makes stats comparable with the naive
        # datetimes Spark rows round-trip as in a UTC session
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if tag == "d":
        return v.isoformat()
    return None


def _decode(v: Any, tag: str) -> Any:
    if v is None:
        return None
    if tag == "ts":
        return _dt.datetime.fromisoformat(v)
    if tag == "d":
        return _dt.date.fromisoformat(v)
    return v


def _coerce_literal(value: Any, tag: str) -> Any:
    """Make a user-supplied predicate literal comparable with decoded
    stats values (ISO strings accepted for timestamp/date columns)."""
    if tag == "ts":
        if isinstance(value, str):
            value = _dt.datetime.fromisoformat(value)
        elif isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            value = _dt.datetime(value.year, value.month, value.day)
        if isinstance(value, _dt.datetime):
            if value.tzinfo is not None:  # stats are naive UTC
                value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return value
    if tag == "d":
        if isinstance(value, str):
            return _dt.date.fromisoformat(value)
        if isinstance(value, _dt.datetime):
            return value.date()
    return value


def _date_safe_pred(op: str, value: Any, tag: str):
    """Rewrite a predicate whose literal is a DATETIME (or datetime
    string) but whose column is a DATE into the equivalent safe date
    predicate. Spark promotes the date column to timestamp, so plain
    truncation over-prunes ``<``: ``d < D+t`` (t > 0) matches rows
    with ``d = D`` — the round-8 float-vs-int truncation bug's date
    twin. ``<`` with a non-midnight time becomes ``<= D``; every other
    op truncates safely (``>=``/``=`` merely widen). tz-AWARE datetime
    literals additionally depend on the session zone the stats don't
    know — returns ``(None, None)``: an unusable bound, skip the
    predicate (keep all files)."""
    if tag != "d":
        return op, value

    def conv(v, o):
        if isinstance(v, str):
            try:
                _dt.date.fromisoformat(v)
                return o, v  # plain date string: truncation-free
            except ValueError:
                try:
                    v = _dt.datetime.fromisoformat(v)
                except ValueError:
                    return o, v  # not a datetime either: _lit will raise
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                return None, None
            if o == "<" and v.time() != _dt.time():
                return "<=", v.date()
            return o, v.date()
        return o, v

    if op == "between":
        o1, lo = conv(value[0], ">=")
        o2, hi = conv(value[1], "<=")
        if o1 is None or o2 is None:
            return None, None
        return "between", (lo, hi)
    return conv(value, op)


def collect_parquet_file_stats(path: str) -> dict:
    """Footer-only stats for ONE parquet file:
    {"rows": n, "cols": {name: {"t": tag, "min": v|None, "max": v|None,
    "nulls": n|None}}}. Only top-level columns of supported types, the
    first MAX_STATS_COLUMNS of the schema. String maxima longer than
    MAX_STRING_LEN store None (a truncated prefix is a valid LOWER
    bound for min but not an upper bound for max)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    arrow_schema = pf.schema_arrow
    # map top-level supported fields -> their leaf column index in the
    # parquet schema (nested fields have path names with dots; skip)
    leaf_names = [md.schema.column(i).path for i in range(md.num_columns)]
    wanted: dict[str, tuple[int, str]] = {}
    for field in list(arrow_schema)[:MAX_STATS_COLUMNS]:
        tag = _type_tag(field.type)
        if tag is None:
            continue
        try:
            idx = leaf_names.index(field.name)
        except ValueError:
            continue
        wanted[field.name] = (idx, tag)

    cols: dict[str, dict] = {}
    for name, (idx, tag) in wanted.items():
        mn = mx = None
        nulls: Optional[int] = 0
        seen_minmax = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None:
                seen_minmax = False
                nulls = None
                break
            if st.null_count is None:
                nulls = None
            elif nulls is not None:
                nulls += st.null_count
            if not st.has_min_max:
                # a row group of only nulls has no min/max; that's
                # fine unless ALL groups lack it (handled below by
                # mn/mx staying None)
                continue
            lo, hi = _encode(st.min, tag), _encode(st.max, tag)
            if lo is not None and (mn is None or _decode(lo, tag) < _decode(mn, tag)):
                mn = lo
            if hi is not None and (mx is None or _decode(hi, tag) > _decode(mx, tag)):
                mx = hi
        if not seen_minmax:
            mn = mx = None
        if tag == "s":
            if mn is not None and len(mn) > MAX_STRING_LEN:
                mn = mn[:MAX_STRING_LEN]  # prefix = valid lower bound
            if mx is not None and len(mx) > MAX_STRING_LEN:
                mx = None  # a truncated prefix is NOT an upper bound
        cols[name] = {"t": tag, "min": mn, "max": mx, "nulls": nulls}
    return {"rows": md.num_rows, "cols": cols}


def keep_data_dir(name: str) -> bool:
    """True when a directory may hold DATA files. Metadata dirs
    (``_cdf``) are ``_``/``.``-prefixed and pruned — but a hive
    PARTITION dir may legitimately start with ``_`` too (``__epoch=0``),
    so "contains =" wins over the underscore rule. THE one predicate —
    every version-dir walker (stats harvest, reads, hardlink commits,
    appends planning) must agree or files silently flip between data
    and metadata."""
    return "=" in name or not name.startswith(("_", "."))


def _data_files(version_dir: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(version_dir):
        dirs[:] = [d for d in dirs if keep_data_dir(d)]
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            out.append(os.path.relpath(os.path.join(root, fn), version_dir))
    return sorted(out)


def build_version_stats(
    version_dir: str,
    base_dir: Optional[str] = None,
    base_stats: Optional[dict] = None,
    batch_collector=None,
) -> dict:
    """Stats for every data file under ``version_dir``. Files that are
    HARDLINKS of a base-version file with the same relative path (same
    inode — how a commit reuses the files it links) copy the base
    entry instead of re-reading the footer, so the cost of a commit
    stays proportional to its new files.

    ``batch_collector`` (callable ``(version_dir, rels) -> {rel:
    stats}``) replaces the per-file parquet footer read for formats
    whose footers pyarrow cannot read driver-side — ORC goes through
    ONE distributed aggregation over all new files
    (:func:`collect_file_stats_spark`). Rels it omits get the
    never-pruned placeholder."""
    files: dict[str, dict] = {}
    need: list[str] = []
    base_files = (base_stats or {}).get("files", {})
    for rel in _data_files(version_dir):
        full = os.path.join(version_dir, rel)
        if base_dir is not None and rel in base_files:
            old = os.path.join(base_dir, rel)
            try:
                if os.path.exists(old) and os.path.samestat(
                    os.stat(old), os.stat(full)
                ):
                    files[rel] = base_files[rel]
                    continue
            except OSError:
                pass
        need.append(rel)
    if batch_collector is not None:
        collected = batch_collector(version_dir, need) if need else {}
        for rel in need:
            files[rel] = collected.get(rel, {"rows": None, "cols": {}})
        return {"version": STATS_FORMAT_VERSION, "files": files}
    for rel in need:
        try:
            files[rel] = collect_parquet_file_stats(
                os.path.join(version_dir, rel)
            )
        except Exception:
            # unreadable footer -> no stats -> file is never pruned
            files[rel] = {"rows": None, "cols": {}}
    return {"version": STATS_FORMAT_VERSION, "files": files}


# Spark simpleString type name -> sidecar tag (the Spark-schema twin of
# ``_type_tag``; decimals and nested types are unsupported in BOTH, so
# a column is stats-eligible under the same rule whichever harvester
# ran).
_SPARK_TAGS = {
    "tinyint": "i", "smallint": "i", "int": "i", "bigint": "i",
    "float": "f", "double": "f", "string": "s", "boolean": "b",
    "timestamp": "ts", "timestamp_ntz": "ts", "date": "d",
}

# ORC TypeDescription category name -> sidecar tag. Matches what the
# distributed harvester records for the same file: it infers the FILE
# schema, so a column's tag follows the file's physical type whichever
# harvester ran (e.g. Spark writes TIMESTAMP_NTZ into ORC as bigint —
# both paths record tag "i" over the raw int64 values). Categories not
# listed (decimal, char/varchar, binary, nested) are skipped by both.
_ORC_TAGS = {
    "tinyint": "i", "smallint": "i", "int": "i", "bigint": "i",
    "float": "f", "double": "f", "string": "s", "boolean": "b",
    "timestamp": "ts", "date": "d",
}

# Driver-side footer harvest is a py4j loop (a few ms per file); past
# this many new files one distributed aggregation amortizes better.
MAX_FOOTER_HARVEST_FILES = 1024


def collect_orc_footer_stats(
    spark, version_dir: str, rels: Sequence[str]
) -> Optional[dict]:
    """Per-file ORC statistics from the file FOOTERS via the JVM ORC
    reader (py4j) — metadata-only, no Spark job, no data pages; the ORC
    twin of :func:`collect_parquet_file_stats` (pyarrow exposes no ORC
    column statistics as of 16.x, but orc-core ships with Spark).
    Returns None when any file resists (caller falls back to the
    distributed harvest) — a partial answer must never silently replace
    the exact one.

    Soundness notes, each verified against orc-core 2.2 behavior:
    - a column with ``getNumberOfValues() == 0`` (all null) stores the
      type's UNINITIALIZED extremes — gated to min=max=None;
    - double/float stats IGNORE NaN while Spark orders NaN above every
      value, so a file's true max may be NaN; ``getSum()`` goes NaN
      whenever any NaN was accumulated — on a NaN (or otherwise
      undefined) sum the max is dropped (None never prunes). The min
      stays: NaN can never lower it;
    - timestamp stats carry exact nanos (``getTime()`` floors to the
      millisecond, ``getNanos()`` restores the rest) and
      ``getMinimumUTC``/``getMaximumUTC`` are the session-independent
      instants the sidecar stores (naive UTC);
    - strings longer than ORC's 1024-byte stat limit return None from
      ``getMinimum``/``getMaximum``; the truncated ``getLowerBound`` is
      still a valid LOWER bound, an upper bound is never synthesized."""
    import math

    if len(rels) > MAX_FOOTER_HARVEST_FILES:
        return None
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        orcfile = jvm.org.apache.orc.OrcFile
        out: dict[str, dict] = {}
        for rel in rels:
            full = os.path.join(version_dir, rel)
            jpath = jvm.org.apache.hadoop.fs.Path("file://" + full)
            reader = orcfile.createReader(jpath, orcfile.readerOptions(hconf))
            try:  # the footer is all we need: release the file handle
                schema = reader.getSchema()
                rows = int(reader.getNumberOfRows())
                stats = reader.getStatistics()
            finally:
                reader.close()
            if schema.getCategory().getName() != "struct":
                return None
            names = list(schema.getFieldNames())
            children = schema.getChildren()
            cols: dict[str, dict] = {}
            for i, name in enumerate(names[:MAX_STATS_COLUMNS]):
                child = children[i]
                category = child.getCategory().getName()
                tag = _ORC_TAGS.get(category)
                # Spark records its logical type as a schema attribute
                # when it differs from the physical ORC category
                # (TIMESTAMP_NTZ rides an int64 of micros). The
                # distributed harvester sees the LOGICAL type, so this
                # path must too; the one known mapping is handled, any
                # other physical/logical divergence falls back whole.
                catalyst = child.getAttributeValue("spark.sql.catalyst.type")
                ntz_micros = False
                if catalyst is not None:
                    cat_tag = _SPARK_TAGS.get(catalyst)
                    if catalyst == "timestamp_ntz" and category == "bigint":
                        tag, ntz_micros = "ts", True
                    elif cat_tag != tag:
                        return None
                if tag is None:
                    continue
                st = stats[int(child.getId())]
                n_values = int(st.getNumberOfValues())
                nulls = rows - n_values
                if n_values == 0:
                    cols[name] = {"t": tag, "min": None, "max": None, "nulls": nulls}
                    continue
                if ntz_micros:
                    epoch = _dt.datetime(1970, 1, 1)
                    mn = epoch + _dt.timedelta(microseconds=int(st.getMinimum()))
                    mx = epoch + _dt.timedelta(microseconds=int(st.getMaximum()))
                elif tag == "i":
                    mn, mx = int(st.getMinimum()), int(st.getMaximum())
                elif tag == "f":
                    mn, mx = float(st.getMinimum()), float(st.getMaximum())
                    s = st.getSum()
                    if s is None or math.isnan(float(s)):
                        mx = None  # NaN present: true max is NaN
                        if mn == 1.7976931348623157e308:
                            # ALL values NaN: ORC never updated min and
                            # left Double.MAX_VALUE — drop it (a column
                            # genuinely bounded at MAX_VALUE merely
                            # loses pruning, never correctness)
                            mn = None
                elif tag == "s":
                    mn = st.getMinimum()
                    if mn is None:  # >1024b: truncated prefix = lower bound
                        mn = st.getLowerBound()
                    # None when truncated; ORC's incremented getUpperBound
                    # is not used (MAX_STRING_LEN would drop it anyway)
                    mx = st.getMaximum()
                elif tag == "b":
                    mn = int(st.getFalseCount()) == 0  # no False -> min True
                    mx = int(st.getTrueCount()) > 0
                elif tag == "ts":

                    def _utc_micros(jts):
                        if jts is None:
                            return None
                        micros = (int(jts.getTime()) // 1000) * 1_000_000 + int(
                            jts.getNanos()
                        ) // 1000
                        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                            microseconds=micros
                        )

                    mn = _utc_micros(st.getMinimumUTC())
                    mx = _utc_micros(st.getMaximumUTC())
                else:  # "d"
                    epoch_day = _dt.date(1970, 1, 1)
                    mn = epoch_day + _dt.timedelta(days=int(st.getMinimumDayOfEpoch()))
                    mx = epoch_day + _dt.timedelta(days=int(st.getMaximumDayOfEpoch()))
                mn, mx = _encode(mn, tag), _encode(mx, tag)
                if tag == "s":
                    if mn is not None and len(mn) > MAX_STRING_LEN:
                        mn = mn[:MAX_STRING_LEN]  # prefix = valid lower bound
                    if mx is not None and len(mx) > MAX_STRING_LEN:
                        mx = None  # a truncated prefix is NOT an upper bound
                cols[name] = {"t": tag, "min": mn, "max": mx, "nulls": nulls}
            out[rel] = {"rows": rows, "cols": cols}
        return out
    except Exception:
        return None


def collect_file_stats_spark(
    spark, version_dir: str, rels: Sequence[str], fmt: str
) -> dict:
    """Per-file stats harvested by ONE distributed aggregation — the
    stats path for formats whose footer statistics pyarrow cannot read
    on the driver (ORC: ``pyarrow.orc.ORCFile`` exposes no column
    statistics as of 16.x). Cost model: parquet commits pay driver-side
    footer-only reads of new files; ORC commits pay one narrow Spark
    job scanning the NEW files' stats columns (hardlinked files still
    reuse the base sidecar via :func:`build_version_stats`, so a
    partitioned commit's harvest stays proportional to its new data).

    Returns ``{rel: {"rows": n, "cols": {...}}}`` in the same encoded
    shape as :func:`collect_parquet_file_stats`. Any failure returns
    ``{}`` — absent entries become never-pruned placeholders, never an
    aborted commit. TimestampType min/max travel as ``unix_micros``
    (exact, session-timezone-proof) and decode to the sidecar's naive
    UTC; TIMESTAMP_NTZ collects verbatim. A float column whose min/max
    lands on NaN (Spark sorts NaN above everything) encodes to None
    via ``_encode`` — the file is simply never pruned on that bound."""
    import datetime as dt
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    try:
        abs_paths = [os.path.join(version_dir, r) for r in rels]
        df = (
            spark.read.format(fmt)
            .option("mergeSchema", "true")  # pre-evolution files null-fill
            .load(abs_paths)
        )
        # a dotted/odd column name must never be re-parsed (repo
        # odd-name rule, and df[name]/df[pos] both parse): rename ALL
        # columns POSITIONALLY to safe handles first, keep the
        # original name only for the sidecar keys
        originals = [f.name for f in df.schema.fields]
        df = df.toDF(*[f"__c{i}" for i in range(len(originals))])
        wanted: list[tuple[str, str, str, int]] = []
        for pos, field in enumerate(df.schema.fields[:MAX_STATS_COLUMNS]):
            tname = field.dataType.simpleString()
            tag = _SPARK_TAGS.get(tname)
            if tag is not None:
                wanted.append((originals[pos], tag, tname, pos))
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, (name, tag, tname, pos) in enumerate(wanted):
            c = F.col(f"__c{pos}")
            mn, mx = F.min(c), F.max(c)
            if tname == "timestamp":
                mn, mx = F.unix_micros(mn), F.unix_micros(mx)
            aggs.append(mn.alias(f"__mn_{i}"))
            aggs.append(mx.alias(f"__mx_{i}"))
            aggs.append(F.count(c).alias(f"__nn_{i}"))
        rows = (
            df.groupBy(F.input_file_name().alias("__file"))
            .agg(*aggs)
            .collect()
        )
    except Exception:
        return {}

    epoch = dt.datetime(1970, 1, 1)

    def _from_micros(m):
        return None if m is None else epoch + dt.timedelta(microseconds=m)

    out: dict[str, dict] = {}
    for r in rows:
        p = unquote(urlparse(r["__file"]).path)
        rel = os.path.relpath(p, version_dir)
        cols: dict[str, dict] = {}
        for i, (name, tag, tname, _pos) in enumerate(wanted):
            mn, mx = r[f"__mn_{i}"], r[f"__mx_{i}"]
            if tname == "timestamp":
                mn, mx = _from_micros(mn), _from_micros(mx)
            mn, mx = _encode(mn, tag), _encode(mx, tag)
            if tag == "s":
                if mn is not None and len(mn) > MAX_STRING_LEN:
                    mn = mn[:MAX_STRING_LEN]  # prefix = valid lower bound
                if mx is not None and len(mx) > MAX_STRING_LEN:
                    mx = None  # a truncated prefix is NOT an upper bound
            cols[name] = {
                "t": tag,
                "min": mn,
                "max": mx,
                "nulls": int(r["__rows"]) - int(r[f"__nn_{i}"]),
            }
        out[rel] = {"rows": int(r["__rows"]), "cols": cols}
    return out


# ------------------------------------------------- columnar sidecar (v2)
# A single JSON document per commit is the Delta-1.x mistake: at
# ~10⁵–10⁶ file entries the driver's json.load + per-entry Python loop
# becomes the PLANNING bottleneck. v2 stores the sidecar as ONE parquet
# file with flat typed columns — "rel", "rows", and per stats column
# "min:<tag>:<name>" / "max:<tag>:<name>" / "nulls:<tag>:<name>" — so
# loading is a columnar read and pruning is vectorized pyarrow.compute
# over all files at once (sub-second at 10⁵ entries; see
# tools/bench_stats_prune.py). v1 JSON sidecars (and the dict in-memory
# form, which build_version_stats still speaks) remain readable; the
# file name is unchanged and the format is detected by magic bytes.

_KINDS = ("min", "max", "nulls")


def _arrow_value_type(tag: str):
    import pyarrow as pa

    return {
        "i": pa.int64(),
        "f": pa.float64(),
        "s": pa.string(),
        "b": pa.bool_(),
        "ts": pa.timestamp("us"),
        "d": pa.date32(),
    }[tag]


def stats_to_arrow(stats: dict):
    """Dict form → flat columnar arrow table (see module layout note)."""
    import pyarrow as pa

    files = stats.get("files", {})
    rels = list(files)
    arrays: dict[str, object] = {
        "rel": pa.array(rels, pa.string()),
        "rows": pa.array([files[r].get("rows") for r in rels], pa.int64()),
    }
    specs: dict[str, str] = {}
    for e in files.values():
        for name, c in e.get("cols", {}).items():
            if c.get("t") in _TAGS.values():
                specs.setdefault(name, c["t"])
            # unknown tag (foreign/corrupt sidecar entry): skip the
            # COLUMN, keep the rest — per-column degradation, like the
            # v1 dict loop; dropping the whole sidecar would silently
            # disable all pruning
    for name, tag in specs.items():
        vt = _arrow_value_type(tag)
        mins, maxs, nulls = [], [], []
        for r in rels:
            c = files[r].get("cols", {}).get(name)
            if c is None or c.get("t") != tag:
                mins.append(None), maxs.append(None), nulls.append(None)
            else:
                mins.append(_decode(c.get("min"), tag))
                maxs.append(_decode(c.get("max"), tag))
                nulls.append(c.get("nulls"))
        arrays[f"min:{tag}:{name}"] = pa.array(mins, vt)
        arrays[f"max:{tag}:{name}"] = pa.array(maxs, vt)
        arrays[f"nulls:{tag}:{name}"] = pa.array(nulls, pa.int64())
    tbl = pa.table(arrays)
    return tbl.replace_schema_metadata(
        {b"a2b_stats_version": str(STATS_PARQUET_VERSION).encode()}
    )


def _stat_col_specs(schema_names) -> dict[str, dict]:
    """Arrow schema names → {col_name: {"t": tag, "min"/"max"/"nulls":
    arrow column name}} (names may themselves contain ':')."""
    spec: dict[str, dict] = {}
    for fname in schema_names:
        parts = fname.split(":", 2)
        if len(parts) == 3 and parts[0] in _KINDS:
            kind, tag, name = parts
            spec.setdefault(name, {"t": tag})[kind] = fname
    # a truncated/foreign sidecar may carry only SOME of the three kind
    # columns for a column — consumers index all three unconditionally,
    # so drop incomplete specs (degrades to "no stats" = never pruned)
    return {n: sp for n, sp in spec.items() if all(k in sp for k in _KINDS)}


def arrow_to_stats(tbl) -> dict:
    """Columnar form → dict form (the writer-side / compat shape)."""
    rels = tbl.column("rel").to_pylist()
    rows = tbl.column("rows").to_pylist()
    spec = _stat_col_specs(tbl.schema.names)
    cols_data = {
        name: {
            "t": sp["t"],
            "min": tbl.column(sp["min"]).to_pylist(),
            "max": tbl.column(sp["max"]).to_pylist(),
            "nulls": tbl.column(sp["nulls"]).to_pylist(),
        }
        for name, sp in spec.items()
    }
    files = {}
    for i, rel in enumerate(rels):
        cols = {}
        for name, d in cols_data.items():
            tag = d["t"]
            mn, mx, nl = d["min"][i], d["max"][i], d["nulls"][i]
            if mn is None and mx is None and nl is None:
                continue  # column absent from this file's entry
            cols[name] = {
                "t": tag,
                "min": _encode(mn, tag),
                "max": _encode(mx, tag),
                "nulls": nl,
            }
        files[rel] = {"rows": rows[i], "cols": cols}
    return {"version": STATS_FORMAT_VERSION, "files": files}


def write_stats(version_dir: str, stats: dict) -> None:
    import pyarrow.parquet as pq

    pq.write_table(
        stats_to_arrow(stats), os.path.join(version_dir, STATS_FILE)
    )


def load_stats_arrow(version_dir: str):
    """The fast path: the sidecar as an arrow table (None = no usable
    stats). v1 JSON sidecars convert on load."""
    p = os.path.join(version_dir, STATS_FILE)
    if not os.path.exists(p):
        return None
    # corrupt/unreadable INPUT -> warn + no stats -> nothing pruned
    # (pyarrow's ArrowInvalid subclasses ValueError); a genuine bug in
    # OUR conversion code (e.g. AttributeError) surfaces instead of
    # silently disabling pruning (round-8 advice)
    try:
        with open(p, "rb") as f:
            magic = f.read(4)
        if magic == b"PAR1":
            import pyarrow.parquet as pq

            tbl = pq.read_table(p)
            meta = tbl.schema.metadata or {}
            ver = meta.get(b"a2b_stats_version")
            if ver != str(STATS_PARQUET_VERSION).encode():
                return None
            return tbl
        with open(p) as f:
            s = json.load(f)
    except (OSError, ValueError) as exc:
        warnings.warn(f"unreadable _STATS sidecar {p!r} ({exc}); pruning disabled")
        return None
    if not isinstance(s, dict) or s.get("version") != STATS_FORMAT_VERSION:
        return None
    # structural pre-validation: conversion assumes this shape, and a
    # foreign/truncated writer violating it must degrade, not raise —
    # while a genuine stats_to_arrow bug still surfaces loudly
    shape_ok = isinstance(s.get("files"), dict) and all(
        isinstance(e, dict)
        and isinstance(e.get("cols", {}), dict)
        and all(isinstance(c, dict) for c in e.get("cols", {}).values())
        for e in s["files"].values()
    )
    if not shape_ok:
        warnings.warn(f"corrupt v1 _STATS sidecar {p!r}; pruning disabled")
        return None
    try:
        return stats_to_arrow(s)
    except (ValueError, TypeError) as exc:
        # shape-valid sidecar with corrupt VALUES — a non-ISO ts/date
        # min/max (ValueError in _decode) or mistyped scalars
        # (pyarrow.ArrowInvalid, a ValueError subclass, from pa.array).
        # A foreign/truncated writer must degrade, not crash every
        # read_pruned/merge/delete on the table; genuine logic bugs in
        # our own paths (KeyError/AttributeError) stay loud.
        warnings.warn(
            f"corrupt v1 _STATS sidecar {p!r} ({exc}); pruning disabled"
        )
        return None


def load_stats(version_dir: str) -> Optional[dict]:
    """Dict-form sidecar (writer-side compat; prefers
    :func:`load_stats_arrow` for pruning)."""
    tbl = load_stats_arrow(version_dir)
    return None if tbl is None else arrow_to_stats(tbl)


def prune_fail_mask(tbl, predicates: Sequence[tuple]):
    """VECTORIZED prune core: boolean mask (None = no constraint) over
    the sidecar's rows, True where the stats PROVE no row of that file
    can satisfy the conjunction — evaluated with pyarrow.compute over
    the whole sidecar at once (no per-file Python loop). Exactly
    ``file_may_match``'s semantics: null stats never prune, an
    all-null column fails every value predicate."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spec = _stat_col_specs(tbl.schema.names)
    rows = tbl.column("rows")
    fail_total = None

    def _lit(value, tag, col):
        v = _coerce_literal(value, tag)
        try:
            return pa.scalar(v, type=_arrow_value_type(tag))
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as exc:
            raise TypeError(
                f"predicate literal {value!r} is not comparable with "
                f"column {col!r} stats (type tag {tag!r})"
            ) from exc

    def _f(cmp):  # null comparison = can't prove = don't fail
        return pc.fill_null(cmp, False)

    def _float_exact(v) -> bool:
        """False when the float64 cast of an int literal would round —
        an inexact bound could over-prune, so such a bound is unusable."""
        return not (
            isinstance(v, int) and not isinstance(v, bool) and abs(v) > 1 << 53
        )

    for col, op, value in predicates:
        sp = spec.get(col)
        if sp is None:
            continue  # no stats for this column -> can't prune on it
        tag = sp["t"]
        op, value = _date_safe_pred(op, value, tag)
        if op is None:
            continue  # unusable bound (tz-aware datetime on a date col)
        mn, mx = tbl.column(sp["min"]), tbl.column(sp["max"])
        nl = tbl.column(sp["nulls"])
        if tag == "i":
            # EXACT integer semantics for real-valued literals: a
            # naive pa.scalar(2.5, int64) TRUNCATES to 2 and
            # over-prunes (x < 2.5 must keep a file with min = 2), and
            # ints beyond int64 overflow. Translate the predicate into
            # an equivalent int64 one (ceil/floor per op, saturation
            # at the type bounds) or decide it outright.
            fail = _int_fail_mask(pc, _f, op, value, mn, mx, tbl.num_rows, col)
        elif op == "between":
            parts = []
            if tag != "f" or _float_exact(value[0]):
                parts.append(_f(pc.less(mx, _lit(value[0], tag, col))))
            if tag != "f" or _float_exact(value[1]):
                parts.append(_f(pc.greater(mn, _lit(value[1], tag, col))))
            fail = None
            for p in parts:
                fail = p if fail is None else pc.or_(fail, p)
        elif tag == "f" and not _float_exact(value):
            fail = None  # unusable bound: value comparison can't prune
        else:
            v = _lit(value, tag, col)
            if op == "=":
                fail = pc.or_(_f(pc.greater(mn, v)), _f(pc.less(mx, v)))
            elif op == "<":
                fail = _f(pc.greater_equal(mn, v))
            elif op == "<=":
                fail = _f(pc.greater(mn, v))
            elif op == ">":
                fail = _f(pc.less_equal(mx, v))
            else:  # >=
                fail = _f(pc.less(mx, v))
        # every supported op compares against non-null values, so a
        # file whose column is entirely null cannot satisfy ANY of
        # them — this holds even when the value bound itself was
        # unusable (fail is None, e.g. x < inf): null < inf is not
        # true, so all-null files still prune
        all_null = _f(
            pc.and_(pc.equal(nl, rows), pc.not_equal(rows, 0))
        )
        fail = all_null if fail is None else pc.or_(fail, all_null)
        fail_total = fail if fail_total is None else pc.or_(fail_total, fail)
    return fail_total


_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _int_threshold(value, rounding: str, col):
    """Exact int64 threshold for a real literal compared against an
    integer column: ``int`` within range, ``"high"``/``"low"`` when it
    saturates past int64, ``None`` for NaN (incomparable — never
    prune)."""
    import math

    if isinstance(value, bool):
        value = int(value)
    if isinstance(value, float):
        if math.isnan(value):
            return None
        if value == math.inf:
            return "high"
        if value == -math.inf:
            return "low"
        value = math.ceil(value) if rounding == "ceil" else math.floor(value)
    if not isinstance(value, int):
        raise TypeError(
            f"predicate literal {value!r} is not comparable with "
            f"column {col!r} stats (type tag 'i')"
        )
    if value > _I64_MAX:
        return "high"
    if value < _I64_MIN:
        return "low"
    return int(value)


def _int_fail_mask(pc, _f, op, value, mn, mx, n_rows, col):
    """Fail mask for one predicate on an INTEGER-stats column with
    exact literal translation. Returns None when the predicate can
    never prune; an all-True mask when it is unsatisfiable by any
    integer (x = 2.5, x > int64max)."""
    import pyarrow as pa

    def scalar(v):
        return pa.scalar(v, type=pa.int64())

    def always_fail():
        return pa.chunked_array([pa.array([True] * n_rows, pa.bool_())])

    if op == "between":
        lo = _int_threshold(value[0], "ceil", col)  # x >= lo  ->  ceil
        hi = _int_threshold(value[1], "floor", col)  # x <= hi  ->  floor
        if lo is None or hi is None:
            return None  # NaN bound: incomparable, never prune
        if lo == "high" or hi == "low":
            return always_fail()
        parts = []
        if lo != "low":
            parts.append(_f(pc.less(mx, scalar(lo))))
        if hi != "high":
            parts.append(_f(pc.greater(mn, scalar(hi))))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = pc.or_(out, p)
        return out
    if op == "=":
        c = _int_threshold(value, "ceil", col)
        f = _int_threshold(value, "floor", col)
        if c is None:
            return None
        if c in ("high", "low") or c != f:  # out of range or fractional
            return always_fail()
        return pc.or_(_f(pc.greater(mn, scalar(c))), _f(pc.less(mx, scalar(c))))
    if op == "<":  # x < v  <=>  x < ceil(v)
        t = _int_threshold(value, "ceil", col)
        if t is None or t == "high":
            return None
        if t == "low":
            return always_fail()
        return _f(pc.greater_equal(mn, scalar(t)))
    if op == "<=":  # x <= v  <=>  x <= floor(v)
        t = _int_threshold(value, "floor", col)
        if t is None or t == "high":
            return None
        if t == "low":
            return always_fail()
        return _f(pc.greater(mn, scalar(t)))
    if op == ">":  # x > v  <=>  x > floor(v)
        t = _int_threshold(value, "floor", col)
        if t is None or t == "low":
            return None
        if t == "high":
            return always_fail()
        return _f(pc.less_equal(mx, scalar(t)))
    # >=  :  x >= v  <=>  x >= ceil(v)
    t = _int_threshold(value, "ceil", col)
    if t is None or t == "low":
        return None
    if t == "high":
        return always_fail()
    return _f(pc.less(mx, scalar(t)))


def pruned_out_rels(tbl, predicates: Sequence[tuple]) -> set:
    """Relative paths :func:`prune_fail_mask` drops, as a Python set —
    test/introspection convenience; the hot path
    (:func:`keep_files`) never materializes the full set."""
    import pyarrow.compute as pc

    mask = prune_fail_mask(tbl, predicates)
    if mask is None:
        return set()
    return set(pc.filter(tbl.column("rel"), mask).to_pylist())


def keep_files(tbl, all_files: Sequence[str], predicates: Sequence[tuple]) -> list[str]:
    """The kept subset of ``all_files`` — everything not provably
    non-matching, files missing from the sidecar always kept. Stays in
    arrow end-to-end (dropped-rel hash join via ``is_in``), so only the
    KEPT paths are ever materialized as Python strings."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = prune_fail_mask(tbl, predicates)
    if mask is None:
        return list(all_files)
    dropped = pc.filter(tbl.column("rel"), mask)
    if isinstance(dropped, pa.ChunkedArray):
        dropped = dropped.combine_chunks()
    all_arr = pa.array(list(all_files), pa.string())
    keep = pc.invert(pc.is_in(all_arr, value_set=dropped))
    return pc.filter(all_arr, keep).to_pylist()


def _tzinfo(name: str):
    """Session-timezone string → tzinfo (IANA name or ±HH:MM offset)."""
    if name.upper() in ("UTC", "Z", "GMT"):
        return _dt.timezone.utc
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:
        pass
    try:  # ±HH:MM zone offsets, which Spark also accepts
        sign = -1 if name.startswith("-") else 1
        hh, mm = name.lstrip("+-").split(":")
        return _dt.timezone(sign * _dt.timedelta(hours=int(hh), minutes=int(mm)))
    except Exception as exc:
        raise ValueError(f"unrecognized session timezone {name!r}") from exc


def localize_ts_predicates(
    predicates: Sequence[tuple], schema, session_tz: str
) -> list[tuple]:
    """Re-express timestamp-column literals in the naive-UTC frame the
    ``_STATS`` sidecar stores. Spark evaluates a naive/string timestamp
    literal in the SESSION timezone; the sidecar stores UTC instants —
    comparing them raw under a non-UTC session would skip files whose
    rows the real filter matches (silent row loss). ``schema`` is the
    table's Spark schema (identifies TimestampType columns); literals
    that are already tz-aware convert exactly, naive ones are localized
    to ``session_tz`` first."""
    from pyspark.sql import types as T

    ts_cols = {f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)}
    if not ts_cols:
        return list(predicates)
    tz = _tzinfo(session_tz)

    def conv(v):
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        elif isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        if not isinstance(v, _dt.datetime):
            return v
        if v.tzinfo is None:
            v = v.replace(tzinfo=tz)
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)

    out = []
    for col, op, value in predicates:
        if col in ts_cols:
            value = (conv(value[0]), conv(value[1])) if op == "between" else conv(value)
        out.append((col, op, value))
    return out


_OPS = {"=", "<", "<=", ">", ">=", "between"}


def normalize_predicates(predicates: Iterable) -> list[tuple]:
    out = []
    for p in predicates:
        col, op, value = p
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op {op!r}; use one of {_OPS}")
        if op == "between":
            lo, hi = value
            out.append((col, op, (lo, hi)))
        else:
            out.append((col, op, value))
    if not out:
        raise ValueError("predicates must be non-empty")
    return out


def file_may_match(entry: dict, predicates: Sequence[tuple]) -> bool:
    """False only when the file's stats PROVE no row satisfies the
    conjunction. Missing stats for a column keep the file."""
    cols = entry.get("cols", {})
    rows = entry.get("rows")
    for col, op, value in predicates:
        c = cols.get(col)
        if c is None:
            continue  # no stats for this column -> can't prune on it
        tag = c["t"]
        op, value = _date_safe_pred(op, value, tag)
        if op is None:
            continue  # unusable bound (tz-aware datetime on a date col)
        # every supported op compares against non-null values; a file
        # whose column is entirely null cannot satisfy any of them
        if (
            c.get("nulls") is not None
            and rows not in (None, 0)
            and c["nulls"] == rows
        ):
            return False
        mn, mx = _decode(c.get("min"), tag), _decode(c.get("max"), tag)
        try:
            if op == "between":
                lo = _coerce_literal(value[0], tag)
                hi = _coerce_literal(value[1], tag)
                if (mx is not None and mx < lo) or (mn is not None and mn > hi):
                    return False
                continue
            v = _coerce_literal(value, tag)
            if op == "=":
                if (mn is not None and v < mn) or (mx is not None and v > mx):
                    return False
            elif op == "<":
                if mn is not None and mn >= v:
                    return False
            elif op == "<=":
                if mn is not None and mn > v:
                    return False
            elif op == ">":
                if mx is not None and mx <= v:
                    return False
            elif op == ">=":
                if mx is not None and mx < v:
                    return False
        except TypeError as exc:
            raise TypeError(
                f"predicate literal {value!r} is not comparable with "
                f"column {col!r} stats (type tag {tag!r})"
            ) from exc
    return True


def predicates_to_column(predicates: Sequence[tuple]):
    """The SAME conjunction as a Spark Column — applied after the
    pruned scan so results stay exact regardless of stats coverage."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, value in predicates:
        c = F.col(col)
        if op == "between":
            e = c.between(F.lit(value[0]), F.lit(value[1]))
        elif op == "=":
            e = c == F.lit(value)
        elif op == "<":
            e = c < F.lit(value)
        elif op == "<=":
            e = c <= F.lit(value)
        elif op == ">":
            e = c > F.lit(value)
        else:
            e = c >= F.lit(value)
        cond = e if cond is None else (cond & e)
    return cond
