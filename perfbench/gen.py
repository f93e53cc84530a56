"""Seeded inputs of the benchmark, derived from the repository's test data.

The base tables are byte-identical copies of the repository's test tables
(``data/sf0.01`` and ``data/sf0.001``: ``region nation customer supplier
part orders lineitem events documents embeddings``); the query mix reads
them in place. From one integer seed, ``generate`` writes
``<out>/A/<table>.parquet`` and ``<out>/B/<table>.parquet`` — two source
versions of the six migrated tables. Per table, each version drops its own
~1% of rows (disjoint between A and B) and B changes one value column on
another ~1%, so a re-run that alternates A and B deletes ~1%, restores ~1%
and updates ~1% of every table. A ``lineitem`` row is dropped exactly when
its order is, so every version's order references resolve.

Only numpy and pyarrow are used: generation needs no Spark session, and
the same seed and scale give byte-identical files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# migrated table -> its source key columns (unique per version; checked
# by ``check_keys_unique``). lineitem needs all four columns: the pair
# (l_orderkey, l_linenumber) repeats in TPC-H-shaped data.
MIGRATED_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
}

# the value column each version B rewrites on its updated rows
UPDATED_COLUMN = {
    "region": "r_name",
    "nation": "n_name",
    "customer": "c_acctbal",
    "part": "p_retailprice",
    "orders": "o_totalprice",
    "lineitem": "l_quantity",
}

DRIFT_SHARE = 0.01

# byte-identical copies of the repository's test tables (TPC-H-shaped, plus
# events, documents and embeddings), one directory per scale
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SCALES = (0.001, 0.01)


@dataclass
class Drift:
    """Row positions (into the base table) each version drops or changes."""

    removed_a: np.ndarray
    removed_b: np.ndarray
    updated: np.ndarray


@dataclass
class Inputs:
    """Where the inputs are, plus per-table row counts and byte sizes and
    the drift sets the correctness checks compare against."""

    base_dir: str
    version_dirs: dict
    rows: dict = field(default_factory=dict)  # version -> table -> rows
    source_bytes: dict = field(default_factory=dict)  # version -> table -> bytes
    # table -> rows a pass from one version to the other deletes,
    # restores or updates
    changed_rows: dict = field(default_factory=dict)


def base_dir(sf: float) -> str:
    """Directory of the test tables at scale ``sf`` (0.01: 60k lineitems)."""
    if sf not in SCALES:
        raise ValueError(f"no test tables at scale {sf}; have {SCALES}")
    return os.path.join(DATA, f"sf{sf}")


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The six migrated tables at scale ``sf``. ``lineitem`` keeps the first
    row of each source key: the migration keys on it."""
    d = base_dir(sf)
    t = {n: pq.read_table(os.path.join(d, f"{n}.parquet")) for n in MIGRATED_KEYS}
    li = t["lineitem"]
    keys = np.stack(
        [li[c].to_numpy().astype(np.int64) for c in MIGRATED_KEYS["lineitem"]], axis=1
    )
    _, first = np.unique(keys, axis=0, return_index=True)
    t["lineitem"] = li.take(pa.array(np.sort(first)))
    return t


def drift_sets(seed: int, tables: dict[str, pa.Table]) -> dict[str, Drift]:
    """Disjoint removed-in-A, removed-in-B and updated-in-B row positions
    per migrated table; lineitems follow their order's removal."""
    rng = np.random.default_rng([seed, 1])
    out: dict[str, Drift] = {}
    for name in MIGRATED_KEYS:
        if name == "lineitem":
            continue
        n = tables[name].num_rows
        k = max(1, int(round(DRIFT_SHARE * n)))
        perm = rng.permutation(n)
        out[name] = Drift(np.sort(perm[:k]), np.sort(perm[k : 2 * k]), np.sort(perm[2 * k : 3 * k]))
    orders = tables["orders"]["o_orderkey"].to_numpy()
    li_order = tables["lineitem"]["l_orderkey"].to_numpy()
    gone_a = np.flatnonzero(np.isin(li_order, orders[out["orders"].removed_a]))
    gone_b = np.flatnonzero(np.isin(li_order, orders[out["orders"].removed_b]))
    rest = np.setdiff1d(np.arange(len(li_order)), np.union1d(gone_a, gone_b))
    k = max(1, int(round(DRIFT_SHARE * len(li_order))))
    out["lineitem"] = Drift(gone_a, gone_b, np.sort(rng.choice(rest, k, replace=False)))
    return out


def _updated(table: pa.Table, col: str, rows: np.ndarray) -> pa.Table:
    values = table[col].to_numpy(zero_copy_only=False).copy()
    if values.dtype.kind == "f":
        values[rows] = np.round(values[rows] + 1.0, 2)
    else:
        values[rows] = np.array([f"{v}*" for v in values[rows]], dtype=object)
    idx = table.schema.get_field_index(col)
    return table.set_column(idx, col, pa.array(values, type=table.schema.field(col).type))


def version_tables(
    tables: dict[str, pa.Table], drift: dict[str, Drift], version: str
) -> dict[str, pa.Table]:
    """Source version ``A`` or ``B`` of each migrated table."""
    out = {}
    for name in MIGRATED_KEYS:
        t, d = tables[name], drift[name]
        if version == "B":
            t = _updated(t, UPDATED_COLUMN[name], d.updated)
        removed = d.removed_a if version == "A" else d.removed_b
        keep = np.setdiff1d(np.arange(t.num_rows), removed)
        out[name] = t.take(pa.array(keep))
    return out


def check_keys_unique(name: str, table: pa.Table) -> None:
    """Raise unless the table's source key tuple is unique."""
    cols = MIGRATED_KEYS[name]
    n = table.group_by(list(cols)).aggregate([]).num_rows
    if n != table.num_rows:
        raise ValueError(
            f"{name}: source key {cols} has {n} distinct values in {table.num_rows} rows"
        )


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=1 << 20)
    return os.path.getsize(path)


def generate(out: str, seed: int, sf: float, versions: tuple[str, ...] = ("A", "B")) -> Inputs:
    """Write the requested source versions of the test tables at scale
    ``sf`` under ``out``; returns their locations, row counts and byte
    sizes. The base tables are read in place."""
    inputs = Inputs(base_dir=base_dir(sf), version_dirs={})
    files = {n[: -len(".parquet")]: os.path.join(inputs.base_dir, n)
             for n in sorted(os.listdir(inputs.base_dir)) if n.endswith(".parquet")}
    inputs.rows["base"] = {n: pq.ParquetFile(p).metadata.num_rows for n, p in files.items()}
    inputs.source_bytes["base"] = {n: os.path.getsize(p) for n, p in files.items()}
    if not versions:
        return inputs
    tables = base_tables(sf)
    drift = drift_sets(seed, tables)
    inputs.changed_rows = {
        n: len(d.removed_a) + len(d.removed_b) + len(d.updated) for n, d in drift.items()
    }
    for v in versions:
        vdir = os.path.join(out, v)
        os.makedirs(vdir, exist_ok=True)
        vt = version_tables(tables, drift, v)
        for name, t in vt.items():
            check_keys_unique(name, t)
        inputs.version_dirs[v] = vdir
        inputs.rows[v] = {n: t.num_rows for n, t in vt.items()}
        inputs.source_bytes[v] = {
            n: _write(t, os.path.join(vdir, f"{n}.parquet")) for n, t in vt.items()
        }
    return inputs


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (sorted relative names and
    contents) — the determinism self-check compares two of these."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for fn in sorted(files):
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
