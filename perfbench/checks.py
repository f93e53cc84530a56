"""Correctness checks, run outside the timed region.

Each check returns a list of problems for one operation (one migration
in one pass, or one query); an empty list means the output is correct.
A problem whose text starts with ``KNOWN_DEFECT`` matches the known
incremental-plus-prune defect exactly (see README.md); every other
problem is unexpected.
"""

from __future__ import annotations

import os
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.dag import TABLES
from perfbench.gen import MIGRATED_KEYS, UPDATED_COLUMN

KNOWN_DEFECT = "KNOWN_DEFECT"


def source_frame(src_dir: str, migration: str) -> pd.DataFrame:
    table = TABLES[migration][0]
    df = pq.read_table(os.path.join(src_dir, f"{table}.parquet")).to_pandas()
    for c in MIGRATED_KEYS[table]:
        df[c] = df[c].astype("int64")
    return df


def _keys(migration: str) -> list[str]:
    return list(MIGRATED_KEYS[TABLES[migration][0]])


def _read(spark, m, mapper) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Destination and mapping table through the engine's own readers."""
    dest = m.destination.read_snapshot(spark)
    dest = dest.toPandas() if dest is not None else pd.DataFrame(columns=["id", *_keys(m.name)])
    mapping = mapper.load(m.mapping_key(), m.source_ids, m.destination_ids).toPandas()
    for c in _keys(m.name):
        dest[c] = dest[c].astype("int64")
    return dest, mapping


def _key_index(df: pd.DataFrame, keys: list[str]) -> pd.MultiIndex:
    return pd.MultiIndex.from_frame(df[keys])


def _mapping_problems(mapping: pd.DataFrame, keys: list[str], dest: pd.DataFrame) -> list[str]:
    problems = []
    src = [f"source_{k}" for k in keys]
    if mapping.duplicated(src).any():
        problems.append(f"mapping not unique on source key: {int(mapping.duplicated(src).sum())} repeats")
    if mapping["dest_id"].duplicated().any():
        problems.append("mapping not unique on dest id")
    joined = dest.merge(
        mapping.rename(columns=dict(zip(src, keys))), on=keys, how="left"
    )
    bad = joined["dest_id"].isna() | (joined["dest_id"] != joined["id"])
    if bad.any():
        problems.append(f"{int(bad.sum())} destination rows disagree with their mapping")
    return problems


def check_cold(
    spark, m, mapper, source: pd.DataFrame, first_ids: Optional[pd.DataFrame]
) -> tuple[list[str], pd.DataFrame]:
    """After a load into empty tables: one destination row per source key,
    a 1:1 mapping table that agrees with the destination, and ids equal to
    the first pass's. Returns the problems and this pass's key -> id
    frame."""
    keys = _keys(m.name)
    dest, mapping = _read(spark, m, mapper)
    problems = []
    if dest.duplicated(keys).any():
        problems.append(f"{int(dest.duplicated(keys).sum())} duplicate destination rows per source key")
    if dest["id"].duplicated().any():
        problems.append("duplicate destination ids")
    src_idx, dest_idx = _key_index(source, keys), _key_index(dest, keys)
    missing, extra = len(src_idx.difference(dest_idx)), len(dest_idx.difference(src_idx))
    if missing or extra:
        problems.append(f"destination key set differs: {missing} missing, {extra} extra")
    if len(mapping) != len(source):
        problems.append(f"mapping has {len(mapping)} rows for {len(source)} source rows")
    problems += _mapping_problems(mapping, keys, dest)
    ids = dest[keys + ["id"]]
    if first_ids is not None:
        j = ids.merge(first_ids, on=keys, how="outer", suffixes=("", "_first"))
        moved = int((j["id"] != j["id_first"]).sum())
        if moved:
            problems.append(f"{moved} destination ids differ from the first pass")
    return problems, ids


def check_drift(
    spark, m, mapper, now: pd.DataFrame, before: pd.DataFrame, orders: Optional[pd.DataFrame]
) -> tuple[list[str], pd.DataFrame]:
    """After an incremental pass onto source version ``now`` (previous
    version ``before``): destination key set equals ``now``'s in both
    directions, the changed column holds ``now``'s values, the mapping is
    unique on the source key and agrees with the destination, and (for
    ``lineitems``, given the ``orders`` destination) each order reference
    is the id of its order when that order is in the destination, else
    null. Keys missing only because they were restored in this pass
    (present in ``now``, absent from ``before``) are the known defect,
    reported with the ``KNOWN_DEFECT`` prefix. Returns the problems and
    the destination frame."""
    keys = _keys(m.name)
    col = UPDATED_COLUMN[TABLES[m.name][0]]
    dest, mapping = _read(spark, m, mapper)
    problems = []
    src_idx, dest_idx = _key_index(now, keys), _key_index(dest, keys)
    missing = src_idx.difference(dest_idx)
    extra = dest_idx.difference(src_idx)
    if len(extra):
        problems.append(f"{len(extra)} destination rows whose source row is gone")
    if len(missing):
        restored = src_idx.difference(_key_index(before, keys))
        other = missing.difference(restored)
        if len(other):
            problems.append(f"{len(other)} source rows missing from the destination")
        if len(missing) - len(other):
            problems.append(
                f"{KNOWN_DEFECT}: {len(missing) - len(other)} of {len(restored)} rows restored "
                "in this pass are missing (incremental + prune keeps their content hash)"
            )
    if dest.duplicated(keys).any():
        problems.append("duplicate destination rows per source key")
    j = dest[keys + [col]].merge(now[keys + [col]], on=keys, suffixes=("_dest", ""))
    a, b = j[f"{col}_dest"], j[col]
    if a.dtype.kind == "f":
        stale = ~np.isclose(a.to_numpy(float), b.to_numpy(float), rtol=0, atol=1e-9)
    else:
        stale = (a != b).to_numpy()
    if stale.any():
        problems.append(f"{int(stale.sum())} rows hold a stale {col}")
    problems += _mapping_problems(mapping, keys, dest)
    if orders is not None:
        want = dest.merge(
            orders[["o_orderkey", "id"]].rename(columns={"o_orderkey": "l_orderkey", "id": "want"}),
            on="l_orderkey",
            how="left",
        )
        wrong = ~((want["order_id"] == want["want"]) | (want["order_id"].isna() & want["want"].isna()))
        if wrong.any():
            problems.append(f"{int(wrong.sum())} lineitems whose order reference is wrong")
    return problems, dest


def check_query(name: str, sdf: pd.DataFrame, schema, con, oracle_sql: str) -> list[str]:
    """Compare one query result with its DuckDB oracle through the
    repository's own gate (``tools/check_oracle.py``)."""
    from tools.check_oracle import compare, type_gate

    otab = con.sql(oracle_sql).arrow()
    return type_gate(schema, otab.schema) + compare(name, sdf, otab.to_pandas())
