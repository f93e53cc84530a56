"""The benchmark's 6-migration DAG, built only from the engine's public
migration API.

    regions      nations -> customers -> orders      parts
                                            \\          /
                                             lineitems

Each migration copies one source table into a keyed Parquet destination
(dest id ``id``), keeping the legacy key columns so checks can map rows
back. ``lineitems`` resolves its order through ``ReferenceStore.resolve``
and stores the order's destination id as ``order_id``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration, MigrationRegistry
from a2b_spark.exec.references import ReferenceStore
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.files import ParquetSource
from perfbench.gen import MIGRATED_KEYS

# migration -> (source table, payload columns copied to the destination)
TABLES = {
    "regions": ("region", ["r_regionkey", "r_name"]),
    "nations": ("nation", ["n_nationkey", "n_name", "n_regionkey"]),
    "customers": (
        "customer",
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    ),
    "parts": (
        "part",
        ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    ),
    "orders": (
        "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    ),
    "lineitems": (
        "lineitem",
        [
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
            "l_shipdate",
        ],
    ),
}

DEPENDS = {
    "customers": ("nations",),
    "orders": ("customers",),
    "lineitems": ("orders", "parts"),
}

# the four dimension migrations, far below the facts in size: their time
# is mostly the engine's fixed per-migration cost
DIMENSIONS = ("regions", "nations", "customers", "parts")

# the fact migrations, in dependency order
FACTS = ("orders", "lineitems")


def source_ids(migration: str) -> tuple[IdField, ...]:
    return tuple(IdField(c) for c in MIGRATED_KEYS[TABLES[migration][0]])


def _copy(cols):
    def transform(df):
        return df.select("__src__", "__dest_id", *cols)

    return transform


def _lineitems(refs: ReferenceStore, cols):
    def transform(df):
        df = refs.resolve(df, "orders", on={"l_orderkey": "o_orderkey"}, out="__order")
        return df.select("__src__", "__dest_id", *cols, F.col("__order.id").alias("order_id"))

    return transform


def build(spark, src_dir: str, dest_root: str, mapping_dir: str):
    """Registry over the source tables in ``src_dir``; destinations live
    under ``dest_root`` and mappings under ``mapping_dir``. Two registries
    built over the same roots share destinations and mappings."""
    registry = MigrationRegistry()
    mapper = MappingStore(spark, mapping_dir)
    refs = ReferenceStore(spark, registry, mapper)
    for name, (table, cols) in TABLES.items():
        transform = _lineitems(refs, cols) if name == "lineitems" else _copy(cols)
        registry.register(
            Migration(
                name=name,
                source=ParquetSource(os.path.join(src_dir, f"{table}.parquet")),
                destination=ParquetDestination(os.path.join(dest_root, name), ["id"]),
                source_ids=source_ids(name),
                destination_ids=(IdField("id"),),
                transform=transform,
                depends=DEPENDS.get(name, ()),
            )
        )
    return registry, mapper
