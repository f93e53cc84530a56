"""Streaming continuous aggregate — the incremental twin of the batch
time-hierarchy rollup (queries/analytic.py q75): each micro-batch's
partial aggregates are FOLDED into a persistent bucketed table, so the
rollup stays current without ever re-scanning history.

Additive merge semantics: counts and decimal sums are associative, so
``table[bucket] += batch_partial[bucket]`` converges to exactly the
batch-mode aggregate — the TimescaleDB/Druid continuous-aggregate
contract on plain versioned parquet.

Exactly-once: ``foreachBatch`` re-runs a batch after a failure, and an
ADDITIVE fold is not naturally idempotent (re-adding double-counts —
unlike the keyed UPSERT of streaming/incremental.py, which is).
A ``_LAST_BATCH`` marker committed by the same version flip as the
data makes re-delivery a no-op: a batch id ≤ the marker is skipped.
The marker rides INSIDE the version directory, so a crash between the
table write and any separate marker write cannot desynchronize them —
marker and data are one atomic commit.

Scale shape: per batch, one partial aggregation of the micro-batch
(map-side combined) + one additive fold. When the table is
PARTITIONED by a coarse time bucket (``partition_by`` ⊆ the bucket
names), the fold reads and rewrites ONLY the partitions the batch
touches and hard-links the rest (``_commit_touched``) — O(touched),
not O(history), which is what makes an ever-growing rollup table
sustainable. An unpartitioned table falls back to a full-outer fold
over the whole table — O(history) per batch, fine for small rollups
only. Both paths pin their read to the base version they commit
against, so the optimistic-concurrency check covers the whole
read-fold-commit span.

Marker durability: ``_LAST_BATCH`` rides in ``extra_files`` and the
table carries ``_``-prefixed metadata files forward on EVERY commit
(``VersionedParquetTable._commit_version``), so maintenance operations — compact,
merge, retract — on a rollup table no longer erase the marker and
re-expose the double-count hazard."""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from a2b_spark.storage.table import VersionedParquetTable

_LAST_BATCH = "_LAST_BATCH"


def _read_last_batch(table: VersionedParquetTable) -> int:
    cur = table.current_version()
    if cur is None:
        return -1
    marker = os.path.join(table.path, cur, _LAST_BATCH)
    if not os.path.exists(marker):
        return -1
    with open(marker) as f:
        return int(f.read().strip() or -1)


def _additive_merge(
    current: Optional[DataFrame],
    partial: DataFrame,
    keys: Sequence[str],
    add_cols: Sequence[str],
) -> DataFrame:
    """current ⊎ partial: full-outer join on the bucket keys, summing
    the additive columns (missing side contributes 0)."""
    if current is None:
        return partial
    c = current.alias("c")
    p = partial.alias("p")
    cond = None
    for k in keys:
        e = F.col(f"c.{k}").eqNullSafe(F.col(f"p.{k}"))
        cond = e if cond is None else (cond & e)
    out_keys = [
        F.coalesce(F.col(f"c.{k}"), F.col(f"p.{k}")).alias(k) for k in keys
    ]
    zero = F.lit(0)
    # cast back to the PARTIAL's (canonical) types: decimal addition
    # widens precision per fold (18,3 -> 19,3 -> ...), and letting the
    # stored schema drift batch-over-batch would eventually hit the
    # precision-38 ceiling and make version schemas unstable
    sums = [
        (
            F.coalesce(F.col(f"c.{a}"), zero.cast(partial.schema[a].dataType))
            + F.coalesce(F.col(f"p.{a}"), zero.cast(partial.schema[a].dataType))
        )
        .cast(partial.schema[a].dataType)
        .alias(a)
        for a in add_cols
    ]
    return c.join(p, cond, "full_outer").select(*out_keys, *sums)


def run_continuous_rollup(
    spark: SparkSession,
    stream_df: DataFrame,
    table: VersionedParquetTable,
    bucket_cols: dict[str, Column],
    value_col: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Maintain ``table`` = SELECT buckets, COUNT(*), SUM(value) GROUP
    BY buckets over everything the stream has delivered, folding each
    micro-batch's partial aggregate in with exactly-once semantics.

    ``bucket_cols``: output name → bucketing expression over the
    stream's columns (e.g. hour from the event time). The table's
    ``key_cols`` must equal the bucket names."""
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame (spark.readStream)")
    if tuple(table.key_cols) != tuple(bucket_cols):
        raise ValueError(
            f"table key_cols {table.key_cols} must match bucket names "
            f"{tuple(bucket_cols)}"
        )
    names = list(bucket_cols)

    part_cols = tuple(table.partition_by or ())
    if part_cols and not set(part_cols) <= set(names):
        raise ValueError(
            f"table partition_by {part_cols} must be a subset of the "
            f"bucket names {tuple(names)} for the partition-scoped fold"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _read_last_batch(table):
            return  # redelivered batch: already folded in
        partial = (
            batch_df.select(
                *[expr.alias(n) for n, expr in bucket_cols.items()],
                F.col(value_col).cast("decimal(18,3)").alias("__v"),
            )
            .groupBy(*names)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__v").alias("sum_value"),
            )
        )
        # pin: three consumers follow (emptiness probe, touched-partition
        # collect, the commit's write) — without this the batch
        # aggregation runs three times per micro-batch
        partial = partial.localCheckpoint(eager=True)
        if not partial.head(1):
            return
        # pin the snapshot this fold derives from: the commit's
        # optimistic check then covers the whole read-fold-commit span
        base = table.current_version()
        current = table.read(spark, version=base) if base else None
        marker = {_LAST_BATCH: str(batch_id)}
        # marker is written into the version dir BEFORE the _CURRENT
        # flip (extra_files) — data and batch-id commit atomically
        if part_cols and base is not None:
            # partition-scoped fold: read + rewrite ONLY the coarse
            # buckets this batch touches, hard-link the rest
            touched = table._touched_partitions(partial)
            merged = _additive_merge(
                current.filter(table._partition_filter(touched)),
                partial,
                names,
                ["n", "sum_value"],
            )
            table._commit_touched(
                merged, touched, op="rollup", base=base, extra_files=marker
            )
        else:
            merged = _additive_merge(current, partial, names, ["n", "sum_value"])
            table.overwrite(merged, extra_files=marker, op="rollup", base=base)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
