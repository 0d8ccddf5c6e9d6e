"""Keyed upsert (MERGE) semantics without a Delta/Iceberg dependency.

The reference's only write-back primitive is the per-row
``UPDATE employee SET salary=? WHERE id=?`` (``Server/main.go:279-282``)
— N point updates. On plain DataFrames/parquet there is no in-place
update, so MERGE is expressed relationally:

    merged = base LEFT-ANTI updates ON key  UNION  updates

which Catalyst executes as one shuffle-free-if-co-partitioned pass.
At 100 TB this runs inside ``foreachBatch`` against a partitioned
table, rewriting only the partitions that contain matched keys
(partition pruning on the anti-join side); with a table format that
supports MERGE INTO the same plan maps 1:1 onto it.

A stream sink cannot assume one row per key per batch, so
:func:`merge_latest` is the streaming sibling: one keyed aggregate
over base + batch that keeps each key's last writer and refuses rows
with a NULL key (``streaming.core.foreach_batch_merge``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ORDER = "__merge_order"
_ROW = "__merge_row"
_LATEST = "__merge_latest"


def merge_into(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Upsert ``updates`` into ``base`` by ``key``.

    Matched keys take the update row (reference semantics: the UPDATE
    wins, ``Server/main.go:280``); unmatched update rows are inserted
    (the login auto-register path, ``Server/main.go:112-120``).
    Schemas must match by name; ``unionByName`` keeps this positional-
    order-proof.
    """
    kept = base.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates)


def apply_cdc(
    base: DataFrame, cdc: DataFrame, key: str, op_col: str = "op"
) -> DataFrame:
    """Apply one CDC batch to ``base``: rows with ``op_col`` = ``'D'``
    delete their key, every other op upserts the row (MERGE WHEN
    MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT), **with
    schema evolution**: columns the CDC feed carries that ``base``
    lacks are added to the target, NULL for rows the batch didn't
    touch — the ``mergeSchema``/auto-evolution behavior of a real
    table format, expressed relationally.

    The relational form is the same single pass as :func:`merge_into`
    (left-anti on touched keys, then union), so it inherits the same
    scale shape: co-partitioned by ``key`` it is shuffle-free, and
    under ``foreachBatch`` against a partitioned table only the
    partitions holding touched keys rewrite. Delete-by-anti-join means
    a delete costs the same as an update — no tombstone scan.

    The CDC feed must hold at most one row per key (standard MERGE
    precondition; a multi-row feed is first compacted to its latest
    image per key, the last-writer-wins aggregate of
    :func:`merge_latest` that the streaming sink runs).
    """
    kept = base.join(cdc.select(key), on=key, how="left_anti")
    upserts = cdc.filter(cdc[op_col] != "D").drop(op_col)
    return kept.unionByName(upserts, allowMissingColumns=True)


def merge_latest(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Upsert ``updates`` into ``base`` by ``key``, last writer wins.

    Unlike :func:`merge_into`, ``updates`` may repeat a key: its last
    row in arrival order wins, as the reference's sequence of
    ``UPDATE ... WHERE id=?`` calls leaves it (``Server/main.go:280``).
    Arrival order is ``monotonically_increasing_id()`` — partition
    index, then position — which is the order a source's partitions
    yield their records: log order for ``httpjson`` (one partition
    per ``url`` micro-batch; ``spool`` plans (file, range) in order),
    but not for a file source, which packs files by size. Update rows
    with a NULL key are refused (a malformed request stores nothing,
    ``Server/main.go:104-107``).

    One union, one ``groupBy(key)`` keeping ``max(struct(order,
    row))`` with every base row at order -1: ``updates`` is scanned
    once and there is one shuffle. Orders tie only among base rows,
    when the base repeats a key or holds NULL-key rows (tables written
    before the sink refused them do); the row's values then decide, so
    every run keeps the same row. The row is a struct of the base's
    columns, so the result keeps the base's column order; schemas must
    match by name, and the columns must be orderable (no map type).
    """
    latest = (
        base.withColumn(_ORDER, F.lit(-1).cast("long"))
        .unionByName(
            updates.filter(F.col(key).isNotNull()).withColumn(
                _ORDER, F.monotonically_increasing_id()
            )
        )
        .groupBy(key)
        .agg(
            F.max(
                F.struct(F.col(_ORDER), F.struct(*base.columns).alias(_ROW))
            ).alias(_LATEST)
        )
    )
    return latest.select(f"{_LATEST}.{_ROW}.*")
