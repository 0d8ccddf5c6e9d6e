"""merge_into / merge_latest: upsert semantics on hand-built
DataFrames, mirroring the reference's write paths (UPDATE :280,
INSERT :217, auto-register :112-120, 400 on a malformed body
:104-107). The first four tests hold for both merges."""

from __future__ import annotations

import pytest

from go_http_data_pipeline_spark.pipelines.merge import merge_into, merge_latest

MERGES = (merge_into, merge_latest)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_update_wins_and_insert_appends(spark):
    base = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "id long, salary long"
    )
    updates = spark.createDataFrame(
        [(2, 999), (4, 400)], "id long, salary long"
    )
    for merge in MERGES:
        out = merge(base, updates, key="id")
        assert _rows(out) == {(1, 100), (2, 999), (3, 300), (4, 400)}


def test_empty_updates_is_identity(spark):
    base = spark.createDataFrame([(1, 100)], "id long, salary long")
    empty = spark.createDataFrame([], "id long, salary long")
    for merge in MERGES:
        assert _rows(merge(base, empty, key="id")) == {(1, 100)}


def test_empty_base_is_insert_all(spark):
    empty = spark.createDataFrame([], "id long, salary long")
    updates = spark.createDataFrame([(7, 700)], "id long, salary long")
    for merge in MERGES:
        assert _rows(merge(empty, updates, key="id")) == {(7, 700)}


def test_column_order_mismatch_ok(spark):
    base = spark.createDataFrame([(1, 100)], "id long, salary long")
    updates = spark.createDataFrame(
        [(999, 2)], "salary long, id long"
    )  # reversed order — unionByName must align
    for merge in MERGES:
        assert _rows(merge(base, updates, key="id")) == {(1, 100), (2, 999)}


@pytest.mark.parametrize("slices", [1, 3])
def test_latest_repeated_key_last_writer_wins(spark, slices):
    """Arrival order is the list order; with 3 slices key 2's writers
    sit in different partitions (parallelize keeps list order)."""
    base = spark.createDataFrame([(1, 100), (2, 200)], "id long, salary long")
    updates = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(2, 201), (1, 101), (2, 202), (2, 203)], slices
        ),
        "id long, salary long",
    )
    out = merge_latest(base, updates, key="id")
    assert sorted(_rows(out)) == [(1, 101), (2, 203)]


def test_latest_null_key_rows_are_refused(spark):
    base = spark.createDataFrame([(1, 100)], "id long, salary long")
    updates = spark.createDataFrame(
        [(None, None), (None, 5), (1, 111)], "id long, salary long"
    )
    assert _rows(merge_latest(base, updates, key="id")) == {(1, 111)}


def test_latest_keeps_base_column_order_with_key_not_first(spark):
    base = spark.createDataFrame(
        [("a", 1, 100), ("b", 2, 200)], "name string, id long, salary long"
    )
    updates = spark.createDataFrame(
        [(999, 2, "b2"), (300, 3, "c")], "salary long, id long, name string"
    )
    out = merge_latest(base, updates, key="id")
    assert out.columns == ["name", "id", "salary"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "bigint", "bigint"
    ]
    assert _rows(out) == {("a", 1, 100), ("b2", 2, 999), ("c", 3, 300)}


@pytest.mark.parametrize("slices", [1, 3])
def test_latest_base_ties_are_broken_by_row_values(spark, slices):
    """A base that repeats a key or holds several NULL-key rows (a table
    written before the sink refused them) keeps the same row per key
    whatever the base's row order or partitioning; a replay of the batch
    on the result leaves it unchanged."""
    rows = [(1, 100), (None, None), (1, 150), (2, 200), (None, None)]
    updates = spark.createDataFrame([(2, 222)], "id long, salary long")
    outs = []
    for order in (rows, rows[::-1]):
        base = spark.createDataFrame(
            spark.sparkContext.parallelize(order, slices), "id long, salary long"
        )
        out = merge_latest(base, updates, key="id")
        assert sorted(out.collect(), key=repr) == sorted(
            merge_latest(out, updates, key="id").collect(), key=repr
        )
        outs.append(sorted(out.collect(), key=repr))
    assert outs[0] == outs[1]
    assert {tuple(r) for r in outs[0]} == {(1, 150), (2, 222), (None, None)}
    assert len(outs[0]) == 3
