"""Incremental IVF ANN index (streaming/annindex.py): the top-1 state
after N arrivals equals the batch within-cell nearest-neighbor answer,
later arrivals improve earlier vectors' neighbors, replays are
idempotent (including the crash-between-state-and-commit skip path),
and the gate query matches its DuckDB oracle end-to-end (covered by
tools/check.py; here we pin the step semantics on synthetic geometry).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_http_data_pipeline_spark.streaming import annindex, core


def _cents(spark):
    """Two orthogonal unit centroids: cell 0 along e1, cell 1 along
    e2. Vectors [x, y, 0, 0] with x > y land in cell 0."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "cid long, c_emb array<float>")
    return df.select(
        "cid",
        "c_emb",
        F.sqrt(
            F.expr(annindex._DOT.format(a="c_emb", b="c_emb"))
        ).alias("c_nrm"),
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _state(spark, state_dir):
    df = core.newest_state(spark, state_dir)
    return (
        sorted(map(tuple, df.select("vec_id", "cid", "neighbor_id").collect()))
        if df is not None
        else []
    )


def _expected_batch_answer(spark, cents, all_rows):
    """The batch formulation: per vector, the best same-cell neighbor
    (max cosine, ties to smaller vec_id) over ALL rows."""
    feats = annindex.ivf_batch_feats(_batch(spark, all_rows), cents)
    a, b = feats.alias("n"), feats.alias("o")
    dot = F.expr(annindex._DOT.format(a="n.embedding", b="o.embedding"))
    scored = (
        a.join(
            b,
            (F.col("n.cid") == F.col("o.cid"))
            & (F.col("n.vec_id") != F.col("o.vec_id")),
        )
        .select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("n.cid").alias("cid"),
            F.col("o.vec_id").alias("neighbor_id"),
            (dot / (F.col("n.nrm") * F.col("o.nrm"))).alias("cosine"),
        )
    )
    return sorted(
        map(
            tuple,
            annindex._merge_top1(scored)
            .select("vec_id", "cid", "neighbor_id")
            .collect(),
        )
    )


BATCH0 = [
    (1, [1.0, 0.1, 0.0, 0.0]),   # cell 0
    (2, [1.0, 0.4, 0.0, 0.0]),   # cell 0
    (3, [0.1, 1.0, 0.0, 0.0]),   # cell 1
]
BATCH1 = [
    (4, [1.0, 0.12, 0.0, 0.0]),  # cell 0: nearly parallel to vec 1
    (5, [0.1, 1.0, 0.01, 0.0]),  # cell 1: nearly parallel to vec 3
]


def _run(spark, tmp_path, batches, monkeypatch=None, every=None):
    if monkeypatch is not None and every is not None:
        monkeypatch.setattr(annindex, "_IVF_COMPACT_EVERY", every)
    index_dir = str(tmp_path / "index")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir, exist_ok=True)
    cents = _cents(spark)
    for i, rows in enumerate(batches):
        annindex.ivf_index_step(
            spark,
            annindex.ivf_batch_feats(_batch(spark, rows), cents),
            i,
            index_dir,
            state_dir,
        )
    return index_dir, state_dir, cents


def test_state_equals_batch_answer_and_improves_old_vectors(
    spark, tmp_path, monkeypatch
):
    """After two arrivals the state equals the batch answer over the
    union — which REQUIRES that batch-1 vectors replaced batch-0
    vectors' neighbors where closer (vec 1's best neighbor becomes 4,
    vec 3's becomes 5)."""
    index_dir, state_dir, cents = _run(
        spark, tmp_path, [BATCH0, BATCH1], monkeypatch, every=2
    )
    got = _state(spark, state_dir)
    assert got == _expected_batch_answer(spark, cents, BATCH0 + BATCH1)
    by_vec = {v: n for v, _, n in got}
    assert by_vec[1] == 4 and by_vec[4] == 1  # cross-batch improvement
    assert by_vec[3] == 5 and by_vec[5] == 3
    annindex._ivf_index(index_dir).drop_generations(spark)


def test_compaction_folds_index_and_preserves_answer(
    spark, tmp_path, monkeypatch
):
    """With _IVF_COMPACT_EVERY=2 the two appends fold into one
    bucketed generation; the read view is exactly [c1] and a third
    arrival probed against the compacted index still yields the batch
    answer."""
    index_dir, state_dir, cents = _run(
        spark, tmp_path, [BATCH0, BATCH1], monkeypatch, every=2
    )
    idx = annindex._ivf_index(index_dir)
    vis = [os.path.basename(p) for p in idx.visible_dirs()]
    assert vis == ["c1"]
    extra = [(6, [1.0, 0.11, 0.0, 0.0])]  # cell 0, between vecs 1 and 4
    annindex.ivf_index_step(
        spark,
        annindex.ivf_batch_feats(_batch(spark, extra), cents),
        2,
        index_dir,
        state_dir,
    )
    got = _state(spark, state_dir)
    assert got == _expected_batch_answer(
        spark, cents, BATCH0 + BATCH1 + extra
    )
    idx.drop_generations(spark)


@pytest.mark.parametrize("crash_point", ["after_commit", "after_state"])
def test_replay_is_idempotent(spark, tmp_path, monkeypatch, crash_point):
    """Replaying batch 1 leaves the state byte-identical — both when
    the whole step completed before the crash (idempotent max absorbs
    duplicate challengers) and when the crash hit between the state
    write and the index append (the step detects its own complete
    state generation and skips straight to the append, never
    overwriting a directory it is reading)."""
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    before = _state(spark, state_dir)
    if crash_point == "after_state":
        # Simulate the torn step: the index append never happened.
        import shutil

        shutil.rmtree(os.path.join(index_dir, "b1"))
    annindex.ivf_index_step(
        spark,
        annindex.ivf_batch_feats(_batch(spark, BATCH1), cents),
        1,
        index_dir,
        state_dir,
    )
    assert _state(spark, state_dir) == before
    assert os.path.exists(os.path.join(index_dir, "b1", "_SUCCESS"))
    annindex._ivf_index(index_dir).drop_generations(spark)


def test_ivf_compacted_probe_has_no_index_side_exchange(
    spark, tmp_path, monkeypatch
):
    """The GenIndex zero-exchange property holds for the IVF cell
    index too, not only the LSH twin it was measured on: a probe join
    against the compacted (cid)-bucketed generation consumes its
    bucketing (one fewer exchange than the same probe against a plain
    read of the same directory, same rows). The index side is the one
    that grows with the corpus — at 100 TB it must never shuffle."""
    from go_http_data_pipeline_spark.plans.inspect import (
        exchange_count,
        plan_str,
    )

    index_dir, state_dir, cents = _run(
        spark, tmp_path, [BATCH0, BATCH1], monkeypatch, every=2
    )
    idx = annindex._ivf_index(index_dir)
    sides = idx.probe_sides(spark)
    assert len(sides) == 1, "one compacted generation, no delta dirs"
    [c_dir] = idx.visible_dirs()

    probe_feats = annindex.ivf_batch_feats(
        _batch(spark, [(9, [1.0, 0.2, 0.0, 0.0])]), cents
    )

    def probe(index_side):
        return probe_feats.alias("n").join(
            index_side.alias("o"),
            (F.col("n.cid") == F.col("o.cid"))
            & (F.col("n.vec_id") != F.col("o.vec_id")),
        )

    # Disable broadcast: at test scale the index is broadcast-sized;
    # the claim under pin is the 100 TB shape where the index side is
    # shuffle-joined unless its bucketing satisfies the distribution.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = probe(sides[0])
        plain = probe(spark.read.parquet(c_dir))
        assert "SelectedBucketsCount" in plan_str(bucketed)
        assert exchange_count(bucketed) == exchange_count(plain) - 1, (
            plan_str(bucketed)
        )
        assert sorted(
            map(tuple, bucketed.select("n.vec_id", "o.vec_id").collect())
        ) == sorted(map(tuple, plain.select("n.vec_id", "o.vec_id").collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    idx.drop_generations(spark)


def test_singleton_cell_has_no_neighbor_row(spark, tmp_path):
    """A vector alone in its cell never receives a state row — same
    semantics as the oracle's inner join."""
    lone = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])]
    index_dir, state_dir, _ = _run(spark, tmp_path, [lone])
    assert _state(spark, state_dir) == []
    annindex._ivf_index(index_dir).drop_generations(spark)


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "vec_id long")


def _live_rows(spark, index_dir):
    """Union of the live probe sides (tombstones applied)."""
    sides = annindex._ivf_index(index_dir).live_sides(spark)
    out = None
    for s in sides:
        s = s.select("vec_id", "cid")
        out = s if out is None else out.unionByName(s)
    return sorted(map(tuple, out.collect())) if out is not None else []


def test_delete_repairs_neighbor_to_next_best(spark, tmp_path):
    """Deleting a vector that IS someone's recorded top-1 repairs that
    vector's row to its next-best LIVE cell-mate; the deleted vector
    disappears on both sides; untouched rows stay."""
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    # Pre-delete: vec 1's best neighbor is 4 (nearly parallel).
    assert (1, 0, 4) in _state(spark, state_dir)
    annindex.ivf_delete_step(
        spark, _ids_df(spark, [4]), 2, index_dir, state_dir
    )
    survivors = [r for r in BATCH0 + BATCH1 if r[0] != 4]
    assert _state(spark, state_dir) == _expected_batch_answer(
        spark, cents, survivors
    )
    got = _state(spark, state_dir)
    assert all(4 not in (v, n) for v, _, n in got)
    assert (1, 0, 2) in got  # repaired to the next-best live cell-mate


def test_replayed_delete_is_idempotent(spark, tmp_path):
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    annindex.ivf_delete_step(
        spark, _ids_df(spark, [4]), 2, index_dir, state_dir
    )
    before = _state(spark, state_dir)
    annindex.ivf_delete_step(
        spark, _ids_df(spark, [4]), 2, index_dir, state_dir
    )
    assert _state(spark, state_dir) == before


def test_whole_cell_death_removes_rows(spark, tmp_path):
    """Deleting every member of cell 1 leaves no cell-1 rows (the
    batch oracle's inner-join shape: a vector with no live cell-mate
    has no row), and cell 0 is untouched."""
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    annindex.ivf_delete_step(
        spark, _ids_df(spark, [3, 5]), 2, index_dir, state_dir
    )
    got = _state(spark, state_dir)
    assert got and all(cid == 0 for _, cid, _n in got)
    assert got == _expected_batch_answer(
        spark, cents, [r for r in BATCH0 + BATCH1 if r[0] not in (3, 5)]
    )


def test_logical_and_physical_apply_agree(spark, tmp_path):
    """The live index view after a delete is identical whether the
    tombstones are applied logically at probe time or folded in
    physically by a compaction (which then GC's them)."""
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    annindex.ivf_delete_step(
        spark, _ids_df(spark, [4]), 2, index_dir, state_dir
    )
    logical = _live_rows(spark, index_dir)
    state_logical = _state(spark, state_dir)
    annindex._ivf_index(index_dir).compact(spark, 2)
    try:
        assert _live_rows(spark, index_dir) == logical
        assert _state(spark, state_dir) == state_logical
        assert annindex._ivf_index(index_dir)._tombstone_dirs() == []
    finally:
        annindex._ivf_index(index_dir).drop_generations(spark)


def test_readd_after_delete_wins_lww(spark, tmp_path):
    """A re-add in a LATER batch outlives an earlier delete
    (last-writer-wins on src_batch vs t_batch), and the state fold
    restores the re-added vector both as a row and as others'
    neighbor."""
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    annindex.ivf_delete_step(
        spark, _ids_df(spark, [4]), 2, index_dir, state_dir
    )
    assert all(v != 4 for v, _, _n in _state(spark, state_dir))
    readd = [r for r in BATCH1 if r[0] == 4]
    annindex.ivf_index_step(
        spark,
        annindex.ivf_batch_feats(_batch(spark, readd), cents),
        3,
        index_dir,
        state_dir,
    )
    assert _state(spark, state_dir) == _expected_batch_answer(
        spark, cents, BATCH0 + BATCH1
    )
    assert (1, 0, 4) in _state(spark, state_dir)


def test_ivf_full_takedown_then_recompaction_and_fresh_session(
    spark, tmp_path
):
    """Full-source takedown (VERDICT r11 #1): retract EVERY indexed
    vector, compact (all-dead fold -> zero-part-file generation),
    compact AGAIN, and read in a catalog-cleared session —
    empty-but-healthy at every step (state empty, probe sides empty),
    and a later re-add rebuilds live top-1 rows. Pre-fix the second
    compact and the fresh-session read threw UNABLE_TO_INFER_SCHEMA."""
    index_dir, state_dir, cents = _run(spark, tmp_path, [BATCH0, BATCH1])
    all_ids = [r[0] for r in BATCH0 + BATCH1]
    annindex.ivf_delete_step(
        spark, _ids_df(spark, all_ids), 2, index_dir, state_dir
    )
    assert _state(spark, state_dir) == []
    idx = annindex._ivf_index(index_dir)
    idx.compact(spark, 2)  # all-dead fold
    idx.compact(spark, 3)  # re-fold of the empty view
    assert _live_rows(spark, index_dir) == []
    idx.drop_generations(spark)  # catalog-cleared session
    assert _live_rows(spark, index_dir) == []
    # The index keeps WORKING after the takedown.
    annindex.ivf_index_step(
        spark,
        annindex.ivf_batch_feats(_batch(spark, BATCH0), cents),
        4,
        index_dir,
        state_dir,
    )
    assert _state(spark, state_dir) == _expected_batch_answer(
        spark, cents, BATCH0
    )
    idx.drop_generations(spark)
