"""Incremental IVFPQ index (streaming/pqindex.py): per-batch code
maintenance is per-vector independent (the accumulated rows equal the
batch assignment exactly), replays are idempotent, compaction folds
without changing the probe, and the gate query equals the batch
``ivf_pq_ann_top1`` answer (its DuckDB oracle is covered end-to-end
by tools/check.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from go_http_data_pipeline_spark.llm import pq as pqm
from go_http_data_pipeline_spark.streaming import pqindex
from go_http_data_pipeline_spark.streaming.annindex import (
    ivf_batch_feats,
    ivf_centroids,
)


def _fixture_batches(spark, sf_dir, n=2):
    """The embeddings fixture split into n disjoint arrival batches
    (hash-split on vec_id — deterministic)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    return [emb.filter(F.col("vec_id") % n == i) for i in range(n)]


def _index_rows(spark, index_dir):
    idx = pqindex._pq_index(index_dir)
    rows = []
    for side in idx.probe_sides(spark):
        rows.extend(
            (r.vec_id, r.cid, tuple(r.cidx)) for r in side.collect()
        )
    return sorted(rows)


def _run_steps(spark, sf_dir, tmp_path, batches, ids=None):
    index_dir = str(tmp_path / "index")
    cents = ivf_centroids(spark, sf_dir)
    cb = pqm.trained_codebook(spark, sf_dir)
    code_ids = pqm.dense_code_ids(spark, sf_dir)
    for i, b in zip(ids or range(len(batches)), batches):
        pqindex.pq_index_step(spark, b, cents, cb, code_ids, i, index_dir)
    return index_dir, cents, cb, code_ids


def _batch_reference(spark, sf_dir, cents, cb, code_ids):
    """The offline formulation: every vector's cell + dense codes in
    one pass over the whole corpus."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cells = ivf_batch_feats(emb, cents).select("vec_id", "cid")
    wide = pqm.widen_codes(
        pqm.pq_assign(emb, cb, int_codebook=True), code_ids
    )
    return sorted(
        (r.vec_id, r.cid, tuple(r.cidx))
        for r in wide.join(cells, "vec_id").collect()
    )


def test_accumulated_index_equals_batch_assignment(spark, sf_dir, tmp_path):
    """Codes are per-vector independent, so N arrivals accumulate to
    EXACTLY the one-pass batch assignment — the property that makes
    this index's maintenance O(batch) while the IVF top-1 twin's
    grows with its cell (SCALING_MEASURED §I)."""
    batches = _fixture_batches(spark, sf_dir, n=3)
    index_dir, cents, cb, code_ids = _run_steps(
        spark, sf_dir, tmp_path, batches
    )
    assert _index_rows(spark, index_dir) == _batch_reference(
        spark, sf_dir, cents, cb, code_ids
    )
    pqindex._pq_index(index_dir).drop_generations(spark)


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running an arrival (same batch id) overwrites its own b-dir
    and leaves the accumulated index byte-identical."""
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, cents, cb, code_ids = _run_steps(
        spark, sf_dir, tmp_path, batches
    )
    before = _index_rows(spark, index_dir)
    pqindex.pq_index_step(
        spark, batches[1], cents, cb, code_ids, 1, index_dir
    )
    assert _index_rows(spark, index_dir) == before
    pqindex._pq_index(index_dir).drop_generations(spark)


def test_compaction_folds_and_probe_is_unchanged(
    spark, sf_dir, tmp_path, monkeypatch
):
    """With _PQ_COMPACT_EVERY=2 the appends fold into one bucketed
    generation (read view exactly [c1]); a replayed batch recreating
    its superseded b-dir never re-enters the view; and the ADC probe
    over the compacted index equals the probe over an uncompacted
    copy of the same arrivals."""
    monkeypatch.setattr(pqindex, "_PQ_COMPACT_EVERY", 2)
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, cents, cb, code_ids = _run_steps(
        spark, sf_dir, tmp_path, batches
    )
    idx = pqindex._pq_index(index_dir)
    assert [os.path.basename(p) for p in idx.visible_dirs()] == ["c1"]

    # Uncompacted twin of the same arrivals.
    monkeypatch.setattr(pqindex, "_PQ_COMPACT_EVERY", 99)
    plain_dir, *_ = _run_steps(
        spark, sf_dir, tmp_path / "plain", batches
    )
    compacted = sorted(
        map(
            tuple,
            pqindex.ivfpq_probe(
                spark, sf_dir, idx.probe_sides(spark)
            ).collect(),
        )
    )
    plain = sorted(
        map(
            tuple,
            pqindex.ivfpq_probe(
                spark,
                sf_dir,
                pqindex._pq_index(plain_dir).probe_sides(spark),
            ).collect(),
        )
    )
    assert compacted == plain and compacted

    # Crash-replay shape: batch 1's b-dir recreated AFTER c1 folded it
    # — superseded by construction, the view must not change.
    pqindex.pq_index_step(
        spark, batches[1], cents, cb, code_ids, 1, index_dir
    )
    assert [os.path.basename(p) for p in idx.visible_dirs()] == ["c1"]
    idx.drop_generations(spark)
    pqindex._pq_index(plain_dir).drop_generations(spark)


# --- retractions (LWW tombstones; no state to repair) ----------------------


def _probe_rows(spark, sf_dir, index_dir, q_filter=None):
    return sorted(
        map(
            tuple,
            pqindex.ivfpq_probe(
                spark,
                sf_dir,
                pqindex._pq_index(index_dir).live_sides(spark),
                q_filter=q_filter,
            ).collect(),
        )
    )


def _live_rows(spark, index_dir):
    rows = []
    for side in pqindex._pq_index(index_dir).live_sides(spark):
        rows.extend(
            (r.vec_id, r.cid, tuple(r.cidx)) for r in side.collect()
        )
    return sorted(rows)


def test_delete_equals_survivor_built_index(spark, sf_dir, tmp_path):
    """After retracting every 5th vector, the live rows are EXACTLY an
    index built from the survivors alone — a retraction is complete
    the moment the tombstone lands, because the codes index holds
    nothing derived across vectors."""
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, cents, cb, code_ids = _run_steps(
        spark, sf_dir, tmp_path, batches
    )
    dead = F.col("vec_id") % 5 == 0
    pqindex.pq_delete_step(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(dead)
        .select("vec_id"),
        2,
        index_dir,
    )
    survivor_dir, *_ = _run_steps(
        spark,
        sf_dir,
        tmp_path / "surv",
        [b.filter(~dead) for b in batches],
    )
    assert _live_rows(spark, index_dir) == _live_rows(spark, survivor_dir)
    pqindex._pq_index(index_dir).drop_generations(spark)
    pqindex._pq_index(survivor_dir).drop_generations(spark)


def test_logical_and_physical_apply_agree(spark, sf_dir, tmp_path):
    """The probe answers the same whether the tombstones are applied
    logically (probe-side filter) or folded in physically by a
    compaction — and the compaction GC's the applied d-dirs."""
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, *_ = _run_steps(spark, sf_dir, tmp_path, batches)
    pqindex.pq_delete_step(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id"),
        2,
        index_dir,
    )
    logical = _probe_rows(spark, sf_dir, index_dir)
    idx = pqindex._pq_index(index_dir)
    idx.compact(spark, 2)
    assert [os.path.basename(p) for p in idx.visible_dirs()] == ["c2"]
    assert idx._tombstone_dirs() == []
    assert _probe_rows(spark, sf_dir, index_dir) == logical and logical
    idx.drop_generations(spark)


def test_replayed_delete_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying a delete batch (same batch id) overwrites its own
    d-dir and leaves the live rows unchanged."""
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, *_ = _run_steps(spark, sf_dir, tmp_path, batches)
    dead = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id")
    )
    pqindex.pq_delete_step(dead, 2, index_dir)
    before = _live_rows(spark, index_dir)
    pqindex.pq_delete_step(dead, 2, index_dir)
    assert _live_rows(spark, index_dir) == before
    pqindex._pq_index(index_dir).drop_generations(spark)


def test_readd_after_delete_wins_lww(spark, sf_dir, tmp_path):
    """A vector re-added in a LATER batch outlives an earlier delete
    (last-writer-wins), while vectors the delete covered and nothing
    re-added stay dead."""
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, cents, cb, code_ids = _run_steps(
        spark, sf_dir, tmp_path, batches
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dead = emb.filter(F.col("vec_id") % 5 == 0)
    pqindex.pq_delete_step(dead.select("vec_id"), 2, index_dir)
    # Re-add half the dead set in batch 3.
    readd = dead.filter(F.col("vec_id") % 10 == 0)
    pqindex.pq_index_step(
        spark, readd, cents, cb, code_ids, 3, index_dir
    )
    live = {v for v, _, _ in _live_rows(spark, index_dir)}
    readd_ids = {r.vec_id for r in readd.select("vec_id").collect()}
    gone_ids = {
        r.vec_id
        for r in dead.select("vec_id").collect()
        if r.vec_id not in readd_ids
    }
    assert readd_ids and readd_ids <= live
    assert gone_ids and not (gone_ids & live)
    pqindex._pq_index(index_dir).drop_generations(spark)


def test_tombstone_apply_is_passthrough_then_broadcast(
    spark, sf_dir, tmp_path
):
    """Pins the two plan claims the retraction docstrings make across
    all three index families. (1) With NO tombstones on disk,
    ``apply_tombstones`` returns the very same DataFrame object — the
    delete-free probe plan cannot change by construction. (2) With
    tombstones, the dead-row filter joins the index side against a
    BROADCAST of the tombstone keys (never a sort-merge join), and the
    plan's ONLY shuffle is the tombstone-side groupBy-max — sized by
    the d-dir scan, O(deletes) — while the index side contributes the
    same zero shuffles it does delete-free. The retraction cost a
    probe pays never includes a corpus shuffle."""
    from go_http_data_pipeline_spark.plans.inspect import (
        exchange_count,
        join_strategies,
    )

    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, *_ = _run_steps(spark, sf_dir, tmp_path, batches)
    idx = pqindex._pq_index(index_dir)
    side = idx.probe_sides(spark)[0]
    assert idx.apply_tombstones(spark, side) is side

    pqindex.pq_delete_step(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id"),
        2,
        index_dir,
    )
    live = idx.apply_tombstones(spark, idx.probe_sides(spark)[0])
    strategies = join_strategies(live)
    assert any("Broadcast" in s for s in strategies)
    assert not any("SortMerge" in s for s in strategies)
    assert exchange_count(side) == 0
    assert exchange_count(live) == 1  # the O(deletes) tombstone groupBy
    idx.drop_generations(spark)


def test_with_deletes_twin_matches_duckdb_oracle(spark, sf_dir):
    """End-to-end through the engine: the retraction twin's answer is
    value-identical to its DuckDB oracle (the batch IVFPQ answer
    restricted to survivors on both sides) — the exact-value check the
    driver gate would run, kept in pytest while the query is held
    unregistered (registry frozen until the deferral backlog drains)."""
    import duckdb

    got = sorted(
        map(
            tuple,
            pqindex.streaming_ivfpq_index_with_deletes(
                spark, sf_dir
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        map(tuple, con.execute(pqindex._IVFPQ_DELETE_ORACLE).fetchall())
    )
    assert len(got) == len(want) and got
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert abs(g[3] - w[3]) < 1e-9
    # Query 0 (vec_id % 17 == 0) was retracted: it must neither query...
    assert all(qid % pqindex._IVFPQ_DELETE_MOD != 0 for qid, *_ in got)
    # ...nor serve as a neighbor.
    assert all(
        nb % pqindex._IVFPQ_DELETE_MOD != 0 for _, _, nb, _ in got
    )


def test_gate_query_equals_batch_ivf_pq(spark, sf_dir):
    """End-to-end through the engine (availableNow stream over the
    sharded fixture): the accumulated-index probe is row-identical to
    the batch ``ivf_pq_ann_top1`` — neighbor AND score."""
    got = sorted(
        map(
            tuple,
            pqindex.streaming_ivfpq_index_top1(spark, sf_dir).collect(),
        )
    )
    want = sorted(map(tuple, pqm.ivf_pq_ann_top1(spark, sf_dir).collect()))
    assert got == want and got


def test_ivfpq_full_takedown_then_recompaction_and_fresh_session(
    spark, sf_dir, tmp_path
):
    """Full-source takedown (VERDICT r11 #1): retract EVERY indexed
    vector, compact (all-dead fold -> zero-part-file generation),
    compact AGAIN, and read in a catalog-cleared session — the live
    rows and the ADC probe are empty-but-healthy at every step, and a
    later re-add serves again. Pre-fix the second compact and the
    fresh-session read threw UNABLE_TO_INFER_SCHEMA."""
    batches = _fixture_batches(spark, sf_dir, n=2)
    index_dir, cents, cb, code_ids = _run_steps(
        spark, sf_dir, tmp_path, batches
    )
    pqindex.pq_delete_step(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id"),
        2,
        index_dir,
    )
    idx = pqindex._pq_index(index_dir)
    idx.compact(spark, 2)  # all-dead fold
    idx.compact(spark, 3)  # re-fold of the empty view
    assert _live_rows(spark, index_dir) == []
    assert _probe_rows(spark, sf_dir, index_dir) == []
    idx.drop_generations(spark)  # catalog-cleared session
    assert _live_rows(spark, index_dir) == []
    assert _probe_rows(spark, sf_dir, index_dir) == []
    # The index keeps WORKING after the takedown.
    pqindex.pq_index_step(
        spark, batches[0], cents, cb, code_ids, 4, index_dir
    )
    assert _live_rows(spark, index_dir) and _probe_rows(
        spark, sf_dir, index_dir
    )
    idx.drop_generations(spark)
