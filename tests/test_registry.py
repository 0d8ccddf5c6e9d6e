"""Driver-contract invariants: every query registered, every oracle
paired, import works without a SparkSession."""

from __future__ import annotations

import os
import subprocess
import sys

# The checkout root, derived from this file's location (ADVICE r11:
# the fresh-interpreter subprocesses must not hardcode /root/repo).
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_loads_without_session():
    # Run in a fresh interpreter so no fixture-created session leaks in.
    code = (
        f"import sys; sys.path.insert(0, {_REPO_ROOT!r});"
        "from go_http_data_pipeline_spark import registry;"
        "qs = registry.all_queries(); assert len(qs) >= 50, len(qs)"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120)


def test_readme_query_counts_match_registry():
    """README's headline counts are read from the registry, so they
    cannot drift from it again."""
    import re

    from go_http_data_pipeline_spark import registry

    with open(os.path.join(_REPO_ROOT, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    m = re.search(r"\*\*(\d+) registered queries, (\d+) of them", readme)
    assert m, "README headline count sentence not found"
    assert (int(m.group(1)), int(m.group(2))) == (
        len(registry.all_queries()),
        len(registry.all_oracles()),
    )


def test_every_oracle_has_a_query():
    from go_http_data_pipeline_spark import registry

    qs, oracles = registry.all_queries(), registry.all_oracles()
    assert set(oracles) <= set(qs)


def test_newest_green_matches_files_on_disk():
    """The driver-window ordering is derived from CORRECTNESS_r*.json
    at import time (VERDICT r7 item 2: no more hand-copied frozensets).
    Recompute newest-green independently here and pin the result.

    Anchors are STABLE invariants only (ADVICE r8): the rows-only
    sketches were recorded in r1 and never re-hashed, so their
    newest-green is pinned; anything keyed to "how many rows round N
    recorded" decays as later rounds re-verify and is forbidden here.
    """
    import json
    import re

    from go_http_data_pipeline_spark import registry

    newest = registry._newest_green_rounds()

    expected: dict[str, int] = {}
    for path in registry._correctness_dir().glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name).group(1))
        for name, rec in json.loads(path.read_text()).items():
            full = rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match")
            rows_only = rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None
            if full or rows_only:
                expected[name] = max(expected.get(name, 0), rnd)
    assert newest == expected
    # Stable anchors: rows-only sketches recorded once in r1 and never
    # re-hashed; the LLM tranche first went green in r3 or later.
    assert expected["approx_distinct_parts"] == 1
    assert expected["minhash_lsh_pairs"] >= 3


def test_window_order_never_checked_then_stalest_first():
    """First-50 window = refreshes/new queries, then greens stalest-
    first; rows-only sketches dead last."""
    from go_http_data_pipeline_spark import registry

    qs = list(registry.all_queries())
    newest = registry._newest_green_rounds()

    max_recorded = max(newest.values(), default=0)
    ranks = [
        (9, 0) if k in registry._ROWS_ONLY
        else (2, registry._DEFER[k])
        if k in registry._DEFER
        and k not in newest
        and max_recorded <= registry._DEFER[k]
        else (0, 0) if k in registry._REFRESH or k not in newest
        else (1, newest[k])
        for k in qs
    ]
    assert ranks == sorted(ranks), "registry order must be rank-sorted"
    # Every rows-only sketch sorts after every checkable query.
    for k in registry._ROWS_ONLY:
        assert k in qs[-len(registry._ROWS_ONLY):]


def test_entry_contract_surface():
    import __spark_entry__ as e

    assert callable(e.entry)
    assert set(e.oracle_sql()) <= set(e.queries())


def test_results_invariant_under_partitioning(spark, sf_dir):
    # The determinism contract behind every oracle: results (including
    # float aggregates) must not depend on how the input is split.
    # Exercise the exact-decimal sum path on 1 vs 32 partitions.
    from pyspark.sql import functions as F

    from go_http_data_pipeline_spark.determinism import dsum

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def agg(df):
        return {
            tuple(r)
            for r in df.groupBy("l_returnflag")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
            .collect()
        }

    assert agg(l.repartition(1)) == agg(l.repartition(32))


def test_deferral_expires_once_next_round_recorded(monkeypatch):
    """_DEFER holds a new query's first driver check back ONLY while
    the round it was added in is still being recorded; as soon as a
    newer CORRECTNESS round exists on disk the query must rank at the
    front as a normal never-checked row — no hand-edit in the next
    round (hand-maintained green state was the VERDICT r7 item 2
    hazard).

    BOTH halves are hermetic (VERDICT r8 item 1 / ADVICE r8): each
    simulates its disk state by monkeypatching the newest-green cache
    instead of asserting live repo state, so the test stays green no
    matter which CORRECTNESS_r*.json files exist on disk.
    """
    from go_http_data_pipeline_spark import registry

    name = "some_new_query"  # synthetic: never in any CORRECTNESS file
    probe = {name: None, "q1_pricing_summary": None}
    horizon = 8
    monkeypatch.setattr(registry, "_DEFER", {name: horizon})

    # Pre-expiry state (newest recorded round <= horizon): the
    # deferred query sorts AFTER green rows.
    monkeypatch.setattr(
        registry._newest_green_rounds,
        "_cache",
        {"q1_pricing_summary": horizon},
        raising=False,
    )
    assert list(registry._ordered(probe)) == ["q1_pricing_summary", name]

    # Post-landing state: one green row newer than the deferral
    # horizon -> deferral expired, the never-checked query jumps to
    # the front.
    monkeypatch.setattr(
        registry._newest_green_rounds,
        "_cache",
        {"q1_pricing_summary": horizon + 1},
        raising=False,
    )
    assert list(registry._ordered(probe)) == [name, "q1_pricing_summary"]


def test_deferral_horizons_expire_independently(monkeypatch):
    """Per-query horizons (two deferral tiers in one round): when the
    round at tier 1's horizon lands, tier-1 queries jump to the front
    while tier-2 queries stay behind the greens until THEIR horizon
    round lands; among still-deferred queries, nearer horizons sort
    first."""
    from go_http_data_pipeline_spark import registry

    probe = {"tier2": None, "tier1": None, "green": None}
    monkeypatch.setattr(registry, "_DEFER", {"tier1": 8, "tier2": 9})

    # Round 9 recording (newest recorded round == 8): both deferred,
    # tier 1 (nearer horizon) ahead of tier 2.
    monkeypatch.setattr(
        registry._newest_green_rounds, "_cache", {"green": 8}, raising=False
    )
    assert list(registry._ordered(probe)) == ["green", "tier1", "tier2"]

    # Round 10 recording (r09 landed): tier 1 expired -> front;
    # tier 2 still deferred.
    monkeypatch.setattr(
        registry._newest_green_rounds, "_cache", {"green": 9}, raising=False
    )
    assert list(registry._ordered(probe)) == ["tier1", "green", "tier2"]

    # Round 11 recording (r10 landed): both expired -> both front,
    # module order preserved within the tie.
    monkeypatch.setattr(
        registry._newest_green_rounds, "_cache", {"green": 10}, raising=False
    )
    assert list(registry._ordered(probe)) == ["tier2", "tier1", "green"]


def test_ordering_invariants_hold_for_any_correctness_file_set(monkeypatch, tmp_path):
    """Meta-guard (VERDICT r8 item 1): the registry must produce a
    valid ordering under ANY set of CORRECTNESS_r*.json files —
    including rounds that do not exist yet. Simulate a future round's
    file landing (plus an empty dir, a partial file, and a far-future
    round) and assert the ordering invariants hold in every state."""
    import json

    from go_http_data_pipeline_spark import registry

    real = registry._newest_green_rounds()
    green_row = {"rows_match": True, "schema_match": True, "hash_match": True,
                 "spark_rows": 1, "oracle_rows": 1, "err": None}

    scenarios = {
        "empty": {},
        "future_round_landed": {
            "CORRECTNESS_r01.json": {"approx_distinct_parts": {
                "rows_match": True, "schema_match": False, "hash_match": False,
                "spark_rows": 5, "err": "no_oracle"}},
            "CORRECTNESS_r99.json": {k: green_row for k in list(real)[:5]},
        },
        "partial_garbage": {"CORRECTNESS_r42.json": None},  # non-dict body
    }
    for label, files in scenarios.items():
        d = tmp_path / label
        d.mkdir()
        for fname, body in files.items():
            (d / fname).write_text(json.dumps(body))
        monkeypatch.setattr(registry, "_correctness_dir", lambda d=d: d)
        monkeypatch.delattr(registry._newest_green_rounds, "_cache", raising=False)

        qs = list(registry.all_queries())
        newest = registry._newest_green_rounds()
        max_recorded = max(newest.values(), default=0)
        ranks = [
            (9, 0) if k in registry._ROWS_ONLY
            else (2, registry._DEFER[k])
            if k in registry._DEFER
            and k not in newest
            and max_recorded <= registry._DEFER[k]
            else (0, 0) if k in registry._REFRESH or k not in newest
            else (1, newest[k])
            for k in qs
        ]
        assert ranks == sorted(ranks), f"order must be rank-sorted under {label!r}"
        for k in registry._ROWS_ONLY:
            assert k in qs[-len(registry._ROWS_ONLY):], label

    # Restore the real cache for later tests in this process.
    monkeypatch.undo()
    registry._newest_green_rounds._cache = real


_H9 = frozenset({
    "pq_ann_top1_wide",
    "streaming_ivfpq_index_top1",
    "host_document_caps",
    "streaming_host_cap_state",
    "streaming_lsh_index_with_deletes",
})
_H10 = frozenset({
    "priority_sample_docs",
    "streaming_priority_sample_state",
    "priority_sample_estimate_eval",
    "epoch_shuffle_shards",
    "streaming_ivf_index_with_deletes",
})


def _green_rounds_through(cdir, max_round):
    """Newest green round per query re-derived from the CORRECTNESS
    files in ``cdir``, IGNORING any round newer than ``max_round``.
    Rounds <= 9 are frozen history — already recorded, never rewritten
    — so a start state built this way cannot shift when the driver
    lands the next round's file (the round-8 and round-10 time bombs
    both came from deriving "the current window" off the LIVE file
    set)."""
    import json
    import re

    from go_http_data_pipeline_spark import registry

    newest: dict[str, int] = {}
    for path in cdir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m or int(m.group(1)) > max_round:
            continue
        try:
            body = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(body, dict):
            continue
        for name, rec in body.items():
            if isinstance(rec, dict) and registry._row_green(rec):
                newest[name] = max(newest.get(name, 0), int(m.group(1)))
    return newest


_CANON_ORDER: list | None = None


def _canonical_query_order() -> list:
    """Registered query names in DRIVER order — computed in a fresh
    interpreter and cached for the session. ``_QUERIES`` insertion
    order is import-ENCOUNTER order: inside a long pytest process,
    whichever test module touched ``llm.pq`` (or any query module)
    first has already registered its rows, so the in-process dict
    order differs from the order the driver sees and the stalest-tie
    break inside a tranche shifts (observed: the round-13 test passed
    standalone and failed in the full suite because 'which 6 r8 rows
    slip' is a tie-break question). Window derivations must use the
    driver's order, which only a fresh interpreter reproduces."""
    global _CANON_ORDER
    if _CANON_ORDER is None:
        import json

        code = (
            f"import sys, json; sys.path.insert(0, {_REPO_ROOT!r});"
            "from go_http_data_pipeline_spark import registry;"
            "registry.all_queries();"
            "print(json.dumps(list(registry._QUERIES)))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code],
            check=True,
            capture_output=True,
            text=True,
            timeout=180,
        )
        _CANON_ORDER = json.loads(out.stdout.strip().splitlines()[-1])
    return _CANON_ORDER


def _window_chain(cdir, monkeypatch, through_round, universe=None, refresh=None):
    """Derive the round-10..``through_round`` driver windows from the
    frozen <=r9 history plus simulated per-round grants. Whenever the
    REAL file for a round exists in ``cdir`` its keys REPLACE the
    derived window: reality is the record (and a recorded window that
    diverges from the plan fails the caller's composition assertions
    loudly), while rounds not yet recorded are derived from the
    CURRENT registry — so later registry edits can never retroactively
    "re-derive" an already-recorded window. Returns
    ``{round: (window, state_before_grants)}``; the state is the
    staleness view the round's window was selected under.

    ``universe`` (optional set of names) restricts the derivation to
    queries known in the plan's era — used when RE-deriving an
    already-recorded round for a plan-equality cross-check, so a
    later-era registration cannot retroactively shift the derived
    window it is compared against. ``refresh`` (optional frozenset)
    likewise pins ``registry._REFRESH`` to the plan era's value during
    derivation: ``_REFRESH`` is transient (populated for the round
    being driven, cleared once its file lands), so re-deriving a
    RECORDED round must use that round's refresh set (empty for every
    round through 12), not whatever the current session staged —
    otherwise the round-13 ``_REFRESH`` rows would retroactively
    rank-0 into the re-derived round-10 plan. Default ``None`` keeps
    the live registry value (correct when deriving the CURRENT
    not-yet-recorded round)."""
    import json

    from go_http_data_pipeline_spark import registry

    registry.all_queries()  # populate _QUERIES: hermetic under -k/xdist
    # Driver order, NOT the in-process dict order (see
    # _canonical_query_order): stale-tranche tie-breaks depend on it.
    qdict = {k: registry._QUERIES[k] for k in _canonical_query_order()}
    if universe is not None:
        qdict = {k: v for k, v in qdict.items() if k in universe}
    state = _green_rounds_through(cdir, 9)
    chain = {}
    for rnd in range(10, through_round + 1):
        real = cdir / f"CORRECTNESS_r{rnd}.json"
        if real.exists():
            body = json.loads(real.read_text())
            w = list(body)
            # Only GREEN rows advance newest-green (a recorded red
            # stays stale and the driver's next window re-includes
            # it); granting every key would silently derive a plan
            # the real registry will not follow.
            grants = {
                q: rnd
                for q, rec in body.items()
                if isinstance(rec, dict) and registry._row_green(rec)
            }
        else:
            monkeypatch.setattr(
                registry._newest_green_rounds, "_cache", dict(state), raising=False
            )
            live_refresh = registry._REFRESH
            if refresh is not None:
                registry._REFRESH = frozenset(refresh)
            try:
                w = list(registry._ordered(qdict))[:50]
            finally:
                registry._REFRESH = live_refresh
                monkeypatch.delattr(
                    registry._newest_green_rounds, "_cache", raising=False
                )
            grants = {q: rnd for q in w}  # the plan assumes green
        chain[rnd] = (w, dict(state))
        state.update(grants)
    return chain


def test_round11_round12_window_precommitment(monkeypatch, tmp_path):
    """The round-11/12 rotation pre-commitment (VERDICT r9 item 7),
    rewritten hermetically (VERDICT r10 item 1) after the original
    failed the moment the driver wrote CORRECTNESS_r10.json: the start
    state here is FROZEN HISTORY (rounds <= 9 re-read from the files),
    so the derivation cannot shift as newer rounds land, and a real
    r10/r11/r12 file — once present — replaces the derived window so a
    driver window diverging from the plan still fails these assertions
    loudly. The whole chain runs under EVERY next-file disk state
    (r11/r12 absent and present, the r9
    ``test_deferral_expires_once_next_round_recorded`` fix pattern) so
    this class of disk-state time bomb cannot recur a third time.

    Contract: a registry edit (registration, fold, _REFRESH) changes
    the not-yet-recorded windows and must update this plan in the SAME
    commit — that is the pre-commitment working as intended.
    """
    import json
    import shutil

    from go_http_data_pipeline_spark import registry

    def check(cdir):
        chain = _window_chain(cdir, monkeypatch, 12)
        (w10, _), (w11, at11), (w12, at12) = chain[10], chain[11], chain[12]
        assert not (_H9 | _H10) & set(w10), "deferred rows leaked into round 10"
        assert len(w10) == 50
        assert _H9 <= set(w11) and not _H10 & set(w11)
        assert sum(1 for q in w11 if at11.get(q) == 7) == 45
        assert len(w11) == 50
        assert _H10 <= set(w12)
        assert sum(1 for q in w12 if at12.get(q) == 7) == 5  # r7 drains fully
        assert sum(1 for q in w12 if at12.get(q) == 8) == 40
        assert len(w12) == 50
        return chain

    real_dir = registry._correctness_dir()
    chain = check(real_dir)

    # Cross-check: every REAL recorded window equals the plan the
    # chain derives for it (recompute the derived side from a copy of
    # the history with that round's file absent).
    import re

    hist = tmp_path / "hist"
    hist.mkdir()
    plan_era = set(registry._DEFER)  # plan-era names: recorded <=r12 + deferrals
    for p in real_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if not m:
            continue  # stray near-miss file: not a driver record
        rnd = int(m.group(1))
        if rnd <= 12:
            plan_era |= set(json.loads(p.read_text()))
        if rnd <= 9:
            shutil.copy(p, hist / p.name)
    # refresh=∅: rounds 10-12 all ran with an empty _REFRESH (the r13
    # refresh rows must not retroactively rank into re-derived plans).
    derived = _window_chain(hist, monkeypatch, 12, universe=plan_era, refresh=frozenset())
    for rnd in (10, 11, 12):
        real = real_dir / f"CORRECTNESS_r{rnd}.json"
        if real.exists():
            assert set(json.loads(real.read_text())) == set(derived[rnd][0]), (
                f"driver's recorded round-{rnd} window diverged from the "
                "pre-committed plan — rewrite the STATUS plan consciously"
            )

    # Both simulated next-file states: land the planned windows as
    # synthetic driver records one at a time; the chain must keep
    # passing as each future file appears on disk.
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    sim = tmp_path / "future"
    sim.mkdir()
    for p in real_dir.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, sim / p.name)
    for rnd in (10, 11, 12):
        f = sim / f"CORRECTNESS_r{rnd}.json"
        if not f.exists():
            f.write_text(json.dumps({q: green for q in chain[rnd][0]}))
        check(sim)


def test_round13_window_precommitment(monkeypatch):
    """Round-13 plan (VERDICT r10 item 5), pre-committed with the same
    hermetic pattern: once the r11/r12 windows land, round 13 = the 6
    r8-green rows that slipped (streaming_repetition_filter,
    stratified_sample_per_lang, the 4 media queries) + the start of the
    r9-stale tranche. The round-13 session's PLANNED registry edits —
    register ``streaming_ivfpq_index_with_deletes``
    (streaming/pqindex.py, oracle literal staged), the semdedup
    recall fold (direction fixed in round 12: RETIRE
    ``semdedup_recall_eval``, whose row is a strict subset of
    ``semdedup_multiassign_recall``'s — n_true_pairs/n_bucketed_pairs/
    recall appear there as n_true_pairs/n_single_pairs/recall_single
    and n_missed is their difference, verified value-for-value at
    sf0.001 — so the fold is a pure registry deletion, zero body or
    oracle changes, no extra ``_REFRESH``), ``_REFRESH``
    ``ann_family_recall_eval`` for the explicit-miss-rows
    change, and ``_REFRESH`` the four driver-green GenIndex queries
    (``streaming_lsh_index_candidates``,
    ``streaming_lsh_index_with_deletes``, ``streaming_ivf_index_top1``,
    ``streaming_ivfpq_index_top1``) whose shared core took the
    round-12 all-dead-fold fix (plans proven byte-identical, but the
    rotation rule re-enters green queries whose code changed; the
    fifth GenIndex query, ``streaming_ivf_index_with_deletes``, gets
    its FIRST driver row in the r12 window on the fixed code already)
    — each rank at the front and displace the newest r9-stale rows
    (6 + 1 + 1 + 4 = 12 front rows, 38 r9-stale slots; the rest of the
    r9 tranche slips to r14); the conditional assertions below stay
    green across both eras (pre- and post-edit) and fail loudly on any
    OTHER composition drift."""
    from go_http_data_pipeline_spark import registry

    chain = _window_chain(registry._correctness_dir(), monkeypatch, 13)
    w13, at13 = chain[13]
    r8_slipped = {
        "streaming_repetition_filter",
        "stratified_sample_per_lang",
        "media_metadata",
        "media_features",
        "media_frame_samples",
        "media_resize_plan",
    }
    planned_new = {"streaming_ivfpq_index_with_deletes"} & set(registry._QUERIES)
    # The r13 refresh set, pinned as an ERA LITERAL once
    # CORRECTNESS_r13.json recorded all five rows green: live
    # ``registry._REFRESH`` is transient by design (the r14 session
    # cleared it back to frozenset() when the r13 file landed), so the
    # recorded window's refresh rows must be classified against the
    # set the r13 round actually ran with, not the current session's.
    # While the file was still unrecorded this line WAS
    # ``set(registry._REFRESH)`` — same value in that era.
    refresh = {
        "ann_family_recall_eval",
        "streaming_lsh_index_candidates",
        "streaming_lsh_index_with_deletes",
        "streaming_ivf_index_top1",
        "streaming_ivfpq_index_top1",
    }
    assert r8_slipped <= set(w13)
    assert planned_new <= set(w13)
    assert refresh <= set(w13)
    rest = [q for q in w13 if q not in r8_slipped | planned_new | refresh]
    assert all(at13.get(q) == 9 for q in rest), (
        "every round-13 slot not taken by the slipped r8 rows / planned "
        "registration / refreshes must drain the r9-stale tranche"
    )
    assert len(w13) == 50


def test_round14_window_precommitment(monkeypatch):
    """Round-14 plan (VERDICT r12 item 5), pre-committed in the SAME
    commit as the round-13 registry edits, with the same hermetic
    pattern: once the r13 window lands (6 slipped r8 rows + the
    ``streaming_ivfpq_index_with_deletes`` registration + the 5
    ``_REFRESH`` rows + 38 r9-stale), round 14 = the REMAINDER of the
    r9-stale tranche (drained FULLY — these are the oldest driver rows
    left) + the planned SemDeDup-family registrations (the r14
    session's edit: add ``streaming/semindex.py`` to
    ``registry._MODULES``, registering the held twins
    ``streaming_semdedup_verdicts`` / ``streaming_semdedup_with_deletes``
    and deleting their tools/check_held.py roster rows) + whatever
    ``_REFRESH`` the r14 session stages (the r13 set retires when the
    r14 session clears ``_REFRESH`` — a registry edit that must keep
    this test green in the same commit) + r10-stale rows filling the
    rest. The conditional assertions hold across eras — r13 recorded
    or derived, twins registered or not yet, ``_REFRESH`` in its r13
    or r14 state — and fail loudly on any OTHER composition drift
    (e.g. an unplanned registration rank-0ing into the window, or an
    r9-stale row slipping past round 14)."""
    from go_http_data_pipeline_spark import registry

    chain = _window_chain(registry._correctness_dir(), monkeypatch, 14)
    w14, at14 = chain[14]
    # The r14 refresh set, pinned as an ERA LITERAL once
    # CORRECTNESS_r14.json landed (the r13-test pattern, applied per
    # VERDICT r14 item 6): round 14 ran with an EMPTY ``_REFRESH``
    # (clearing the r13 set was the round's first edit and nothing
    # repopulated it), so the recorded window classifies against that
    # era's value — not whatever a LATER session stages in the live
    # set. While the file was unrecorded this line WAS
    # ``set(registry._REFRESH)`` — same (empty) value in that era.
    refresh = set()
    planned_new = {
        "streaming_semdedup_verdicts",
        "streaming_semdedup_with_deletes",
    } & set(registry._QUERIES)
    r9_remaining = {
        q for q in registry._QUERIES if at14.get(q) == 9 and q not in refresh
    }
    assert r9_remaining <= set(w14), "the r9-stale tranche must drain fully"
    assert planned_new <= set(w14)
    assert refresh <= set(w14)
    rest = [q for q in w14 if q not in r9_remaining | planned_new | refresh]
    assert all(at14.get(q) == 10 for q in rest), (
        "every round-14 slot not taken by the r9 remainder / planned "
        "registrations / refreshes must drain the r10-stale tranche"
    )
    assert len(w14) == 50


def test_round15_window_precommitment(monkeypatch):
    """Round-15 plan, pre-committed in the SAME commit as the round-14
    registry edits (the house pattern since r11): once the r14 window
    lands (the 2 SemDeDup twin registrations + the 8-row r9-stale
    remainder drained fully + 40 r10-stale), round 15 = the REMAINDER
    of the r10-stale tranche (drained FULLY — 8 rows by the current
    derivation, but this test deliberately pins the DRAIN, not the
    count) + whatever ``_REFRESH`` the r15 session stages (empty as of
    this writing: the held roster is empty and no registration is
    planned) + r11-stale rows filling the rest. The conditional
    assertions hold across eras — r14 recorded or derived, ``_REFRESH``
    empty or staged — and fail loudly on any OTHER composition drift
    (an unplanned registration rank-0ing into the window, or an
    r10-stale row slipping past round 15). A round-15 registry edit
    (registration, fold, refresh) changes this derivation and must
    update this plan in the same commit — that is the pre-commitment
    working as intended."""
    from go_http_data_pipeline_spark import registry

    chain = _window_chain(registry._correctness_dir(), monkeypatch, 15)
    w15, at15 = chain[15]
    refresh = set(registry._REFRESH)
    r10_remaining = {
        q for q in registry._QUERIES if at15.get(q) == 10 and q not in refresh
    }
    assert r10_remaining <= set(w15), "the r10-stale tranche must drain fully"
    assert refresh <= set(w15)
    rest = [q for q in w15 if q not in r10_remaining | refresh]
    assert all(at15.get(q) == 11 for q in rest), (
        "every round-15 slot not taken by the r10 remainder / refreshes "
        "must drain the r11-stale tranche"
    )
    assert len(w15) == 50


def test_round16_window_precommitment(monkeypatch):
    """Round-16 plan, pre-committed in the round-15 session (the house
    pattern since r11; the registration recipe itself was pre-written
    and dry-run verified at round-14 close — docs/STATUS.md
    "Round-16 registration recipe"): once the r15 window lands (the
    8-row r10-stale remainder drained fully + 42 r11-stale; no
    registry edits in r15), round 16 = the planned capindex-twin
    registrations (the r16 session's edit: add
    ``streaming/capindex.py`` to ``registry._MODULES``, registering
    the held twins ``streaming_host_cap_index`` /
    ``streaming_host_cap_index_with_deletes`` and deleting their
    tools/check_held.py roster rows) + the REMAINDER of the r11-stale
    tranche (drained FULLY — 6 rows by the current derivation, but
    this test deliberately pins the DRAIN, not the count) + whatever
    ``_REFRESH`` the r16 session stages + r12-stale rows filling the
    rest. The conditional assertions hold across eras — r15 recorded
    or derived, twins registered or not yet — and fail loudly on any
    OTHER composition drift (e.g. the round-15-staged manifest twins
    rank-0ing into a window before their planned ~r17 registration).
    A later registry edit that changes this derivation must update
    this plan in the same commit — that is the pre-commitment
    working as intended."""
    from go_http_data_pipeline_spark import registry

    chain = _window_chain(registry._correctness_dir(), monkeypatch, 16)
    w16, at16 = chain[16]
    refresh = set(registry._REFRESH)
    planned_new = {
        "streaming_host_cap_index",
        "streaming_host_cap_index_with_deletes",
    } & set(registry._QUERIES)
    r11_remaining = {
        q for q in registry._QUERIES if at16.get(q) == 11 and q not in refresh
    }
    assert r11_remaining <= set(w16), "the r11-stale tranche must drain fully"
    assert planned_new <= set(w16)
    assert refresh <= set(w16)
    rest = [q for q in w16 if q not in r11_remaining | planned_new | refresh]
    assert all(at16.get(q) == 12 for q in rest), (
        "every round-16 slot not taken by the r11 remainder / planned "
        "registrations / refreshes must drain the r12-stale tranche"
    )
    assert len(w16) == 50
