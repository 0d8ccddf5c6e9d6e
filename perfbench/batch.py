"""The closed-loop ``batch_analytics_llm`` workload.

One client builds the LLM indexes serially through the public builders,
then runs a fixed roster of registered queries pass after pass, each pass
in a seed-shuffled order. Every execution is materialized with
``collect()`` and compared with its DuckDB oracle answer, computed before
Spark starts, in the canonical form of ``tools/check.py``.

The first (cold) pass and one more warm the JVM and every query's
generated code; whole passes are then measured until ``--seconds`` have
passed, and at least three. The index build and the two warm-up passes
are part of ``setup_s``.

With tracing on, every measured pass is traced: each query runs in its
own job group, and after it finishes the ledger reads the action's
``QueryPlanningTracker`` and Spark's status store for its jobs, stages and
task metrics. That bookkeeping runs outside the timed query and is
reported per pass as ``trace.overhead_ms``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from common import ROOT, Run, median, percentile

# bench.py headline queries, by the package that registers them. The
# roster is sized so that two warm-up passes and five or six measured passes
# fit a run (see perfbench/README.md, "Sizing").
OPERATORS = (  # TPC-H aggregate, multi-join with a window, SQL front door
    "q1_pricing_summary",
    "market_share_evolution",
    "sql_api_revenue_by_year",
)
INGEST_BATCH = (  # batch users of the merge and decoder code the stream uses
    "salary_etl_merge",
    "url_ingest_scan",
)
LLM = (  # MinHash dedup and product-quantization nearest-neighbour probe
    "minhash_lsh_pairs",
    "pq_ann_top1",
)
ROSTER = OPERATORS + INGEST_BATCH + LLM


def _check_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """Expected answers from DuckDB over the same parquet files."""

    def __init__(self, sf_dir: str, names, oracles: dict[str, str]):
        import duckdb

        self.check = _check_module()
        self.answers: dict[str, tuple] = {}
        con = duckdb.connect()
        try:
            for t in self.check.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            for name in names:
                sql = oracles.get(name)
                if sql is None:
                    continue  # rows-only check
                tbl = con.execute(sql).arrow()
                cols = tbl.schema.names
                rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
                if not rows and tbl.num_rows:
                    rows = [()] * tbl.num_rows
                self.answers[name] = (
                    sorted(cols), self.check.canon(rows, cols), tbl.schema
                )
        finally:
            con.close()

    def mismatch(self, name: str, df, rows) -> str | None:
        """None when ``rows`` (the collected ``df``) is the expected answer."""
        if name not in self.answers:
            return None if rows else "no rows"
        ocols, orows, oschema = self.answers[name]
        if sorted(df.columns) != ocols:
            return f"columns {sorted(df.columns)} != {ocols}"
        drift = self.check.type_drift(df, oschema)
        if drift:
            return "type drift: " + "; ".join(drift)
        if len(rows) != len(orows):
            return f"{len(rows)} rows != {len(orows)}"
        if self.check.canon(rows, df.columns) != orows:
            return "values differ"
        return None


class Ledger:
    """Per-query layer breakdown from Spark's own bookkeeping."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def begin(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def end(self, gid: str, df, a0: float, a1: float) -> dict:
        """Read the ledger of the query whose action ran in [a0, a1]
        (epoch seconds) in job group ``gid``."""
        self.jsc.listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        row = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            o = phases.get(ph)
            if o.isDefined():
                row[f"{ph}_ms"] = float(o.get().durationMs())
        store = self.jsc.statusStore()
        spans = []
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0
        )
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = store.job(jid)
            tot["jobs"] += 1
            tot["stages"] += jd.numCompletedStages()
            tot["tasks"] += jd.numCompletedTasks()
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append((jd.submissionTime().get().getTime() / 1000.0,
                              jd.completionTime().get().getTime() / 1000.0))
            it = jd.stageIds().iterator()
            while it.hasNext():
                attempts = store.stageData(it.next(), False, None, False, None)
                it2 = attempts.iterator()
                while it2.hasNext():
                    s = it2.next()
                    if s.status().toString() != "COMPLETE":
                        continue
                    tot["task_cpu_ms"] += s.executorCpuTime() / 1e6
                    tot["gc_ms"] += s.jvmGcTime()
                    tot["shuffle_read_bytes"] += s.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        row.update(tot)
        row["jobs_ms"] = _union_ms(spans, a0, a1)
        row["sql_exec_ms"] = self._sql_exec_ms(a0, a1)
        return row

    def _sql_exec_ms(self, a0: float, a1: float) -> float | None:
        """Time covered by the SQL executions Spark recorded as submitted
        in [a0, a1], or None when one of them has no completion time."""
        for _ in range(SQL_END_POLLS):
            n = self.sql.executionsCount()
            recent = self.sql.executionsList(max(0, n - SQL_RECENT), SQL_RECENT)
            spans, done = [], True
            for i in range(recent.size()):
                e = recent.apply(i)
                t = e.submissionTime() / 1000.0
                if not a0 - 0.001 <= t <= a1 + 0.001:
                    continue
                if not e.completionTime().isDefined():
                    done = False
                    break
                spans.append((t, e.completionTime().get().getTime() / 1000.0))
            if done:
                return _union_ms(spans, a0, a1)
            time.sleep(0.025)
        return None


# The SQL executions of one action are among the last SQL_RECENT ones;
# an execution's end is written once its last job has ended, so the
# ledger polls for it a few times.
SQL_RECENT = 50
SQL_END_POLLS = 40


def _union_ms(spans, lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi], in ms."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


# A median needs three samples: a slow host lengthens the window rather
# than leaving two.
MIN_PASSES = 3
# The cold pass and one warm pass; pass times still fall after the cold one.
WARM_PASSES = 2

# A query's ledger reconciles when its wall-clock, timed in Python, and
# build + SQL execution time, recorded by Spark, differ by at most this
# much (see _reconcile). The gap is 5-15 ms on a quiet host; the floor
# absorbs a stall of the virtual CPU landing in it.
RECONCILE_TOL_MS = 100.0
RECONCILE_TOL_SHARE = 0.05


def build_llm_indexes(run: Run, sf_dir: str) -> dict[str, float]:
    """The serial index build, one timed step per public builder."""
    from go_http_data_pipeline_spark.llm import dedup, pq, similarity

    spark = run.spark
    steps = (
        ("llm.dedup.shingles_ms", lambda: dedup.shingles_cached(spark, sf_dir).count()),
        ("llm.dedup.lsh_bands_ms", lambda: dedup.lsh_bands_cached(spark, sf_dir).count()),
        ("llm.dedup.components_ms",
         lambda: dedup.component_labels_cached(spark, sf_dir).count()),
        ("llm.dedup.simhash_ms",
         lambda: dedup.simhash_fingerprints_cached(spark, sf_dir).count()),
        ("llm.pq.probe_memos_ms", lambda: pq.warm_probe_memos(spark, sf_dir)),
        ("llm.similarity.ann_memos_ms", lambda: similarity.warm_ann_memos(spark, sf_dir)),
    )
    out = {}
    for name, fn in steps:
        t0 = time.perf_counter()
        with run.tracer.span(name.removesuffix("_ms"), op="index_build"):
            fn()
        out[name] = (time.perf_counter() - t0) * 1000.0
    return out


def run_batch(run: Run) -> tuple[dict, dict, int, int, bool]:
    """Returns (end_to_end metrics, per_layer metrics, attempted, failed,
    correct); correct when every execution matched its expected answer."""
    from go_http_data_pipeline_spark import registry

    sf_dir = run.sf_dir()
    queries = registry.all_queries()
    fns = {n: queries[n] for n in ROSTER}

    # Expected answers first; their cost is not part of setup_s.
    t0 = time.perf_counter()
    oracle = Oracle(sf_dir, ROSTER, registry.all_oracles())
    oracle_s = time.perf_counter() - t0

    spark = run.start_spark()
    ledger = Ledger(spark) if run.tracer.enabled else None
    rng = random.Random(run.seed)
    state = {"attempted": 0, "failed": 0, "mismatches": []}

    def one_pass(pass_no: int, traced: bool) -> tuple[float, list[dict], float]:
        """Returns (wall-clock of the queries, their rows, seconds spent
        in trace bookkeeping)."""
        order = list(ROSTER)
        rng.shuffle(order)
        wall, rows_out, bookkeeping = 0.0, [], 0.0
        for name in order:
            gid = f"p{pass_no}:{name}"
            with run.tracer.span("query", op=gid):
                if traced:
                    ledger.begin(gid)
                b0 = time.perf_counter()
                with run.tracer.span("registry.query_build", op=gid):
                    df = fns[name](spark, sf_dir)
                a0w, a0 = time.time(), time.perf_counter()
                with run.tracer.span("spark.action", op=gid):
                    rows = df.collect()
                a1w, a1 = time.time(), time.perf_counter()
                q = {"query": name, "pass": pass_no, "build_ms": (a0 - b0) * 1000.0,
                     "action_ms": (a1 - a0) * 1000.0, "result_rows": len(rows)}
                q["wall_ms"] = q["build_ms"] + q["action_ms"]
                if traced:
                    q.update(ledger.end(gid, df, a0w, a1w))
                    bookkeeping += time.perf_counter() - a1
            wall += q["wall_ms"] / 1000.0
            rows_out.append(q)
            state["attempted"] += 1
            bad = oracle.mismatch(name, df, rows)
            if bad:
                state["failed"] += 1
                state["mismatches"].append(f"pass {pass_no} {name}: {bad}")
        return wall, rows_out, bookkeeping

    layer = build_llm_indexes(run, sf_dir)
    warm_s = [one_pass(i, traced=False)[0] for i in range(WARM_PASSES)]
    setup_s = time.time() - run.t_start - oracle_s

    t_m0 = time.perf_counter()
    passes: list[tuple[float, list[dict], float]] = []
    while len(passes) < MIN_PASSES or time.perf_counter() - t_m0 < run.seconds:
        passes.append(one_pass(WARM_PASSES + len(passes), run.tracer.enabled))
    window_s = time.perf_counter() - t_m0
    peak = run.peak_rss_mb()

    # Each query's median over the measured passes: one slow pass (a
    # noisy-host burst) moves no query's figure.
    per_query: dict[str, list[float]] = {}
    for _, qs, _ in passes:
        for q in qs:
            per_query.setdefault(q["query"], []).append(q["wall_ms"] / 1000.0)
    typical = [median(ts) for ts in per_query.values()]
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak,
        "pass_s": sum(typical),
        "latency_p50_s": percentile(typical, 0.50),
        "latency_p99_s": percentile(typical, 0.99),
        "throughput_per_s": len(ROSTER) / sum(typical),
    }
    run.meta.update({
        "oracle_s": oracle_s, "index_build_s": sum(layer.values()) / 1000.0,
        "warm_pass_walls_s": [round(w, 3) for w in warm_s], "passes": len(passes), "window_s": window_s,
        "pass_walls_s": [round(w, 3) for w, _, _ in passes],
        "query_medians_s": {n: round(median(ts), 3) for n, ts in per_query.items()},
        "latency_samples": len(typical), "mismatches": state["mismatches"][:20],
    })

    if run.tracer.enabled:
        traced = [qs for _, qs, _ in passes]
        layer.update(_batch_layers(traced))
        layer["trace.overhead_ms"] = median([b for _, _, b in passes]) * 1000.0
        run.meta["reconcile"] = _reconcile(traced)
        run.meta["traced_end_to_end"] = e2e
        run.detail["queries"] = [q for qs in traced for q in qs]
    layer["session.get_spark_ms"] = run.get_spark_ms
    return e2e, layer, state["attempted"], state["failed"], state["failed"] == 0


_SPARK_KEYS = ("analysis_ms", "optimization_ms", "planning_ms", "jobs", "stages",
               "tasks", "task_cpu_ms", "gc_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "result_rows")


def _batch_layers(traced_passes: list[list[dict]]) -> dict[str, float]:
    """Per-pass totals of each ledger column, median over traced passes."""
    out = {}
    for k in _SPARK_KEYS:
        out[f"spark.{k}"] = median([sum(q[k] for q in qs) for qs in traced_passes])
    out["spark.outside_jobs_ms"] = median(
        [sum(q["action_ms"] - q["jobs_ms"] for q in qs) for qs in traced_passes]
    )
    out["registry.query_build_ms"] = median(
        [sum(q["build_ms"] for q in qs) for qs in traced_passes]
    )
    return out


def _reconcile(traced_passes: list[list[dict]]) -> dict:
    """Check each traced query from both sides: its Python wall-clock
    (build + collect) must equal build + the time Spark recorded for the
    action's SQL execution, which holds planning and execution, within
    the tolerance; and optimization + planning + time inside jobs must
    fit in that SQL execution time. The rest of the SQL execution is
    driver-side work between jobs (code generation, adaptive re-planning,
    Python data source planning), kept per query as ``driver_ms``."""
    bad, shares, gaps = [], [], []
    for qs in traced_passes:
        for q in qs:
            tol = max(RECONCILE_TOL_MS, RECONCILE_TOL_SHARE * q["wall_ms"])
            sql = q["sql_exec_ms"]
            if sql is None:
                bad.append(f"{q['query']}@{q['pass']}: no SQL execution end")
                continue
            inner = q["optimization_ms"] + q["planning_ms"] + q["jobs_ms"]
            q["driver_ms"] = sql - inner
            q["transfer_ms"] = q["wall_ms"] - q["build_ms"] - sql
            gaps.append(abs(q["transfer_ms"]))
            shares.append((q["build_ms"] + sql) / q["wall_ms"] if q["wall_ms"] else 1.0)
            if abs(q["transfer_ms"]) > tol or q["driver_ms"] < -tol:
                bad.append(f"{q['query']}@{q['pass']}")
    return {
        "tolerance": f"max({RECONCILE_TOL_MS} ms, {RECONCILE_TOL_SHARE:.0%} of wall)",
        "checked": sum(len(qs) for qs in traced_passes),
        "over_tolerance": bad,
        "build_plus_sql_share_median": median(shares),
        "transfer_ms_median": median(gaps),
        "transfer_ms_max": max(gaps, default=0.0),
    }
