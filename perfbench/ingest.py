"""The open-loop ``ingest_upsert_stream`` workload.

A generator process (``loadgen.py``) creates JSON records at a fixed
offered rate and serves them as a log over localhost HTTP, delivered in
fixed blocks of ``BLOCK_S`` seconds of records, one block per micro-batch.
The run stages the ``employee`` base table as parquet, then runs
availableNow cycles, the way a scheduled incremental job uses the sink:
before each cycle the generator appends the next block (at once for a
warm-up cycle; once the block is complete for a measured one), and the
cycle is one call to ``streaming.core.foreach_batch_merge`` over
``readStream.format("httpjson").option("url", ...)`` -> ``mapInPandas``
with the enrichment kernel of ``salary_etl_merge``, waited for.

A record's latency runs from its creation stamp to the end of the cycle
that committed it, so the wait for its block to fill and for a consumer
that falls behind both count. Because every micro-batch is exactly one
block, what the sink receives depends only on the seed, and so does the
check: after the last cycle the table is compared with a pure-Python
last-writer-wins replay of the log (:func:`check_table`).
"""

from __future__ import annotations

import ast
import bisect
import json
import os
import subprocess
import sys
import time
import urllib.request

from common import HERE, Run, median, percentile

RATE = 2000.0  # offered records per second
TINY_RATE = 200.0
BLOCK_S = 4.0  # seconds of records per block: a cycle at seed fits in one
TINY_BLOCK_S = 1.0
WARMUP_CYCLES = 3  # cycle 0 (cold) and two cycles that are sometimes still slow
MIN_CYCLES = 4  # measured blocks, however short the window
SCHEMA = "id long, name string, age int, yearsofexp int, salary long"


class Generator:
    """The load generator process and its line protocol."""

    def __init__(self, seed: int, rate: float, block: int, base_path: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(seed),
             "--rate", str(rate), "--block", str(block), "--base", base_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = self._read()["url"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def ask(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._read()

    def fetch_log(self) -> bytes:
        req = urllib.request.Request(self.url, headers={"X-Perfbench-Audit": "1"})
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("exit\n")
                self.proc.stdin.close()
            except BrokenPipeError:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def enrich(salary: int, age: int, yearsofexp: int) -> int:
    """The enrichment of ``pipelines.parity._enrich_batches``, row-wise."""
    return salary + 500 * yearsofexp + (age % 5) * 250


def replay(base: dict[int, tuple], log: bytes):
    """Last-writer-wins replay of the log over the base table, with the
    reference's rule for bad input: a malformed line is refused and
    stores nothing. Returns (expected rows by id, ids written, malformed
    line count, [(line end offset, creation stamp or None if malformed)])."""
    expected = dict(base)
    written: set[int] = set()
    malformed = 0
    stamps = []
    pos = 0
    for line in log.split(b"\n")[:-1]:
        pos += len(line) + 1
        try:
            rec = json.loads(line)
            k = rec["id"]
            row = (rec["name"], rec["age"], rec["yearsofexp"],
                   enrich(rec["salary"], rec["age"], rec["yearsofexp"]))
        except (ValueError, KeyError, TypeError):
            malformed += 1
            stamps.append((pos, None))
            continue
        expected[k] = row
        written.add(k)
        stamps.append((pos, rec["ts"]))
    return expected, written, malformed, stamps


def check_table(expected: dict[int, tuple], rows) -> dict[str, int]:
    """Compare table rows ``(id, name, age, yearsofexp, salary)`` with the
    expected rows by id. Counts four kinds of wrong rows, plus the number
    of keys that are wrong in any way and, among the stale rows, those
    that are the only row of their key."""
    by_key: dict[int, list[tuple]] = {}
    null_key = 0
    for r in rows:
        if r[0] is None:
            null_key += 1
        else:
            by_key.setdefault(r[0], []).append(tuple(r[1:]))
    dup = stale = lone_stale = 0
    wrong = set()
    for k, got in by_key.items():
        if len(got) > 1:
            dup += len(got) - 1
            wrong.add(k)
        n_stale = sum(1 for g in got if g != expected.get(k))
        if n_stale:
            stale += n_stale
            lone_stale += len(got) == 1
            wrong.add(k)
    missing = [k for k in expected if k not in by_key]
    wrong.update(missing)
    return {"duplicate_key_rows": dup, "stale_rows": stale,
            "missing_keys": len(missing), "null_key_rows": null_key,
            "wrong_keys": len(wrong), "lone_stale_keys": lone_stale}


def known_failures_only(verdict: dict[str, int]) -> bool:
    """True when every wrong row is of a kind the merge sink is known to
    produce: extra rows of a key repeated within one micro-batch (the
    duplicates and the stale rows among them) and NULL-key rows from
    malformed lines. A missing key, or a key whose only row is stale,
    is a new failure."""
    return verdict["missing_keys"] == 0 and verdict["lone_stale_keys"] == 0


def _table_rows(base_path: str) -> int:
    """Rows in the parquet table, from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(base_path, f)).num_rows
        for f in os.listdir(base_path) if f.endswith(".parquet")
    )


def run_ingest(run: Run) -> tuple[dict, dict, int, int, bool]:
    """Returns (end_to_end metrics, per_layer metrics, attempted, failed,
    correct)."""
    from go_http_data_pipeline_spark.pipelines.parity import _enrich_batches, employees
    from go_http_data_pipeline_spark.sources.http_json import register
    from go_http_data_pipeline_spark.streaming.core import foreach_batch_merge
    from pyspark.sql import functions as F

    spark = run.start_spark()
    register(spark)
    sf_dir = run.sf_dir(big=True)
    base_path = os.path.join(run.work, "employee")
    ckpt = os.path.join(run.work, "checkpoint")
    with run.tracer.span("stage.base_table"):
        employees(spark, sf_dir).write.parquet(base_path)
    base = {r[0]: tuple(r[1:]) for r in spark.read.parquet(base_path).collect()}

    rate = TINY_RATE if run.tiny else RATE
    block_s = TINY_BLOCK_S if run.tiny else BLOCK_S
    gen = Generator(run.seed, rate, round(rate * block_s), base_path)
    run.exclude_from_rss(gen.proc.pid)
    try:
        sdf = (spark.readStream.format("httpjson").schema(SCHEMA)
               .option("url", gen.url).load())
        out = sdf.mapInPandas(
            _enrich_batches, schema=SCHEMA + ", new_salary long"
        ).select("id", "name", "age", "yearsofexp", F.col("new_salary").alias("salary"))

        cycles: list[dict] = []

        def cycle(cmd: str, traced: bool) -> dict:
            """Has the generator append a block, then runs one cycle, which
            must commit exactly that block."""
            n = len(cycles)
            published = gen.ask(cmd)
            t0, p0 = time.time(), time.perf_counter()
            with run.tracer.span("streaming.cycle", op=f"cycle{n}"):
                q = foreach_batch_merge(spark, out, base_path, key="id",
                                        checkpoint_dir=ckpt)
                q.awaitTermination()
            wall = time.perf_counter() - p0
            if q.exception() is not None:
                raise RuntimeError(f"cycle {n} failed: {q.exception()}")
            progs = q.recentProgress
            c = {"cycle": n, "start": t0, "end": time.time(), "wall_ms": wall * 1000.0,
                 "publish_lag_ms": published["lag_ms"],
                 "committed": cycles[-1]["committed"] if cycles else 0,
                 "batches": 0, "spark_input_rows": 0}
            phases = dict.fromkeys(("latestOffset", "getBatch", "queryPlanning",
                                    "addBatch", "walCommit", "commitOffsets",
                                    "triggerExecution"), 0.0)
            for p in progs:
                for k in phases:
                    phases[k] += p.durationMs.get(k, 0)
                if p.numInputRows:
                    c["batches"] += 1
                    c["spark_input_rows"] += p.numInputRows
                if p.sources and p.sources[0].endOffset:
                    # The Python source's offset arrives as a dict repr.
                    c["committed"] = ast.literal_eval(p.sources[0].endOffset)["bytes"]
            if c["committed"] != published["log_bytes"]:
                raise RuntimeError(f"cycle {n} committed byte {c['committed']}, "
                                   f"not the end of its block, {published['log_bytes']}")
            c["phases_ms"] = phases
            c["lifecycle_ms"] = c["wall_ms"] - phases["triggerExecution"]
            if traced:
                b0 = time.perf_counter()
                c["table_rows"] = _table_rows(base_path)
                c["bookkeeping_ms"] = (time.perf_counter() - b0) * 1000.0
            cycles.append(c)
            return c

        for _ in range(WARMUP_CYCLES):
            cycle("warm", traced=False)
        # The first "next" starts the generator's clock.
        t_m0 = time.time()
        setup_s = t_m0 - run.t_start
        n_measured = max(MIN_CYCLES, round(run.seconds / block_s))
        measured = [cycle("next", traced=run.tracer.enabled) for _ in range(n_measured)]
        peak = run.peak_rss_mb()
        gen_stats = gen.ask("stats")
        log = gen.fetch_log()
    finally:
        gen.close()

    expected, written, malformed, stamps = replay(base, log)
    table = spark.read.parquet(base_path).select(
        "id", "name", "age", "yearsofexp", "salary").collect()
    verdict = check_table(expected, table)

    # Records each cycle committed, counted in the log. (Spark's
    # numInputRows counts a row once per scan of the batch.)
    line_ends = [e for e, _ in stamps]
    prev = 0
    for c in cycles:
        c["input_rows"] = bisect.bisect_right(line_ends, c["committed"]) - prev
        prev += c["input_rows"]

    # Latency of every valid record of the measured blocks.
    offsets = [c["committed"] for c in cycles]
    first_measured = bisect.bisect_right(line_ends, cycles[WARMUP_CYCLES - 1]["committed"])
    lat = [cycles[bisect.bisect_left(offsets, end)]["end"] - ts
           for end, ts in stamps[first_measured:] if ts is not None]
    measured_rows = sum(c["input_rows"] for c in measured)
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak,
        "pass_s": median([c["wall_ms"] for c in measured]) / 1000.0,
        "latency_p50_s": percentile(lat, 0.50),
        "latency_p99_s": percentile(lat, 0.99),
        "throughput_per_s": measured_rows / (measured[-1]["end"] - t_m0),
    }
    run.meta.update({
        "latency_samples": len(lat), "measured_cycles": len(measured),
        "block_records": round(rate * block_s),
        "cycle_walls_s": [round(c["wall_ms"] / 1000.0, 3) for c in cycles],
        # Records created by the end of the window, at the offered rate,
        # and not yet committed.
        "backlog_records_at_window_end":
            round((measured[-1]["end"] - t_m0) * rate) - measured_rows,
        "records": len(stamps), "log_bytes": len(log), "malformed_lines": malformed,
        "keys_written": len(written), "check": verdict, "generator": gen_stats,
    })

    layer = {"session.get_spark_ms": run.get_spark_ms,
             "generator.lag_ms": gen_stats["lag_max_ms"],
             "sources.bytes_served_per_committed_byte":
                 gen_stats["bytes_served"] / max(1, len(log))}
    if run.tracer.enabled:
        traced = measured
        ph = [c["phases_ms"] for c in traced]
        rows_in = sum(c["input_rows"] for c in traced)
        batches = sum(c["batches"] for c in traced)
        layer.update({
            "streaming.lifecycle_ms": median([c["lifecycle_ms"] for c in traced]),
            "streaming.add_batch_ms": median([p["addBatch"] for p in ph]),
            "streaming.commit_ms": median([p["walCommit"] + p["commitOffsets"] for p in ph]),
            "streaming.query_planning_ms": median([p["queryPlanning"] for p in ph]),
            "streaming.batches": batches / len(traced),
            "streaming.rows_per_batch":
                sum(c["spark_input_rows"] for c in traced) / max(1, batches),
            "sources.latest_offset_ms": median([p["latestOffset"] for p in ph]),
            "pipelines.rows_written_per_input_row":
                sum(c["table_rows"] for c in traced if c["input_rows"]) / max(1, rows_in),
            "trace.overhead_ms": median([c["bookkeeping_ms"] for c in traced]),
        })
        run.meta["reconcile"] = _reconcile(cycles)
        run.meta["traced_end_to_end"] = e2e
        run.detail["cycles"] = cycles
    attempted = len(written) + malformed
    failed = verdict["wrong_keys"] + verdict["null_key_rows"]
    return e2e, layer, attempted, failed, known_failures_only(verdict)


# A cycle reconciles when its listed progress phases and its
# triggerExecution (both Spark's) differ by at most this much; the gap is
# 2-25 ms on a quiet host, and the floor absorbs a stall of the virtual
# CPU landing in it.
PHASE_TOL_MS = 100.0
PHASE_TOL_SHARE = 0.05


def _reconcile(cycles: list[dict]) -> dict:
    """Per cycle: the wall-clock is triggerExecution + lifecycle by the
    definition of lifecycle; check that the listed progress phases add up
    to triggerExecution, from either side, and that lifecycle is not
    negative."""
    bad, shares = [], []
    for c in cycles:
        ph = c["phases_ms"]
        trig = ph["triggerExecution"]
        parts = sum(v for k, v in ph.items() if k != "triggerExecution")
        shares.append(parts / trig if trig else 1.0)
        tol = max(PHASE_TOL_MS, PHASE_TOL_SHARE * trig)
        if abs(parts - trig) > tol or c["lifecycle_ms"] < 0:
            bad.append(c["cycle"])
    return {"tolerance": f"|phases - triggerExecution| <= max({PHASE_TOL_MS} ms, "
                         f"{PHASE_TOL_SHARE:.0%})",
            "checked": len(cycles), "over_tolerance": bad,
            "phase_share_of_trigger_median": median(shares)}
