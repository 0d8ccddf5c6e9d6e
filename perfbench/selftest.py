"""Self-test of the benchmark.

    python3 perfbench/selftest.py            # all tests (about 3 minutes)
    python3 perfbench/selftest.py --quick    # checker and generator tests only

The tiny runs use ``--tiny`` (sf0.001 fixture, a tenth of the ingest
rate, a few seconds per run) and check that each prints every metric
named in BENCHMARK.json, with its unit, with tracing off and on, and
that every traced query or cycle reconciles.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, load_spec  # noqa: E402
from ingest import check_table, enrich, known_failures_only, replay  # noqa: E402
from loadgen import Blocks, RangeLog, RecordStream  # noqa: E402
from run import WORKLOADS  # noqa: E402

TINY_SECONDS = "3"
# Per-layer metrics each workload must drive above zero.
OWN_LAYERS = {
    "ingest_upsert_stream": ("streaming.add_batch_ms", "sources.latest_offset_ms",
                             "pipelines.rows_written_per_input_row"),
    "batch_analytics_llm": ("registry.query_build_ms", "spark.jobs", "spark.task_cpu_ms",
                            "llm.dedup.shingles_ms", "llm.pq.probe_memos_ms"),
}


class CheckerTest(unittest.TestCase):
    def setUp(self):
        # id -> (name, age, yearsofexp, salary)
        self.expected = {1: ("a", 30, 2, 100), 2: ("b", 31, 3, 200), 3: ("c", 32, 4, 300)}

    def test_clean_table_passes(self):
        rows = [(k, *v) for k, v in self.expected.items()]
        v = check_table(self.expected, rows)
        self.assertEqual(v["wrong_keys"], 0)
        self.assertEqual(v["null_key_rows"], 0)

    def test_flags_duplicate_stale_and_null_key(self):
        rows = [
            (1, "a", 30, 2, 100),
            (1, "a", 30, 2, 100),      # duplicated key
            (2, "b", 31, 3, 150),      # stale row
            (3, "c", 32, 4, 300),
            (None, None, None, None, None),  # NULL-key row
        ]
        v = check_table(self.expected, rows)
        self.assertEqual(v["duplicate_key_rows"], 1)
        self.assertEqual(v["stale_rows"], 1)
        self.assertEqual(v["null_key_rows"], 1)
        self.assertEqual(v["missing_keys"], 0)
        self.assertEqual(v["wrong_keys"], 2)
        self.assertEqual(v["lone_stale_keys"], 1)
        self.assertFalse(known_failures_only(v))

    def test_known_failures_leave_correct(self):
        # What the merge sink does at the seed: a key repeated within one
        # micro-batch keeps both rows (one of them stale), and a malformed
        # line becomes a NULL-key row.
        rows = [
            (1, "a", 30, 2, 100),
            (1, "a", 30, 2, 90),       # stale row of a duplicated key
            (2, "b", 31, 3, 200),
            (3, "c", 32, 4, 300),
            (None, None, None, None, None),
        ]
        v = check_table(self.expected, rows)
        self.assertEqual((v["duplicate_key_rows"], v["stale_rows"], v["null_key_rows"]),
                         (1, 1, 1))
        self.assertTrue(known_failures_only(v))

    def test_flags_missing_key(self):
        rows = [(1, "a", 30, 2, 100), (2, "b", 31, 3, 200)]
        v = check_table(self.expected, rows)
        self.assertEqual(v["missing_keys"], 1)
        self.assertEqual(v["wrong_keys"], 1)
        self.assertFalse(known_failures_only(v))

    def test_replay_is_last_writer_wins_and_refuses_malformed(self):
        log = (
            b'{"id":1,"name":"a","age":30,"yearsofexp":2,"salary":10,"ts":1.0}\n'
            b"not json at all\n"
            b'{"id":1,"name":"a","age":30,"yearsofexp":2,"salary":20,"ts":2.0}\n'
            b'{"id":9,"name":"z","age":40,"yearsofexp":0,"salary":5,"ts":3.0}\n'
        )
        expected, written, malformed, stamps = replay(self.expected, log)
        self.assertEqual(expected[1], ("a", 30, 2, enrich(20, 30, 2)))
        self.assertEqual(expected[9], ("z", 40, 0, enrich(5, 40, 0)))
        self.assertEqual(expected[2], self.expected[2])
        self.assertEqual(written, {1, 9})
        self.assertEqual(malformed, 1)
        self.assertEqual([ts for _, ts in stamps], [1.0, None, 2.0, 3.0])
        self.assertEqual(stamps[-1][0], len(log))


class GeneratorTest(unittest.TestCase):
    BASE = {k: [f"n{k}", 18 + k % 40, k % 30, 30000] for k in range(1, 200)}

    def lines(self, seed: int, n: int = 500) -> list[str]:
        gen = RecordStream(seed, self.BASE)
        return [gen.next_line(0.0) for _ in range(n)]

    def test_same_seed_same_records(self):
        self.assertEqual(self.lines(7), self.lines(7))
        self.assertNotEqual(self.lines(7), self.lines(8))

    def test_mix_has_updates_inserts_and_malformed(self):
        kinds = {"update": 0, "insert": 0, "malformed": 0}
        seen = set(self.BASE)
        for line in self.lines(3, 5000):
            try:
                rec = json.loads(line)
                rec["id"]
            except (ValueError, KeyError):
                kinds["malformed"] += 1
                continue
            kinds["update" if rec["id"] in seen else "insert"] += 1
            seen.add(rec["id"])
        self.assertGreater(kinds["malformed"], 10)
        self.assertGreater(kinds["insert"], 200)
        self.assertGreater(kinds["update"], 4000)

    def test_blocks_hold_fixed_counts_on_the_schedule(self):
        log = RangeLog()
        blocks = Blocks(log, RecordStream(5, self.BASE), rate=10000.0, block=50)
        blocks.warm()
        self.assertEqual(log.slice(0, None)[0].count(b"\n"), 50)
        blocks.next()
        blocks.next()
        lines = log.slice(0, None)[0].split(b"\n")[:-1]
        self.assertEqual(len(lines), 150)
        stamps = [json.loads(x)["ts"] for x in lines[50:] if x.startswith(b'{"id":')
                  and x.endswith(b"}")]
        self.assertTrue(all(b > a for a, b in zip(stamps, stamps[1:])))
        self.assertLessEqual(stamps[-1] - stamps[0], 100 / 10000.0 + 1e-6)
        self.assertEqual(blocks.records, 150)
        # The content, minus the stamps, depends only on the seed.
        log2 = RangeLog()
        again = Blocks(log2, RecordStream(5, self.BASE), rate=10000.0, block=50)
        again.warm()
        for _ in range(2):
            again.next()

        def strip(data):
            return [x.split(b',"ts":')[0] for x in data.split(b"\n")]

        self.assertEqual(strip(log2.slice(0, None)[0]), strip(log.slice(0, None)[0]))


class TinyRunTest(unittest.TestCase):
    """A tiny run of each workload prints every metric BENCHMARK.json names;
    a traced one reconciles its per-query or per-cycle ledger."""

    def run_tiny(self, workload: str, trace: int) -> tuple[dict, dict]:
        """Returns (the result line, the ``# run`` line), parsed."""
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", TINY_SECONDS,
             "--trace", str(trace), "--tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        meta, result = p.stdout.strip().splitlines()[-2:]
        self.assertTrue(meta.startswith("# run "))
        return json.loads(result), json.loads(meta.removeprefix("# run "))

    def test_every_metric(self):
        spec = load_spec()
        for workload in WORKLOADS:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    r, meta = self.run_tiny(workload, trace)
                    self.assertEqual(
                        set(r), {"correct", "attempted", "failed", "metrics"}
                    )
                    self.assertTrue(r["correct"])
                    self.assertGreaterEqual(r["attempted"], 1)
                    if trace:
                        self.assertGreater(meta["reconcile"]["checked"], 0)
                        self.assertEqual(meta["reconcile"]["over_tolerance"], [])
                    want = {m["name"]: m["unit"] for m in spec[kind]}
                    got = {k: v["unit"] for k, v in r["metrics"].items()}
                    self.assertEqual(got, want)
                    own = r["metrics"] if kind == "end_to_end" else {
                        k: r["metrics"][k] for k in OWN_LAYERS[workload]}
                    for k, v in own.items():
                        self.assertGreater(v["value"], 0, k)


if __name__ == "__main__":
    if "--quick" in sys.argv:
        sys.argv.remove("--quick")
        del TinyRunTest
    unittest.main()
