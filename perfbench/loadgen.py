"""Open-loop load generator for the ``ingest_upsert_stream`` workload.

Runs as its own process. It serves one append-only JSON-lines log over
localhost HTTP with byte ranges (HEAD advertises ``Accept-Ranges``; GET
answers 206 with ``Content-Range`` or 416 past the end), the contract
the ``httpjson`` url stream reader polls and that
``sources.http_json._RangeLogServer`` implements in-process. That double
copies its whole body on every append and starts a thread per
connection; this one appends in place, serves on a fixed thread pool
and counts the bytes it serves.

Records are created on a fixed schedule, whether or not the consumer
keeps up, and delivered in fixed blocks of ``--block`` records, one block
per request of the consumer, the way a broker with a per-trigger
admission limit delivers a stream. Once the clock starts, scheduled
record ``j`` is due at ``t0 + j / rate`` and carries that due time as its
creation stamp ``ts`` (the decoder drops the field); its block is
complete at ``t0 + (m + 1) * block / rate``. Every micro-batch therefore
holds exactly one block, whatever the timing, and a record's wait for a
consumer that falls behind counts in its latency. The content of record
``i`` depends only on ``--seed``:

* ~90% salary updates to an existing id, the id drawn with a hot-key
  skew (index ``floor(n * u**SKEW)`` over a seed-shuffled key list);
* ~9% inserts with fresh ids above the base table's largest id;
* ~1% malformed lines (truncated JSON or plain text).

Control is line-based on stdin; every reply is one JSON line on stdout:

* ``warm``  -- append the next block now, stamped now (warm-up, off the
  schedule).
* ``next``  -- append the next scheduled block once it is complete (the
  first ``next`` starts the clock); reply with the log length and how
  late the append was.
* ``stats`` -- reply with requests and bytes served and the lag summary.
* ``exit``  -- shut the server down and exit (also on stdin EOF).

Requests carrying the header ``X-Perfbench-Audit`` (the benchmark's own
correctness fetch) are served but not counted.

Usage::

    python3 perfbench/loadgen.py --seed 1 --rate 2000 --block 8000 --base <employee parquet dir>
"""

from __future__ import annotations

import argparse
import http.server
import json
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from common import ncpus, percentile

MALFORMED_SHARE = 0.01
INSERT_SHARE = 0.09
SKEW = 4.0  # u**4: the hottest 1% of keys get ~32% of the updates
_MALFORMED = ('{"id": 7, "salary": ', "not json at all", '{"id": 9, "name": "x"')


def base_rows(base_parquet: str) -> dict[int, list]:
    """The staged ``employee`` table: id -> [name, age, yearsofexp, salary]."""
    import pyarrow.parquet as pq

    cols = ["id", "name", "age", "yearsofexp", "salary"]
    t = pq.read_table(base_parquet, columns=cols).to_pydict()
    return {k: list(r) for k, *r in zip(*(t[c] for c in cols))}


class RecordStream:
    """Deterministic record contents: the ``i``-th call to
    :meth:`next_line` returns the same text for the same seed and base."""

    def __init__(self, seed: int, base: dict[int, list]):
        self._rng = random.Random(seed)
        self._state = {k: list(v) for k, v in base.items()}
        self._keys = sorted(self._state)
        self._rng.shuffle(self._keys)  # which keys are hot depends on the seed
        self._next_id = max(self._state) + 1

    def next_line(self, ts: float) -> str:
        rng = self._rng
        u = rng.random()
        if u < MALFORMED_SHARE:
            return rng.choice(_MALFORMED)
        if u < MALFORMED_SHARE + INSERT_SHARE:
            k = self._next_id
            self._next_id += 1
            row = [f"User{rng.randrange(10000)}", rng.randrange(18, 58), 0, 30000]
            self._state[k] = row
            self._keys.append(k)
        else:
            k = self._keys[int(len(self._keys) * rng.random() ** SKEW)]
            row = self._state[k]
            row[3] += rng.randrange(100, 5000)
        name, age, yoe, salary = row
        return json.dumps(
            {"id": k, "name": name, "age": age, "yearsofexp": yoe,
             "salary": salary, "ts": round(ts, 6)},
            separators=(",", ":"),
        )


class RangeLog:
    """An append-only byte log shared by the scheduler and the handlers."""

    def __init__(self):
        self._buf = bytearray()
        self._lock = threading.Lock()
        self.requests = 0
        self.bytes_served = 0

    def append(self, data: bytes) -> None:
        with self._lock:
            self._buf += data

    def length(self) -> int:
        with self._lock:
            return len(self._buf)

    def slice(self, lo: int, hi: int | None) -> tuple[bytes, int]:
        with self._lock:
            n = len(self._buf)
            return bytes(self._buf[lo: n if hi is None else min(hi, n)]), n

    def count(self, nbytes: int) -> None:
        with self._lock:
            self.requests += 1
            self.bytes_served += nbytes


def make_handler(log: RangeLog):
    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def do_HEAD(self):  # noqa: N802 (stdlib API name)
            self.send_response(200)
            self.send_header("Accept-Ranges", "bytes")
            self.send_header("Content-Length", str(log.length()))
            self.end_headers()

        def do_GET(self):  # noqa: N802 (stdlib API name)
            rng = self.headers.get("Range")
            lo, hi = 0, None
            if rng:
                lo_s, hi_s = rng.split("=", 1)[1].split("-", 1)
                lo = int(lo_s)
                hi = int(hi_s) + 1 if hi_s else None
            chunk, total = log.slice(lo, hi)
            if rng and lo >= total:
                self.send_response(416)
                self.send_header("Content-Range", f"bytes */{total}")
                self.end_headers()
                chunk = b""
            elif rng:
                self.send_response(206)
                self.send_header("Content-Length", str(len(chunk)))
                self.send_header(
                    "Content-Range", f"bytes {lo}-{lo + len(chunk) - 1}/{total}"
                )
                self.end_headers()
                self.wfile.write(chunk)
            else:
                self.send_response(200)
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                self.wfile.write(chunk)
            if not self.headers.get("X-Perfbench-Audit"):
                log.count(len(chunk))

        def log_message(self, *a):
            pass

    return Handler


class PooledHTTPServer(http.server.HTTPServer):
    """Serves each connection on a fixed pool of threads, so the
    generator never holds more than ``workers`` connections at once."""

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self._pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


class Blocks:
    """Creates the records block by block on the fixed schedule and
    appends each block to the log when the consumer asks for it."""

    def __init__(self, log: RangeLog, records: RecordStream, rate: float, block: int):
        self._log, self._records = log, records
        self._rate, self._block = rate, block
        self._t0: float | None = None
        self.scheduled = 0  # blocks appended since the clock started
        self.records = 0
        self.lags_ms: list[float] = []

    def _make(self, stamps) -> bytes:
        self.records += len(stamps)
        return ("\n".join(self._records.next_line(ts) for ts in stamps) + "\n").encode()

    def warm(self) -> float:
        self._log.append(self._make([time.time()] * self._block))
        return 0.0

    def next(self) -> float:
        """Appends the next scheduled block; returns how late the append
        was after the later of the block's completion and the request."""
        asked = time.time()
        if self._t0 is None:
            self._t0 = asked
        first = self.scheduled * self._block
        done = self._t0 + (first + self._block) / self._rate
        # The stamps are known in advance, so the block is built before
        # it is due and appended the moment it is complete.
        data = self._make([self._t0 + (first + j) / self._rate
                           for j in range(self._block)])
        while time.time() < done:
            time.sleep(min(0.05, done - time.time()))
        self._log.append(data)
        self.scheduled += 1
        lag = (time.time() - max(done, asked)) * 1000.0
        self.lags_ms.append(lag)
        return lag


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="records per second")
    ap.add_argument("--block", type=int, required=True, help="records per block")
    ap.add_argument("--base", required=True, help="parquet directory of the base table")
    args = ap.parse_args(argv)

    log = RangeLog()
    srv = PooledHTTPServer(("127.0.0.1", 0), make_handler(log), ncpus())
    serve = threading.Thread(target=srv.serve_forever, daemon=True)
    serve.start()
    blocks = Blocks(log, RecordStream(args.seed, base_rows(args.base)),
                    args.rate, args.block)

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"url": f"http://127.0.0.1:{srv.server_address[1]}/ingest.jsonl"})
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd in ("warm", "next"):
                lag = blocks.warm() if cmd == "warm" else blocks.next()
                reply({"records": blocks.records, "log_bytes": log.length(),
                       "lag_ms": lag})
            elif cmd == "stats":
                lags = blocks.lags_ms
                reply({
                    "requests": log.requests,
                    "bytes_served": log.bytes_served,
                    "lag_p50_ms": percentile(lags, 0.50) if lags else 0.0,
                    "lag_max_ms": max(lags, default=0.0),
                })
            elif cmd == "exit":
                break
    finally:
        srv.shutdown()
        srv.server_close()
        serve.join()
    return 0


if __name__ == "__main__":
    sys.exit(main())
