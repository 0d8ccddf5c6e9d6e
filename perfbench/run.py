"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/README.md):
``ingest_upsert_stream`` and ``batch_analytics_llm``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``. The line before it starts
with ``# run`` and holds the run's stamp (CPU count, fixture and code
fingerprints) and its diagnostics. A traced run also writes its spans
and per-query or per-cycle rows to ``.perfbench_work/traces/``.

``--tiny`` runs on the sf0.001 fixture at a tenth of the ingest rate;
the self-test uses it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, Run, load_spec, result_line  # noqa: E402

WORKLOADS = ("ingest_upsert_stream", "batch_analytics_llm")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "go_http_data_pipeline_spark")):
        print("perfbench: the go_http_data_pipeline_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = load_spec()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    try:
        ingest = args.workload == "ingest_upsert_stream"
        run.meta.update(run.stamp(run.sf_dir(big=ingest)))
        if ingest:
            from ingest import run_ingest

            e2e, layer, attempted, failed, correct = run_ingest(run)
        else:
            from batch import run_batch

            e2e, layer, attempted, failed, correct = run_batch(run)
        run.meta["host_steal_share"] = round(run.steal_share(), 4)
        if args.trace:
            # A layer this workload does not exercise did no work.
            for m in spec["per_layer"]:
                layer.setdefault(m["name"], 0.0)
            run.meta["trace_file"] = os.path.relpath(run.write_trace(), ROOT)
            line = result_line("per_layer", layer, correct, attempted, failed)
        else:
            line = result_line("end_to_end", e2e, correct, attempted, failed)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print("# run " + json.dumps(run.meta, default=str))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
