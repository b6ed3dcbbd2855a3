"""Engine benchmark: one workload per invocation, every result checked
against the single-process oracle.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

Workloads: ``search`` (read-only closed loop of single queries, then
batches) and ``churn`` (append / update / delete cycles with searches in
between, then one compaction). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans, the Spark event log and a
kernel replay, and prints the per-layer metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Other lines
are human-readable detail. Everything the run writes goes under
``.bench_run/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

E2E_UNITS = {
    "setup_s": "s",
    "write_docs_per_s": "1/s",
    "query_p50_ms": "ms",
    "batch_qps": "1/s",
    "index_bytes_per_input_byte": "ratio",
}

# per-layer metrics reported in the result line of a traced run (both
# workloads produce each of them); further detail is printed and written to
# the trace file
LAYER_UNITS = {
    "session.start_s": "s",
    "bench.gen_s": "s",
    "bench.oracle_s": "s",
    "postings.term_frequencies_s": "s",
    "build.a1_tf_stats_s": "s",
    "build.a2_corpus_agg_s": "s",
    "build.a3_staged_write_s": "s",
    "build.b_dictionary_s": "s",
    "build.c_encode_segments_s": "s",
    "build.bucket_postings_skew": "ratio",
    "build.staged_bytes": "bytes",
    "build.segment_bytes": "bytes",
    "build.dictionary_bytes": "bytes",
    "build.docstats_bytes": "bytes",
    "build.scaling_eff_1to4": "ratio",
    "codec.bytes_per_posting": "bytes",
    "codec.blocks": "count",
    "query.search_ms": "ms",
    "query.dispatch_ms": "ms",
    "query.jobs_per_query": "count",
    "query.tasks_per_query": "count",
    "wand.segment_read_ms": "ms",
    "wand.kernel_ms": "ms",
    "wand.kernel_max_group_ms": "ms",
    "wand.multi_kernel_ms": "ms",
    "wand.blocks_scanned": "count",
    "wand.blocks_decoded": "count",
    "wand.decode_ratio": "ratio",
    "ingest.bytes_written_per_input_byte": "ratio",
    "ingest.epochs_end": "count",
    "ingest.tombstone_rows_end": "count",
    "ingest.compact_bytes_rewritten": "bytes",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.scheduler_delay_s": "s",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


# traced detail printed (and kept in the trace file) but not in the result
# line: these exist in one workload only
EXTRA_UNITS = {
    "ingest.append_s": "s",
    "ingest.update_s": "s",
    "ingest.delete_s": "s",
    "ingest.compact_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "searchengine_spark", "__init__.py")):
        print("perfbench: run from the repository root (no searchengine_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]

    from harness import RssSampler, RunDirs, prepare_env, reap, stop_spark
    from tracing import Tracer

    dirs = RunDirs(root)
    dirs.reset()
    run_id = prepare_env(root, dirs, bool(args.trace))
    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus}", flush=True)
    run = None
    try:
        from workloads import WORKLOADS, Run

        run = Run(args.seed, args.seconds, cpus, dirs, tracer, run_id)
        with RssSampler(run_id) as rss:
            res = WORKLOADS[args.workload](run)
        if args.trace:
            res.layers["proc.peak_rss_mb"] = rss.peak_kb / 1024.0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run is not None and getattr(run, "spark", None) is not None:
            try:
                stop_spark(run.spark)
            except Exception:
                traceback.print_exc()
        reap(run_id)

    for k, v in sorted(res.notes.items()):
        print(f"note {k} = {v}")
    for k, v in sorted(res.e2e.items()):
        print(f"metric {k} = {v:.6g} {E2E_UNITS[k]}")
    print(f"metric ops_failed_frac = {res.failed / max(1, res.attempted):.6g} "
          f"({res.failed}/{res.attempted})")
    if args.trace:
        for k, v in sorted(res.layers.items()):
            print(f"layer {k} = {v:.6g} {LAYER_UNITS.get(k) or EXTRA_UNITS[k]}")
        for name, s in sorted(tracer.self_time_by_name().items()):
            print(f"self_time {name} = {s:.6g} s")
        path = os.path.join(dirs.traces, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        tracer.write(path, {"layers": res.layers, "e2e": res.e2e, "notes": res.notes})
        print(f"trace file {os.path.relpath(path, root)}")
        metrics = {k: {"value": res.layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    dirs.clean()
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
