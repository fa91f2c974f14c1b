"""olive-spark benchmark of record: one workload, one seed, one run.

    python3 perfbench/run.py --workload read --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  Set-up (Spark session, seeded input
generation, olive materialization, warm-up) happens before timing; the
workload then runs closed-loop with one client for ``--seconds``;
every answer is checked against a reference afterwards.  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  The line before it holds details (sample
counts, tail percentiles, sizes) for people, not for gating.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "ok_ops_ratio": "ratio",
    "storage_ratio": "ratio", "primary_p50_ms": "ms",
    "secondary_p50_ms": "ms", "rows_per_s": "rows/s", "mb_per_s": "MB/s",
}


def per_layer_units() -> dict:
    from common import LAYERS, OP_KINDS

    units = {
        "format.read_table_mb_per_s": "MB/s",
        "format.select_pages_ratio": "ratio",
        "format.write_chunk_mb_per_s": "MB/s",
        "format.stored_bytes_per_user_byte": "ratio",
        "datasource.load_ms": "ms",
        "datasource.plan_ms": "ms",
        "datasource.partitions_ms": "ms",
        "datasource.files_selected_ratio": "ratio",
        "datasource.exec_ms": "ms",
        "datasource.write_s": "s",
        "maintenance.merge_s": "s",
        "maintenance.verify_read_ms": "ms",
        "maintenance.delete_s": "s",
        "maintenance.bytes_written_per_changed_row": "B/row",
        "maintenance.files_added_per_op": "count",
        "dedup.exact_s": "s",
        "dedup.minhash_s": "s",
        "dedup.lsh_candidate_precision": "ratio",
        "textstats.gopher_s": "s",
        "tokenize.count_s": "s",
        "similarity.topk_s": "s",
        "curate.write_s": "s",
    }
    for what in ("jobs", "stages", "tasks"):
        for op in OP_KINDS:
            units[f"spark.{what}_per_op.{op}"] = "count"
    for layer in LAYERS:
        units[f"self_ms_per_op.{layer}"] = "ms"
    units["trace.bookkeeping_ms_per_op"] = "ms"
    return units


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("read", "write_curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "olive_spark")):
        print(f"perfbench: no olive_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    from common import OpLog, Tracer, clock, peak_rss_mb, start_spark, unstolen

    if args.workload == "read":
        from wl_read import ReadWorkload as Workload
    else:
        from wl_write_curate import WriteCurateWorkload as Workload

    out_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(out_dir, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    tracer = Tracer(args.trace == 1)
    spark = None
    try:
        t0 = clock()
        spark = start_spark(work, ROOT)
        session_s = unstolen(t0)
        ops = OpLog(spark, tracer)
        wl = Workload(spark, ops, tracer, work, args.seed)
        t0 = clock()
        wl.setup()
        inputs_s = unstolen(t0)
        t0 = clock()
        wl.warm_up()
        warm_s = unstolen(t0)
        # spans and job counts of set-up and warm-up are not per-op data
        tracer.spans.clear()
        ops.jobs.clear()
        tracer.bookkeeping_s = 0.0
        t0 = clock()
        wl.measure(args.seconds)
        t1 = clock()
        measured_s = t1[0] - t0[0]
        stolen_share = 1.0 - unstolen(t0, t1) / measured_s
        wl.verify()
        if args.trace:
            metrics = traced_metrics(wl, ops, tracer)
            units = per_layer_units()
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = wl.end_to_end()
            metrics["setup_s"] = session_s + inputs_s + warm_s
            metrics["peak_rss_mb"] = peak_rss_mb(spark)
            metrics["ok_ops_ratio"] = (ops.attempted - ops.failed) / ops.attempted
            units = END_TO_END_UNITS
        detail = wl.details()
        detail.update(session_s=session_s, inputs_s=inputs_s, warm_up_s=warm_s,
                      measured_s=measured_s, stolen_share=stolen_share,
                      op_walls_s=ops.walls, op_raw_walls_s=ops.raw_walls,
                      failures=ops.failures)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    for why in ops.failures:
        print(f"perfbench: failed op: {why}", file=sys.stderr)
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


def traced_metrics(wl, ops, tracer) -> dict:
    """Per-layer metrics: the workload's own probes, span medians, Spark
    job counts per op, and self time per layer per op."""
    from common import LAYERS, OP_KINDS, median

    out = {k: 0.0 for k in per_layer_units()}
    for span, key, scale in (
        ("datasource.load", "datasource.load_ms", 1e3),
        ("datasource.plan", "datasource.plan_ms", 1e3),
        ("datasource.exec", "datasource.exec_ms", 1e3),
        ("datasource.write", "datasource.write_s", 1),
        ("maintenance.merge", "maintenance.merge_s", 1),
        ("maintenance.verify_read", "maintenance.verify_read_ms", 1e3),
        ("maintenance.delete", "maintenance.delete_s", 1),
        ("dedup.exact", "dedup.exact_s", 1),
        ("dedup.minhash", "dedup.minhash_s", 1),
        ("textstats.gopher", "textstats.gopher_s", 1),
        ("tokenize.count", "tokenize.count_s", 1),
        ("similarity.topk", "similarity.topk_s", 1),
        ("curate.write", "curate.write_s", 1),
    ):
        out[key] = median(tracer.durations(span)) * scale
    for op in OP_KINDS:
        counts = ops.jobs.get(op, [])
        for i, what in enumerate(("jobs", "stages", "tasks")):
            out[f"spark.{what}_per_op.{op}"] = median([c[i] for c in counts])
    n_ops = sum(len(v) for v in ops.walls.values())
    selft = tracer.self_times()
    for layer in LAYERS:
        out[f"self_ms_per_op.{layer}"] = selft.get(layer, 0.0) * 1e3 / n_ops
    out["trace.bookkeeping_ms_per_op"] = tracer.bookkeeping_s * 1e3 / n_ops
    out.update(wl.per_layer())
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
