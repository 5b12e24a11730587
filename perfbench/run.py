"""Benchmark entry point.

    python3 perfbench/run.py --workload board-pipeline --seed 1 --seconds 35 --trace 0

Run from the repository root. Prints a per-metric table on stderr and,
as the last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Everything the run writes
stays under ``perfbench/out/``.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
PACKAGE = "dipa_collaborative_pulsar_idps_spark"

WORKLOADS = ("board-relational", "board-pipeline", "detect-live", "index-churn")

#: End-to-end metrics: every workload reports all of them (see README.md
#: for what each means per workload).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cold_s": "s",
    "op_ms": "ms",
    "total_s": "s",
}

FAMILIES = ("ivf", "ivfpq", "ivfsq")
STREAM_QUERIES = ("rates", "alerts", "collab")

#: Per-layer metrics (traced runs), as listed in BENCHMARK.json. A layer
#: a workload does not touch reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_first_s": "s",
    "queries.memo_frames": "count",
    "queries.memo_bytes": "bytes",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.exchanges": "count",
    "functions.py_worker_s": "s",
    "functions.py_bytes_sent": "bytes",
    "functions.py_worker_peak_mb": "MB",
    **{f"functions.decode_mpx_per_s.{c}": "MPx/s" for c in ("jpeg", "png", "gif")},
    **{
        f"streaming.{q}.{k}": "ms"
        for q in STREAM_QUERIES
        for k in ("batch_ms_p50", "batch_ms_p95", "add_batch_ms", "wal_commit_ms", "planning_ms")
    },
    **{
        f"streaming.{q}.{k}": "ms"
        for q in ("rates", "alerts")
        for k in ("state_update_ms", "state_commit_ms")
    },
    "streaming.sink_call_ms": "ms",
    "streaming.backlog_polls": "count",
    "sources.publish_lag_ms": "ms",
    "sources.consume_lag_ms": "ms",
    "gen.late_ms_p95": "ms",
}

#: Index-lifecycle metrics. Only index-churn produces them, and it is not
#: a listed workload, so they are not in BENCHMARK.json; a traced
#: index-churn run reports them next to PER_LAYER.
INDEX_LAYER = {
    f"functions.{f}.{k}": u
    for f in FAMILIES
    for k, u in (
        ("append_jobs", "count"),
        ("retrain_jobs", "count"),
        ("search_jobs", "count"),
        ("index_bytes_per_vec", "B/vec"),
        ("delta_dirs", "count"),
    )
}


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and give the
    Python workers the engine's import path."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options \"-Xms1g -Djava.io.tmpdir={tmp}\"",
            f"--conf spark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')}",
            f"--conf spark.hadoop.hadoop.tmp.dir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = None
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=35)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-rows", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    _prepare_env()

    import common
    import datagen

    t_build = time.time()
    tables = datagen.make_tables(os.path.join(OUT, "data"))
    # the one-time table build is a build step, not part of set-up
    common.mark_process_start(T_START + time.time() - t_build)
    tracer = common.Tracer(bool(args.trace))
    rss = common.RssSampler().start()
    with tracer.span("session", args.workload):
        spark, start_s, warm_s, setup_s = common.start_session()
    with tracer.span("jit-warm", args.workload):
        jit_warm_s = common.jit_warm(spark)
    try:
        if args.record_rows:
            import boards

            common.write_json(boards.EXPECTED_ROWS, boards.record_expected_rows(spark, tables))
            return 0
        res = _dispatch(spark, args, tables, tracer)
    finally:
        common.stop_session(spark)
    peak_mb = rss.stop()

    values = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb["total"],
        "cold_s": res["cold_s"],
        "op_ms": res["op_ms"],
        "total_s": res["total_s"],
    }
    layer_units = {**PER_LAYER, **(INDEX_LAYER if args.workload == "index-churn" else {})}
    layers = dict.fromkeys(layer_units, 0.0)
    layers.update({k: v for k, v in res["layers"].items() if k in layer_units})
    layers["session.start_s"], layers["session.warm_s"] = start_s, warm_s
    layers["functions.py_worker_peak_mb"] = peak_mb["python_workers"]
    attempted, failed = res["attempted"], res["failed"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": values,
        "workload_metrics": {**res["workload_metrics"], "failed_ratio": failed / max(1, attempted)},
        "failed_names": res.get("failed_names", []),
        "per_layer": layers if args.trace else {},
        "detail": {
            "peak_rss_mb_by_process": peak_mb,
            "jit_warm_s": jit_warm_s,
            **{k: v for k, v in res["layers"].items() if k not in layer_units},
        },
    }
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    common.write_json(stem + ".json", report)
    tracer.write(stem + ".spans.json", {"workload": args.workload, "seed": args.seed})

    for k, v in values.items():
        print(f"{k:>28} {v:14.4f} {END_TO_END[k]}", file=sys.stderr)
    for k, v in report["workload_metrics"].items():
        if not isinstance(v, dict):
            print(f"{k:>28} {v if v is None else round(v, 4)!s:>14}", file=sys.stderr)
    metrics = (
        {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
        if args.trace
        else {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    )
    correct = failed == 0 and all(v > 0 for v in values.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


def _dispatch(spark, args, tables: str, tracer) -> dict:
    traced = bool(args.trace)
    if args.workload.startswith("board-"):
        import boards

        return boards.run(spark, args.workload, args.seed, tables, traced, tracer)
    if args.workload == "detect-live":
        import detect

        return detect.run(spark, args.seed, args.seconds, OUT, traced, tracer)
    import churn

    return churn.run(spark, args.seed, OUT, traced, tracer)


if __name__ == "__main__":
    sys.exit(main())
