"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 30 --trace 0

Generates (or reuses) the seeded inputs of the workload's two phases,
sets up a Spark session on ``local[<cpus>]`` through
``session.get_spark``, then, phase by phase, warms it up untimed and
measures it for its share of ``--seconds`` (``PHASE_SHARE``), and
checks every output against the generator's ground truth. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans, per-layer metrics and its own
end-to-end figures to ``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` in the current
directory: ``cache/`` (generated inputs, kept per seed), ``work/``
(this run's scratch, checkpoint, table and lake directories, removed
at the end) and ``traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import cached_inputs  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    read_event_log,
    spark_counters,
    tree_peak_rss_mb,
    within,
)

# Share of --seconds each phase of a workload is measured for. The
# first phase (catch-up drains, dedup passes) runs operations of
# seconds each and reports their median; the second (stream, ANN
# queries) reports percentiles over many short operations. Half of a
# 30 s run fits 6-9 drains and 3-4 dedup passes on a 4-CPU host.
PHASE_SHARE = (0.5, 0.5)

# (name, unit), as in BENCHMARK.json. Every run reports all of them.
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("ops_ok_ratio", "ratio"),
    ("ingest_msgs_per_s", "1/s"),
    ("lake_bytes_per_input_byte", "ratio"),
    ("stream_latency_p50_ms", "ms"),
    ("stream_latency_p90_ms", "ms"),
    ("dedup_docs_per_s", "1/s"),
    ("dedup_pair_recall", "ratio"),
    ("search_latency_p50_ms", "ms"),
    ("search_latency_p90_ms", "ms"),
    ("search_recall_at_10", "ratio"),
)

PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("sources.batch.read_json_lines_s", "s"),
    ("sources.batch.rows_read", "count"),
    ("sources.batch.corrupt_rows", "count"),
    ("pipeline.normalize_s", "s"),
    ("pipeline.rows_dropped", "count"),
    ("sources.sinks.dual_destination_write_s", "s"),
    ("sources.sinks.files_written", "count"),
    ("sources.sinks.bytes_written", "bytes"),
    ("sources.sinks.rows_per_file_p50", "count"),
    ("streaming.batches", "count"),
    ("streaming.rows_per_batch_p50", "count"),
    ("streaming.latest_offset_ms_p50", "ms"),
    ("streaming.query_planning_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.backlog_files_max", "count"),
    ("streaming.generator_late_ms_max", "ms"),
    ("sources.txlog.txn_append_ms_p50", "ms"),
    ("sources.txlog.txn_append_ms_p90", "ms"),
    ("sources.txlog.versions", "count"),
    ("sources.txlog.read_snapshot_s", "s"),
    ("operators.text.quality_score_s", "s"),
    ("operators.dedup.sketch_documents_s", "s"),
    ("operators.dedup.minhash_lsh_pairs_s", "s"),
    ("operators.dedup.dedup_clusters_s", "s"),
    ("operators.dedup.cluster_jobs", "count"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.verified_pairs", "count"),
    ("operators.dedup.verify_yield", "ratio"),
    ("operators.annindex.ann_fit_s", "s"),
    ("operators.annindex.ann_save_s", "s"),
    ("operators.annindex.ann_search_ms_p50", "ms"),
    ("operators.annindex.rows_scanned_per_query", "count"),
    ("spark.jobs_per_query", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.spill_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
)


# Where each end-to-end metric comes from: (phase, figure of that
# phase's Outcome). A metric whose home phase is in the other workload
# reports a figure of the same kind from a phase of this one, one that
# no other metric of the run reports (README.md, "End-to-end metrics").
SOURCES = {
    "lake_ingest": {
        "ingest_msgs_per_s": ("ingest_catchup", "rate"),
        "lake_bytes_per_input_byte": ("ingest_catchup", "bytes"),
        "stream_latency_p50_ms": ("stream_ingest", "p50"),
        "stream_latency_p90_ms": ("stream_ingest", "p90"),
        "dedup_docs_per_s": ("stream_ingest", "rate"),
        "dedup_pair_recall": ("ingest_catchup", "recall"),
        "search_latency_p50_ms": ("stream_ingest", "batch_p50"),
        "search_latency_p90_ms": ("stream_ingest", "batch_p90"),
        "search_recall_at_10": ("stream_ingest", "recall"),
    },
    "llm_corpus": {
        "ingest_msgs_per_s": ("ann_search", "rate"),
        "lake_bytes_per_input_byte": ("ann_search", "bytes"),
        "stream_latency_p50_ms": ("ann_search", "pq_only_p50"),
        "stream_latency_p90_ms": ("ann_search", "pq_only_p90"),
        "dedup_docs_per_s": ("llm_dedup", "rate"),
        "dedup_pair_recall": ("llm_dedup", "recall"),
        "search_latency_p50_ms": ("ann_search", "p50"),
        "search_latency_p90_ms": ("ann_search", "p90"),
        "search_recall_at_10": ("ann_search", "recall"),
    },
}


def end_to_end(workload: str, outcomes: dict, setup_s: float, rss_mb: float) -> dict[str, float]:
    """The twelve end-to-end values of one run. ``ops_ok_ratio`` is the
    lowest of the phases' ratios of correct operations, so that a phase
    of a few long operations (drains, dedup passes) weighs as much as
    one of thousands of stream messages."""
    out = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "ops_ok_ratio": min(r.ok_ratio for r in outcomes.values()),
    }
    for name, (phase, figure) in SOURCES[workload].items():
        out[name] = outcomes[phase].figures.get(figure, 0.0)
    return out


def process_age_s() -> float:
    """Seconds since this process started, from its start time in
    /proc (clock ticks since boot); 0.0 where /proc is missing."""
    try:
        with open("/proc/self/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        started = int(fields[19]) / os.sysconf("SC_CLK_TCK")  # field 22 of stat(5)
        return max(0.0, time.clock_gettime(time.CLOCK_BOOTTIME) - started)
    except (OSError, ValueError, IndexError):
        return 0.0


def _prepare_environment(work: str) -> dict[str, str]:
    """Environment and session conf that keep every file the run makes
    inside ``work`` and let Python workers import the package."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d)
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Without this the JVMs write perf data to /tmp/hsperfdata_<user>;
    # the Spark JVM gets the same flag through spark.driver.extraJavaOptions.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # A fixed 1 GiB heap (initial = maximum) keeps the JVM's resident
    # size from following run-to-run heap-resizing decisions.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.eventLog.dir": events,
    }


def _stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and, with it, the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # perf_counter() reading at process start: set-up runs from there
    process_start = time.perf_counter() - process_age_s()
    sys.path.insert(0, os.getcwd())
    try:
        import pyspark  # noqa: F401

        import utc_cuip_kafka_aws_connector_spark as pkg
        from utc_cuip_kafka_aws_connector_spark.session import get_spark
        from workloads import PHASES, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.realpath(pkg.__file__))) != os.path.realpath(os.getcwd()):
        print(f"perfbench: the package must come from this checkout, not {pkg.__file__}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import_s = time.perf_counter() - process_start
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    names = WORKLOADS[args.workload]
    phases = {}
    tracer = Tracer(bool(args.trace))
    for name in names:
        inputs, truth = cached_inputs(name, args.seed, os.path.join(base, "cache"))
        os.makedirs(os.path.join(work, name))
        phases[name] = PHASES[name](inputs, truth, os.path.join(work, name), tracer)
    conf = _prepare_environment(work)
    conf["spark.eventLog.enabled"] = "true" if args.trace else "false"
    conf["spark.eventLog.rolling.enabled"] = "false"  # one plain file per session
    conf["spark.eventLog.compress"] = "false"

    try:
        # Set-up: process start -> package imported, the session (the
        # JVM launch), then each phase's own preparation. Generating the
        # inputs in between is left out.
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(extra_conf=conf)
        session_s = time.perf_counter() - t0
        for ph in phases.values():
            ph.prepare(spark)
        setup_s = import_s + time.perf_counter() - t0
        # Each phase is warmed up right before it is measured, so that
        # its first timed operations do not pay for switching from the
        # other phase's work (after a dedup pass the next query takes
        # up to 1 s, three times the usual).
        outcomes = {}
        for (name, ph), share in zip(phases.items(), PHASE_SHARE):
            w0 = time.time()
            ph.warmup(spark)
            tracer.excluded.append((w0, time.time()))
            outcomes[name] = ph.measure(spark, args.seconds * share)
        rss_mb = tree_peak_rss_mb(os.getpid())
        spark.stop()
        _stop_jvm()

        e2e = end_to_end(args.workload, outcomes, setup_s, rss_mb)
        if args.trace:
            jobs, tasks = read_event_log(conf["spark.eventLog.dir"])
            layers = {name: 0.0 for name, _ in PER_LAYER}
            layers["session.get_spark_s"] = session_s
            layers.update(spark_counters(jobs, tasks, [w for r in outcomes.values() for w in r.windows]))
            # jobs per request: per micro-batch of the stream, per ANN query
            layers["spark.jobs_per_query"] = spark_counters(jobs, [], outcomes[names[-1]].windows)[
                "spark.jobs_per_query"
            ]
            for r in outcomes.values():
                layers.update(r.layers)
            clusters = tracer.windows("operators.dedup.dedup_clusters")
            if clusters:
                layers["operators.dedup.cluster_jobs"] = spark_counters(jobs, [], clusters)["spark.jobs_per_query"]
            queries = tracer.windows("operators.annindex.ann_search")
            if queries:
                scanned = sum(t["records_read"] for t in tasks if within(t["launched"], queries))
                layers["operators.annindex.rows_scanned_per_query"] = scanned / len(queries)
            metrics = {name: {"value": float(layers[name]), "unit": unit} for name, unit in PER_LAYER}
            tracer.dump(
                os.path.join(base, "traces", f"{args.workload}-{args.seed}-{tracer.run_id}.json"),
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "per_layer": layers,
                    "end_to_end": e2e,
                    "errors": [e for r in outcomes.values() for e in r.errors],
                },
            )
        else:
            metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END}
    finally:
        _stop_jvm()  # also when a phase raised: no JVM outlives the run
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for r in outcomes.values())
    failed = sum(r.failed for r in outcomes.values())
    if attempted == 0:  # nothing ran: report it as one failed operation
        attempted = failed = 1
    for r in outcomes.values():
        for err in r.errors:
            print(f"perfbench: wrong output: {err}", file=sys.stderr)
    print(
        json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
