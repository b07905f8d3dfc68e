"""Where the stream saturates: run the ``stream_ingest`` pipeline at
increasing offered rates in one session and print, per rate, the file
backlog and the message latency. Run from the repository root:

    python3 perfbench/saturation.py --seed 1 --seconds 12 --rates 5,10,20,40

The offered rate of the benchmark's stream is a stated fraction of the
lowest rate at which the backlog keeps growing (README.md, "Offered
rate"). A rate is sustainable while the backlog stays bounded: its
maximum over the second half of the stream is at most 1.5 times (plus
one file) its maximum over the first half.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import cached_inputs  # noqa: E402
from spans import Tracer, percentile  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--rates", default="5,10,20,40", help="offered rates, files/s, comma-separated")
    args = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    from run import _prepare_environment, _stop_jvm
    from workloads import STREAM_WARMUP_S, StreamIngest, backlog_files, first_batch_of_file, message_latency_ms

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", f"saturation-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, truth = cached_inputs("stream_ingest", args.seed, os.path.join(base, "cache"))
    os.makedirs(work)
    stream = StreamIngest(inputs, truth, work, Tracer(False))
    conf = _prepare_environment(work)

    from utc_cuip_kafka_aws_connector_spark.session import get_spark

    print(f"{'files/s':>8} {'msgs/s':>8} {'batches':>8} {'backlog max':>12} {'1st half':>9} "
          f"{'2nd half':>9} {'p50 ms':>8} {'p90 ms':>8} {'gen late ms':>11}  sustainable")  # fmt: skip
    try:
        spark = get_spark(extra_conf=conf)
        stream.warmup(spark)
        for rate in (float(r) for r in args.rates.split(",")):
            root = os.path.join(work, f"rate-{rate:g}")
            n_files = int((STREAM_WARMUP_S + args.seconds) * rate)
            sched, lateness, commits, progress = stream._stream(spark, root, n_files, rate)
            first = first_batch_of_file(os.path.join(root, "checkpoint"))
            backlog = backlog_files(sched, first, commits)
            half = len(backlog) // 2
            early, late = max(backlog[:half], default=0), max(backlog[half:], default=0)
            lat = message_latency_ms(sched, first, commits, stream.per_file, sched[0] + STREAM_WARMUP_S)
            sustainable = "yes" if late <= 1.5 * early + 1 else "no"
            print(
                f"{rate:8g} {rate * stream.per_file:8g} {len(progress):8d} {max(backlog):12d} {early:9d} "
                f"{late:9d} {percentile(lat, 50):8.0f} {percentile(lat, 90):8.0f} "
                f"{max(lateness) * 1000:11.0f}  {sustainable}",
                flush=True,
            )
            shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
