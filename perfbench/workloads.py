"""The four phases (shapes of work) and the two workloads that pair
them. Each phase has ``prepare`` (part of set-up), ``warmup``
(untimed) and ``measure`` (the timed loop plus the correctness gate of
every operation), and calls only the package's public functions.

A gate that finds a wrong output fails that operation: it is counted
in ``failed`` and its timing is left out of every latency and
throughput figure, so a wrong answer never reads as a fast one.

In a traced run the batch layers are called stage by stage, each
stage's input cached and its span covering the action that
materialises its output (Spark is lazy, so a span around a
transformation alone would measure nothing).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import threading
import time

import numpy as np

from gen import UNKNOWN_TOPIC, VISION_TOPIC
from spans import median, percentile


def _tree_bytes(path: str) -> int:
    """Bytes of data files under ``path`` (Hadoop's hidden ``.crc`` and
    ``_SUCCESS`` markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith((".", "_"))
        )
    return total


def _data_files(path: str, suffix: str) -> list[str]:
    return sorted(
        f
        for f in glob.glob(os.path.join(path, "**", "*" + suffix), recursive=True)
        if not os.path.basename(f).startswith((".", "_"))
    )


def closed_loop(seconds: float, op) -> None:
    """Call ``op`` back to back for about ``seconds``: another call
    starts only while it is expected to end in time, and at least one
    runs. Operations of several seconds would otherwise overrun the
    run by up to one whole operation."""
    start = time.perf_counter()
    n = 0
    while True:
        op()
        n += 1
        elapsed = time.perf_counter() - start
        if elapsed * (n + 1) / n > seconds:
            return


class Outcome:
    """What a phase's ``measure`` hands back to the harness."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.op_ms: list[float] = []  # latency of each correct operation
        # The phase's end-to-end figures ("rate", "p50", "p90", "recall",
        # "bytes", ...); run.SOURCES maps them onto the metrics.
        self.figures: dict[str, float] = {}
        self.windows: list[tuple[float, float]] = []  # op windows, epoch s
        self.layers: dict[str, float] = {}
        self.errors: list[str] = []

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(why)

    @property
    def ok_ratio(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0


# --------------------------------------------------------------------------
# ingest_catchup: the reference's CRON drain, closed loop, one drain at a time


def _lake_counts(root: str) -> dict[str, int]:
    """{"<entity>/<year>/<month>": rows} from the parquet footers of a
    ``<entity_col>=<v>/year=<y>/month=<m>/`` lake."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for f in _data_files(root, ".parquet"):
        parts = dict(
            p.split("=", 1) for p in os.path.relpath(f, root).split(os.sep)[:-1] if "=" in p
        )
        key = f"{next(iter(parts.values()))}/{parts['year']}/{parts['month']}"
        out[key] = out.get(key, 0) + pq.read_metadata(f).num_rows
    return out


def check_lake(out: str, backup: str, truth: dict) -> str | None:
    """None if both lake copies and the dead-letter quarantine hold
    exactly the generator's row counts, else what differs."""
    for copy in (out, backup):
        for family in ("vision", "air_quality"):
            got = _lake_counts(os.path.join(copy, family))
            if got != truth[family]:
                diff = sorted(
                    (k, got.get(k, 0), truth[family].get(k, 0))
                    for k in set(got) | set(truth[family])
                    if got.get(k, 0) != truth[family].get(k, 0)
                )
                return f"{copy}/{family}: (partition, got, want) {diff[:3]}"
    lines = 0
    for f in glob.glob(os.path.join(out, "dead_letter", UNKNOWN_TOPIC, "part-*")):
        with open(f, "rb") as fh:
            lines += sum(1 for _ in fh)
    if lines != truth["dead_letter_lines"]:
        return f"dead letter: {lines} lines, want {truth['dead_letter_lines']}"
    return None


def lake_row_recall(out: str, backup: str, truth: dict) -> float:
    """Share of the expected lake rows that both copies hold: per
    partition, the rows found up to the rows expected, over the rows
    expected. 1.0 for a correct drain; it falls with each lost row."""
    found = want = 0
    for copy in (out, backup):
        for family in ("vision", "air_quality"):
            got = _lake_counts(os.path.join(copy, family))
            for key, n in truth[family].items():
                found += min(got.get(key, 0), n)
                want += n
    return found / want


CATCHUP_WARMUP_DRAINS = 3


class IngestCatchup:
    def __init__(self, inputs: str, truth: dict, work: str, tracer) -> None:
        self.config = os.path.join(inputs, "config.yaml")
        self.incoming = os.path.join(inputs, "incoming")
        self.truth = truth
        self.work = work
        self.tracer = tracer
        self.n = 0
        self.files: list[int] = []  # rows per lake file, traced runs
        self.stage: dict[str, float] = {}

    def prepare(self, spark) -> None:
        pass

    def _paths(self) -> tuple[str, str]:
        self.n += 1
        return (os.path.join(self.work, f"lake-{self.n}"), os.path.join(self.work, f"backup-{self.n}"))

    def _drain(self, spark, out: str, backup: str) -> None:
        from utc_cuip_kafka_aws_connector_spark.cli import run_ingest_config

        run_ingest_config(spark, self.config, self.incoming, out, backup_output=backup)

    def _routes(self) -> dict[str, str]:
        """{topic: route} for the topics of the config that have input,
        routed by the CLI's own ``_family``, as ``run_ingest_config`` does."""
        from utc_cuip_kafka_aws_connector_spark.cli import _family, load_topics_config

        topics = load_topics_config(self.config)["topics"]
        return {t: _family(t) for t in topics if os.path.exists(f"{self.incoming}/{t}.jsonl")}

    def _drain_traced(self, spark, out: str, backup: str) -> None:
        """The drain of ``cli.run_ingest_config`` one layer at a time,
        with the same routing, schemas, normalisers and sinks:
        read (cached) -> normalise (cached) -> dual write."""
        from functools import reduce

        from pyspark.sql import DataFrame

        from utc_cuip_kafka_aws_connector_spark.pipeline import (
            AIR_SCHEMA,
            VISION_SCHEMA,
            normalize_air,
            normalize_vision,
        )
        from utc_cuip_kafka_aws_connector_spark.sources.batch import read_json_lines
        from utc_cuip_kafka_aws_connector_spark.sources.sinks import dual_destination_write

        # route -> (schema, normaliser, lake directory, entity column), as in run_ingest_config
        plans = {
            "vision": (VISION_SCHEMA, normalize_vision, "vision", "camera_id"),
            "air": (AIR_SCHEMA, normalize_air, "air_quality", "nicename"),
        }
        routes = self._routes()
        t = self.tracer
        with t.span("sources.batch.read_json_lines"):
            raw = {}
            for route, (schema, _norm, _dir, _entity) in plans.items():
                frames = [
                    read_json_lines(spark, f"{self.incoming}/{tp}.jsonl", schema)
                    for tp, r in routes.items()
                    if r == route
                ]
                if frames:
                    raw[route] = reduce(DataFrame.unionByName, frames).cache()
            rows_read = sum(df.count() for df in raw.values())
        with t.span("pipeline.normalize"):
            norm = {route: plans[route][1](df).cache() for route, df in raw.items()}
            kept = sum(df.count() for df in norm.values())
        with t.span("sources.sinks.dual_destination_write"):
            for route, df in norm.items():
                _schema, _norm, sub, entity = plans[route]
                dual_destination_write(df, f"{out}/{sub}", f"{backup}/{sub}", entity_col=entity)
            for tp in (tp for tp, r in routes.items() if r == "dead_letter"):
                spark.read.text(f"{self.incoming}/{tp}.jsonl").write.mode("append").text(
                    f"{out}/dead_letter/{tp}"
                )
        for df in (*raw.values(), *norm.values()):
            df.unpersist()
        self.stage["sources.batch.rows_read"] = rows_read
        self.stage["pipeline.rows_dropped"] = rows_read - kept

    def _count_corrupt(self, spark) -> int:
        """Lines the JSON reader cannot parse, from a separate, untimed
        read that asks for the corrupt-record column."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from utc_cuip_kafka_aws_connector_spark.pipeline import AIR_SCHEMA, VISION_SCHEMA
        from utc_cuip_kafka_aws_connector_spark.sources.batch import read_json_lines

        schema = {"vision": VISION_SCHEMA, "air": AIR_SCHEMA}
        n = 0
        for tp, route in self._routes().items():
            if route in schema:
                df = read_json_lines(
                    spark,
                    f"{self.incoming}/{tp}.jsonl",
                    T.StructType(schema[route].fields + [T.StructField("_corrupt_record", T.StringType())]),
                ).cache()  # Spark refuses a query on the corrupt column alone of an uncached scan
                n += df.filter(F.col("_corrupt_record").isNotNull()).count()
                df.unpersist()
        return n

    def warmup(self, spark) -> None:
        # Drain time keeps falling for the first three or four drains of
        # a session (3.3, 2.4, 2.0, then about 1.8 s on a 4-core host);
        # with fewer warm-up drains the timed median would include that
        # descent, by how much depending on the host's speed.
        for _ in range(CATCHUP_WARMUP_DRAINS):
            out, backup = self._paths()
            self._drain(spark, out, backup)
            shutil.rmtree(out)
            shutil.rmtree(backup)
        if self.tracer.enabled:
            self.stage["sources.batch.corrupt_rows"] = self._count_corrupt(spark)

    def measure(self, spark, seconds: float) -> Outcome:
        import pyarrow.parquet as pq

        res = Outcome()
        recall: list[float] = []
        out_bytes = 0

        def drain() -> None:
            nonlocal out_bytes
            out, backup = self._paths()
            res.attempted += 1
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                with self.tracer.span("cli.run_ingest_config"):
                    (self._drain_traced if self.tracer.enabled else self._drain)(spark, out, backup)
                dt = time.perf_counter() - t0
                res.windows.append((w0, time.time()))
                err = check_lake(out, backup, self.truth)
            except Exception as exc:  # a failed drain is a failed operation
                err = f"drain raised {type(exc).__name__}: {exc}"
            recall.append(lake_row_recall(out, backup, self.truth))
            if err:
                res.fail(err)
            else:
                res.op_ms.append(dt * 1000.0)
                out_bytes += _tree_bytes(out) + _tree_bytes(backup)
                if self.tracer.enabled:
                    self.files += [
                        pq.read_metadata(f).num_rows
                        for copy in (out, backup)
                        for f in _data_files(copy, ".parquet")
                    ]
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(backup, ignore_errors=True)

        closed_loop(seconds, drain)
        drains = len(res.op_ms)
        res.figures = {
            # the median drain, so that one drain slowed by the host does not move it
            "rate": self.truth["messages"] / (median(res.op_ms) / 1000.0) if drains else 0.0,
            "bytes": out_bytes / (drains * self.truth["input_bytes"]) if drains else 0.0,
            "recall": sum(recall) / len(recall),
        }
        if self.tracer.enabled:
            res.layers.update(
                {
                    "sources.batch.read_json_lines_s": median(self.tracer.durations("sources.batch.read_json_lines")),
                    "pipeline.normalize_s": median(self.tracer.durations("pipeline.normalize")),
                    "sources.sinks.dual_destination_write_s": median(
                        self.tracer.durations("sources.sinks.dual_destination_write")
                    ),
                    "sources.sinks.files_written": len(self.files) / max(1, drains),
                    "sources.sinks.bytes_written": out_bytes / max(1, drains),
                    "sources.sinks.rows_per_file_p50": median(self.files),
                    **self.stage,
                }
            )
        return res


# --------------------------------------------------------------------------
# stream_ingest: open loop at a fixed offered rate into a txlog table

# Offered rate: a quarter of the highest rate at which message latency
# stayed flat on a 4-core host, and a tenth of the lowest at which the
# file backlog kept growing (perfbench/saturation.py; README.md).
STREAM_FILES_PER_S = 20.0
STREAM_WARMUP_S = 2.0


def first_batch_of_file(checkpoint: str) -> dict[str, int]:
    """Input file -> the first micro-batch that read it, from the file
    source's metadata log. Every 10th batch the log writes a
    ``.compact`` file that repeats all earlier entries, so a file is
    listed several times; the smallest batch id is the one that read
    it."""
    first: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue  # the "v1" version header
                ent = json.loads(line)
                name = os.path.basename(ent["path"])
                first[name] = min(first.get(name, ent["batchId"]), ent["batchId"])
    return first


def backlog_files(sched: list[float], first: dict[str, int], commits: dict[int, tuple[float, float]]) -> list[int]:
    """Files sent but not yet read, sampled at each micro-batch commit.
    A backlog that keeps growing means the offered rate is not
    sustainable."""
    files_by_batch: dict[int, int] = {}
    for b in first.values():
        files_by_batch[b] = files_by_batch.get(b, 0) + 1
    out = []
    for b, (_t0, t1) in sorted(commits.items()):
        read = sum(n for bb, n in files_by_batch.items() if bb <= b)
        out.append(sum(1 for s in sched if s <= t1) - read)
    return out


def message_latency_ms(sched: list[float], first: dict[str, int], commits, per_file: int, t_from: float) -> list[float]:
    """Scheduled send -> commit of the first micro-batch that read the
    message's file, one value per message sent at or after ``t_from``."""
    out: list[float] = []
    for i, due in enumerate(sched):
        if due >= t_from:
            out += [(commits[first[f"m-{i:06d}.json"]][1] - due) * 1000.0] * per_file
    return out


def check_stream(hits: list[int], sent: int) -> tuple[int, str | None]:
    """(messages wrong, why): the table must hold each sent sequence
    number exactly once -- no loss, no duplicate, nothing extra."""
    counts = np.bincount(np.asarray(hits, dtype=np.int64), minlength=sent) if hits else np.zeros(sent, int)
    missing = int((counts[:sent] == 0).sum())
    dup = int(np.clip(counts[:sent] - 1, 0, None).sum())
    extra = int(counts[sent:].sum())
    wrong = missing + dup + extra
    if not wrong:
        return 0, None
    return wrong, f"stream table: {missing} missing, {dup} duplicated, {extra} unexpected of {sent}"


class StreamIngest:
    def __init__(self, inputs: str, truth: dict, work: str, tracer) -> None:
        with open(os.path.join(inputs, "messages.txt")) as fh:
            self.templates = fh.read().splitlines()
        self.per_file = truth["messages_per_file"]
        self.max_files = truth["files"]
        self.work = work
        self.tracer = tracer

    def prepare(self, spark) -> None:
        pass

    def _stream(self, spark, root: str, n_files: int, rate: float):
        """Run the streaming pipeline over ``root`` while one generator
        thread writes ``n_files`` files at ``rate`` files/s, then drain
        and stop it. Returns (file schedule, generator lateness,
        batch id -> (txn_append start, commit time), progress reports)."""
        from utc_cuip_kafka_aws_connector_spark.pipeline import VISION_SCHEMA, normalize_vision
        from utc_cuip_kafka_aws_connector_spark.sources.kafka import (
            decode_json_payload,
            file_message_reader,
        )
        from utc_cuip_kafka_aws_connector_spark.sources.txlog import txn_append

        incoming = os.path.join(root, "incoming")
        staging = os.path.join(root, "staging")
        table = os.path.join(root, "table")
        for d in (incoming, staging):
            os.makedirs(d)
        commits: dict[int, tuple[float, float]] = {}

        def write_batch(df, batch_id: int) -> None:
            t0 = time.time()
            with self.tracer.span("sources.txlog.txn_append"):
                txn_append(df, table, txn_id=f"batch-{batch_id}")
            commits[batch_id] = (t0, time.time())

        query = (
            normalize_vision(
                decode_json_payload(file_message_reader(spark, incoming, VISION_TOPIC), VISION_SCHEMA)
            )
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )
        sched: list[float] = []
        late: list[float] = []

        def generate() -> None:
            t_start = time.time() + 0.2
            for i in range(n_files):
                due = t_start + i / rate
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                now_ms = int(time.time() * 1000)
                j = i % self.max_files  # only saturation.py sends more files than there are
                lines = self.templates[j * self.per_file : (j + 1) * self.per_file]
                name = f"m-{i:06d}.json"
                with open(os.path.join(staging, name), "w") as fh:
                    fh.write("\n".join(t % now_ms for t in lines) + "\n")
                # rename: the source never lists a half-written file
                os.rename(os.path.join(staging, name), os.path.join(incoming, name))
                late.append(time.time() - due)
                sched.append(due)

        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        gen.join()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return sched, late, commits, [p for p in query.recentProgress if p["numInputRows"] > 0]

    def warmup(self, spark) -> None:
        """A short stream of its own, so the measured one starts warm."""
        n_files = int(STREAM_WARMUP_S * STREAM_FILES_PER_S)
        self._stream(spark, os.path.join(self.work, "warmup"), n_files, STREAM_FILES_PER_S)

    def measure(self, spark, seconds: float) -> Outcome:
        from utc_cuip_kafka_aws_connector_spark.sources.txlog import read_snapshot, table_history

        res = Outcome()
        root = os.path.join(self.work, "stream")
        table = os.path.join(root, "table")
        n_files = int((STREAM_WARMUP_S + seconds) * STREAM_FILES_PER_S)
        if n_files > self.max_files:
            raise SystemExit(f"stream inputs hold {self.max_files} files, the run needs {n_files}")
        sent = n_files * self.per_file
        res.attempted = sent
        try:
            sched, late, commits, progress = self._stream(spark, root, n_files, STREAM_FILES_PER_S)
            with self.tracer.span("sources.txlog.read_snapshot"):
                hits = [r[0] for r in read_snapshot(spark, table).select("hit_counts").collect()]
            wrong, err = check_stream(hits, sent)
        except Exception as exc:  # a failed stream loses every message
            wrong, err = sent, f"stream raised {type(exc).__name__}: {exc}"
        res.figures["recall"] = (sent - wrong) / sent  # messages committed exactly once
        if err:
            res.fail(err)
            res.failed = wrong
            return res

        first = first_batch_of_file(os.path.join(root, "checkpoint"))
        t_measure = sched[0] + STREAM_WARMUP_S
        res.op_ms = message_latency_ms(sched, first, commits, self.per_file, t_measure)
        res.windows = [w for w in commits.values() if w[0] >= t_measure]
        batch_ms = [
            p["durationMs"]["triggerExecution"]
            for p in progress
            if datetime.datetime.fromisoformat(p["timestamp"]).timestamp() >= t_measure
        ]
        res.figures.update(
            {
                "p50": percentile(res.op_ms, 50),
                "p90": percentile(res.op_ms, 90),
                "rate": sent / (max(c[1] for c in commits.values()) - sched[0]),
                "batch_p50": percentile(batch_ms, 50),
                "batch_p90": percentile(batch_ms, 90),
            }
        )

        if self.tracer.enabled:

            def dur(key: str) -> list[float]:
                return [p["durationMs"].get(key, 0) for p in progress]

            for p in progress:  # one span per micro-batch, from Spark's own timing
                start = datetime.datetime.fromisoformat(p["timestamp"]).timestamp()
                end = start + p["durationMs"]["triggerExecution"] / 1000.0
                self.tracer.add("streaming.micro_batch", start, end)

            backlog = backlog_files(sched, first, commits)
            append_ms = [d * 1000.0 for d in self.tracer.durations("sources.txlog.txn_append")]
            res.layers.update(
                {
                    "streaming.batches": len(progress),
                    "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in progress]),
                    "streaming.latest_offset_ms_p50": median(dur("latestOffset")),
                    "streaming.query_planning_ms_p50": median(dur("queryPlanning")),
                    "streaming.wal_commit_ms_p50": median(dur("walCommit")),
                    "streaming.add_batch_ms_p50": median(dur("addBatch")),
                    "streaming.backlog_files_max": max(backlog, default=0),
                    "streaming.generator_late_ms_max": max(late, default=0.0) * 1000.0,
                    "sources.txlog.txn_append_ms_p50": median(append_ms),
                    "sources.txlog.txn_append_ms_p90": percentile(append_ms, 90),
                    "sources.txlog.versions": len(table_history(table)),
                    "sources.txlog.read_snapshot_s": median(self.tracer.durations("sources.txlog.read_snapshot")),
                }
            )
        return res


# --------------------------------------------------------------------------
# llm_dedup: quality filter -> exact dedup -> MinHash-LSH -> clusters -> write

QUALITY_MIN = 0.5


# LSH misses about one injected pair in 500; a recall this low is a
# defect, not chance.
DEDUP_RECALL_FLOOR = 0.95


def check_dedup(survivors: set[int], pairs: set[tuple[int, int]], truth: dict) -> tuple[float, str | None]:
    """(pair recall, why wrong). LSH is probabilistic: it misses a pair
    at Jaccard 0.75 about once in 500 with the operator's 16 bands of
    4, so a family may legitimately keep members whose pairs were not
    found; ``dedup_pair_recall`` measures that, and a recall below
    ``DEDUP_RECALL_FLOOR`` is wrong. Given the pairs found, everything
    else is exact:

    - no junk document and no non-minimum exact copy survives;
    - every plain document and the minimum id of each exact group survive;
    - every found pair lies inside one injected family;
    - within each family, exactly the minimum id of each connected
      component of the found pairs survives (a member in no found pair
      is its own component). A family whose found pairs did not remove
      its duplicates is a lost family."""
    family_of = {d: i for i, fam in enumerate(truth["families"]) for d in fam}
    injected = {tuple(p) for p in truth["injected_pairs"]}
    recall = len(injected & pairs) / len(injected)
    if recall < DEDUP_RECALL_FLOOR:
        return recall, f"pair recall {recall:.3f} below {DEDUP_RECALL_FLOOR}"
    stray = [p for p in pairs if family_of.get(p[0], -1) != family_of.get(p[1], -2)]
    if stray:
        return recall, f"{len(stray)} pairs outside any family, e.g. {stray[:3]}"
    plain = set(truth["plain_survivors"])
    if not plain <= survivors:
        return recall, f"{len(plain - survivors)} plain or exact-group survivors missing"
    rest = survivors - plain
    bad = [d for d in rest if d not in family_of]
    if bad:
        return recall, f"{len(bad)} junk or duplicate documents survived, e.g. {sorted(bad)[:3]}"
    root = {d: d for d in family_of}  # union-find over the found pairs

    def find(d: int) -> int:
        while root[d] != d:
            d = root[d]
        return d

    for a, b in pairs:
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    for fam in truth["families"]:
        kept = sorted(d for d in fam if d in rest)
        want = sorted({find(d) for d in fam})
        if kept != want:
            return recall, f"family {fam}: kept {kept}, the found pairs leave {want}"
    return recall, None


class LlmDedup:
    def __init__(self, inputs: str, truth: dict, work: str, tracer) -> None:
        self.corpus = os.path.join(inputs, "corpus.parquet")
        self.truth = truth
        self.work = work
        self.tracer = tracer
        self.n = 0
        self.stage: dict[str, list[float]] = {}
        self.recall: list[float] = []  # injected-pair recall of each timed pass

    def prepare(self, spark) -> None:
        pass

    def _pipeline(self, docs, out: str):
        """Returns the persisted pair frame (for the recall check)."""
        from pyspark.sql import functions as F

        from utc_cuip_kafka_aws_connector_spark.operators.dedup import (
            dedup_clusters,
            exact_dedup,
            minhash_lsh_pairs,
        )
        from utc_cuip_kafka_aws_connector_spark.operators.text import quality_score

        scored = quality_score(docs).filter(F.col("quality") >= QUALITY_MIN).select("doc_id", "text")
        keep_ids = exact_dedup(scored, "doc_id").select(F.col("keep_id").alias("doc_id"))
        uniq = scored.join(keep_ids, "doc_id", "left_semi")
        pairs = minhash_lsh_pairs(uniq, "doc_id").persist()
        clusters = dedup_clusters(uniq, pairs, "doc_id")
        survivors = uniq.join(clusters.filter("keep").select("doc_id"), "doc_id", "left_semi")
        survivors.write.parquet(out)
        return pairs

    def _pipeline_traced(self, docs, out: str):
        """The same pipeline one layer at a time, each stage's input cached."""
        from pyspark.sql import functions as F

        from utc_cuip_kafka_aws_connector_spark.operators.dedup import (
            dedup_clusters,
            exact_dedup,
            minhash_lsh_pairs,
            sketch_documents,
        )
        from utc_cuip_kafka_aws_connector_spark.operators.text import quality_score

        t = self.tracer
        docs = docs.cache()
        docs.count()
        with t.span("operators.text.quality_score"):
            scored = quality_score(docs).filter(F.col("quality") >= QUALITY_MIN).select("doc_id", "text").cache()
            scored.count()
        with t.span("operators.dedup.exact_dedup"):
            keep_ids = exact_dedup(scored, "doc_id").select(F.col("keep_id").alias("doc_id"))
            uniq = scored.join(keep_ids, "doc_id", "left_semi").cache()
            uniq.count()
        with t.span("operators.dedup.sketch_documents"):
            sketch_documents(uniq, "doc_id").count()
        with t.span("operators.dedup.candidates"):
            # threshold 0 keeps every LSH candidate: the verify step's input
            candidates = minhash_lsh_pairs(uniq, "doc_id", jaccard_threshold=0.0).count()
        with t.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(uniq, "doc_id").persist()
            verified = pairs.count()
        with t.span("operators.dedup.dedup_clusters"):
            clusters = dedup_clusters(uniq, pairs, "doc_id").cache()
            clusters.count()
        with t.span("write_survivors"):
            uniq.join(clusters.filter("keep").select("doc_id"), "doc_id", "left_semi").write.parquet(out)
        for key, val in (("candidate_pairs", candidates), ("verified_pairs", verified)):
            self.stage.setdefault(key, []).append(val)
        return pairs

    def _run(self, spark, res: Outcome) -> None:
        import pyarrow.parquet as pq

        self.n += 1
        out = os.path.join(self.work, f"survivors-{self.n}")
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("llm_dedup.pipeline"):
                pairs = (self._pipeline_traced if self.tracer.enabled else self._pipeline)(
                    spark.read.parquet(self.corpus), out
                )
            dt = time.perf_counter() - t0
            w1 = time.time()
            found = {(min(a, b), max(a, b)) for a, b in pairs.select("doc_a", "doc_b").collect()}
            survivors = set(pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist())
            recall, err = check_dedup(survivors, found, self.truth)
            self.recall.append(recall)
        except Exception as exc:
            err = f"pipeline raised {type(exc).__name__}: {exc}"
            self.recall.append(0.0)
        spark.catalog.clearCache()
        res.attempted += 1
        if err:
            res.fail(err)
        else:
            res.windows.append((w0, w1))
            res.op_ms.append(dt * 1000.0)
        shutil.rmtree(out, ignore_errors=True)

    def warmup(self, spark) -> None:
        """One untimed pass over the whole corpus. The Python workers
        are already running: ``ann_save`` in set-up starts them. Pass
        time keeps falling over the first few passes (7.5, 4.9, 4.3,
        then about 4 s on a 4-core host); the timed median is over
        3-4 passes."""
        out = os.path.join(self.work, "warmup")
        self._pipeline(spark.read.parquet(self.corpus), out)
        spark.catalog.clearCache()
        shutil.rmtree(out)

    def measure(self, spark, seconds: float) -> Outcome:
        res = Outcome()
        closed_loop(seconds, lambda: self._run(spark, res))
        res.figures = {
            # the median pass, so that one pass slowed by the host does not move it
            "rate": self.truth["docs"] / (median(res.op_ms) / 1000.0) if res.op_ms else 0.0,
            "recall": sum(self.recall) / len(self.recall),
        }
        if self.tracer.enabled:
            cand = sum(self.stage.get("candidate_pairs", []))
            ver = sum(self.stage.get("verified_pairs", []))
            passes = max(1, len(self.stage.get("verified_pairs", [])))
            res.layers.update(
                {
                    "operators.text.quality_score_s": median(self.tracer.durations("operators.text.quality_score")),
                    "operators.dedup.sketch_documents_s": median(
                        self.tracer.durations("operators.dedup.sketch_documents")
                    ),
                    "operators.dedup.minhash_lsh_pairs_s": median(
                        self.tracer.durations("operators.dedup.minhash_lsh_pairs")
                    ),
                    "operators.dedup.dedup_clusters_s": median(self.tracer.durations("operators.dedup.dedup_clusters")),
                    "operators.dedup.candidate_pairs": cand / passes,
                    "operators.dedup.verified_pairs": ver / passes,
                    "operators.dedup.verify_yield": ver / cand if cand else 0.0,
                }
            )
        return res


# --------------------------------------------------------------------------
# ann_search: one client, one query at a time, against a saved index

ANN_CELLS = 8
ANN_PQ_M = 2
ANN_PQ_NBITS = 4
# Probing 7 of the 8 cells keeps every true top 10 in the probed cells
# for nearly every query; with 6, recall@10 fell to 0.95 on some seeds
# and not on others, which made it a seed effect, not a property of
# the code.
ANN_NPROBE = 7
ANN_SHORTLIST = 1000  # exactly reranked candidates per query
ANN_TRAIN_ROWS = 2000  # the index trains on a prefix; the corpus order is random
ANN_WARMUP_QUERIES = 24  # 12 of each kind


def check_answer(
    rows: list[tuple[int, float]], q: np.ndarray, corpus: np.ndarray, k: int, exact: bool = True
) -> str | None:
    """An answer is wrong unless it has k distinct valid ids in
    ascending, non-negative distance. An exactly reranked answer
    (``exact``) must also give each id its exact L2 distance, so any
    slip is a bug; a PQ-only answer carries quantised distances."""
    if len(rows) != k:
        return f"{len(rows)} results, want {k}"
    ids = [r[0] for r in rows]
    if len(set(ids)) != k or min(ids) < 0 or max(ids) >= len(corpus):
        return f"bad ids {ids}"
    d = np.array([r[1] for r in rows])
    if np.any(np.diff(d) < 0) or d[0] < 0:
        return "distances not ascending"
    if not exact:
        return None
    want = ((corpus[ids].astype(np.float64) - q.astype(np.float64)) ** 2).sum(1)
    if not np.allclose(d, want, rtol=1e-6, atol=1e-6):
        return f"distances {d[:3]} differ from exact {want[:3]}"
    return None


class AnnSearch:
    def __init__(self, inputs: str, truth: dict, work: str, tracer) -> None:
        import pyarrow.parquet as pq

        self.corpus_path = os.path.join(inputs, "corpus.parquet")
        col = pq.read_table(self.corpus_path, columns=["embedding"]).column("embedding").combine_chunks()
        self.corpus = col.flatten().to_numpy().reshape(len(col), -1)
        self.queries = np.load(os.path.join(inputs, "queries.npy"))
        self.truth = truth
        self.work = work
        self.tracer = tracer
        self.next_q = 0
        self.recall: list[float] = []  # recall@k of each correct exact query
        self.pq_only_ms: list[float] = []

    def prepare(self, spark) -> None:
        """Fit, save and load the index: the set-up a serving process pays once."""
        from utc_cuip_kafka_aws_connector_spark.operators.annindex import ann_fit, ann_load, ann_save

        path = os.path.join(self.work, "index")
        df = spark.read.parquet(self.corpus_path)
        with self.tracer.span("operators.annindex.ann_fit"):
            train = df.filter(f"vec_id < {ANN_TRAIN_ROWS}")
            index = ann_fit(train, n_cells=ANN_CELLS, m=ANN_PQ_M, nbits=ANN_PQ_NBITS)
        with self.tracer.span("operators.annindex.ann_save"):
            ann_save(spark, df, index, path)
        self.index, self.coded, self.vectors = ann_load(spark, path)
        self.index_bytes = _tree_bytes(path)

    def _query(self, res: Outcome | None, exact: bool = True) -> None:
        """One ``ann_search`` call. An exact query reranks its shortlist
        against the stored vectors; a PQ-only query (``exact=False``)
        returns the compressed scan's top k."""
        from utc_cuip_kafka_aws_connector_spark.operators.annindex import ann_search

        i = self.next_q % len(self.queries)
        self.next_q += 1
        q = self.queries[i]
        k = self.truth["k"]
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("operators.annindex.ann_search" + ("" if exact else ".pq_only")):
                top = ann_search(
                    self.index, self.coded, q.tolist(), k=k, nprobe=ANN_NPROBE,
                    vectors=self.vectors if exact else None, shortlist=ANN_SHORTLIST,
                )  # fmt: skip
                rows = [(r[0], r[1]) for r in top.collect()]
            dt = time.perf_counter() - t0
            w1 = time.time()
            err = check_answer(rows, q, self.corpus, k, exact)
        except Exception as exc:
            err = f"query raised {type(exc).__name__}: {exc}"
        if res is None:
            return
        res.attempted += 1
        if err:
            res.fail(f"query {i}: {err}")
            return
        if exact:
            res.windows.append((w0, w1))
            res.op_ms.append(dt * 1000.0)
            self.recall.append(len({r[0] for r in rows} & set(self.truth["topk"][i])) / k)
        else:
            self.pq_only_ms.append(dt * 1000.0)

    def warmup(self, spark) -> None:
        # Query latency falls steeply over the first ten or so queries
        # after set-up or after a dedup pass (the first one can take 1 s)
        # and slowly over a few dozen more (JIT); warming up past the
        # steep part keeps the tail of the timed queries from measuring it.
        for n in range(ANN_WARMUP_QUERIES):
            self._query(None, exact=n % 2 == 0)
        self.next_q = 0

    def measure(self, spark, seconds: float) -> Outcome:
        res = Outcome()
        # Exact and PQ-only queries alternate: one client, two request kinds.
        closed_loop(seconds, lambda: self._query(res, exact=self.next_q % 2 == 0))
        res.figures = {
            "rate": len(res.op_ms) / (sum(res.op_ms) / 1000.0) if res.op_ms else 0.0,
            "p50": percentile(res.op_ms, 50),
            "p90": percentile(res.op_ms, 90),
            "pq_only_p50": percentile(self.pq_only_ms, 50),
            "pq_only_p90": percentile(self.pq_only_ms, 90),
            "recall": sum(self.recall) / len(self.recall) if self.recall else 0.0,
            "bytes": self.index_bytes / self.truth["input_bytes"],
        }
        if self.tracer.enabled:
            res.layers.update(
                {
                    "operators.annindex.ann_fit_s": median(self.tracer.durations("operators.annindex.ann_fit")),
                    "operators.annindex.ann_save_s": median(self.tracer.durations("operators.annindex.ann_save")),
                    "operators.annindex.ann_search_ms_p50": median(
                        [d * 1000.0 for d in self.tracer.durations("operators.annindex.ann_search")]
                    ),
                }
            )
        return res


PHASES = {
    "ingest_catchup": IngestCatchup,
    "stream_ingest": StreamIngest,
    "llm_dedup": LlmDedup,
    "ann_search": AnnSearch,
}

# Each workload runs two phases in one process, one after the other,
# each warmed up right before it is measured for its share of the run
# (run.PHASE_SHARE). One JVM start per pair of phases is what lets a
# run measure long enough to be steady within the benchmark's time
# budget.
WORKLOADS = {
    "lake_ingest": ("ingest_catchup", "stream_ingest"),
    "llm_corpus": ("llm_dedup", "ann_search"),
}
