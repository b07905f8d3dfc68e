"""Tests of the benchmark itself: generator determinism, the
correctness gates and how they reach the metrics. Only the last test
starts a Spark session.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from workloads import (  # noqa: E402
    Outcome,
    check_answer,
    check_dedup,
    check_lake,
    check_stream,
    lake_row_recall,
)


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("phase", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, phase):
    make = gen.GENERATORS[phase]
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b")) == _files(str(tmp_path / "c"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert mismatch, "a different seed must give different inputs"


@pytest.fixture(scope="module")
def catchup_truth(tmp_path_factory):
    out = tmp_path_factory.mktemp("catchup")
    return gen.gen_ingest_catchup(11, str(out))


def _write_lake(root, truth, drop: tuple[str, str] | None = None) -> None:
    """A lake laid out as the sink writes it, with the row counts of
    ``truth``; ``drop`` = (family, partition) loses one row there."""
    entity = {"vision": "camera_id", "air_quality": "nicename"}
    for fam in ("vision", "air_quality"):
        for key, n in truth[fam].items():
            ent, year, month = key.split("/")
            if drop == (fam, key):
                n -= 1
            d = os.path.join(root, fam, f"{entity[fam]}={ent}", f"year={year}", f"month={month}")
            os.makedirs(d)
            pq.write_table(pa.table({"timestamp": list(range(n))}), os.path.join(d, "part-00000.parquet"))
    dl = os.path.join(root, "dead_letter", gen.UNKNOWN_TOPIC)
    os.makedirs(dl)
    with open(os.path.join(dl, "part-00000.txt"), "w") as fh:
        fh.write("x\n" * truth["dead_letter_lines"])


def test_lake_gate_passes_exact_counts_and_catches_a_dropped_row(tmp_path, catchup_truth):
    _write_lake(tmp_path / "ok", catchup_truth)
    assert check_lake(str(tmp_path / "ok"), str(tmp_path / "ok"), catchup_truth) is None
    key = sorted(catchup_truth["air_quality"])[0]
    _write_lake(tmp_path / "bad", catchup_truth, drop=("air_quality", key))
    err = check_lake(str(tmp_path / "ok"), str(tmp_path / "bad"), catchup_truth)
    assert err is not None and key in err
    assert lake_row_recall(str(tmp_path / "ok"), str(tmp_path / "ok"), catchup_truth) == 1.0
    assert lake_row_recall(str(tmp_path / "ok"), str(tmp_path / "bad"), catchup_truth) < 1.0


def test_one_failed_drain_moves_ops_ok_ratio_past_its_bound():
    """The ratio is the lowest phase's, so one failed drain among a
    handful is not diluted by thousands of correct stream messages."""
    from run import end_to_end

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bound = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}["ops_ok_ratio"]

    def outcomes(failed_drains: int) -> dict:
        drains, stream = Outcome(), Outcome()
        drains.attempted, drains.failed = 6, failed_drains
        stream.attempted = 12_000
        return {"ingest_catchup": drains, "stream_ingest": stream}

    healthy = end_to_end("lake_ingest", outcomes(0), 1.0, 1.0)["ops_ok_ratio"]
    one_failed = end_to_end("lake_ingest", outcomes(1), 1.0, 1.0)["ops_ok_ratio"]
    assert healthy == 1.0 and (healthy - one_failed) / healthy > bound


def test_stream_gate_catches_loss_and_a_duplicated_batch():
    sent = 400
    assert check_stream(list(range(sent)), sent) == (0, None)
    wrong, err = check_stream(list(range(sent)) + list(range(40, 80)), sent)
    assert wrong == 40 and "40 duplicated" in err
    wrong, err = check_stream(list(range(1, sent)), sent)
    assert wrong == 1 and "1 missing" in err


@pytest.fixture(scope="module")
def dedup_truth(tmp_path_factory):
    return gen.gen_llm_dedup(5, str(tmp_path_factory.mktemp("dedup")))


def _dedup_output(truth):
    survivors = set(truth["plain_survivors"]) | {min(f) for f in truth["families"]}
    return survivors, {tuple(p) for p in truth["injected_pairs"]}


def test_dedup_gate_passes_the_ideal_output(dedup_truth):
    survivors, pairs = _dedup_output(dedup_truth)
    assert check_dedup(survivors, pairs, dedup_truth) == (1.0, None)


def test_dedup_gate_catches_a_lost_family(dedup_truth):
    """A family whose pairs were found but whose duplicates all survive
    is a wrong output; one whose pairs LSH missed is not, and shows in
    the pair recall instead."""
    survivors, pairs = _dedup_output(dedup_truth)
    fam = dedup_truth["families"][0]
    recall, err = check_dedup(survivors | set(fam), pairs, dedup_truth)
    assert err is not None and "family" in err and recall == 1.0
    missed = {p for p in pairs if p[0] not in fam}
    recall, err = check_dedup(survivors | set(fam), missed, dedup_truth)
    assert err is None and recall < 1.0
    # finding almost no pairs is a defect, not chance
    recall, err = check_dedup(survivors | {d for f in dedup_truth["families"] for d in f}, set(), dedup_truth)
    assert err is not None and recall == 0.0
    # a member in no found pair must survive
    m = max(fam)
    recall, err = check_dedup(survivors, {p for p in pairs if m not in p}, dedup_truth)
    assert err is not None and str(m) in err


def test_dedup_gate_catches_a_surviving_duplicate_and_a_stray_pair(dedup_truth):
    survivors, pairs = _dedup_output(dedup_truth)
    group = dedup_truth["exact_groups"][0]
    assert check_dedup(survivors | {max(group)}, pairs, dedup_truth)[1] is not None
    a, b = dedup_truth["plain_survivors"][:2]
    assert check_dedup(survivors, pairs | {(min(a, b), max(a, b))}, dedup_truth)[1] is not None


def test_dedup_truth_pairs_are_near_duplicates(tmp_path):
    truth = gen.gen_llm_dedup(2, str(tmp_path))
    texts = dict(
        zip(*pq.read_table(tmp_path / "corpus.parquet").to_pydict().values())
    )
    assert all(gen.jaccard(texts[a], texts[b]) >= 0.75 for a, b in truth["injected_pairs"])


def test_ann_gate_catches_a_wrong_distance(tmp_path):
    truth = gen.gen_ann_search(3, str(tmp_path))
    corpus = pq.read_table(tmp_path / "corpus.parquet").column("embedding").combine_chunks()
    vecs = corpus.flatten().to_numpy().reshape(len(corpus), -1)
    q = np.load(tmp_path / "queries.npy")[0]
    ids = truth["topk"][0]
    exact = ((vecs[ids].astype(np.float64) - q) ** 2).sum(1)
    rows = list(zip(ids, exact.tolist()))
    assert check_answer(rows, q, vecs, truth["k"]) is None
    rows[3] = (rows[3][0], rows[3][1] * 1.01)
    assert check_answer(rows, q, vecs, truth["k"]) is not None
    assert check_answer(rows[:-1], q, vecs, truth["k"]) is not None
    # a PQ-only answer carries quantised distances: only order and ids are checked
    assert check_answer(rows, q, vecs, truth["k"], exact=False) is None
    assert check_answer(rows[::-1], q, vecs, truth["k"], exact=False) is not None


def test_cached_inputs_regenerate_after_an_interrupted_run(tmp_path):
    out, truth = gen.cached_inputs("stream_ingest", 1, str(tmp_path))
    os.remove(os.path.join(out, ".done"))
    os.remove(os.path.join(out, "messages.txt"))
    out2, truth2 = gen.cached_inputs("stream_ingest", 1, str(tmp_path))
    assert out2 == out and truth2 == truth and os.path.exists(os.path.join(out, "messages.txt"))
    with open(os.path.join(out, "truth.json")) as fh:
        assert json.load(fh) == truth


def test_metric_tables_match_benchmark_json():
    from run import END_TO_END, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _dead_letter_lines(root: str) -> dict[str, int]:
    """{topic: quarantined lines} of a dead-letter directory."""
    out = {}
    for topic in sorted(os.listdir(root)):
        out[topic] = 0
        for f in os.listdir(os.path.join(root, topic)):
            if f.startswith("part-"):
                with open(os.path.join(root, topic, f), "rb") as fh:
                    out[topic] += sum(1 for _ in fh)
    return out


def test_traced_and_untraced_drains_write_the_same_lake(tmp_path):
    """The traced run calls the drain's layers one at a time; it must
    write what ``cli.run_ingest_config`` writes."""
    pytest.importorskip("pyspark")
    from run import _prepare_environment, _stop_jvm
    from spans import Tracer
    from workloads import IngestCatchup, _lake_counts

    inputs, truth = gen.cached_inputs("ingest_catchup", 11, str(tmp_path / "cache"))
    work = str(tmp_path / "work")
    saved_env = dict(os.environ)
    conf = _prepare_environment(work)
    from utc_cuip_kafka_aws_connector_spark.session import get_spark

    lakes = {}
    try:
        spark = get_spark(extra_conf=conf)
        for traced in (False, True):
            os.makedirs(os.path.join(work, str(traced)))
            phase = IngestCatchup(inputs, truth, os.path.join(work, str(traced)), Tracer(traced))
            out, backup = phase._paths()
            (phase._drain_traced if traced else phase._drain)(spark, out, backup)
            assert check_lake(out, backup, truth) is None
            lakes[traced] = [
                _lake_counts(os.path.join(copy, fam)) for copy in (out, backup) for fam in ("vision", "air_quality")
            ] + [_dead_letter_lines(os.path.join(out, "dead_letter"))]
        assert phase._count_corrupt(spark) == truth["corrupt_lines"]
        spark.stop()
    finally:
        _stop_jvm()
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = None
    assert lakes[True] == lakes[False]
