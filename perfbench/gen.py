"""Seeded input generators and their ground truth.

Each ``gen_<workload>(seed, out_dir)`` writes the inputs the program
under test receives plus ``truth.json``, a sidecar the benchmark
checks outputs against. Ground truth is computed here, in plain
Python/numpy, from how the inputs were built -- never by running the
package. Same seed, byte-identical files; generation uses no clock.

Only numpy, pyarrow and the standard library are imported, so the
generators run (and are tested) without a Spark session.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np

VISION_TOPIC = "cuip_vision_events"
AIR_TOPICS = tuple(
    f"{site}_AIR_QUALITY"
    for site in ("MLK_CENTRAL", "MLK_EAST", "MLK_WEST", "GEORGIA", "DOUGLAS", "HOUSTON", "PEEPLES")
)
UNKNOWN_TOPIC = "cuip_traffic_signals"
CAMERAS = tuple(f"mlk-central-cam-{i}" for i in range(1, 5))
SENSORS = tuple(f"sensor-{i}" for i in range(1, 8))
LABELS = ("car", "bus", "truck", "person", "bike")

# Closed-open month windows the lake must respect (FIXTURES.md §B1).
_SPAN_START_MS = int(dt.datetime(2024, 1, 20, tzinfo=dt.timezone.utc).timestamp() * 1000)
_SPAN_END_MS = int(dt.datetime(2024, 3, 10, tzinfo=dt.timezone.utc).timestamp() * 1000)
_BOUNDARY_MS = tuple(
    int(dt.datetime(2024, m, 1, tzinfo=dt.timezone.utc).timestamp() * 1000) + off
    for m in (2, 3)
    for off in (-1, 0)
)

# Sizes. The catch-up backlog (14,100 messages) is sized so one warm
# drain takes about two seconds on a 4-core host: long enough that the
# write, not per-job fixed cost, dominates, short enough for half a
# dozen drains per run, whose median is reported.
INGEST_VISION_ROWS = 7_200
INGEST_AIR_ROWS_PER_TOPIC = 900
INGEST_UNKNOWN_ROWS = 600
STREAM_MSGS_PER_FILE = 40
STREAM_FILES = 600  # 30 s at the stream's 20 files/s; a run sends a prefix
DEDUP_SINGLETONS = 800
DEDUP_FAMILIES = 120
DEDUP_EXACT_GROUPS = 80
DEDUP_JUNK = 80
DEDUP_DISTRACTORS = 40
ANN_ROWS = 10_000
ANN_DIM = 32
ANN_CLUSTERS = 40
ANN_LATENT = 4
ANN_QUERIES = 200
ANN_K = 10


def _fresh(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)


def _write_truth(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)


def _month_key(ts_ms: int) -> tuple[int, int]:
    d = dt.datetime.fromtimestamp(ts_ms / 1000, tz=dt.timezone.utc)
    return d.year, d.month


def _timestamps(rng: np.random.Generator, n: int) -> list[int | None]:
    """Event times over ~7 weeks across two month boundaries, with the
    FIXTURES.md §B drift: ~5% missing, a few epoch-zero, and rows
    exactly on either side of each month boundary."""
    ts = rng.integers(_SPAN_START_MS, _SPAN_END_MS, size=n).tolist()
    kind = rng.random(n)
    out: list[int | None] = []
    for i in range(n):
        if kind[i] < 0.05:
            out.append(None)
        elif kind[i] < 0.055:
            out.append(0)
        elif kind[i] < 0.065:
            out.append(_BOUNDARY_MS[i % len(_BOUNDARY_MS)])
        else:
            out.append(ts[i])
    return out


def _dump(rec: dict) -> str:
    return json.dumps(rec, separators=(",", ":"))


def gen_ingest_catchup(seed: int, out_dir: str) -> dict:
    """A Kafka backlog as one JSON-lines file per topic plus the
    reference-shaped topic config. Truth: per-(entity, year, month)
    row counts of each lake copy, the dead-letter line count and the
    number of corrupt JSON lines."""
    _fresh(out_dir)
    rng = np.random.default_rng([seed, 1])
    inputs = os.path.join(out_dir, "incoming")
    os.makedirs(inputs)
    vision: dict[str, int] = {}
    air: dict[str, int] = {}

    def count(table: dict, entity: str, ts: int) -> None:
        y, m = _month_key(ts)
        key = f"{entity}/{y}/{m}"
        table[key] = table.get(key, 0) + 1

    n = INGEST_VISION_ROWS
    ts = _timestamps(rng, n)
    cams = rng.integers(0, len(CAMERAS), size=n)
    n_loc = rng.integers(0, 6, size=n)
    no_hits = rng.random(n) < 0.20
    bad = rng.random(n) < 0.002
    with open(os.path.join(inputs, f"{VISION_TOPIC}.jsonl"), "w") as fh:
        for i in range(n):
            if bad[i]:  # corrupt JSON: parsed as nulls (or a 1970 time) and dropped
                fh.write('{"timestamp": 17, "camera_id": "broken\n')
                continue
            locs = [
                {"x": round(float(x), 2), "y": round(float(y), 2), "label": LABELS[int(lab)]}
                for x, y, lab in zip(
                    rng.random(n_loc[i]) * 1920,
                    rng.random(n_loc[i]) * 1080,
                    rng.integers(0, len(LABELS), size=n_loc[i]),
                )
            ]
            rec = {"camera_id": CAMERAS[cams[i]], "locations": locs}
            if ts[i] is not None:
                rec["timestamp"] = ts[i]
            if not no_hits[i]:
                rec["hit_counts"] = len(locs)
            fh.write(_dump(rec) + "\n")
            if ts[i]:  # None and epoch-zero rows are dropped
                count(vision, CAMERAS[cams[i]], ts[i])

    for topic in AIR_TOPICS:
        n = INGEST_AIR_ROWS_PER_TOPIC
        ts = _timestamps(rng, n)
        names = rng.integers(0, len(SENSORS), size=n)
        null_name = rng.random(n) < 0.05
        vals = rng.random((n, 4)) * np.array([80.0, 150.0, 40.0, 100.0])
        with open(os.path.join(inputs, f"{topic}.jsonl"), "w") as fh:
            for i in range(n):
                name = None if null_name[i] else SENSORS[names[i]]
                rec = {
                    "nicename": name,
                    "pm2_5": round(float(vals[i, 0]), 3),
                    "pm10": round(float(vals[i, 1]), 3),
                    "temperature": round(float(vals[i, 2]), 3),
                    "humidity": round(float(vals[i, 3]), 3),
                }
                if ts[i] is not None:
                    rec["timestamp"] = ts[i]
                fh.write(_dump(rec) + "\n")
                if ts[i] and name is not None:
                    count(air, name, ts[i])

    with open(os.path.join(inputs, f"{UNKNOWN_TOPIC}.jsonl"), "w") as fh:
        for i in range(INGEST_UNKNOWN_ROWS):
            fh.write(_dump({"timestamp": _SPAN_START_MS + i, "signal": int(rng.integers(0, 9))}) + "\n")

    topics = [VISION_TOPIC, *AIR_TOPICS, UNKNOWN_TOPIC]
    config = {"kafka": [{"bootstrap-servers": "localhost:9092", "group-id": "perfbench", "topics": topics}]}
    with open(os.path.join(out_dir, "config.yaml"), "w") as fh:
        json.dump(config, fh)  # JSON is valid YAML
    lines = INGEST_VISION_ROWS + INGEST_AIR_ROWS_PER_TOPIC * len(AIR_TOPICS) + INGEST_UNKNOWN_ROWS
    truth = {
        "messages": lines,
        "input_bytes": sum(
            os.path.getsize(os.path.join(inputs, f)) for f in sorted(os.listdir(inputs))
        ),
        "vision": dict(sorted(vision.items())),
        "air_quality": dict(sorted(air.items())),
        "dead_letter_lines": INGEST_UNKNOWN_ROWS,
        "corrupt_lines": int(bad.sum()),
    }
    _write_truth(out_dir, truth)
    return truth


def gen_stream_ingest(seed: int, out_dir: str) -> dict:
    """Vision messages for the open-loop stream, one line per message
    with the ``timestamp`` left as a ``%d`` slot the sender fills with
    the creation time. ``hit_counts`` carries a unique sequence number
    (every message has it, so it survives normalisation unchanged):
    the exactly-once row set is ``{0 .. sent-1}``."""
    _fresh(out_dir)
    rng = np.random.default_rng([seed, 2])
    n = STREAM_FILES * STREAM_MSGS_PER_FILE
    cams = rng.integers(0, len(CAMERAS), size=n)
    n_loc = rng.integers(1, 5, size=n)
    with open(os.path.join(out_dir, "messages.txt"), "w") as fh:
        for i in range(n):
            locs = [
                {"x": round(float(x), 2), "y": round(float(y), 2), "label": LABELS[int(lab)]}
                for x, y, lab in zip(
                    rng.random(n_loc[i]) * 1920,
                    rng.random(n_loc[i]) * 1080,
                    rng.integers(0, len(LABELS), size=n_loc[i]),
                )
            ]
            body = _dump({"camera_id": CAMERAS[cams[i]], "locations": locs, "hit_counts": i})
            fh.write('{"timestamp":%d,' + body[1:] + "\n")
    truth = {"messages_per_file": STREAM_MSGS_PER_FILE, "files": STREAM_FILES}
    _write_truth(out_dir, truth)
    return truth


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
    return sorted(words)


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    if len(toks) < n:
        return {tuple(toks)}
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_llm_dedup(seed: int, out_dir: str) -> dict:
    """A document corpus (parquet: doc_id, text) with known structure:
    singletons, exact-duplicate groups, near-duplicate families (a
    base plus 1-3 variants with a few percent of words replaced, so
    3-shingle Jaccard to the base stays >= 0.75), distractor pairs
    below the near-duplicate threshold, and junk documents that fail
    the quality filter. Ids are shuffled so no group's survivor is
    predictable from position.

    Truth: the exact groups, the families and their injected (base,
    variant) pairs, and the survivors every correct run keeps: the
    plain documents and each exact group's minimum id. Which family
    members survive depends on which pairs LSH finds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _fresh(out_dir)
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 4000)
    stop = ["the", "a", "of", "and", "to", "in", "is", "it"]

    def doc() -> list[str]:
        n = int(rng.integers(80, 160))
        words = [vocab[i] for i in rng.integers(0, len(vocab), size=n)]
        for pos in rng.integers(0, n, size=n // 5):
            words[pos] = stop[int(rng.integers(0, len(stop)))]
        return words

    texts: list[str] = []
    kinds: list[tuple] = []  # ("single",) | ("exact", g) | ("family", f, is_base) | ("junk",)
    for _ in range(DEDUP_SINGLETONS):
        texts.append(" ".join(doc()))
        kinds.append(("single",))
    for g in range(DEDUP_EXACT_GROUPS):
        t = " ".join(doc())
        for _ in range(int(rng.integers(2, 4))):
            texts.append(t)
            kinds.append(("exact", g))
    for f in range(DEDUP_FAMILIES):
        base = doc()
        members = [" ".join(base)]
        for _ in range(int(rng.integers(1, 4))):
            while True:
                var = list(base)
                n_edit = max(1, int(len(var) * rng.uniform(0.02, 0.06)))
                for pos in rng.choice(len(var), size=n_edit, replace=False):
                    var[pos] = vocab[int(rng.integers(0, len(vocab)))]
                t = " ".join(var)
                if jaccard(members[0], t) >= 0.75 and t not in members:
                    break
            members.append(t)
        for j, t in enumerate(members):
            texts.append(t)
            kinds.append(("family", f, j == 0))
    # Distractor pairs: similar (3-shingle Jaccard 0.3-0.45) but below
    # the 0.5 threshold, so LSH proposes some of them and verification
    # must reject every one. Both documents are expected survivors.
    for _ in range(DEDUP_DISTRACTORS):
        base = doc()
        while True:
            var = list(base)
            for pos in rng.choice(len(var), size=int(len(var) * rng.uniform(0.15, 0.22)), replace=False):
                var[pos] = vocab[int(rng.integers(0, len(vocab)))]
            if 0.3 <= jaccard(" ".join(base), " ".join(var)) < 0.45:
                break
        for words in (base, var):
            texts.append(" ".join(words))
            kinds.append(("single",))
    for _ in range(DEDUP_JUNK):
        n = int(rng.integers(3, 12))
        texts.append(" ".join(str(int(v)) for v in rng.integers(0, 10**6, size=n)))
        kinds.append(("junk",))

    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    exact_groups: dict[int, list[int]] = {}
    families: dict[int, list[int]] = {}
    family_base: dict[int, int] = {}
    survivors: list[int] = []
    for doc_id, kind in zip(ids.tolist(), kinds):
        if kind[0] == "single":
            survivors.append(doc_id)
        elif kind[0] == "exact":
            exact_groups.setdefault(kind[1], []).append(doc_id)
        elif kind[0] == "family":
            families.setdefault(kind[1], []).append(doc_id)
            if kind[2]:
                family_base[kind[1]] = doc_id
    survivors += [min(g) for g in exact_groups.values()]
    pairs = sorted(
        tuple(sorted((family_base[f], m))) for f, ms in families.items() for m in ms if m != family_base[f]
    )
    order = np.argsort(ids)
    table = pa.table(
        {"doc_id": pa.array(ids[order]), "text": pa.array([texts[i] for i in order])}
    )
    path = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(table, path, compression="snappy")
    truth = {
        "docs": len(texts),
        "input_bytes": os.path.getsize(path),
        "exact_groups": sorted(sorted(g) for g in exact_groups.values()),
        "families": sorted(sorted(ms) for ms in families.values()),
        "injected_pairs": [list(p) for p in pairs],
        "plain_survivors": sorted(survivors),
    }
    _write_truth(out_dir, truth)
    return truth


def gen_ann_search(seed: int, out_dir: str) -> dict:
    """A clustered float32 embedding corpus (parquet: vec_id,
    embedding) and query vectors drawn near corpus points. Truth: the
    exact top-k ids of every query by numpy brute force (float64)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _fresh(out_dir)
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(0.0, 4.0, size=(ANN_CLUSTERS, ANN_DIM))
    which = rng.integers(0, ANN_CLUSTERS, size=ANN_ROWS)
    # Within a cluster, points vary mostly along a few directions (low
    # intrinsic dimension, as real embeddings do) plus a little
    # isotropic noise.
    basis = rng.normal(size=(ANN_CLUSTERS, ANN_LATENT, ANN_DIM))
    basis /= np.linalg.norm(basis, axis=2, keepdims=True)
    latent = rng.normal(size=(ANN_ROWS, ANN_LATENT))
    vecs = (
        centers[which]
        + np.einsum("nl,nld->nd", latent, basis[which])
        + rng.normal(0.0, 0.2, size=(ANN_ROWS, ANN_DIM))
    ).astype(np.float32)
    pick = rng.integers(0, ANN_ROWS, size=ANN_QUERIES)
    queries = (vecs[pick] + rng.normal(0.0, 0.1, size=(ANN_QUERIES, ANN_DIM))).astype(np.float32)
    v64 = vecs.astype(np.float64)
    q64 = queries.astype(np.float64)
    d2 = (q64**2).sum(1)[:, None] - 2 * q64 @ v64.T + (v64**2).sum(1)[None, :]
    top = np.argsort(d2, axis=1, kind="stable")[:, :ANN_K]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), ANN_DIM).cast(pa.list_(pa.float32()))
    path = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(ANN_ROWS, dtype=np.int64)), "embedding": emb}),
        path,
        compression="snappy",
    )
    np.save(os.path.join(out_dir, "queries.npy"), queries)
    truth = {
        "k": ANN_K,
        "input_bytes": os.path.getsize(path),
        "topk": top.tolist(),
    }
    _write_truth(out_dir, truth)
    return truth


GENERATORS = {
    "ingest_catchup": gen_ingest_catchup,
    "stream_ingest": gen_stream_ingest,
    "llm_dedup": gen_llm_dedup,
    "ann_search": gen_ann_search,
}


def cached_inputs(phase: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Inputs for (phase, seed), generated once per checkout and
    version of this file. A ``.done`` marker written last makes an
    interrupted generation regenerate instead of being reused
    half-written."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out_dir = os.path.join(cache_root, f"{phase}-{seed}-{version}")
    done = os.path.join(out_dir, ".done")
    if not os.path.exists(done):
        GENERATORS[phase](seed, out_dir)
        open(done, "w").close()
    with open(os.path.join(out_dir, "truth.json")) as fh:
        return out_dir, json.load(fh)
