"""Seeded input generator for the perfbench workloads.

Every table is written with pyarrow as one parquet file holding one row
group, the layout of the engine's test tables (see TESTDATA.md). The same
(workload, seed, seconds) always gives the same bytes: all randomness comes
from one numpy PCG64 stream per workload, and the writer options are fixed.

Shapes follow the sf0.1 tables the engine is tested on, as measured on them
(the numbers are in README.md, "Inputs"):
  documents(doc_id int64, text string, lang string, source string, n_chars int64)
    5,000 docs; 10..100 tokens, uniform; 30 terms, uniform; "dup" in 5 % of
    docs; lang en 41 %, de/es/fr/zh 15 % each, drawn independently of the
    text; source = src<doc_id % 20>; n_chars = len(text)
  embeddings(vec_id int64, embedding list<float>, label int32)
    2,000 unit-length 64-d vectors; labels uniform over 10, independent of
    the vector
  events(event_id int64, ts timestamp[us], user_id int64, event_type string,
         value double, props string)
    100,000 events over 30 days (139 an hour, Poisson); 1,500 users and 5
    types, uniform; value exponential with mean 50, 2 decimals;
    props '{"k": <0..99>}'
"""
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 corpus vocabulary: 30 common terms plus the rare "dup".
BASE_TERMS = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch"]
RARE_TERM = "dup"
RARE_DOC_FRAC = 0.05
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.412, 0.147, 0.147, 0.147, 0.147]
N_SOURCES = 20
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# classify: sf0.1's sizes. The corpus grown 4x (with a 4x vocabulary) and the
# embeddings 2x made a pass over the query list 32 s and set-up 68 s on 4
# cores, too long for the 22 runs a comparison takes.
CLASSIFY_DOCS = 5000
CLASSIFY_VECS = 2000
EMB_DIM = 64
EMB_LABELS = 10
# logs_stream: sf0.1's event shape and event-time density, cut into
# time-ordered files, each one event-time slice shuffled inside.
STREAM_USERS = 1500
STREAM_EVENTS_PER_H = 100_000 / (30 * 24)
STREAM_VALUE_MEAN = 50.0
STREAM_FILE_EVENTS = 1500
STREAM_FILES_PER_DRAIN = 4
# the untimed warm-up: three drains' worth, fed one drain at a time
STREAM_WARMUP_DRAINS = 3
# files for one drain per this many seconds of --seconds: more than a run can
# consume, since a drain (six micro-batches) takes over 1 s on 4 cores
STREAM_MIN_DRAIN_S = 0.5
STREAM_START_US = 1704067200 * 1_000_000   # 2024-01-01T00:00:00

WORKLOADS = ("classify", "logs_stream")


def _rng(workload, seed):
    digest = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy", use_dictionary=True, write_statistics=True)
    return {"file": os.path.basename(path), "rows": table.num_rows,
            "bytes": os.path.getsize(path),
            "row_groups": pq.ParquetFile(path).metadata.num_row_groups}


def _documents(rng, n_docs):
    """n_docs documents of 10..100 tokens drawn uniformly from BASE_TERMS,
    one token of RARE_DOC_FRAC of them replaced by RARE_TERM; the language
    is drawn independently of the text."""
    lens = rng.integers(10, 101, size=n_docs)
    toks = np.asarray(BASE_TERMS, dtype=object)[
        rng.integers(0, len(BASE_TERMS), size=int(lens.sum()))]
    rare = rng.random(n_docs) < RARE_DOC_FRAC
    texts = []
    pos = 0
    for i, n in enumerate(lens):
        words = list(toks[pos:pos + n])
        pos += n
        if rare[i]:
            words[int(rng.integers(0, n))] = RARE_TERM
        texts.append(" ".join(words))
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(list(langs), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n_vecs):
    """Unit-length vectors in uniformly random directions, each with a
    label drawn uniformly and independently of the vector."""
    vecs = rng.normal(size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, EMB_LABELS, size=n_vecs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), EMB_DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def _events(rng, first_id, t0_us, n):
    """n events arriving at sf0.1's rate from t0 on; returns the table, with
    its rows shuffled (out of order inside the file's event-time slice,
    never before it), and the slice's end."""
    gaps = rng.exponential(3600e6 / STREAM_EVENTS_PER_H, size=n)
    ts = t0_us + np.cumsum(gaps).astype(np.int64)
    order = rng.permutation(n)
    tbl = pa.table({
        "event_id": pa.array(first_id + np.arange(n, dtype=np.int64)[order]),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, STREAM_USERS, size=n).astype(np.int64)),
        "event_type": pa.array(list(np.asarray(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), size=n)]), pa.string()),
        "value": pa.array(np.round(rng.exponential(STREAM_VALUE_MEAN, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })
    return tbl, int(ts[-1]) + 1


def stream_plan(seconds):
    """File counts of the stream replay for a run of `seconds`: more drains
    than the run can consume, since it drains until `seconds` have passed."""
    return {"warmup_files": STREAM_WARMUP_DRAINS * STREAM_FILES_PER_DRAIN,
            "files_per_drain": STREAM_FILES_PER_DRAIN,
            "drains": max(4, math.ceil(seconds / STREAM_MIN_DRAIN_S)),
            "file_events": STREAM_FILE_EVENTS}


def generate(workload, seed, seconds, out_dir):
    """Write the workload's inputs under out_dir and return the manifest
    (sizes and layout) that the run output carries."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(workload, seed)
    tables = {}
    if workload == "classify":
        tables["documents"] = _write(_documents(rng, CLASSIFY_DOCS),
                                     os.path.join(out_dir, "documents.parquet"))
        tables["embeddings"] = _write(_embeddings(rng, CLASSIFY_VECS),
                                      os.path.join(out_dir, "embeddings.parquet"))
    else:
        plan = stream_plan(seconds)
        files = []
        t = STREAM_START_US
        n_replay = plan["drains"] * plan["files_per_drain"]
        # the warm-up files come first in event time; the untimed warm-up
        # feeds them to the twins before the replay starts
        for kind, count in (("warmup", plan["warmup_files"]), ("replay", n_replay)):
            sub = os.path.join(out_dir, kind)
            os.makedirs(sub, exist_ok=True)
            for i in range(count):
                tbl, t = _events(rng, len(files) * STREAM_FILE_EVENTS, t, STREAM_FILE_EVENTS)
                meta = _write(tbl, os.path.join(sub, f"{kind}-{i:05d}.parquet"))
                meta["dir"] = kind
                files.append(meta)
        tables["events"] = {"files": len(files), "rows": sum(f["rows"] for f in files),
                            "bytes": sum(f["bytes"] for f in files), "row_groups_per_file": 1,
                            "plan": plan}
    manifest = {"workload": workload, "seed": seed, "tables": tables}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

