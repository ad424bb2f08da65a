"""Seeded input generation for the benchmark workloads.

The benchmark never reads data from outside its checkout, so every input
table is generated here from ``--seed``: the same seed gives byte-equal
parquet files.  They follow the engine's table schema (``tables.TABLES``)
and the measured shape of the sf0.1 test data's ``documents`` and
``embeddings`` (``TESTDATA.md``; ``calibrate.py`` compares the two and
perfbench/README.md records the comparison): documents of 10-99 words drawn uniformly from a
30-word technical vocabulary, 5% near-duplicates (another document plus a
trailing `` dup`` token), 41% ``en`` and the rest split evenly over four
languages, 20 sources; embeddings are 64-d isotropic unit vectors with ten
labels independent of the vectors.  Game events for the streaming
workload come from the injector model in
``tests/fixtures/injector_sim.py``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05

# Row counts per scale.  "warm" is the sf0.001-sized set the set-up pass
# runs on; "sf0.1" matches the sf0.1 test data (TESTDATA.md).
SIZES = {
    "warm": {"documents": 500, "embeddings": 500},
    "sf0.1": {"documents": 5000, "embeddings": 2000},
}


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    n_dup = int(n * DUP_SHARE)
    dup_ids = rng.choice(n, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n), dup_ids)
    for d, o in zip(dup_ids, rng.choice(originals, n_dup)):
        texts[d] = texts[o] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n, dtype=np.int32)),
    })


GENERATORS = {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, seed: int, scale: str) -> dict[str, int]:
    """Write every table of ``SIZES[scale]`` as ``<out_dir>/<t>.parquet``;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for i, (name, n) in enumerate(sorted(SIZES[scale].items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(GENERATORS[name](rng, n),
                       os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = n
    return counts


def game_events(seed: int, n_events: int, events_per_sec: int,
                start_id: int = 0) -> list[dict]:
    """Injector-shaped events in arrival order: 15 live teams, robots
    clicking at 2x, one event in 600 late by 5-10 minutes."""
    from tests.fixtures.injector_sim import InjectorSim

    rows = InjectorSim(seed=seed).generate(start_id + n_events, events_per_sec)
    return rows[start_id:]


def write_chunk(path: str, rows: list[dict]) -> None:
    """One json-lines chunk file, written under a temporary name and
    renamed so the file source never lists a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in rows))
    os.rename(tmp, path)
