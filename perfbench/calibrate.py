"""Compare the generated ``llm_cold`` inputs with a reference corpus.

    python3 perfbench/calibrate.py --reference DIR [--seeds 1,2,3] [--queries]

``DIR`` holds ``documents.parquet`` and ``embeddings.parquet`` in the
engine's table schema (for example the sf0.1 test data, ``TESTDATA.md``).  For
the reference and for the inputs ``datagen`` writes from each seed, it
prints the properties the workload's text, dedup and ANN queries are
sensitive to: vocabulary, document length, duplicate share, language mix,
the fuzzy join's (lang, length band) blocks and candidate pairs, and the
norm, label and neighbour structure of the embeddings.  With
``--queries`` it also runs the workload's queries on each corpus (after a
warm pass, from cleared memos, two passes) and prints each query's median
time and output row count.  Not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import batch  # noqa: E402
import common  # noqa: E402
import datagen  # noqa: E402


def corpus_stats(sf_dir: str) -> dict:
    con = duckdb.connect()
    docs = f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    out = dict(zip(
        ("docs", "words_mean", "words_p5", "words_p50", "words_p95",
         "chars_p50", "dup_suffix_share", "repeated_texts", "sources"),
        con.sql(f"""
            SELECT count(*), avg(w), quantile_cont(w, 0.05),
                   quantile_cont(w, 0.5), quantile_cont(w, 0.95),
                   quantile_cont(n_chars, 0.5),
                   avg((text LIKE '% dup')::INT),
                   count(*) - count(DISTINCT text), count(DISTINCT source)
            FROM (SELECT *, len(string_split(text, ' ')) AS w FROM {docs})
        """).fetchone()))
    out["vocab"] = con.sql(
        f"SELECT count(DISTINCT t) FROM (SELECT unnest(string_split(text, ' '))"
        f" AS t FROM {docs})").fetchone()[0]
    out["lang_share"] = {k: round(v, 4) for k, v in con.sql(
        f"SELECT lang, count(*) / (SELECT count(*) FROM {docs}) FROM {docs}"
        " GROUP BY lang ORDER BY lang").fetchall()}
    out.update(zip(("fuzzy_blocks", "fuzzy_max_block", "fuzzy_candidate_pairs"),
                   con.sql(f"""
            SELECT count(*), max(n), sum(n * (n - 1) // 2)
            FROM (SELECT count(*) AS n FROM {docs}
                  GROUP BY lang, n_chars // 64)""").fetchone()))
    emb = con.sql("SELECT embedding, label FROM "
                  f"'{os.path.join(sf_dir, 'embeddings.parquet')}'").fetchnumpy()
    con.close()
    x = np.stack(emb["embedding"]).astype(np.float64)
    labels = np.asarray(emb["label"])
    norms = np.linalg.norm(x, axis=1)
    xn = x / norms[:, None]
    cos = xn @ xn.T
    same = labels[:, None] == labels[None, :]
    off = ~np.eye(len(x), dtype=bool)
    np.fill_diagonal(cos, -1.0)
    counts = np.bincount(labels)
    out.update({
        "vectors": len(x), "dim": x.shape[1],
        "norm_mean": float(norms.mean()), "norm_sd": float(norms.std()),
        "labels": int((counts > 0).sum()),
        "label_rows_min": int(counts.min()), "label_rows_max": int(counts.max()),
        "label_centroid_norm": float(np.mean(
            [np.linalg.norm(xn[labels == k].mean(0)) for k in np.unique(labels)])),
        "cos_within_label": float(cos[same & off].mean()),
        "cos_across_label": float(cos[~same].mean()),
        "nn_cos_p50": float(np.median(cos.max(axis=1))),
    })
    return {k: round(v, 4) if isinstance(v, float) else v
            for k, v in out.items()}


def query_profile(spark, sf_dir: str, passes: int = 2) -> dict:
    """Median time (s) and output rows of each workload query, from
    cleared memos, after one warm pass."""
    from beam_scala_examples_spark.queries import QUERIES

    for name in batch.LLM_COLD:
        batch._noop(QUERIES[name](spark, sf_dir))
    times: dict[str, list[float]] = {n: [] for n in batch.LLM_COLD}
    for _ in range(passes):
        batch._clear_memos()
        for name in batch.LLM_COLD:
            t0 = time.perf_counter()
            batch._noop(QUERIES[name](spark, sf_dir))
            times[name].append(time.perf_counter() - t0)
    rows = {n: QUERIES[n](spark, sf_dir).count() for n in batch.LLM_COLD}
    batch._clear_memos()
    return {n: {"s": round(common.median(times[n]), 3), "rows": rows[n]}
            for n in batch.LLM_COLD}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reference", required=True)
    p.add_argument("--seeds", default="1,2,3")
    p.add_argument("--queries", action="store_true")
    a = p.parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(common.WORK, "calibrate")
    dirs = {"reference": a.reference}
    for seed in (int(s) for s in a.seeds.split(",")):
        d = os.path.join(work, f"seed{seed}")
        datagen.write_tables(d, seed, "sf0.1")
        dirs[f"seed{seed}"] = d
    try:
        report = {name: {"stats": corpus_stats(d)} for name, d in dirs.items()}
        if a.queries:
            spark = common.start_session("perfbench-calibrate")
            try:
                for name, d in dirs.items():
                    report[name]["queries"] = query_profile(spark, d)
            finally:
                common.stop_jvm(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
