"""Batch workload ``llm_cold``: registered queries, closed loop, one client.

Seven text, dedup, ANN and classify queries on sf0.1-sized ``documents``
and ``embeddings``.  Every timed pass starts from ``clear_session_memos()``,
so memo builds (including the k-means and PQ codebook training) are
inside the timing; a clear that leaves entries behind stops the run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import common
import datagen
import sparkstats

# Every memo family the text/ANN/classify paths build (winnow prints,
# minhash signatures, k-means and PQ codebooks, the NB classifier), the
# salted fuzzy join, and an LSH query.
LLM_COLD = (
    "text_winnow_fingerprints", "dedup_minhash_pairs", "dedup_fuzzy_pairs",
    "sim_lsh_topk", "sim_ivf_topk", "sim_pq_topk", "text_quality_nb_classify",
)
N_SETUPS = 2
# At least one timed pass, however slow the host.
MIN_PASSES = 1
VERIFY_WORKERS = 2

# Per-query layer counters summed over one pass.
LAYER_KEYS = (
    "queries.build_s", "catalyst.plan_s", "queries.exec_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "python.exec_nodes",
    "memo.build_s",
)
# Layers this workload does not have.
NOT_HERE = (
    "gen.late_ms", "self.stream_s", "streaming.batches",
    "streaming.batch_ms_p50", "streaming.plan_ms", "streaming.add_batch_ms",
    "streaming.commit_ms", "streaming.state_rows", "streaming.state_mb",
    "streaming.sink_s", "streaming.lag_max_s",
)


class ColdMemoError(RuntimeError):
    """``clear_session_memos()`` left entries behind: the pass would be
    timed warm."""


def _reason(e: BaseException) -> str:
    lines = str(e).splitlines() or [""]
    return f"{type(e).__name__}: {lines[0][:200]}"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clear_memos() -> None:
    from beam_scala_examples_spark.session import (
        clear_session_memos,
        memo_snapshot,
    )

    clear_session_memos()
    left = memo_snapshot()
    if left:
        raise ColdMemoError(f"memos survived clear_session_memos(): {left}")


def _memo_entries() -> int:
    from beam_scala_examples_spark.session import memo_snapshot

    return sum(memo_snapshot().values())


class BatchRun:
    def __init__(self, seed: int, seconds: int, tracer: common.Tracer):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.names = LLM_COLD
        self.work = os.path.join(common.WORK, f"llm_cold-{seed}")
        self.main_dir = os.path.join(self.work, "sf0.1")
        self.warm_dir = os.path.join(self.work, "warm")
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.rows: dict = {}
        self.profile: list[dict] = []
        self.verify_s: dict[str, float] = {}
        self.spark = None

    def generate(self) -> float:
        t0 = time.perf_counter()
        shutil.rmtree(self.work, ignore_errors=True)
        self.rows = {
            "sf0.1": datagen.write_tables(self.main_dir, self.seed, "sf0.1"),
            "warm": datagen.write_tables(self.warm_dir, self.seed, "warm"),
        }
        return time.perf_counter() - t0

    def setup(self, traced_index: int | None) -> tuple[list, list, list]:
        """``get_spark`` plus the warm pass, ``N_SETUPS`` times, each in a
        fresh JVM, so every set-up pays the JVM and py4j launch a run of
        the program pays.  Set-up ``traced_index`` runs its warm pass
        through the tracing path."""
        from beam_scala_examples_spark.queries import QUERIES

        totals, starts, warms = [], [], []
        for i in range(N_SETUPS):
            if self.spark is not None:
                _clear_memos()
                common.stop_jvm(self.spark)
            traced = i == traced_index
            t0 = time.perf_counter()
            self.spark = common.start_session("perfbench-llm_cold")
            t1 = time.perf_counter()
            _clear_memos()
            with self._span(traced, "setup", index=i):
                for name in self.names:
                    if traced:
                        self._traced_query(QUERIES[name], name, f"setup{i}",
                                           self.warm_dir, memo_build=False)
                    else:
                        _noop(QUERIES[name](self.spark, self.warm_dir))
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            totals.append(t2 - t0)
        return totals, starts, warms

    def _span(self, traced: bool, name: str, **attrs):
        return (self.tracer.span(name, **attrs) if traced
                else contextlib.nullcontext())

    def check_outputs(self) -> None:
        """Untimed verification execution of every query after the timed
        passes (on the memos the last pass built), each compared with its
        DuckDB oracle over the same input directory by the repo's parity
        harness (``tests/oracle_harness``)."""
        from beam_scala_examples_spark.queries import ORACLE, QUERIES
        from tests.oracle_harness import compare

        # the harness's duck_connect, over the tables this workload has
        con = duckdb.connect()
        for t in self.rows["sf0.1"]:
            path = os.path.join(self.main_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

        def check(name: str) -> tuple[bool, str, float]:
            t0 = time.perf_counter()
            cur = con.cursor()
            try:
                ok, msg = compare(QUERIES[name](self.spark, self.main_dir),
                                  cur, ORACLE[name])
            except Exception as e:  # counted and named, never excluded
                ok, msg = False, _reason(e)
            finally:
                cur.close()
            return ok, msg, time.perf_counter() - t0

        # The memos are built, so the checks only read them and can run
        # side by side: one query's DuckDB oracle overlaps another's Spark
        # job.  Untimed, so the overlap costs no accuracy.
        with ThreadPoolExecutor(max_workers=VERIFY_WORKERS) as pool:
            results = list(zip(self.names, pool.map(check, self.names)))
        con.close()
        for name, (ok, msg, secs) in results:
            self.attempted += 1
            self.verify_s[name] = secs
            if not ok:
                self.failures[f"verify:{name}"] = msg[:300]

    def timed_passes(self, traced: bool, label: str,
                     min_passes: int = 1) -> dict:
        """Closed-loop whole passes until ``seconds`` have elapsed, at
        least ``min_passes``."""
        from beam_scala_examples_spark.queries import QUERIES

        lat: list[float] = []
        pass_s: list[float] = []
        per_pass: list[dict] = []
        retained: list[tuple[float, dict]] = []
        t_start = time.perf_counter()
        while (len(pass_s) < min_passes
               or time.perf_counter() - t_start < self.seconds):
            n = len(pass_s)
            layer = dict.fromkeys(LAYER_KEYS, 0.0)
            extra = 0.0
            with self._span(traced, "pass", phase=label, index=n):
                p0 = time.perf_counter()
                _clear_memos()
                for name in self.names:
                    self.attempted += 1
                    try:
                        if traced:
                            q_lat, q_layer, q_extra = self._traced_query(
                                QUERIES[name], name, f"{label}{n}",
                                self.main_dir, memo_build=True)
                            extra += q_extra
                            for k, v in q_layer.items():
                                layer[k] += v
                        else:
                            q0 = time.perf_counter()
                            _noop(QUERIES[name](self.spark, self.main_dir))
                            q_lat = time.perf_counter() - q0
                        lat.append(q_lat)
                    except ColdMemoError:
                        raise
                    except Exception as e:  # counted and named
                        self.failures[f"{label}{n}:{name}"] = _reason(e)
                pass_s.append(time.perf_counter() - p0 - extra)
            # untimed: memory kept with this pass's memos in place
            retained.append(common.retained_mb(self.spark))
            if traced:
                layer["memo.entries"] = _memo_entries()
                layer["memo.cached_mb"] = sparkstats.cached_mb(self.spark)
                per_pass.append(layer)
        return {"latencies": lat, "pass_s": pass_s, "per_pass": per_pass,
                "retained": max(retained, key=lambda r: r[0])}

    def _traced_query(self, fn, name: str, tag: str, sf_dir: str,
                      memo_build: bool):
        """One execution split into build, plan and exec spans, with the
        exact job/stage/task counts of its job group.  With
        ``memo_build``, a query that added memo entries runs once more
        warm, and the difference is its memo build time."""
        sc = self.spark.sparkContext
        group = f"perfbench:{tag}:{name}"
        sc.setJobGroup(group, name, False)
        before = _memo_entries()
        first_exec = sparkstats.sql_executions(self.spark)
        try:
            with self.tracer.span("query", query=name):
                q0 = time.perf_counter()
                with self.tracer.span("build"):
                    df = fn(self.spark, sf_dir)
                b1 = time.perf_counter()
                with self.tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                p1 = time.perf_counter()
                with self.tracer.span("exec"):
                    _noop(df)
                e1 = time.perf_counter()
                stats = sparkstats.group_stats(self.spark, group)
                py_nodes = sparkstats.python_nodes_since(self.spark,
                                                         first_exec)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        layer = {
            "queries.build_s": b1 - q0,
            "catalyst.plan_s": p1 - b1,
            "queries.exec_s": e1 - p1,
            "python.exec_nodes": py_nodes,
            **{f"spark.{k}": v for k, v in stats.items()
               if f"spark.{k}" in LAYER_KEYS},
        }
        extra = 0.0
        if memo_build and _memo_entries() > before:
            with self.tracer.span("memo_rerun", query=name):
                w0 = time.perf_counter()
                _noop(fn(self.spark, sf_dir))
                extra = time.perf_counter() - w0
            layer["memo.build_s"] = max((e1 - q0) - extra, 0.0)
        self.profile.append({"query": name, "tag": tag, "s": e1 - q0,
                             **layer})
        return e1 - q0, layer, extra

    def scan_floor(self) -> float:
        """Noop scan of every input table through ``tables.load``."""
        from beam_scala_examples_spark.tables import load

        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            for t in self.rows["sf0.1"]:
                _noop(load(self.spark, self.main_dir, t))
            reps.append(time.perf_counter() - t0)
        return common.median(reps)


def _e2e(setup_s: float, timed: dict) -> tuple[dict, dict]:
    lat_ms = [x * 1e3 for x in timed["latencies"]]
    tail = common.tail(lat_ms)
    return {
        "setup_s": setup_s,
        "throughput_per_s": len(lat_ms) / sum(timed["pass_s"]),
        "latency_p50_ms": common.median(lat_ms),
        "latency_tail_ms": tail["value"],
        "retained_mb": timed["retained"][0],
    }, tail


def run(seed: int, seconds: int, trace: bool) -> dict:
    """Untraced: set-ups, the timed passes, then the output check.
    Traced: the same, with set-up 2 and one more phase of passes run
    through the tracing path; the traced minus the untraced figures are
    the tracing overhead."""
    tracer = common.Tracer(trace)
    r = BatchRun(seed, seconds, tracer)
    layers = None
    with common.RssSampler() as rss:
        gen_s = r.generate()
        try:
            setups, starts, warms = r.setup(1 if trace else None)
            timed = r.timed_passes(traced=False, label="pass",
                                   min_passes=MIN_PASSES)
            rss_untraced = rss.sample_peak_mb()
            rss_by_process = dict(rss.peak_by_process)
            if trace:
                traced = r.timed_passes(traced=True, label="traced",
                                        min_passes=len(timed["pass_s"]))
                e_un, _ = _e2e(setups[0], timed)
                e_tr, _ = _e2e(setups[1], traced)
                layers = _layers(tracer, traced, e_un, e_tr)
                layers.update({
                    "session.start_s": common.median(starts),
                    "session.warm_s": common.median(warms),
                    "gen.input_s": gen_s,
                    "tables.scan_s": r.scan_floor(),
                    "mem.peak_rss_mb": rss_untraced,
                })
            r.check_outputs()
        finally:
            with contextlib.suppress(ColdMemoError):
                _clear_memos()
            if r.spark is not None:
                common.stop_jvm(r.spark)
    e2e, tail = _e2e(common.median(setups), timed)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": r.attempted,
        "failures": r.failures,
        "detail": {
            "peak_mb_by_process": rss_by_process,
            "retained_mb_parts": timed["retained"][1],
            "workload": "llm_cold", "loop": "closed", "clients": 1,
            "seed": seed, "cores": common.cores(), "gen_s": gen_s,
            "setups_s": setups, "passes": len(timed["pass_s"]),
            "queries": list(r.names), "latency_tail": tail,
            "rows": r.rows, "verify_s": r.verify_s,
            "profile": r.profile,
        },
        "spans": tracer.spans,
    }


def _layers(tracer, traced: dict, e_un: dict, e_tr: dict) -> dict:
    per = traced["per_pass"]
    out = {k: common.median([p[k] for p in per]) for k in per[0]}
    wall = common.median(traced["pass_s"])
    out["spark.cpu_util"] = out["spark.executor_cpu_s"] / (
        wall * common.cores())
    for k in e_un:
        out[f"trace.overhead.{k}"] = e_tr[k] - e_un[k]
    self_t = tracer.self_times()
    out["self.pass_s"] = self_t.get("pass", 0.0)
    out["self.query_s"] = self_t.get("query", 0.0)
    out.update(dict.fromkeys(NOT_HERE, 0.0))
    return out
