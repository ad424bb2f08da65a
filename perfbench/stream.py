"""Streaming workload ``stream_game``.

Injector-shaped game events (``tests/fixtures/injector_sim.py``) arrive as
json-lines chunk files and feed three concurrent queries:
``leaderboard.team_scores`` (update mode, watermark),
``sessions.user_sessions`` (append mode) and
``gamestats.SpamFilteredTeamScoresSink`` (``foreachBatch`` with parquet
writes and read-back).

The queries run with no trigger interval: each starts its next
micro-batch as soon as the previous one ends and new files are there.
Phase 1 is an open loop: ``gen_stream.py`` writes files on a fixed
schedule, and each file is timed from its due time to the end of the
micro-batch that consumed it, per query; batches are mapped to files
through each query's checkpoint (offset and source logs).  The first
``SETTLE_S`` seconds of files are not timed (query start-up).  Phase 2
drains a backlog dropped in ``BURSTS`` parts (closed loop): the median
events per second of the bursts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

import common
import datagen
import sparkstats
from gen_stream import chunk_name

EVENTS_PER_SEC = 50          # injector event-time rate
BACKLOG_FILES = 128          # drained in ...
BACKLOG_EVENTS_PER_FILE = 1000
BURSTS = 4                   # ... four bursts of 32
MAX_FILES_PER_TRIGGER = 16
OPEN_PERIOD_S = 0.25         # one file every 250 ms ...
OPEN_EVENTS_PER_FILE = 250   # ... = 1000 events/s offered
SETTLE_S = 2                 # first open-loop files not timed
# The spam query's micro-batches take about 1.5 s, so 6 s of timed files
# see only four of them and the tail moves with their phase.
OPEN_FACTOR = 2              # timed open loop = 2 x --seconds
WARM_FILES = 4
WARM_EVENTS_PER_FILE = 2500
N_SETUPS = 2
SENTINEL_USER = 99_999_999
# covers the injector's 5-10 min late events
SESSION_LATENESS = "15 minutes"
POLL_S = 0.05
# The ``events_sessions`` oracle (``queries.behavior.ORACLE``) with its
# running session count ordered by (ts, event_id) like its gap test.  That
# oracle orders the running count by ts alone, so when a session's first
# event shares its ts with another event of the user, DuckDB may count
# the tie row before the session break and split off a one-event session;
# the injector's second-resolution timestamps make such ties common.
SESSIONS_ORACLE = """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w
                            >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
        SELECT user_id, ts,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM o
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*)::BIGINT AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
    FROM i GROUP BY user_id, sid
"""


def _write_files(feed: str, rows: list[dict], per_file: int,
                 first: int = 0) -> None:
    """``rows`` as chunk files of ``per_file`` rows, numbered from
    ``first``."""
    os.makedirs(feed, exist_ok=True)
    for n, i in enumerate(range(0, len(rows), per_file)):
        datagen.write_chunk(os.path.join(feed, chunk_name(first + n)),
                            rows[i:i + per_file])


class Streams:
    """The three queries over one feed directory, with the sinks' state."""

    def __init__(self, spark, base: str, feed: str):
        from beam_scala_examples_spark.streaming import (
            gamestats,
            leaderboard,
            sessions,
        )
        from beam_scala_examples_spark.streaming.sources import (
            read_event_stream,
        )

        self.spark = spark
        self.base = base
        self.board: dict = {}
        self.sessions: list[tuple] = []
        self.sink_s = 0.0
        self.runs: list = []  # every StreamingQuery started, in order
        self._logs: dict[str, dict] = {}
        spam_sink = gamestats.SpamFilteredTeamScoresSink(
            os.path.join(base, "contrib"), os.path.join(base, "spam_out"))

        def board_sink(df, _bid):
            for r in df.collect():
                self.board[(r.win_start, r.team)] = r.total_score

        def sessions_sink(df, _bid):
            self.sessions.extend(tuple(r) for r in df.collect())

        def timed_spam(df, bid):
            t0 = time.perf_counter()
            spam_sink(df, bid)
            self.sink_s += time.perf_counter() - t0

        t0 = time.perf_counter()
        ev = read_event_stream(spark, feed,
                               max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        self.frames = {
            "leaderboard": (leaderboard.team_scores(ev), "update", board_sink),
            "sessions": (sessions.user_sessions(ev, lateness=SESSION_LATENESS),
                         "append", sessions_sink),
            "spam": (ev, "append", timed_spam),
        }
        self.build_s = time.perf_counter() - t0
        self.first_exec = sparkstats.sql_executions(spark)
        self.started = time.time()
        self.queries: dict = {}

    def start(self, **trigger) -> None:
        """Start the three queries; ``trigger`` as for
        ``DataStreamWriter.trigger`` (none: as fast as possible)."""
        self.stop()
        for name, (df, mode, sink) in self.frames.items():
            w = (df.writeStream.outputMode(mode).foreachBatch(sink)
                 .option("checkpointLocation", self.ckpt(name)))
            if trigger:
                w = w.trigger(**trigger)
            self.queries[name] = w.start()
            self.runs.append((name, self.queries[name]))

    def ckpt(self, name: str) -> str:
        return os.path.join(self.base, f"ckpt_{name}")

    def consumed(self, name: str) -> set[str]:
        """Chunk files in committed batches of query ``name``, read from
        its checkpoint (the source log and the commit log)."""
        ckpt = self.ckpt(name)
        commits = os.path.join(ckpt, "commits")
        done = {int(x) for x in os.listdir(commits) if x.isdigit()} \
            if os.path.isdir(commits) else set()
        log = _batch_files(ckpt, self._logs.setdefault(name, {}))
        return {f for b, files in log.items() if b in done for f in files}

    def wait_files(self, names: set[str], timeout: float) -> None:
        """Until every query has committed a batch over each file."""
        end = time.time() + timeout
        while not all(names <= self.consumed(n) for n in self.queries):
            for n, q in self.queries.items():
                if q.exception() is not None:
                    raise RuntimeError(f"{n}: {q.exception()}")
            if time.time() > end:
                left = {n: len(names - self.consumed(n)) for n in self.queries}
                raise TimeoutError(f"streams stalled; files left: {left}")
            time.sleep(POLL_S)

    def wait_idle(self, timeout: float, quiet_s: float = 0.3) -> None:
        """Until no query has data pending and none has finished a batch
        for ``quiet_s``."""
        end = time.time() + timeout
        last, since = None, time.time()
        while time.time() < end:
            now = tuple(getattr(q.lastProgress, "batchId", None)
                        for q in self.queries.values())
            pending = any(q.status["isDataAvailable"]
                          for q in self.queries.values())
            if pending or now != last:
                last, since = now, time.time()
            elif time.time() - since >= quiet_s:
                return
            time.sleep(POLL_S)
        raise TimeoutError("streams never went idle")

    def wait_flush(self, sentinel_file: str, timeout: float) -> None:
        """The sentinel's watermark closes every session in the next
        (no-data) batch of the sessions query; wait for that batch."""
        q = self.queries["sessions"]
        end = time.time() + timeout
        while time.time() < end:
            log = _batch_files(self.ckpt("sessions"),
                               self._logs.setdefault("sessions", {}))
            sent = [b for b, files in log.items() if sentinel_file in files]
            if sent and any(p.batchId > sent[0] and p.numInputRows == 0
                            and "addBatch" in (p.durationMs or {})
                            for p in q.recentProgress):
                return
            time.sleep(POLL_S)
        raise TimeoutError("sessions query never flushed after the sentinel")

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.queries = {}

    def job_stats(self) -> dict:
        """Job/stage/task counters of the three queries (Structured
        Streaming runs each query's jobs under its run id as job group),
        and the Python exec nodes of every SQL execution since the
        queries started."""
        out: dict = {}
        for _, q in self.runs:
            for k, v in sparkstats.group_stats(self.spark,
                                               str(q.runId)).items():
                out[k] = out.get(k, 0) + v
        out["python_nodes"] = sparkstats.python_nodes_since(
            self.spark, self.first_exec)
        return out

    def batches(self) -> dict[str, list[dict]]:
        """Per query: every micro-batch with its end time (epoch s), its
        progress durations and the files it consumed."""
        out: dict[str, list[dict]] = {n: [] for n in self.frames}
        for name, q in self.runs:
            files = _batch_files(self.ckpt(name), {})
            rows = out[name]
            for p in q.recentProgress:
                if "addBatch" not in (p.durationMs or {}):
                    continue  # an idle report, not a batch
                start = datetime.strptime(
                    p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                    tzinfo=timezone.utc).timestamp()
                d = p.durationMs or {}
                rows.append({
                    "batch": p.batchId, "start": start,
                    "end": start + d.get("triggerExecution", 0) / 1e3,
                    "rows": p.numInputRows, "durations": dict(d),
                    "state_rows": sum(s.numRowsTotal or 0
                                      for s in p.stateOperators or []),
                    "state_bytes": sum(s.memoryUsedBytes or 0
                                       for s in p.stateOperators or []),
                    "files": files.get(p.batchId, []),
                })
        return out


def _batch_files(ckpt: str, cache: dict) -> dict[int, list[str]]:
    """Query batch id -> chunk files that batch read.  The file source
    numbers its own log batches, which skip the query's no-data batches;
    each query batch records the source log batch it read up to
    (``logOffset`` in ``offsets/<id>``), so its files are those of the
    source log batches after the previous query batch's offset, up to its
    own.  ``cache`` keeps parsed log files between calls (they are
    written once, atomically)."""
    offsets = cache.setdefault("offsets", {})
    off_dir = os.path.join(ckpt, "offsets")
    for entry in os.listdir(off_dir) if os.path.isdir(off_dir) else []:
        if entry.isdigit() and int(entry) not in offsets:
            with open(os.path.join(off_dir, entry)) as f:
                # "v1", batch metadata, then one offset per source
                offsets[int(entry)] = json.loads(
                    f.read().splitlines()[2])["logOffset"]
    # read after the offsets: a source log batch is written before the
    # query batch that records it
    log = _source_log(ckpt, cache.setdefault("sources", {}))
    out: dict[int, list[str]] = {}
    last = -1
    for batch in sorted(offsets):
        out[batch] = [f for k in range(last + 1, offsets[batch] + 1)
                      for f in log.get(k, [])]
        last = offsets[batch]
    return out


def _source_log(ckpt: str, cache: dict) -> dict[int, list[str]]:
    """Source log batch id -> chunk files, from the file source's
    checkpoint log.  Every tenth log file is a ``<id>.compact`` holding
    all entries so far; each entry carries its own batch id."""
    log_dir = os.path.join(ckpt, "sources", "0")
    for entry in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
        if entry in cache or not entry.split(".")[0].isdigit():
            continue
        with open(os.path.join(log_dir, entry)) as f:
            lines = f.read().splitlines()[1:]
        cache[entry] = [json.loads(x) for x in lines if x.strip()]
    out: dict[int, list[str]] = {}
    for entries in cache.values():
        for e in entries:
            files = out.setdefault(e["batchId"], [])
            name = os.path.basename(e["path"])
            if name not in files:
                files.append(name)
    return out


class StreamRun:
    def __init__(self, seed: int, seconds: int, tracer: common.Tracer):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = os.path.join(common.WORK, f"stream_game-{seed}")
        self.spark = None
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.backlog_rows: list[dict] = []
        self.warm_rows: list[dict] = []

    def open_files(self) -> int:
        """Open-loop files: the untimed start-up, then OPEN_FACTOR x
        ``seconds`` of timed files."""
        return int((SETTLE_S + OPEN_FACTOR * self.seconds) / OPEN_PERIOD_S)

    def generate(self) -> float:
        """The backlog continues the event stream the open loop writes, so
        its event times follow the open-loop events."""
        t0 = time.perf_counter()
        shutil.rmtree(self.work, ignore_errors=True)
        n_open = self.open_files() * OPEN_EVENTS_PER_FILE
        self.backlog_rows = datagen.game_events(
            self.seed, BACKLOG_FILES * BACKLOG_EVENTS_PER_FILE,
            EVENTS_PER_SEC, start_id=n_open)
        self.warm_rows = datagen.game_events(
            self.seed + 1, WARM_FILES * WARM_EVENTS_PER_FILE, EVENTS_PER_SEC)
        return time.perf_counter() - t0

    def setup(self, traced_index: int | None):
        """``get_spark`` plus a warm stream through the three queries,
        ``N_SETUPS`` times, each in a fresh JVM, so every set-up pays the
        JVM and py4j launch a run of the program pays.  Set-up
        ``traced_index`` records its batches as spans and reads its job
        counters, as a traced cycle does."""
        # the engine's modules are imported before the timed set-ups
        from beam_scala_examples_spark.streaming import (  # noqa: F401
            gamestats,
            leaderboard,
            sessions,
            sources,
        )

        totals, starts, warms = [], [], []
        for i in range(N_SETUPS):
            if self.spark is not None:
                common.stop_jvm(self.spark)
            base = os.path.join(self.work, f"warm{i}")
            feed = os.path.join(base, "feed")
            _write_files(feed, self.warm_rows, WARM_EVENTS_PER_FILE)
            t0 = time.perf_counter()
            self.spark = common.start_session("perfbench-stream_game")
            t1 = time.perf_counter()
            s = Streams(self.spark, base, feed)
            s.start(availableNow=True)
            for q in s.queries.values():
                q.awaitTermination(120)
            if i == traced_index:  # the work a traced cycle adds
                self._trace_cycle(s, s.batches(), f"setup{i}")
                s.job_stats()
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            totals.append(t2 - t0)
        return totals, starts, warms

    def measure(self, label: str, traced: bool) -> dict:
        """One open-loop + drain cycle on fresh queries, then the output
        check."""
        base = os.path.join(self.work, label)
        feed = os.path.join(base, "feed")
        os.makedirs(feed)
        n_files = self.open_files()
        n_open = n_files * OPEN_EVENTS_PER_FILE
        manifest_path = os.path.join(base, "manifest.json")
        s = Streams(self.spark, base, feed)
        marks = [time.perf_counter()]
        try:
            s.start()
            # time for the generator process to start and build its events
            first_due = time.time() + 1.0
            subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(__file__), "gen_stream.py"),
                 "--seed", str(self.seed), "--dir", feed,
                 "--files", str(n_files),
                 "--events-per-file", str(OPEN_EVENTS_PER_FILE),
                 "--period", str(OPEN_PERIOD_S),
                 "--start", repr(first_due),
                 "--events-per-sec", str(EVENTS_PER_SEC),
                 "--manifest", manifest_path],
                timeout=self.seconds + 60, check=True)
            open_names = {chunk_name(k) for k in range(n_files)}
            s.wait_files(open_names, timeout=60)
            marks.append(time.perf_counter())
            # drain: the backlog is staged and dropped in BURSTS parts;
            # before each, every query goes idle, then the part is moved
            # into the feed at once so no batch is in flight or half-fed
            stage = os.path.join(base, "stage")
            _write_files(stage, self.backlog_rows, BACKLOG_EVENTS_PER_FILE,
                         first=n_files)
            staged = sorted(os.listdir(stage))
            per = len(staged) // BURSTS
            bursts = []
            for k in range(BURSTS):
                names = set(staged[k * per:(k + 1) * per])
                s.wait_idle(timeout=30)
                at = time.time()
                for name in sorted(names):
                    os.rename(os.path.join(stage, name),
                              os.path.join(feed, name))
                s.wait_files(names, timeout=120)
                bursts.append((names, at))
            marks.append(time.perf_counter())
            sentinel = dict(self.backlog_rows[-1], event_id=10**9,
                            user_id=SENTINEL_USER, event_type="sentinel",
                            ts="2030-01-01 00:00:00", value=0.0)
            sentinel_file = chunk_name(n_files + BACKLOG_FILES)
            datagen.write_chunk(os.path.join(feed, sentinel_file), [sentinel])
            s.wait_files({sentinel_file}, timeout=60)
            s.wait_flush(sentinel_file, timeout=30)
            # untimed: memory kept with the queries' state in place
            retained = common.retained_mb(self.spark)
        finally:
            s.stop()
        marks.append(time.perf_counter())
        with open(manifest_path) as f:
            manifest = json.load(f)
        batches = s.batches()
        cycle = {"streams": s, "batches": batches,
                 "manifest": manifest[int(SETTLE_S / OPEN_PERIOD_S):],
                 "n_backlog": BACKLOG_FILES * BACKLOG_EVENTS_PER_FILE,
                 "n_open": n_open, "bursts": bursts, "retained": retained}
        if traced:
            self._trace_cycle(s, batches, label)
            cycle["jobs"] = s.job_stats()
            cycle["scan_s"] = self._scan_floor(feed)
        self._check(s, feed)
        marks.append(time.perf_counter())
        cycle["phase_s"] = dict(zip(
            ("open_loop", "drain", "flush", "check"),
            (b - a for a, b in zip(marks, marks[1:]))))
        return cycle

    def _trace_cycle(self, s: Streams, batches: dict, label: str) -> None:
        """Spans for a finished cycle: stream -> query -> micro-batch,
        from the queries' progress (epoch times, shifted to the span
        clock)."""
        shift = time.perf_counter() - time.time()
        end = max(b["end"] for rows in batches.values() for b in rows)
        root = self.tracer.add("stream", s.started + shift, end + shift,
                               None, phase=label)
        for name, rows in batches.items():
            qid = self.tracer.add(
                "query_stream", s.started + shift,
                max(b["end"] for b in rows) + shift, root, query=name)
            for b in rows:
                self.tracer.add("batch", b["start"] + shift, b["end"] + shift,
                                qid, query=name, batch=b["batch"])

    def _scan_floor(self, feed: str) -> float:
        """Noop batch scan of every chunk file the queries read."""
        from beam_scala_examples_spark.streaming.sources import EVENT_SCHEMA

        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.read.schema(EVENT_SCHEMA).json(feed).write.format(
                "noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        return common.median(reps)

    def _check(self, s: Streams, feed: str) -> None:
        """Final state of each query against DuckDB / the driver-dict
        oracle over exactly the chunk files the queries read."""
        import duckdb

        from beam_scala_examples_spark.queries import game
        from beam_scala_examples_spark.streaming.gamestats import (
            SpamFilteredTeamScores,
        )
        from beam_scala_examples_spark.streaming.sources import EVENT_SCHEMA

        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        con.sql(
            "CREATE VIEW events AS SELECT event_id, ts::TIMESTAMP AS ts, "
            "user_id, event_type, value FROM read_json("
            f"'{feed}/chunk_*.json', format='newline_delimited', "
            "columns={'event_id': 'BIGINT', 'ts': 'VARCHAR', "
            "'user_id': 'BIGINT', 'event_type': 'VARCHAR', "
            "'value': 'DOUBLE'})")
        try:
            want = {(r[0], r[1]): r[2] for r in con.sql(
                game.ORACLE["q13_leaderboard_team"]).fetchall()}
            self._verdict("leaderboard", s.board, want)
            want = sorted(tuple(r) for r in con.sql(
                SESSIONS_ORACLE).fetchall()
                if r[0] != SENTINEL_USER)
            got = sorted(t for t in s.sessions if t[0] != SENTINEL_USER)
            self._verdict("sessions", got, want)
        finally:
            con.close()
        twin = SpamFilteredTeamScores()
        twin(self.spark.read.schema(EVENT_SCHEMA).json(feed), 0)
        got = sorted(tuple(r) for r in self.spark.read.parquet(
            os.path.join(s.base, "spam_out")).collect())
        self._verdict("spam", got, twin.result())

    def _verdict(self, name: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failures[f"stream:{name}"] = (
                f"final state differs from oracle ({len(got)} rows vs"
                f" {len(want)})")


def _latencies(cycle: dict, query: str | None = None) -> list[float]:
    """Per timed open-loop (file, query): the end of the batch that
    consumed the file minus the file's due time, in ms."""
    due = {m["file"]: m["due"] for m in cycle["manifest"]}
    return [(b["end"] - due[f]) * 1e3
            for name, rows in cycle["batches"].items()
            if query in (None, name)
            for b in rows for f in b["files"] if f in due]


def _drain_rates(cycle: dict) -> list[float]:
    """Events per second of each backlog burst: from the drop to the end
    of the last batch (over the three queries) that consumed its files."""
    rates = []
    for names, at in cycle["bursts"]:
        end = max(b["end"] for rows in cycle["batches"].values()
                  for b in rows if names.intersection(b["files"]))
        rates.append(len(names) * BACKLOG_EVENTS_PER_FILE / (end - at))
    return rates


def _e2e(setup_s: float, cycle: dict) -> tuple[dict, dict]:
    lat = _latencies(cycle)
    tail = common.tail(lat)
    return {
        "setup_s": setup_s,
        "throughput_per_s": common.median(_drain_rates(cycle)),
        "latency_p50_ms": common.median(lat),
        "latency_tail_ms": tail["value"],
        "retained_mb": cycle["retained"][0],
    }, tail


def _per_query(cycle: dict) -> dict:
    out = {}
    for name, rows in cycle["batches"].items():
        lat = _latencies(cycle, name)
        out[name] = {"p50": common.median(lat), "max": max(lat),
                     "batch_ms_p50": common.median(
                         [b["durations"].get("triggerExecution", 0)
                          for b in rows])}
    return out


def _lag_max_s(cycle: dict) -> float:
    """Max over batch ends of (newest file written) - (newest consumed)."""
    written = sorted((m["written"], m["file"]) for m in cycle["manifest"])
    worst = 0.0
    for rows in cycle["batches"].values():
        consumed_at: list[tuple[float, float]] = []
        wt = {f: t for t, f in written}
        for b in rows:
            ts = [wt[f] for f in b["files"] if f in wt]
            if ts:
                consumed_at.append((b["end"], max(ts)))
        newest = 0.0
        for end, t_file in sorted(consumed_at):
            newest = max(newest, t_file)
            gen_newest = max((t for t, _ in written if t <= end), default=0.0)
            worst = max(worst, gen_newest - newest)
    return worst


def _layers(r: StreamRun, cycle: dict, e_un: dict, e_tr: dict) -> dict:
    s = cycle["streams"]
    every = [b for rows in cycle["batches"].values() for b in rows]

    def dur_s(*keys):
        return [sum(b["durations"].get(k, 0) for k in keys) / 1e3
                for b in every]

    jobs = cycle["jobs"]
    wall = max(b["end"] for b in every) - s.started
    late = [(m["written"] - m["due"]) * 1e3 for m in cycle["manifest"]]
    self_t = r.tracer.self_times()
    out = {
        "gen.late_ms": max(late),
        "tables.scan_s": cycle["scan_s"],
        "queries.build_s": s.build_s,
        "queries.exec_s": sum(dur_s("addBatch")),
        "catalyst.plan_s": sum(dur_s("queryPlanning")),
        **{f"spark.{k}": jobs[k] for k in (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")},
        "spark.cpu_util": jobs["executor_cpu_s"] / (wall * common.cores()),
        "python.exec_nodes": jobs.get("python_nodes", 0),
        "memo.entries": 0, "memo.cached_mb": 0.0, "memo.build_s": 0.0,
        "streaming.batches": len(every),
        "streaming.batch_ms_p50": 1e3 * common.median(
            dur_s("triggerExecution")),
        "streaming.plan_ms": 1e3 * statistics.mean(dur_s("queryPlanning")),
        "streaming.add_batch_ms": 1e3 * statistics.mean(dur_s("addBatch")),
        "streaming.commit_ms": 1e3 * statistics.mean(
            dur_s("walCommit", "commitOffsets")),
        "streaming.state_rows": sum(
            max(b["state_rows"] for b in rows)
            for rows in cycle["batches"].values()),
        "streaming.state_mb": sum(
            max(b["state_bytes"] for b in rows)
            for rows in cycle["batches"].values()) / sparkstats.MB,
        "streaming.sink_s": s.sink_s,
        "streaming.lag_max_s": _lag_max_s(cycle),
        "self.pass_s": 0.0,
        "self.query_s": 0.0,
        "self.stream_s": self_t.get("query_stream", 0.0),
    }
    for k in e_un:
        out[f"trace.overhead.{k}"] = e_tr[k] - e_un[k]
    return out


def run(seed: int, seconds: int, trace: bool) -> dict:
    """Untraced: set-ups, then one open-loop + drain cycle.  Traced: the
    same with set-up 2 traced, plus a traced cycle; the traced minus the
    untraced figures are the tracing overhead."""
    tracer = common.Tracer(trace)
    r = StreamRun(seed, seconds, tracer)
    layers = None
    with common.RssSampler() as rss:
        gen_s = r.generate()
        try:
            setups, starts, warms = r.setup(1 if trace else None)
            cycle = r.measure("measure", traced=False)
            rss_untraced = rss.sample_peak_mb()
            rss_by_process = dict(rss.peak_by_process)
            if trace:
                traced = r.measure("traced", traced=True)
                e_un, _ = _e2e(setups[0], cycle)
                e_tr, _ = _e2e(setups[1], traced)
                layers = _layers(r, traced, e_un, e_tr)
                layers.update({
                    "session.start_s": common.median(starts),
                    "session.warm_s": common.median(warms),
                    "gen.input_s": gen_s,
                    "mem.peak_rss_mb": rss_untraced,
                })
        finally:
            if r.spark is not None:
                common.stop_jvm(r.spark)
    e2e, tail = _e2e(common.median(setups), cycle)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": r.attempted,
        "failures": r.failures,
        "detail": {
            "peak_mb_by_process": rss_by_process,
            "retained_mb_parts": cycle["retained"][1],
            "workload": "stream_game", "seed": seed, "cores": common.cores(),
            "loop": "open loop, then closed-loop drain", "clients": 1,
            "open_rate_eps": OPEN_EVENTS_PER_FILE / OPEN_PERIOD_S,
            "open_files": len(cycle["manifest"]),
            "rows": {"backlog_events": cycle["n_backlog"],
                     "open_events": cycle["n_open"],
                     "warm_events": len(r.warm_rows)},
            "gen_s": gen_s, "setups_s": setups, "latency_tail": tail,
            "batches": {n: len(b) for n, b in cycle["batches"].items()},
            "per_query_latency_ms": _per_query(cycle),
            "drain_eps": _drain_rates(cycle),
            "phase_s": cycle["phase_s"],
        },
        "spans": tracer.spans,
    }
