"""The stream workload, ``stream_live``.

It runs the reference's own job, ``metagame_pipeline``, on its default
trigger, reading the live source (``event_replay`` in ``live`` mode)
over an 8-shard ``FileJournalTransport`` journal, publishing to
``collecting_publisher_factory`` and upserting the keyed state store.

The load is an open loop: a generator thread appends a fixed number of
seeded events at a fixed rate, each stamped with the time it was due.
An event's latency runs from when it was due to when the bus file
holding it was written (the file's mtime), so a stall also delays every
event queued behind it.

The first ``PRIME`` events are written before the schedule starts, and
the schedule waits until they have gone through the query's first
trigger: that trigger pays the query's start-up and, in a fresh JVM,
takes 10-15 s against about 4 s once warm, and a backlog built behind
it would take several triggers to drain. Of the scheduled events, only
those due after ``PREFIX_S`` are measured: trigger time still falls by
a fifth to a quarter over the first three triggers after the primed one
as the JVM warms, and mostly levels off after that; a window on that
slope read fast or slow with how quickly the JIT caught up.

After the run the state store must hold exactly the keys whose last
event opened them, and every event id must be on the bus.
"""

from __future__ import annotations

import ast
import json
import os
import threading
import time
import traceback

from perfbench import datagen
from perfbench.harness import SETUPS, Bench, Metric, Outcome, cached_mb, mean, median
from perfbench.probes import TracedPublisherFactory, read_spans
from perfbench.trace import GroupStats, Summary, percentile, read_event_logs, reduce_event_log

SHARDS = 8
#: Distinct keys in the stream; each is a state-store row while open.
USERS = 4000

#: Event rate (events/s); events written before the schedule starts;
#: seconds of scheduled events left unmeasured (half of it in the traced
#: run, whose second stream starts in a warm JVM and which must stay
#: within its time limit while running two streams).
RATE = 2000
PRIME = 2000
PREFIX_S = 9

PLAIN_TRANSPORT = "streamclient_spark.sources.transport:file_journal_transport"
TRACED_TRANSPORT = "perfbench.probes:traced_journal_transport"


class _Generator(threading.Thread):
    """Appends ``events`` to the journal. The first ``PRIME`` events are
    written at once; the rest wait for ``go`` and then follow the
    schedule: event ``i`` is due at ``t0 + (i - PRIME) / rate``. Each
    event's ``ts`` is set to its due time, in place. Each write holds
    whole lines only, so a concurrent reader never sees a torn line."""

    def __init__(self, journal: str, events: list[dict], rate: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.journal = journal
        self.events = events
        self.rate = rate
        self.go = threading.Event()
        self.t0 = 0.0
        self.written = 0
        self.late_s = 0.0
        self.error: BaseException | None = None

    def due(self, i: int) -> float:
        return self.t0 + max(0, i - PRIME) / self.rate

    def _write(self, files, hi: int) -> None:
        chunks: dict[int, list[bytes]] = {}
        for i in range(self.written, hi):
            e = self.events[i]
            e["ts"] = self.due(i)
            chunks.setdefault(e["user_id"] % SHARDS, []).append(
                (json.dumps(e) + "\n").encode()
            )
        for k, lines in chunks.items():
            files[k].write(b"".join(lines))
            files[k].flush()
        self.written = hi

    def run(self) -> None:
        files = [
            open(os.path.join(self.journal, f"shard-{k}.jsonl"), "ab")
            for k in range(SHARDS)
        ]
        try:
            n = len(self.events)
            self.t0 = time.time()
            self._write(files, min(n, PRIME))
            self.go.wait()
            self.t0 = time.time()
            while self.written < n:
                hi = min(n, PRIME + int((time.time() - self.t0) * self.rate) + 1)
                if hi > self.written:
                    first = self.written
                    self._write(files, hi)
                    self.late_s = max(self.late_s, time.time() - self.due(first))
                if self.written < n:
                    time.sleep(max(0.0, min(0.005, self.due(self.written) - time.time())))
        except BaseException as e:  # reported by the workload, never lost
            self.error = e
        finally:
            for f in files:
                f.close()


def _new_journal(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    for k in range(SHARDS):
        open(os.path.join(path, f"shard-{k}.jsonl"), "ab").close()
    return path


def _start_pipeline(bench: Bench, root: str, journal: str, traced: bool):
    """Start ``metagame_pipeline`` on ``journal``; state, checkpoint and
    bus output live under ``root``."""
    from streamclient_spark.streaming import collecting_publisher_factory
    from streamclient_spark.streaming.pipeline import metagame_pipeline

    spark = bench.spark
    reader = (
        spark.readStream.format("event_replay")
        .option("mode", "live")
        .option("transport", TRACED_TRANSPORT if traced else PLAIN_TRANSPORT)
        .option("journal_dir", journal)
    )
    if traced:
        reader = reader.option("span_dir", bench.dir("worker-spans"))
    bus = os.path.join(root, "bus")
    publisher = (
        TracedPublisherFactory(bus, bench.dir("worker-spans"))
        if traced else collecting_publisher_factory(bus)
    )
    return metagame_pipeline(
        reader.load(),
        make_publisher=publisher,
        state_path=os.path.join(root, "store"),
        checkpoint=os.path.join(root, "ckpt"),
    )


def _setups(bench: Bench, event_log: str | None) -> list[float]:
    """Set up ``SETUPS`` times: a fresh session with the source
    registered. Leaves the last session open."""
    from streamclient_spark.sources.replay import EventReplayDataSource

    out = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        bench.start_session(event_log)
        bench.spark.dataSource.register(EventReplayDataSource)
        out.append(time.perf_counter() - t0)
    bench.log(f"set up x{SETUPS}: {[round(t, 2) for t in out]}")
    return out


class _Sampler(threading.Thread):
    """Once a second: replay lag (rows generated minus committed
    offsets) and storage held by persisted RDDs."""

    def __init__(self, q, gen: _Generator, sc):
        super().__init__(name="perfbench-sampler", daemon=True)
        self.q, self.gen, self.sc = q, gen, sc
        self.lag: list[int] = []
        self.cached_mb = 0.0
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.wait(1.0):
            p = self.q.lastProgress
            done = 0
            if p and p.get("sources"):
                # the Python source's offsets arrive as a dict repr
                end = ast.literal_eval(p["sources"][0].get("endOffset") or "{}")
                done = sum(int(v) for v in end.values())
            self.lag.append(self.gen.written - done)
            self.cached_mb = max(self.cached_mb, cached_mb(self.sc))


def _one_stream(bench: Bench, tag: str, events: list[dict], traced: bool) -> dict:
    """Start the pipeline and the generator; wait until every event is
    processed. Returns the raw observations."""
    root = bench.dir(tag)
    journal = _new_journal(os.path.join(root, "journal"))
    gen = _Generator(journal, events, RATE)
    q = _start_pipeline(bench, root, journal, traced)
    gen.start()
    sampler = _Sampler(q, gen, bench.spark.sparkContext) if traced else None
    if sampler:
        sampler.start()
    try:
        # the paced schedule starts once the primed events are through
        # the first trigger, which pays the query's one-off start costs
        deadline = time.monotonic() + 120
        while not any(p.get("numInputRows") for p in q.recentProgress):
            if q.exception() is not None or time.monotonic() > deadline:
                raise RuntimeError(f"first trigger did not complete: {q.exception()}")
            time.sleep(0.02)
        gen.go.set()
        gen.join(timeout=len(events) / RATE + 60)
        if gen.is_alive():
            raise RuntimeError("generator did not finish")
        if gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p.get("numInputRows")]
    finally:
        gen.go.set()
        if sampler:
            sampler.halt.set()
            sampler.join(timeout=5)
        q.stop()
    return {"root": root, "gen": gen, "progress": progress[1:], "sampler": sampler}


def _trigger_secs(progress: list[dict]) -> list[float]:
    return [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]


def _bus_times(bus_dir: str) -> tuple[dict[int, float], int]:
    """Event id → earliest time a bus file holding it was written, and
    the number of payloads, duplicates included."""
    first: dict[int, float] = {}
    payloads = 0
    for name in os.listdir(bus_dir) if os.path.isdir(bus_dir) else []:
        path = os.path.join(bus_dir, name)
        t = os.stat(path).st_mtime_ns / 1e9
        with open(path, "rb") as f:
            for line in f:
                if not line.strip():
                    continue
                payloads += 1
                seq = json.loads(line)["seq"]
                if seq not in first or t < first[seq]:
                    first[seq] = t
    return first, payloads


def _check(bench: Bench, obs: dict, events: list[dict], out: Outcome) -> dict[int, float]:
    """State store and bus against the generated events; each missing
    or wrong event counts as a failed operation."""
    from streamclient_spark.streaming import read_state_store

    pub, payloads = _bus_times(os.path.join(obs["root"], "bus"))
    missing = [e["event_id"] for e in events if e["event_id"] not in pub]
    for eid in missing[:5]:
        out.errors.append(f"event {eid} never reached the bus")
    out.failed += len(missing)
    want = datagen.expected_open_keys(events)
    rows = read_state_store(bench.spark, os.path.join(obs["root"], "store")).collect()
    got = {r["id"] for r in rows if r["state"] == "open"}
    if got != want or len(rows) != len(got):
        diff = sorted(got ^ want)
        out.errors.append(
            f"state store: {len(got)} open keys, expected {len(want)}; "
            f"{len(diff)} differ, e.g. {diff[:5]}")
        out.failed += max(1, len(diff))
    obs["payloads"] = payloads
    obs["state_rows"] = len(rows)
    return pub


def run_live(bench: Bench) -> Outcome:
    out = Outcome()
    event_log = bench.dir("eventlog") if bench.trace else None
    setup_s = _setups(bench, event_log)
    prefix_s = PREFIX_S // 2 if bench.trace else PREFIX_S
    first = PRIME + RATE * prefix_s  # the first measured event
    n = first + RATE * bench.seconds
    # traced mode runs an untraced stream, then a traced one; a third
    # stream to cancel the JVM's warm-up trend would push the run past
    # its time limit on a slow box
    runs = [("plain", False)] + ([("traced", True)] if bench.trace else [])
    results = {}
    for tag, traced in runs:
        events = datagen.stream_events(bench.seed, n, USERS)
        with bench.tracer.span("workload", workload=bench.workload, traced=traced):
            try:
                obs = _one_stream(bench, tag, events, traced)
            except Exception:
                out.fail(f"{tag} stream: {traceback.format_exc(limit=3)}")
                return out
        bench.log(f"{tag} stream done: trigger s {_trigger_secs(obs['progress'])}, "
                  f"rows {[p['numInputRows'] for p in obs['progress']]}")
        out.attempted += len(events)
        pub = _check(bench, obs, events, out)
        gen = obs["gen"]
        done = [i for i in range(first, n) if i in pub]
        obs["lat"] = [pub[i] - gen.due(i) for i in done]
        results[tag] = obs

    if not all(r["lat"] for r in results.values()):
        out.fail("no measured event reached the bus")
        return out
    if bench.trace:
        _layers(bench, results, out, event_log)
        return out
    obs = results["plain"]
    s = Summary.of(obs["lat"], 0.9)
    s99 = Summary.of(obs["lat"], 0.99)
    out.e2e = {
        "setup_s": Metric(median(setup_s), "s", len(setup_s),
                          "session start + source registered"),
        "latency_p50_s": Metric(s.p50, "s", s.n, "event latency, due time to bus"),
        "latency_p90_s": Metric(s.tail, "s", s.n, f"{s.beyond_tail} beyond"),
        "latency_mean_s": Metric(mean(obs["lat"]), "s", s.n, "event latency"),
        "peak_rss_mb": Metric(bench.peak_rss_mb(), "MB", 1, "VmHWM JVM + Python"),
    }
    d = out.detail
    d["triggers"] = len(obs["progress"])
    d["generator.late_s"] = obs["gen"].late_s
    d["event_latency_p50_s"] = s.p50
    d["event_latency_p99_s"] = s99.tail
    d["event_latency_p99_beyond"] = s99.beyond_tail
    return out


def _trigger_windows(progress: list[dict]) -> list[tuple[float, float, float, dict]]:
    """(start, addBatch start, end, durationMs) per trigger, epoch s.
    Phases run in the order latestOffset, walCommit, getBatch,
    queryPlanning, addBatch, commitOffsets."""
    from datetime import datetime

    out = []
    for p in progress:
        d = p.get("durationMs") or {}
        t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        pre = sum(d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning"))
        out.append((t0, t0 + pre / 1e3, t0 + d.get("triggerExecution", 0) / 1e3, d))
    return out


def _layers(bench: Bench, results: dict, out: Outcome, event_log: str) -> None:
    obs = results["traced"]
    wins = _trigger_windows(obs["progress"])

    def job_group(ev: dict) -> str | None:
        t = ev.get("Submission Time", 0) / 1e3
        for i, (t0, tx, t1, _) in enumerate(wins):
            if t0 <= t <= t1 + 0.05:
                return f"{'x' if t >= tx else 'b'}:{i}"
        return None

    groups = reduce_event_log(read_event_logs(event_log), job_group)
    per = [(groups.get(f"b:{i}", GroupStats()), groups.get(f"x:{i}", GroupStats()), w)
           for i, w in enumerate(wins)]
    if not per:
        out.fail("traced stream reported no trigger")
        return
    avg = lambda f: mean([f(b, x, w) for b, x, w in per])  # noqa: E731
    n = len(per)
    plain_p50 = percentile(results["plain"]["lat"], 0.5)
    L = out.layers
    L["session.start_s"] = Metric(median(bench.session_start_s), "s", len(bench.session_start_s))
    L["op.build_s"] = Metric(avg(lambda b, x, w: (w[3].get("triggerExecution", 0)
                                                  - w[3].get("addBatch", 0)) / 1e3), "s", n)
    L["op.exec_s"] = Metric(avg(lambda b, x, w: w[3].get("addBatch", 0) / 1e3), "s", n)
    L["op.build_jobs"] = Metric(avg(lambda b, x, w: b.jobs), "count", n)
    L["op.exec_jobs"] = Metric(avg(lambda b, x, w: x.jobs), "count", n)
    L["spark.stages"] = Metric(avg(lambda b, x, w: b.stages + x.stages), "count", n)
    L["spark.tasks"] = Metric(avg(lambda b, x, w: b.tasks + x.tasks), "count", n)
    L["spark.executor_run_ms"] = Metric(
        avg(lambda b, x, w: b.executor_run_ms + x.executor_run_ms), "ms", n)
    L["spark.shuffle_read_bytes"] = Metric(
        avg(lambda b, x, w: b.shuffle_read_bytes + x.shuffle_read_bytes), "bytes", n)
    L["spark.shuffle_write_bytes"] = Metric(
        avg(lambda b, x, w: b.shuffle_write_bytes + x.shuffle_write_bytes), "bytes", n)
    L["spark.spill_bytes"] = Metric(sum(b.spill_bytes + x.spill_bytes for b, x, _ in per), "bytes", n)
    L["cacheutil.cached_mb"] = Metric(obs["sampler"].cached_mb, "MB", len(obs["sampler"].lag))
    L["tracing.overhead_s"] = Metric(
        percentile(obs["lat"], 0.5) - plain_p50, "s", len(obs["lat"]),
        "traced minus untraced median event latency, consecutive streams")

    d = out.detail
    for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution", "getBatch"):
        d[f"pipeline.{k}_ms"] = avg(lambda b, x, w, k=k: w[3].get(k, 0))
    d["pipeline.rows_per_trigger"] = percentile([p["numInputRows"] for p in obs["progress"]], 0.5)
    d["pipeline.jobs_per_trigger"] = avg(lambda b, x, w: b.jobs + x.jobs)
    spans_dir = os.path.join(bench.work, "worker-spans")
    lat_ms = [1e3 * (s["end"] - s["start"]) for s in read_spans(spans_dir, "transport")
              if s["name"] == "transport.latest"]
    fetch = [s for s in read_spans(spans_dir, "transport") if s["name"] == "transport.fetch"]
    pubs = read_spans(spans_dir, "bus")
    d["transport.latest_ms"] = percentile(lat_ms, 0.5) if lat_ms else 0.0
    d["transport.latest_calls"] = len(lat_ms)
    d["transport.fetch_s"] = sum(s["end"] - s["start"] for s in fetch)
    d["transport.fetch_rows"] = sum(s["rows"] for s in fetch)
    d["replay.lag_rows"] = max(obs["sampler"].lag, default=0)
    d["bus.publish_s"] = sum(s["end"] - s["start"] for s in pubs)
    d["bus.publish_calls"] = len(pubs)
    d["bus.payloads"] = obs["payloads"]
    d["bus.dup_ratio"] = obs["payloads"] / len(obs["gen"].events)
    store = os.path.join(obs["root"], "store")
    files = [os.path.join(r, f) for r, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")]
    d["sinks.state_rows"] = obs["state_rows"]
    d["sinks.state_files"] = len(files)
    d["sinks.state_bytes"] = sum(os.path.getsize(f) for f in files)
    d["generator.late_s"] = obs["gen"].late_s
