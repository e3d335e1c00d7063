"""The query workload, ``query_mix``.

It runs a stratified panel of registry queries through their public
entry point, ``QuerySpec.builder(spark, sf_dir)``, followed by a no-op
write action: closed loop, one client. The inputs are the fixture
tables written by :mod:`perfbench.datagen` at ``SF``.

The panel is drawn once, by a fixed seed; ``--seed`` orders it. With
the panel drawn per seed instead, its make-up alone moved the median
and p90 query time by 10-30% (interquartile range over ten seeds,
even at 60 queries), more than any bound the benchmark can hold.

Each run first makes one untimed check pass over the panel, which also
warms the JVM: every query with an oracle is compared with its DuckDB
oracle (``tests/oracle.py``'s ``compare``), the rows-only ones only
have to complete. Timed passes over the same queries in the same order
then repeat until ``--seconds`` have passed.
"""

from __future__ import annotations

import random
import time
import traceback

from perfbench import datagen
from perfbench.harness import SETUPS, Bench, Metric, Outcome, cached_mb, mean, median
from perfbench.trace import (
    GroupStats,
    Summary,
    percentile,
    read_event_logs,
    reduce_event_log,
)

#: Scale of the generated tables: the oracle-parity fixture's scale.
SF = 0.01
#: The tables and the panel are the same in every run.
TABLE_SEED = 20240101
PANEL_SEED = 20240102

#: The iterative-kernel queries, left out of the panel: their loops
#: run inside the builder and one of them alone outweighs the panel.
ITERATIVE = (
    "q_graph_cc",
    "q_graph_kcore",
    "q_graph_pagerank",
    "q_graph_bfs",
    "q_graph_closeness",
    "q_graph_label_prop",
    "q_graph_hits",
    "q_dedup_semantic",
    "q_dedup_cluster",
    "q_dedup_canonical",
)

#: Queries in the panel, stratified by builder module.
MIX_SIZE = 24


def sample_mix(specs: dict, seed: int, k: int = MIX_SIZE) -> list[str]:
    """``k`` non-iterative queries, allocated to builder modules in
    proportion to their query count (largest remainder, at least one
    each), drawn by ``seed``."""
    strata: dict[str, list[str]] = {}
    for name in sorted(specs):
        if name not in ITERATIVE:
            strata.setdefault(specs[name].builder.__module__, []).append(name)
    total = sum(len(v) for v in strata.values())
    if k < len(strata) or k > total:
        raise ValueError(f"mix size {k} outside [{len(strata)}, {total}]")
    quota = {m: max(1, len(v) * k // total) for m, v in strata.items()}
    rema = sorted(
        strata, key=lambda m: (-(len(strata[m]) * k % total), m)
    )
    i = 0
    while sum(quota.values()) < k:
        m = rema[i % len(rema)]
        if quota[m] < len(strata[m]):
            quota[m] += 1
        i += 1
    while sum(quota.values()) > k:
        m = max(quota, key=lambda m: (quota[m], m))
        quota[m] -= 1
    rng = random.Random(seed)
    return [n for m in sorted(strata) for n in rng.sample(strata[m], quota[m])]


def _ready(bench: Bench, sf_dir: str) -> None:
    """Resolve every input table's schema (footer read + catalog)."""
    from streamclient_spark.tables import TABLES, load

    for t in TABLES:
        load(bench.spark, sf_dir, t).schema


def _check_pass(bench: Bench, specs, names, sf_dir, out: Outcome) -> set[str]:
    """Untimed correctness pass; returns the names that failed."""
    from tests.oracle import compare

    bad: set[str] = set()
    for name in names:
        spec = specs[name]
        try:
            df = spec.builder(bench.spark, sf_dir)
            if spec.oracle:
                rep = compare(df, spec.oracle, sf_dir)
                if rep["errors"]:
                    bad.add(name)
                    out.errors.append(f"{name}: {rep['errors'][0]}"[:400])
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception:
            bad.add(name)
            out.errors.append(f"{name}: {traceback.format_exc(limit=2)}"[:400])
    return bad


def _pass(bench: Bench, specs, names, sf_dir, bad, out: Outcome, tag: str):
    """One pass over ``names``; returns (per-execution records, wall).
    With tracing on, the builder call and the action each run under
    their own job group, ``b:`` or ``x:`` + ``<tag>:<position>``."""
    sc = bench.spark.sparkContext
    traced = bench.tracer.enabled
    recs: list[dict] = []
    wall = 0.0
    with bench.tracer.span("pass", tag=tag):
        for i, name in enumerate(names):
            spec = specs[name]
            gid = f"{tag}:{i}"
            out.attempted += 1
            with bench.tracer.span("query", query=name, group=gid):
                try:
                    if traced:
                        sc.setJobGroup("b:" + gid, name)
                    t0 = time.perf_counter()
                    with bench.tracer.span("build"):
                        df = spec.builder(bench.spark, sf_dir)
                    t1 = time.perf_counter()
                    if traced:
                        sc.setJobGroup("x:" + gid, name)
                    with bench.tracer.span("action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception:
                    out.fail(f"{name}: {traceback.format_exc(limit=2)}")
                    continue
                finally:
                    if traced:
                        sc.setJobGroup("idle", "between queries")
            if name in bad:
                out.fail(f"{name}: wrong result in the check pass")
            rec = {
                "name": name, "module": spec.builder.__module__,
                "gid": gid, "build": t1 - t0, "exec": t2 - t1,
            }
            if traced:
                rec["cached_mb"] = cached_mb(sc)
            recs.append(rec)
            wall += t2 - t0
    return recs, wall


def run_query_mix(bench: Bench) -> Outcome:
    from streamclient_spark.plans.registry import load_all

    out = Outcome()
    sf_dir = bench.dir("tables")
    datagen.write_tables(sf_dir, SF, TABLE_SEED)
    bench.log("tables written")
    specs = load_all()
    names = sorted(sample_mix(specs, PANEL_SEED))
    random.Random(bench.seed).shuffle(names)
    event_log = bench.dir("eventlog") if bench.trace else None

    setup_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        bench.start_session(event_log)
        _ready(bench, sf_dir)
        setup_s.append(time.perf_counter() - t0)

    bench.log(f"set up x{SETUPS}: {[round(t, 2) for t in setup_s]}")
    with bench.tracer.span("check"):
        bad = _check_pass(bench, specs, names, sf_dir, out)
    bench.log(f"check pass over {len(names)} queries: {len(bad)} bad")
    if bench.trace:
        # untraced and traced passes in ABBA order, so the JVM's
        # warm-up trend cancels out of the tracing overhead
        plain, traced = [], []
        for i, on in enumerate((False, True, True, False)):
            bench.tracer.enabled = on
            recs, _ = _pass(bench, specs, names, sf_dir, bad, out, str(i))
            (traced if on else plain).extend(recs)
        bench.tracer.enabled = True
        bench.log("plain and traced passes done")
        _layers(bench, traced, plain, out, event_log)
        return out

    recs, walls = [], []
    deadline = time.perf_counter() + bench.seconds
    while not walls or time.perf_counter() < deadline:
        r, wall = _pass(bench, specs, names, sf_dir, bad, out, str(len(walls)))
        recs.extend(r)
        walls.append(wall)
    bench.log(f"timed: {len(walls)} pass(es), {[round(w, 2) for w in walls]}")
    lat = [r["build"] + r["exec"] for r in recs]
    if not lat:
        out.fail("no query completed")
        return out
    s = Summary.of(lat, 0.9)
    out.e2e = {
        "setup_s": Metric(median(setup_s), "s", len(setup_s), "session start + table schemas"),
        "latency_p50_s": Metric(s.p50, "s", s.n, "query wall: builder + noop action"),
        "latency_p90_s": Metric(s.tail, "s", s.n, f"query wall p90; {s.beyond_tail} beyond"),
        "latency_mean_s": Metric(mean(lat), "s", s.n, "query wall; batch_wall_s / queries"),
        "peak_rss_mb": Metric(bench.peak_rss_mb(), "MB", 1, "VmHWM JVM + Python"),
    }
    out.detail.update({
        "queries": len(names),
        "passes": len(walls),
        "batch_wall_s": median(walls),
        "query_p50_s": s.p50,
        "query_p90_s": s.tail,
    })
    return out


def _layers(bench: Bench, recs, plain, out: Outcome, event_log: str) -> None:
    groups = reduce_event_log(read_event_logs(event_log))
    per_op = [
        (r, groups.get("b:" + r["gid"], GroupStats()),
         groups.get("x:" + r["gid"], GroupStats()))
        for r in recs
    ]
    avg = lambda f: mean([f(r, b, x) for r, b, x in per_op])  # noqa: E731
    lat_plain = [r["build"] + r["exec"] for r in plain]
    lat_traced = [r["build"] + r["exec"] for r in recs]
    if not per_op or not lat_plain:
        out.fail("no query completed")
        return
    L = out.layers
    L["session.start_s"] = Metric(median(bench.session_start_s), "s", len(bench.session_start_s))
    L["op.build_s"] = Metric(avg(lambda r, b, x: r["build"]), "s", len(per_op))
    L["op.exec_s"] = Metric(avg(lambda r, b, x: r["exec"]), "s", len(per_op))
    L["op.build_jobs"] = Metric(avg(lambda r, b, x: b.jobs), "count", len(per_op))
    L["op.exec_jobs"] = Metric(avg(lambda r, b, x: x.jobs), "count", len(per_op))
    L["spark.stages"] = Metric(avg(lambda r, b, x: b.stages + x.stages), "count", len(per_op))
    L["spark.tasks"] = Metric(avg(lambda r, b, x: b.tasks + x.tasks), "count", len(per_op))
    L["spark.executor_run_ms"] = Metric(
        avg(lambda r, b, x: b.executor_run_ms + x.executor_run_ms), "ms", len(per_op))
    L["spark.shuffle_read_bytes"] = Metric(
        avg(lambda r, b, x: b.shuffle_read_bytes + x.shuffle_read_bytes), "bytes", len(per_op))
    L["spark.shuffle_write_bytes"] = Metric(
        avg(lambda r, b, x: b.shuffle_write_bytes + x.shuffle_write_bytes), "bytes", len(per_op))
    L["spark.spill_bytes"] = Metric(
        sum(b.spill_bytes + x.spill_bytes for _, b, x in per_op), "bytes", len(per_op))
    L["cacheutil.cached_mb"] = Metric(max(r["cached_mb"] for r in recs), "MB", len(recs))
    L["tracing.overhead_s"] = Metric(
        percentile(lat_traced, 0.5) - percentile(lat_plain, 0.5), "s", len(lat_traced),
        "traced minus untraced median query wall, ABBA passes")

    # the full layer table, by module name
    d = out.detail
    d["registry.build_s"] = L["op.build_s"].value
    d["registry.exec_s"] = L["op.exec_s"].value
    d["registry.build_jobs"] = L["op.build_jobs"].value
    d["registry.exec_jobs"] = L["op.exec_jobs"].value
    for r, b, x in per_op:
        m = r["module"].removeprefix("streamclient_spark.")
        d[f"{m}.wall_s"] = d.get(f"{m}.wall_s", 0.0) + r["build"] + r["exec"]
        d[f"{m}.jobs"] = d.get(f"{m}.jobs", 0) + b.jobs + x.jobs
    for r, b, x in per_op:
        d.setdefault("per_query", {})[f"{r['gid']}:{r['name']}"] = {
            "build_s": r["build"], "exec_s": r["exec"],
            "build_jobs": b.jobs, "exec_jobs": x.jobs,
            "stages": b.stages + x.stages, "tasks": b.tasks + x.tasks,
            "executor_run_ms": b.executor_run_ms + x.executor_run_ms,
            "shuffle_read_bytes": b.shuffle_read_bytes + x.shuffle_read_bytes,
            "shuffle_write_bytes": b.shuffle_write_bytes + x.shuffle_write_bytes,
            "spill_bytes": b.spill_bytes + x.spill_bytes,
            "cached_mb": r["cached_mb"],
        }
