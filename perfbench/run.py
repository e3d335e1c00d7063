"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``query_mix``: a module-stratified panel of registry queries (the
  iterative ones left out) in seeded order, closed loop, one client;
- ``stream_live``: ``metagame_pipeline`` fed by an open-loop generator
  at a fixed event rate.

Run from the root of a checkout. Everything the run writes goes under
``.perfbench_work/`` there; the traced run (``--trace 1``) keeps its
spans and layer table in ``.perfbench_work/trace/<workload>-<seed>/``.
Progress and a readable report go to stderr; the last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics
traced). The exit code is 0 only when every operation succeeded and
every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "stream_live")


#: Driver heap, fixed in size (see ``Bench.start_session``). The inputs
#: are a few MB and the box is shared; at 1g the old generation ran
#: 75-99% full, and a growable 3g heap moved the driver's peak RSS by
#: 20-30% between runs of the same code.
DRIVER_MEM = "2g"


def pin_environment(work: str) -> None:
    """Fix the engine's environment from here, before the JVM starts:
    threads = usable CPUs, a small fixed driver heap, Spark's scratch
    inside the checkout, and a ``PYTHONPATH`` that lets Spark's Python
    workers import the package and this benchmark's wrappers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    for need in ("streamclient_spark", "tests/oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    pin_environment(work)

    from perfbench.harness import Bench, cpu_ticks
    from perfbench.queries import run_query_mix
    from perfbench.streams import run_live
    from perfbench.trace import self_time_by_name

    runner = {"query_mix": run_query_mix, "stream_live": run_live}[args.workload]
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    steal0, ticks0 = cpu_ticks()
    try:
        out = runner(bench)
    finally:
        bench.close()
        trace_dir = os.path.join(base, "trace", f"{args.workload}-{args.seed}")
        if args.trace:
            os.makedirs(trace_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
            for name in ("worker-spans",):
                src = os.path.join(work, name)
                if os.path.isdir(src):
                    shutil.copytree(src, os.path.join(trace_dir, name), dirs_exist_ok=True)
        shutil.rmtree(work, ignore_errors=True)
    # On a shared host, runs during which the hypervisor took a few
    # percent of the CPUs read 1.5-2x slower on both workloads; this
    # tells such a run from a slower program.
    steal1, ticks1 = cpu_ticks()
    out.detail["host.steal_pct"] = 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    metrics = out.layers if args.trace else out.e2e
    if out.failed == 0 and not out.errors and declared != {k: m.unit for k, m in metrics.items()}:
        out.errors.append(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(declared)}")
    ok = out.failed == 0 and not out.errors
    if args.trace:
        for name, t in self_time_by_name(bench.tracer.spans).items():
            out.detail[f"self.{name}_s"] = t
        with open(os.path.join(trace_dir, "layers.json"), "w", encoding="utf-8") as f:
            json.dump({"declared": {k: m.__dict__ for k, m in metrics.items()},
                       "detail": out.detail}, f, indent=1, sort_keys=True)
    _report(args, out, metrics)
    print(json.dumps({
        "correct": ok,
        "attempted": max(1, out.attempted),
        "failed": out.failed if out.attempted else 1,
        "metrics": {k: {"value": m.value, "unit": m.unit} for k, m in metrics.items()},
    }))
    return 0 if ok else 1


def _report(args, out, metrics) -> None:
    err = sys.stderr
    frac = out.failed / out.attempted if out.attempted else 1.0
    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}", file=err)
    print(f"  failed_frac = {frac:.4f} ({out.failed}/{out.attempted} operations)", file=err)
    for name, m in metrics.items():
        print(f"  {name} = {m.value:.6g} {m.unit} (n={m.n}) {m.note}", file=err)
    for k, v in sorted(out.detail.items()):
        if not isinstance(v, dict):
            print(f"  . {k} = {v:.6g}", file=err)
    for e in out.errors:
        print(f"  ! {e}", file=err)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
