"""blspark benchmark entry point.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads, metric names and units come
from ``BENCHMARK.json`` next to ``perfbench/``; ``perfbench/README.md``
says what each one measures. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics. Everything a run writes stays under ``.perfbench_work/`` in the
checkout, including ``results/`` with the run's environment, all metrics,
failures and (traced) every span.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_daily", "board")
DEADLINE_S = 170  # the run must end within 180 s
# set-ups after the run, each in a fresh process; setup_s is the median
# of these and the run's own
SETUP_PROBES = 1


def per_layer_metrics(spec: list[dict], run) -> dict[str, dict]:
    """Every per-layer metric BENCHMARK.json names, as ``<span>.<field>``.
    A layer this workload never calls reads 0."""
    table = run.tracer.per_layer()
    overhead = run.info.get("trace_overhead")
    if overhead:
        table["trace"] = dict(overhead, overhead_ratio=overhead["cycle_s_traced"]
                              / overhead["cycle_s_untraced"])
    out = {}
    for m in spec:
        span, field = m["name"].rsplit(".", 1)
        out[m["name"]] = {"value": table.get(span, {}).get(field, 0), "unit": m["unit"]}
    return out


def setup_probe(workload: str, seed: int) -> float:
    """Set up once more in a fresh process, with the same inputs."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--setup-probe"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    if p.returncode != 0:
        raise RuntimeError(f"set-up probe failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["setup_s"]


def main(argv: list[str] | None = None) -> int:
    pre_main_s = procs.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true",
                    help="only set up, in the work directory a run left, and print setup_s")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "blspark", "__init__.py")) or not os.path.isfile(spec_path):
        print(f"perfbench: no blspark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    # blspark must be importable here and in Spark's Python workers,
    # which inherit this environment when the JVM starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    if not args.setup_probe:
        shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # a 1g driver heap, not the program's default 8g: with 8g, G1 grows
    # the heap with GC-time pressure, so the JVM's peak RSS followed the
    # host's CPU steal (2.4-3.5 GB over five seeds on a 4-core host)
    # rather than the program's memory; see perfbench/README.md
    os.environ.setdefault("BLSPARK_DRIVER_MEM", "1g")

    import workloads as W

    run = W.Run(work=work, seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), pre_main_s=pre_main_s)
    run.info.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=args.trace, nproc=nproc,
                    SPARK_GRAFT_CPUS=os.environ["SPARK_GRAFT_CPUS"],
                    BLSPARK_DRIVER_MEM=os.environ["BLSPARK_DRIVER_MEM"],
                    python_version=sys.version.split()[0])
    if args.setup_probe:
        try:
            setup_s = W.start_spark(run)
        finally:
            run.peak.stop()
            if run.spark is not None:
                procs.stop_spark(run.spark)
            procs.reap_children()
        print(json.dumps({"setup_s": setup_s}))
        return 0

    def on_deadline(_sig, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    ticks0 = procs.cpu_ticks()
    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        if args.workload == "board":
            W.board(run)
        else:
            W.pipeline(run)
        run.e2e["peak_rss_mb"] = run.peak.stop()
        run.info["peak_rss_parts_mb"] = {k: v / 1024 for k, v in run.peak.kb.items()}
        run.tracer.unwrap_all()
        procs.stop_spark(run.spark)
        run.spark = None
        procs.reap_children()
        if not args.trace:
            samples = [run.e2e["setup_s"]] + [
                setup_probe(args.workload, args.seed) for _ in range(SETUP_PROBES)]
            run.info["setup_s_samples"] = samples
            run.e2e["setup_s"] = statistics.median(samples)
    finally:
        signal.alarm(0)
        run.peak.stop()
        run.tracer.unwrap_all()
        if run.spark is not None:
            procs.stop_spark(run.spark)
        procs.reap_children()

    ticks = procs.cpu_ticks()
    run.info["cpu_ticks"] = {k: ticks[k] - ticks0[k] for k in ticks}
    if args.trace:
        metrics = per_layer_metrics(spec["per_layer"], run)
    else:
        metrics = {m["name"]: {"value": run.e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": run.ledger.failed == 0, "attempted": run.ledger.attempted,
              "failed": run.ledger.failed, "metrics": metrics}
    record = {"info": run.info, "e2e": run.e2e, "error_rate": run.ledger.error_rate,
              "failures": run.ledger.failures, "result": result,
              "per_layer_table": run.tracer.per_layer() if args.trace else {},
              "spans": run.tracer.dump() if args.trace else []}
    out_dir = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    summary = {k: run.info[k] for k in ("nproc", "SPARK_GRAFT_CPUS", "spark_version",
                                        "java_version", "seed", "data", "samples")
               if k in run.info}
    summary["error_rate"] = run.ledger.error_rate
    print(json.dumps(summary), file=sys.stderr)
    for line in run.ledger.failures[:10]:
        print("FAILED " + line.replace("\n", " | "), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
