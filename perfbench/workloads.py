"""The three workloads. Each is one closed-loop client in this process:
the pipelines behave like a cron job whose runs never overlap, the board
like one analyst who waits for each result before sending the next query.

Every timed region calls only blspark's public functions; the checks
that follow each region are not timed.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import procs
from spans import COUNTERS, SparkCounters, Span, Tracer

REPORTS = ("population_stats", "best_years", "combined_report")
BOARD = (
    "q1_population_stats",
    "q2_best_year",
    "q3_combined_report",
    "x_knn_graph",
    "x_dedup_prefix_join",
)
BOARD_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
FETCH_EPOCH = dt.datetime(2026, 1, 1, 6, 0, 0)
MAX_CYCLES = 40
# measured cycles or passes per run, however short --seconds is: a fixed
# count keeps the median at the same point of the JIT warm-up curve
MIN_CYCLES, MIN_PASSES = 4, 2


@dataclass
class Run:
    """What one benchmark process knows and records."""

    work: str
    seed: int
    seconds: float
    trace: bool
    pre_main_s: float  # process start -> entry point
    ledger: checks.Ledger = field(default_factory=checks.Ledger)
    info: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    spark: object = None
    peak: procs.PeakRss = field(default_factory=procs.PeakRss)
    tracer: Tracer = field(default_factory=Tracer)


def _now() -> float:
    return time.perf_counter()


def start_spark(run: Run) -> float:
    """Start the session through the public factory, run the workload's
    warm-up and return the set-up time: process start to a ready
    session, plus the warm-up, leaving out the input generation done
    before it."""
    with run.peak.timed():
        return _start_spark(run)


def _start_spark(run: Run) -> float:
    t0 = _now()
    from blspark.session import get_spark

    run.spark = get_spark(
        app_name=f"perfbench-{run.info['workload']}",
        extra_conf={
            # every job and stage of a run stays in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run.work, 'tmp')}"
            ),
        },
    )
    get_spark_s = _now() - t0
    run.peak.attach(run.spark.sparkContext._gateway.proc.pid)
    if run.trace:
        run.tracer = Tracer(SparkCounters(run.spark.sparkContext))
        # the counters start with the context, so this span has none
        run.tracer.spans.append(Span("session.get_spark", t0, None, "setup",
                                     end=t0 + get_spark_s, counters=dict.fromkeys(COUNTERS, 0)))
    t1 = _now()
    WARMUPS[run.info["workload"]](run)
    setup_s = run.pre_main_s + get_spark_s + (_now() - t1)
    sc = run.spark.sparkContext
    run.info.update(
        spark_version=run.spark.version,
        java_version=sc._jvm.System.getProperty("java.version"),
        master=sc.master,
        default_parallelism=sc.defaultParallelism,
    )
    return setup_s


def _warm_pipeline(run: Run) -> None:
    run.spark.range(1).count()


def _warm_board(run: Run) -> None:
    from blspark import catalog

    tables_dir = os.path.join(run.work, "tables")
    for t in BOARD_TABLES:
        run.tracer.call("catalog.load_table", catalog.load_table, run.spark, tables_dir, t)
    run.spark.range(1).count()


WARMUPS = {"pipeline_daily": _warm_pipeline, "board": _warm_board}


# ------------------------------------------------------------------ pipeline


@dataclass
class _SyncState:
    """Per-sync facts the trace observers need."""

    changed_bytes: int = 0  # bytes of remote files the change set inserted or updated


def _dir_stats(path: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    if os.path.isdir(path):
        for e in os.scandir(path):
            if e.is_file():
                st = e.stat()
                out[e.name] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def _trace_pipeline(run: Run, state: _SyncState) -> None:
    import blspark.jobs as J
    import blspark.stream as S
    import blspark.sync as Y

    tr = run.tracer

    def apply_obs(args, kwargs):
        dst = args[2] if len(args) > 2 else kwargs["dst_root"]
        before = _dir_stats(dst)

        def finish(_result):
            after = _dir_stats(dst)
            written = sum(v[0] for k, v in after.items() if before.get(k) != v)
            return {"bytes_written": written,
                    "write_ratio": written / state.changed_bytes if state.changed_bytes else 0.0}

        return args, kwargs, finish

    def sync_obs(args, kwargs):
        return args, kwargs, lambda _r: {"changed_bytes": state.changed_bytes}

    def batch_obs(args, kwargs):
        seen = [0]
        fn = kwargs.get("batch_fn")
        if fn is not None:
            def counted(df, epoch_id):
                seen[0] += 1
                return fn(df, epoch_id)
            kwargs = dict(kwargs, batch_fn=counted)
        return args, kwargs, lambda _r: {"batches": seen[0]}

    tr.wrap(J, "sync_job", "jobs.sync_job", sync_obs)
    tr.wrap(J, "fetch_population_job", "jobs.fetch_population_job")
    tr.wrap(J, "report_job", "jobs.report_job")
    tr.wrap(J, "run_report_on_arrival", "jobs.run_report_on_arrival")
    tr.wrap(J, "classify_mirror", "sync.classify_mirror")
    tr.wrap(Y, "apply_mirror_fs", "sync.apply_mirror_fs", apply_obs)
    tr.wrap(J, "file_manifest", "io.manifest.file_manifest")
    tr.wrap(J, "newest_key", "io.manifest.newest_key")
    tr.wrap(J, "read_padded_tsv", "io.readers.read_padded_tsv")
    tr.wrap(J, "read_json_records", "io.readers.read_json_records")
    tr.wrap(J, "trim_string_columns", "clean.trim_string_columns")
    tr.wrap(J, "coerce_numeric", "clean.coerce_numeric")
    tr.wrap(S, "run_available_now", "stream.run_available_now", batch_obs)


def hash_ratios(tracer: Tracer) -> None:
    """Per sync: the bytes the manifests hashed and the change set's bytes
    over them, attached to each ``file_manifest`` span of that sync.

    ``file_manifest`` returns a lazy frame; its binaryFile scans run later
    inside the same ``sync_job``, and they are the only scans a sync of a
    local directory makes. So the bytes hashed are Spark's own input-bytes
    counter of the enclosing ``sync_job`` span."""
    for sp in tracer.spans:
        if sp.name == "io.manifest.file_manifest" and sp.parent is not None:
            sync = tracer.spans[sp.parent]
            hashed = sync.counters["input_bytes"]
            changed = sync.extra.get("changed_bytes", 0)
            sp.extra["bytes_hashed"] = hashed
            sp.extra["hash_ratio"] = changed / hashed if hashed else 0.0


def _collect_reports(run: Run, reports: dict) -> dict[str, list[tuple]]:
    out = {}
    for name in REPORTS:
        idx = run.tracer.begin(f"queries.bls.{name}")
        try:
            out[name] = [tuple(r) for r in reports[name].collect()]
        finally:
            run.tracer.end(idx)
    return out


def _offsets(ckpt: str) -> int:
    d = os.path.join(ckpt, "offsets")
    return sum(1 for n in os.listdir(d) if n.isdigit()) if os.path.isdir(d) else 0


def _check_reports(run: Run, what: str, got: dict, remote_dir: str, pop_path: str) -> None:
    try:
        want = checks.reference_reports(os.path.join(remote_dir, gen.DATA_FILE), pop_path)
    except (OSError, ValueError, KeyError) as e:
        want = {name: f"no reference: {e!r}" for name in REPORTS}
    for name in REPORTS:
        run.ledger.check(
            f"{what} {name}",
            lambda n=name: want[n] if isinstance(want[n], str) else checks.rows_match(got.get(n, []), want[n]),
        )


def pipeline(run: Run) -> None:
    import blspark.jobs as J

    remote_dir = os.path.join(run.work, "remote")
    mirror = os.path.join(run.work, "mirror")
    ckpt = os.path.join(run.work, "checkpoint")
    remote = gen.BlsRemote(run.seed, remote_dir)
    remote.write_initial()
    files = os.listdir(remote_dir)
    run.info["data"] = {
        "remote_files": len(files),
        "remote_bytes": sum(os.path.getsize(os.path.join(remote_dir, f)) for f in files),
        "data_file_rows": len(remote.data.sid),
        "series": gen.N_SERIES,
    }

    run.e2e["setup_s"] = start_spark(run)
    state = _SyncState()
    if run.trace:
        _trace_pipeline(run, state)

    def fetcher(cycle: int):
        return lambda _url: gen.population_doc(run.seed, cycle)

    # cold: the first cycle on an empty mirror
    run.tracer.run_id = "cold"
    state.changed_bytes = run.info["data"]["remote_bytes"]
    with run.peak.timed():
        t0 = _now()
        counts = J.sync_job(run.spark, remote_dir, mirror)
        pop = J.fetch_population_job(mirror, fetch=fetcher(0), now=FETCH_EPOCH)
        got = _collect_reports(run, J.report_job(run.spark, mirror))
        run.e2e["cold_s"] = _now() - t0
    n_remote = len(files)
    run.ledger.check("cold sync counts", checks.counts_match, counts,
                     {"insert": n_remote, "update": 0, "skip": 0, "delete": 0})
    run.ledger.check("cold mirror md5", checks.mirror_matches, remote_dir, mirror)
    _check_reports(run, "cold", got, remote_dir, os.path.join(mirror, pop or "missing"))

    cycles: list[dict] = []
    results: list = []
    t_measure = _now()
    k = 0
    while k <= MAX_CYCLES and (
        _now() - t_measure < run.seconds or len(cycles) < MIN_CYCLES + run.trace
    ):
        k += 1
        cs = remote.next_change()
        state.changed_bytes = sum(
            os.path.getsize(os.path.join(remote_dir, f)) for f in cs.inserted + cs.updated
        )
        n_remote = len(os.listdir(remote_dir))
        offsets0, n_results = _offsets(ckpt), len(results)
        # cycle 1 starts the arrival stream and is left out of the
        # figures; after it, traced and untraced cycles alternate
        traced = run.trace and k > 1 and _abba(k - 2)
        run.tracer.enabled = traced or (run.trace and k == 1)
        run.tracer.run_id = "cold-stream" if k == 1 else f"cycle{k}"
        with run.peak.timed():
            t0 = _now()
            counts = J.sync_job(run.spark, remote_dir, mirror)
            t1 = _now()
            pop = J.fetch_population_job(mirror, fetch=fetcher(k), now=FETCH_EPOCH + dt.timedelta(days=k))
            t_arrival = _now()
            J.run_report_on_arrival(run.spark, mirror, ckpt, results)
            got = _collect_reports(run, results[-1]) if len(results) > n_results else {}
            t_end = _now()
        run.tracer.enabled = run.trace
        if k == 1:
            t_measure = _now()
        else:
            cycles.append({"cycle_s": t_end - t0, "sync_s": t1 - t0,
                           "report_latency_s": t_end - t_arrival, "traced": traced})
        want = {"insert": len(cs.inserted), "update": len(cs.updated),
                "skip": n_remote - len(cs.inserted) - len(cs.updated),
                # the strict mirror also removes the previous cycle's
                # population document, which is not on the remote
                "delete": len(cs.deleted) + 1}
        run.ledger.check(f"cycle{k} sync counts", checks.counts_match, counts, want)
        run.ledger.check(f"cycle{k} mirror md5", checks.mirror_matches, remote_dir, mirror)
        run.ledger.check(
            f"cycle{k} one micro-batch", checks.counts_match,
            {"batches": _offsets(ckpt) - offsets0, "reports": len(results) - n_results},
            {"batches": 1, "reports": 1},
        )
        _check_reports(run, f"cycle{k}", got, remote_dir, os.path.join(mirror, pop or "missing"))

    _summarize_cycles(run, cycles, ("cycle_s", "sync_s", "report_latency_s"))
    if run.trace:
        hash_ratios(run.tracer)


def _abba(i: int) -> bool:
    """Traced, untraced, untraced, traced, ...: both arms sit equally
    early on the JIT warm-up curve, so the overhead ratio is not biased."""
    return i % 4 in (0, 3)


def _summarize_cycles(run: Run, cycles: list[dict], keys: tuple[str, ...]) -> None:
    plain = [c for c in cycles if not c["traced"]] or cycles
    for key in keys:
        run.e2e[key] = statistics.median(c[key] for c in plain)
    run.info["samples"] = {"cycles": len(plain), "traced_cycles": len(cycles) - len(plain)}
    run.info["cycles"] = cycles
    traced = [c["cycle_s"] for c in cycles if c["traced"]]
    if traced:
        run.info["trace_overhead"] = {
            "cycle_s_traced": statistics.median(traced),
            "cycle_s_untraced": run.e2e["cycle_s"],
        }


# --------------------------------------------------------------------- board


def _duck_oracles(tables_dir: str, names) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from blspark.catalog import registry

    reg = registry()
    con = duckdb.connect()
    try:
        for t in BOARD_TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            rel = con.execute(reg[name].oracle)
            out[name] = ([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def board(run: Run) -> None:
    from blspark import catalog

    tables_dir = os.path.join(run.work, "tables")
    run.info["data"] = {"rows": gen.board_tables(run.seed, tables_dir)}
    oracles = _duck_oracles(tables_dir, BOARD)

    run.e2e["setup_s"] = start_spark(run)
    reg = catalog.registry()
    rng = np.random.default_rng([run.seed, 11])

    latency: dict[str, list[float]] = {name: [] for name in BOARD}
    run.info["query_latency_s"] = latency

    def one_pass(label: str) -> tuple[float, list[float]]:
        run.tracer.run_id = label
        lat = []
        results = {}
        with run.peak.timed():
            t_pass = _now()
            for name in rng.permutation(BOARD).tolist():
                idx = run.tracer.begin(f"queries.{name}")
                t0 = _now()
                df = reg[name].spark_fn(run.spark, tables_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
                lat.append(_now() - t0)
                run.tracer.end(idx)
                latency[name].append(lat[-1])
            wall = _now() - t_pass
        for name, (cols, rows) in results.items():
            run.ledger.check(f"{label} {name}", checks.board_match, cols, rows, *oracles[name])
        return wall, lat

    _, cold = one_pass("cold")
    run.e2e["cold_s"] = sum(cold)
    passes: list[dict] = []
    latencies: list[float] = []
    t_measure = _now()
    while len(passes) < MAX_CYCLES and (
        _now() - t_measure < run.seconds or len(passes) < MIN_PASSES + 2 * run.trace
    ):
        traced = run.trace and _abba(len(passes))
        run.tracer.enabled = traced
        wall, lat = one_pass(f"pass{len(passes) + 1}")
        run.tracer.enabled = run.trace
        passes.append({"cycle_s": wall, "traced": traced})
        if not traced:
            latencies += lat
    _summarize_cycles(run, passes, ("cycle_s",))
    # one number over every query the analyst waited for: a median
    # would jump between the cheap relational and the costly vector
    # queries as the mix shifts
    run.e2e["report_latency_s"] = statistics.geometric_mean(latencies)
