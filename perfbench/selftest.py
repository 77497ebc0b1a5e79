"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py                      # fast: no Spark
    python3 perfbench/selftest.py --counters board     # two traced runs

The fast tests check that the generator is a pure function of the seed
and plants the FIXTURES.md edge cases, that a corrupted result makes
``error_rate`` > 0, that BENCHMARK.json keeps to its format, and that
the benchmark refuses to run without the blspark sources. ``--counters``
runs one workload traced twice with the same seed and requires every
``.jobs``, ``.stages`` and ``.shuffle_write_bytes`` metric to repeat
exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_work", "selftest")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def _remote_after_cycles(seed: int, path: str, cycles: int = 2) -> dict[str, str]:
    shutil.rmtree(path, ignore_errors=True)
    remote = gen.BlsRemote(seed, path)
    remote.write_initial()
    for _ in range(cycles):
        remote.next_change()
    return checks.md5_listing(path)


def test_generator_is_seeded() -> None:
    a = _remote_after_cycles(5, os.path.join(SCRATCH, "a"))
    b = _remote_after_cycles(5, os.path.join(SCRATCH, "b"))
    c = _remote_after_cycles(6, os.path.join(SCRATCH, "c"))
    assert a == b, "same seed, different mirror"
    assert a[gen.DATA_FILE] != c[gen.DATA_FILE], "different seeds, same data file"
    assert gen.population_doc(5, 3) == gen.population_doc(5, 3)
    t1, t2 = os.path.join(SCRATCH, "t1"), os.path.join(SCRATCH, "t2")
    gen.board_tables(5, t1)
    gen.board_tables(5, t2)
    assert checks.md5_listing(t1) == checks.md5_listing(t2), "same seed, different board tables"


def test_edge_cases_planted() -> None:
    path = os.path.join(SCRATCH, "edge")
    _remote_after_cycles(7, path, cycles=0)
    data_file = os.path.join(path, gen.DATA_FILE)
    with open(data_file, "rb") as f:
        header = f.readline()
        body = f.read()
    assert header.startswith(b"series_id        \t") and b"\t       value\t" in header
    assert b"\tQ05\t" in body
    assert b"           -\t" in body or b"         n/a\t" in body, "no unparseable value cell"
    doc = json.loads(gen.population_doc(7, 0))
    years = [r["Year"] for r in doc["data"]]
    assert 2020 not in years and len(years) < 11, "population years have no gaps"

    import pandas as pd

    raw = pd.read_csv(data_file, sep="\t", dtype=str)
    raw.columns = [c.strip() for c in raw.columns]
    raw["value"] = pd.to_numeric(raw["value"].str.strip(), errors="coerce")
    raw["tenths"] = (raw["value"] * 10).round()
    yearly = raw.dropna().groupby(["series_id", "year"])["tenths"].sum()
    top = yearly.groupby(level=0).transform("max")
    ties = (yearly == top).groupby(level=0).sum()
    assert (ties >= 2).any(), "no series with a tied best year"


def test_corruption_is_caught() -> None:
    path = os.path.join(SCRATCH, "corrupt")
    _remote_after_cycles(8, path, cycles=0)
    pop = os.path.join(SCRATCH, "pop.json")
    with open(pop, "wb") as f:
        f.write(gen.population_doc(8, 0))
    want = checks.reference_reports(os.path.join(path, gen.DATA_FILE), pop)

    clean = checks.Ledger()
    for name, rows in want.items():
        clean.check(name, checks.rows_match, list(rows), rows)
    assert clean.error_rate == 0.0

    bad = checks.Ledger()
    mean, std, n = want["population_stats"][0]
    bad.check("q1", checks.rows_match, [(mean * (1 + 1e-9), std, n)], want["population_stats"])
    s, y, v = want["best_years"][0]
    bad.check("q2", checks.rows_match, [(s, y + 1, v)] + want["best_years"][1:], want["best_years"])
    q3 = list(want["combined_report"])
    with_pop = next(i for i, r in enumerate(q3) if r[4] is not None)
    q3[with_pop] = q3[with_pop][:4] + (None,)
    bad.check("q3", checks.rows_match, q3, want["combined_report"])
    bad.check("counts", checks.counts_match, {"insert": 1}, {"insert": 2})
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.5)]
    bad.check("board", checks.board_match, cols, [(1, 0.5), (2, 1.25)], cols, rows)
    assert bad.failed == bad.attempted == 5, bad.failures
    assert bad.error_rate > 0

    ok = checks.Ledger()
    ok.check("board", checks.board_match, ["v", "k"], [(1.5, 2), (0.5, 1)], cols, rows)
    assert ok.error_rate == 0.0, ok.failures


_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def test_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(spec["paths"]) <= 16 and all(os.path.isdir(os.path.join(ROOT, p)) for p in spec["paths"])
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert _UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(_NAME.match(n) for n in names) and len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_refuses_without_sources() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "board", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and '"correct"' not in p.stdout, (p.returncode, p.stdout)


def counters_repeat(workload: str, seed: int = 3) -> None:
    """Two traced runs, same seed: every job, stage and shuffle-write
    counter matches."""
    runs = []
    for _ in range(2):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        runs.append(json.loads(p.stdout.strip().splitlines()[-1])["metrics"])
    keys = [k for k in runs[0] if k.endswith((".jobs", ".stages", ".shuffle_write_bytes"))]
    differ = {k: (runs[0][k]["value"], runs[1][k]["value"]) for k in keys
              if runs[0][k]["value"] != runs[1][k]["value"]}
    assert not differ, f"counters moved between identical runs: {differ}"
    live = sum(1 for k in keys if runs[0][k]["value"])
    print(f"{workload}: {len(keys)} counters repeat exactly ({live} non-zero)")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--counters", metavar="WORKLOAD")
    args = ap.parse_args()
    os.makedirs(SCRATCH, exist_ok=True)
    try:
        if args.counters:
            counters_repeat(args.counters)
            return 0
        for name, fn in sorted(globals().items()):
            if name.startswith("test_") and callable(fn):
                fn()
                print(f"ok {name}")
        return 0
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
