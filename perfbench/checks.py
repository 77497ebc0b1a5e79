"""Correctness checks, run outside the timed regions.

- ``reference_reports``: a pandas re-implementation of the reference's
  ``report_processor`` semantics, computed from the files on disk: trim
  headers and cells, coerce with ``to_numeric(errors='coerce')``, drop
  rows with a null in the four projected columns, sample stddev (ddof=1),
  yearly sums that include Q05, earliest year on a tied maximum, and a
  left join that keeps a null Population. Yearly sums are taken in exact
  tenths (every generated value has one decimal), so a tie is a tie.
- ``canonical_rows``: the order-insensitive row multiset the repository's
  differential test (tests/test_oracle.py) compares query results by.
- ``Ledger`` counts operations attempted and failed; ``error_rate`` is
  their ratio.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import traceback

import pandas as pd

Q3_SERIES, Q3_PERIOD = "PRS30006032", "Q01"
REL_TOL = 1e-12


class Ledger:
    """Operations attempted and failed in one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, what: str, fn, *args) -> bool:
        """Run one check; a mismatch message or an exception is a failure."""
        self.attempted += 1
        try:
            problem = fn(*args)
        except Exception:
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failed += 1
            self.failures.append(f"{what}: {problem}"[:2000])
            return False
        return True

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ------------------------------------------------------------------ pipeline


def md5_listing(directory: str, skip_prefix: str | None = None) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path) or (skip_prefix and name.startswith(skip_prefix)):
            continue
        h = hashlib.md5()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        out[name] = h.hexdigest()
    return out


def mirror_matches(remote: str, mirror: str) -> str | None:
    """The mirror holds exactly the remote's files, byte for byte (the
    population documents the fetch step adds are mirror-local)."""
    want = md5_listing(remote)
    have = md5_listing(mirror, skip_prefix="population_data_")
    if want == have:
        return None
    missing = sorted(set(want) - set(have))
    extra = sorted(set(have) - set(want))
    differ = sorted(k for k in set(want) & set(have) if want[k] != have[k])
    return f"missing={missing[:5]} extra={extra[:5]} differ={differ[:5]}"


def counts_match(got: dict[str, int], want: dict[str, int]) -> str | None:
    return None if got == want else f"got {got}, want {want}"


def reference_reports(data_file: str, pop_file: str) -> dict[str, list[tuple]]:
    raw = pd.read_csv(data_file, sep="\t", dtype=str, keep_default_na=False, engine="pyarrow")
    raw.columns = [c.strip() for c in raw.columns]
    bls = pd.DataFrame({c: raw[c].str.strip() for c in ("series_id", "year", "period", "value")})
    bls["year"] = pd.to_numeric(bls["year"], errors="coerce")
    bls["value"] = pd.to_numeric(bls["value"], errors="coerce")

    q2_in = bls[(bls["series_id"] != "") & (bls["period"] != "")].dropna()
    tenths = (q2_in["value"] * 10).round().astype("int64")
    yearly = (q2_in.assign(year=q2_in["year"].astype(int), tenths=tenths)
              .groupby(["series_id", "year"], sort=True)["tenths"].sum().reset_index())
    best = yearly.loc[yearly.groupby("series_id")["tenths"].idxmax()]
    q2 = [(s, int(y), t / 10) for s, y, t in best.itertuples(index=False)]

    with open(pop_file) as f:
        pop = pd.DataFrame(json.load(f)["data"])
    pop = pd.DataFrame({"Year": pd.to_numeric(pop["Year"], errors="coerce"),
                        "Population": pd.to_numeric(pop["Population"], errors="coerce")})
    in_range = pop[pop["Year"].between(2013, 2018)]["Population"].dropna()
    q1 = [(float(in_range.mean()), float(in_range.std(ddof=1)), int(in_range.count()))]

    # Q3 slices the coerced frame without the null drop: a bad value cell
    # stays as a row with a null value
    sl = bls[(bls["series_id"] == Q3_SERIES) & (bls["period"] == Q3_PERIOD)]
    right = pop.dropna().astype({"Year": int}).rename(columns={"Year": "year"})
    q3_df = sl.astype({"year": int}).merge(right, on="year", how="left").sort_values("year")
    q3 = [
        (s, int(y), p, None if pd.isna(v) else float(v), None if pd.isna(pp) else float(pp))
        for s, y, p, v, pp in q3_df[["series_id", "year", "period", "value", "Population"]].itertuples(index=False)
    ]
    return {"population_stats": q1, "best_years": q2, "combined_report": q3}


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> str | None:
    """Ordered row-by-row comparison; floats to a relative 1e-12."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return f"row {i}: got {g}, want {w}"
    return None


# --------------------------------------------------------------------- board


def _canon(value) -> str:
    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.10g}"
    return str(value)


def canonical_rows(rows: list[tuple], columns: list[str]) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def board_match(got_cols, got_rows, want_cols, want_rows) -> str | None:
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {got_cols} vs {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows, oracle {len(want_rows)}"
    g, w = canonical_rows(got_rows, got_cols), canonical_rows(want_rows, want_cols)
    if g != w:
        diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
        return f"value mismatch, first diffs {diff}"
    return None
