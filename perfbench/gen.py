"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Nothing imports blspark, so the generator can run
(and be self-tested) without Spark.

BLS mirror (FIXTURES.md sections 1-2):
- ``pr.data.0.Current`` is a tab-separated file with whitespace-padded
  header names and cells, ``Q01``-``Q05`` periods (``Q05`` is the annual
  average the reference sums in), a few unparseable ``value`` cells and
  at least one series whose best year is tied with an earlier year.
- population documents follow the DataUSA shape ``{"data": [...],
  "source": [...]}`` and skip some years (2020 is always missing), so the
  Q3 left join keeps rows with a null Population.
- ``ChangeSet`` describes one cycle's remote edit (inserts, updates,
  deletes) so the benchmark can check the sync's action counts.

Board tables: a small star schema plus ``events``, ``documents`` and
``embeddings`` with the column names and types of the repository's test
tables, written as parquet.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# The 13 objects of the BLS ``pr`` directory.
PR_FILES = (
    "pr.class",
    "pr.contacts",
    "pr.data.0.Current",
    "pr.data.1.AllData",
    "pr.duration",
    "pr.footnote",
    "pr.measure",
    "pr.period",
    "pr.release",
    "pr.seasonal",
    "pr.sector",
    "pr.series",
    "pr.txt",
)
DATA_FILE = "pr.data.0.Current"
Q3_SERIES = "PRS30006032"
FIRST_YEAR, LAST_YEAR = 1995, 2025
PERIODS = np.array([b"Q01", b"Q02", b"Q03", b"Q04", b"Q05"])
HEADER = b"series_id        \tyear\tperiod\t       value\tfootnote_codes\n"
_SID_W, _VAL_W = 17, 12
# series_id(17) \t year(4) \t period(3) \t value(12) \t footnote(1) \n
ROW_W = _SID_W + 1 + 4 + 1 + 3 + 1 + _VAL_W + 1 + 1 + 1
BAD_CELLS = (b"-", b"n/a")


# series in ``pr.data.0.Current``: about 38k rows, the size of the BLS file
N_SERIES = 280


@dataclass
class ChangeSet:
    """One cycle's remote edit, as file names."""

    inserted: list[str] = field(default_factory=list)
    updated: list[str] = field(default_factory=list)
    deleted: list[str] = field(default_factory=list)


@dataclass
class BlsData:
    """Columns of ``pr.data.0.Current``: one entry per row."""

    sid: np.ndarray  # S17, padded series ids
    year: np.ndarray  # int16
    period: np.ndarray  # index into PERIODS
    tenths: np.ndarray  # int64 value in tenths
    bad: np.ndarray  # int8: 0 parses, else 1 + index into BAD_CELLS
    foot: np.ndarray  # S1 footnote code, b" " when blank


def _series_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    nums = rng.choice(np.arange(10_000_000, 100_000_000), size=n + 4, replace=False)
    ids = [f"PRS{v:08d}" for v in nums]
    ids = [i for i in ids if i not in (Q3_SERIES, "PRS30006011")][: n - 2]
    ids = sorted(ids + [Q3_SERIES, "PRS30006011"])
    return np.array([i.ljust(_SID_W).encode() for i in ids], dtype=f"S{_SID_W}")


def bls_data(rng: np.random.Generator, n_series: int) -> BlsData:
    """Observations for ``n_series`` series, each covering a contiguous
    run of years ending in LAST_YEAR, all five periods per year."""
    sids = _series_ids(rng, n_series)
    start = rng.integers(FIRST_YEAR, 2004, size=n_series)
    q3 = int(np.searchsorted(sids, Q3_SERIES.ljust(_SID_W).encode()))
    start[q3] = FIRST_YEAR
    n_years = LAST_YEAR - start + 1
    s_idx = np.repeat(np.arange(n_series), n_years * 5)
    offs = np.arange(len(s_idx)) - np.repeat(np.cumsum(n_years * 5) - n_years * 5, n_years * 5)
    year = (start[s_idx] + offs // 5).astype(np.int16)
    period = (offs % 5).astype(np.int8)
    level = rng.normal(100.0, 40.0, size=n_series)
    tenths = np.rint((level[s_idx] + rng.normal(0.0, 15.0, size=len(s_idx))) * 10).astype(np.int64)
    tenths = np.clip(tenths, -210, 7050)
    bad = np.zeros(len(s_idx), dtype=np.int8)
    bad_rows = rng.choice(len(s_idx), size=max(3, len(s_idx) // 500), replace=False)
    bad[bad_rows] = rng.integers(1, len(BAD_CELLS) + 1, size=len(bad_rows))
    foot = np.where(rng.random(len(s_idx)) < 0.02, b"P", b" ").astype("S1")
    data = BlsData(sids[s_idx], year, period, tenths, bad, foot)
    _plant_ties(rng, data, n_series)
    return data


def _plant_ties(rng: np.random.Generator, d: BlsData, n_series: int) -> None:
    """Copy each chosen series' best year onto an earlier year, so two
    years tie on the maximal yearly sum and the earliest must win."""
    chosen = set(rng.choice(n_series, size=max(2, n_series // 100), replace=False).tolist())
    chosen.add(1)  # always at least one, independent of the draw
    bounds = np.flatnonzero(np.r_[True, d.sid[1:] != d.sid[:-1], True])
    for s in sorted(chosen):
        lo, hi = bounds[s], bounds[s + 1]
        good = d.bad[lo:hi] == 0
        sums = np.bincount((d.year[lo:hi] - d.year[lo])[good], weights=d.tenths[lo:hi][good])
        best = int(np.argmax(sums))
        if best == 0:
            continue
        target = int(rng.integers(0, best))
        src = slice(lo + best * 5, lo + best * 5 + 5)
        dst = slice(lo + target * 5, lo + target * 5 + 5)
        d.tenths[dst] = d.tenths[src]
        d.bad[dst] = d.bad[src]


def _digits(v: np.ndarray, width: int) -> np.ndarray:
    """Right-aligned ASCII rendering of non-negative ints, space padded."""
    out = np.full((len(v), width), ord(" "), dtype=np.uint8)
    rest = v.copy()
    for col in range(width - 1, -1, -1):
        d = (rest % 10).astype(np.uint8) + ord("0")
        live = (rest > 0) | (col == width - 1)
        out[live, col] = d[live]
        rest //= 10
    return out


def render_bls(d: BlsData) -> bytes:
    """Fixed-width padded TSV, built as one byte matrix (fast at 2M rows)."""
    n = len(d.sid)
    m = np.full((n, ROW_W), ord(" "), dtype=np.uint8)
    m[:, :_SID_W] = d.sid.view(np.uint8).reshape(n, _SID_W)
    c = _SID_W
    m[:, c] = 9
    m[:, c + 1 : c + 5] = _digits(d.year.astype(np.int64), 4)
    m[:, c + 5] = 9
    m[:, c + 6 : c + 9] = PERIODS[d.period].view(np.uint8).reshape(n, 3)
    m[:, c + 9] = 9
    v0 = c + 10
    mag = np.abs(d.tenths)
    # "   dddd.d": integer part, '.', one decimal; '-' before the first digit
    intpart = _digits(mag // 10, _VAL_W - 2)
    m[:, v0 : v0 + _VAL_W - 2] = intpart
    m[:, v0 + _VAL_W - 2] = ord(".")
    m[:, v0 + _VAL_W - 1] = (mag % 10).astype(np.uint8) + ord("0")
    neg = np.flatnonzero(d.tenths < 0)
    if len(neg):
        first = (intpart[neg] != ord(" ")).argmax(axis=1)
        m[neg, v0 + first - 1] = ord("-")
    for code, cell in enumerate(BAD_CELLS, start=1):
        rows = np.flatnonzero(d.bad == code)
        m[rows, v0 : v0 + _VAL_W] = ord(" ")
        m[rows, v0 + _VAL_W - len(cell) : v0 + _VAL_W] = np.frombuffer(cell, np.uint8)
    m[:, v0 + _VAL_W] = 9
    m[:, v0 + _VAL_W + 1] = d.foot.view(np.uint8)
    m[:, ROW_W - 1] = ord("\n")
    return HEADER + m.tobytes()


def _text_file(rng: np.random.Generator, name: str, n_lines: int) -> bytes:
    words = rng.integers(0, 1 << 30, size=(n_lines, 4))
    lines = [f"{name}\t" + "\t".join(f"{w:09d}" for w in row) for row in words]
    return ("\n".join(lines) + "\n").encode()


def population_doc(seed: int, cycle: int) -> bytes:
    """Population JSON for one fetch: 2013-2023 minus 2020 and one more
    seeded gap, values revised a little on every cycle."""
    rng = np.random.default_rng([seed, 7, cycle])
    years = [y for y in range(2013, 2024) if y != 2020]
    years.remove(int(rng.choice([y for y in years if y not in range(2013, 2019)])))
    pop = 316_128_839 + np.cumsum(rng.integers(1_500_000, 3_000_000, size=len(years)))
    records = [
        {"Nation ID": "01000US", "Nation": "United States", "Year": y, "Population": int(p)}
        for y, p in zip(years, pop.tolist())
    ]
    doc = {"data": records, "source": [{"measures": ["Population"], "annotations": {
        "source_name": "Census Bureau", "dataset_name": "ACS 1-year Estimate"}}]}
    return json.dumps(doc).encode()


class BlsRemote:
    """The remote ``pr`` directory, editable cycle by cycle."""

    def __init__(self, seed: int, root: str):
        self.seed, self.root = seed, root
        self.data = bls_data(np.random.default_rng([seed, 1]), N_SERIES)
        self.cycle = 0

    def _write(self, name: str, body: bytes) -> None:
        with open(os.path.join(self.root, name), "wb") as f:
            f.write(body)

    def write_initial(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        current = render_bls(self.data)
        for name in PR_FILES:
            if name == DATA_FILE:
                body = current
            elif name == "pr.data.1.AllData":
                body = current[: len(current) // 10]
            elif name == "pr.series":
                body = b"".join(s + b"\tseries\n" for s in np.unique(self.data.sid))
            else:
                body = _text_file(np.random.default_rng([self.seed, 3, len(name)]), name, 40)
            self._write(name, body)

    def next_change(self) -> ChangeSet:
        """Apply the next cycle's edit to the remote and describe it: one
        new file, one deleted file and a revised data file (some values
        revised, some cells turned unparseable)."""
        self.cycle += 1
        k = self.cycle
        rng = np.random.default_rng([self.seed, 4, k])
        cs = ChangeSet()
        new = f"pr.revision.{k}"
        self._write(new, _text_file(rng, new, 20))
        cs.inserted.append(new)
        gone = "pr.contacts" if k == 1 else f"pr.revision.{k - 1}"
        os.remove(os.path.join(self.root, gone))
        cs.deleted.append(gone)
        d = self.data
        rows = rng.choice(len(d.sid), size=max(8, len(d.sid) // 1000), replace=False)
        d.tenths[rows] += rng.integers(-30, 31, size=len(rows))
        d.bad[rows[:2]] = 1
        self._write(DATA_FILE, render_bls(d))
        cs.updated.append(DATA_FILE)
        return cs


# ---------------------------------------------------------------- board tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


# Board tables have the row counts of the repository's sf0.01 test tables
# (60k lineitem, 500 documents, 500 embeddings). At sf0.1's counts a warm
# pass took 16.8 s rather than 7.9 s on a 4-core host, more than a run's
# share of the benchmark's time budget allows (see perfbench/README.md).
SF = 0.01
N_DOCS, N_EMBEDDINGS = 500, 500


def board_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the board's parquet tables under ``out_dir``; returns rows
    per table. Column names and types follow the test tables the query
    registry is written against."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 9])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb = N_DOCS, N_EMBEDDINGS
    ts0 = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts0 + rng.integers(0, 2400, n_ord) * day,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts0 + rng.integers(1, 2500, n_line) * day})
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.3, (10, 64))
    x = centers[label] + rng.normal(0.0, 1.0, (n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.array(list(x), type=pa.list_(pa.float32()))
    rows = {}
    for name, df in t.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(n_emb, dtype=np.int64)), "embedding": emb,
                  "label": pa.array(label)}),
        os.path.join(out_dir, "embeddings.parquet"))
    rows["embeddings"] = n_emb
    return rows
