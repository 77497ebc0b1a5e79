"""Full-pipeline test: EP1 (sync + fetch) -> EP2 (report) on a faked
remote with the reference's real population numbers — ends in the
notebook's golden outputs."""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os

import pytest
from pyspark.errors import AnalysisException

from blspark import jobs
from blspark.io.readers import read_padded_tsv
from blspark.jobs import (
    fetch_population_job,
    report_job,
    run_report_on_arrival,
    sync_job,
    tsv_header_schema,
)
from tests.conftest import JobCount

BLS_TSV = (
    "series_id        \tyear\tperiod\t       value\tfootnote_codes\n"
    "PRS30006032      \t2013\tQ01\t         2.5\t\n"
    "PRS30006032      \t2013\tQ05\t         2.0\t\n"
    "PRS30006032      \t2014\tQ01\t         3.5\t\n"
    "PRS30006011      \t2013\tQ01\t         1.0\t\n"
    "PRS30006011      \t2014\tQ01\t         1.0\t\n"  # tie -> 2013 wins
    "PRS30006011      \t2013\tQ02\t         bad\t\n"  # coerced to null
)

POP_JSON = {
    "data": [
        {"Nation ID": "01000US", "Nation": "United States", "Year": y, "Population": p}
        for y, p in [
            (2013, 316128839.0), (2014, 318857056.0), (2015, 321418821.0),
            (2016, 323127515.0), (2017, 325719178.0), (2018, 327167439.0),
        ]
    ],
    "source": [{"annotations": {}}],
}


def _make_remote(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "pr.data.0.Current").write_text(BLS_TSV)
    (remote / "pr.series").write_text("metadata not queried\n")
    return remote


def test_full_pipeline_sync_fetch_report(spark, tmp_path):
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"

    # EP1: daily sync + API fetch
    counts = sync_job(spark, str(remote), str(mirror))
    assert counts["insert"] == 2 and counts["delete"] == 0
    name = fetch_population_job(
        str(mirror),
        fetch=lambda url: json.dumps(POP_JSON).encode(),
        now=dt.datetime(2024, 1, 1, 12, 0, 0),
    )
    assert name == "population_data_20240101_120000.json"

    # EP2: report over the mirror
    reports = report_job(spark, str(mirror))
    q1 = reports["population_stats"].first()
    assert q1["year_count"] == 6
    assert round(q1["mean_population"], 2) == 322069808.00  # notebook golden
    assert round(q1["stddev_population"], 2) == 4158441.04

    q2 = {r["series_id"]: r for r in reports["best_years"].collect()}
    assert q2["PRS30006032"]["year"] == 2013  # 4.5 (Q01+Q05) > 3.5
    assert q2["PRS30006032"]["value"] == 4.5
    assert q2["PRS30006011"]["year"] == 2013  # tie 1.0 == 1.0 -> earliest

    q3 = reports["combined_report"].collect()
    assert [r["year"] for r in q3] == [2013, 2014]
    assert q3[0]["Population"] == 316128839.0

    # idempotent re-sync: nothing to do
    counts2 = sync_job(spark, str(remote), str(mirror))
    assert counts2["insert"] == 0 and counts2["update"] == 0
    # the fetched population doc is mirror-local, not on the remote:
    # a strict mirror would delete it -> it must be listed as delete
    assert counts2["delete"] >= 1 or counts2["skip"] == 2


def test_report_without_population_degrades(spark, tmp_path):
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"
    sync_job(spark, str(remote), str(mirror))
    reports = report_job(spark, str(mirror))
    assert reports["population_stats"] is None
    combined = reports["combined_report"].collect()
    assert len(combined) == 2
    assert all(r["Population"] is None for r in combined)


def test_report_on_arrival_trigger(spark, tmp_path):
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"
    ckpt = tmp_path / "ckpt"
    sync_job(spark, str(remote), str(mirror))

    results: list = []
    run_report_on_arrival(spark, str(mirror), str(ckpt), results)
    assert results == []  # no population docs yet

    fetch_population_job(
        str(mirror),
        fetch=lambda url: json.dumps(POP_JSON).encode(),
        now=dt.datetime(2024, 1, 2, 12, 0, 0),
    )
    run_report_on_arrival(spark, str(mirror), str(ckpt), results)
    assert len(results) == 1  # one recompute per arrival
    assert round(results[0]["population_stats"].first()["mean_population"], 2) == (
        322069808.00
    )


def _fetch(mirror, day):
    return fetch_population_job(
        str(mirror),
        fetch=lambda url: json.dumps(POP_JSON).encode(),
        now=dt.datetime(2024, 1, day, 12, 0, 0),
    )


def test_report_path_job_budget(spark, tmp_path):
    """Discovery and the BLS header are resolved on the driver: building
    the three report frames launches only the population document's JSON
    schema inference, and an arrival micro-batch adds only the stream's
    isEmpty guard."""
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"
    ckpt = tmp_path / "ckpt"
    sync_job(spark, str(remote), str(mirror))
    _fetch(mirror, 1)
    _fetch(mirror, 2)  # two documents: the newest must be found

    with JobCount(spark) as built:
        reports = report_job(spark, str(mirror))
    assert built.jobs <= 1
    assert reports["population_stats"].first()["year_count"] == 6

    results: list = []
    run_report_on_arrival(spark, str(mirror), str(ckpt), results)
    seen = len(results)
    _fetch(mirror, 3)
    with JobCount(spark) as arrival:
        run_report_on_arrival(spark, str(mirror), str(ckpt), results)
    assert arrival.jobs <= 2
    assert len(results) == seen + 1  # one micro-batch for the one arrival


def test_report_picks_newest_population_document(spark, tmp_path):
    mirror = tmp_path / "mirror"
    mirror.mkdir()
    (mirror / "pr.data.0.Current").write_text(BLS_TSV)
    old = {"data": [{"Year": 2013, "Population": 1.0}]}
    for name, doc in [
        ("population_data_20240101_120000.json", old),
        ("population_data_20240301_120000.json", POP_JSON),
        ("population_data_20240201_120000.json", old),
        ("population_data_20249999.txt", old),  # wrong suffix: not a document
    ]:
        (mirror / name).write_text(json.dumps(doc))
    q1 = report_job(spark, str(mirror))["population_stats"].first()
    assert q1["year_count"] == 6


_ROWS = [
    ("PRS30006032      ", "2013", "Q01", "         2.5", ""),
    ("PRS30006032      ", "2013", "Q05", "         2.0", ""),
    ("PRS30006011      ", "2014", "Q01", "         bad", ""),
]
_BLS_NAMES = ["series_id", "year", "period", "value", "footnote_codes"]
# data files whose header the driver must name exactly as Spark does:
# case -> (file text, column names after read_padded_tsv)
HEADER_CASES = {
    "padded_reordered": (
        "       value\tfootnote_codes\t period \tyear   \tseries_id        \n"
        + "".join(f"{v}\t{f}\t{p}\t{y}\t{s}\n" for s, y, p, v, f in _ROWS),
        ["value", "footnote_codes", "period", "year", "series_id"],
    ),
    "crlf": (BLS_TSV.replace("\n", "\r\n"), _BLS_NAMES),
    # blank field -> _c2; a case-insensitive duplicate gets its index
    "blank_and_duplicate": (
        "series_id        \tyear\t\tperiod\t       value\tnote\tNOTE\n"
        + "".join(f"{s}\t{y}\tx\t{p}\t{v}\ta\tb\n" for s, y, p, v, _ in _ROWS),
        ["series_id", "year", "_c2", "period", "value", "note5", "NOTE6"],
    ),
    "header_only": (BLS_TSV.split("\n")[0] + "\n", _BLS_NAMES),
}


def _mirror_with(tmp_path, name, tsv):
    mirror = tmp_path / name
    mirror.mkdir()
    with open(mirror / "pr.data.0.Current", "w", newline="") as f:
        f.write(tsv)
    _fetch(mirror, 1)
    return mirror


def _collected(reports):
    return {k: None if v is None else v.collect() for k, v in reports.items()}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_driver_header_matches_spark_inference(spark, tmp_path, monkeypatch, case):
    tsv, names = HEADER_CASES[case]
    mirror = _mirror_with(tmp_path, case, tsv)
    path = str(mirror / "pr.data.0.Current")

    schema = tsv_header_schema(spark, path)
    assert schema is not None  # resolved on the driver, no fallback
    raw = read_padded_tsv(spark, path, schema=schema)
    inferred = read_padded_tsv(spark, path)
    assert raw.columns == inferred.columns == names
    assert raw.collect() == inferred.collect()

    got = _collected(report_job(spark, str(mirror)))
    # the reference: report_job with Spark inferring the header
    monkeypatch.setattr(jobs, "tsv_header_schema", lambda spark, path: None)
    want = _collected(report_job(spark, str(mirror)))
    assert got == want


@pytest.mark.parametrize(
    "header",
    ["\ufeffseries_id\tyear\tperiod\tvalue", '"series_id"\tyear\tperiod\tvalue'],
    ids=["byte_order_mark", "quoted"],
)
def test_parser_special_header_keeps_spark_inference(spark, tmp_path, header):
    """Spark's CSV parser drops a byte-order mark and unquotes fields: the
    driver leaves such headers to Spark's own inference."""
    mirror = _mirror_with(tmp_path, "special", header + "\nPRS1\t2013\tQ01\t1.0\n")
    path = str(mirror / "pr.data.0.Current")
    assert tsv_header_schema(spark, path) is None
    names = read_padded_tsv(spark, path).columns
    assert names == ["series_id", "year", "period", "value"]


def test_compressed_data_file_keeps_spark_inference(spark, tmp_path):
    """Spark decompresses by file suffix; the driver-side header read
    leaves compressed data files to Spark."""
    plain = _mirror_with(tmp_path, "plain", BLS_TSV)
    packed = tmp_path / "packed"
    packed.mkdir()
    with gzip.open(packed / "pr.data.0.Current.gz", "wt") as f:
        f.write(BLS_TSV)
    assert tsv_header_schema(spark, str(packed / "pr.data.0.Current.gz")) is None
    got = report_job(spark, str(packed))["best_years"].collect()
    assert got == report_job(spark, str(plain))["best_years"].collect()


def test_empty_data_file_fails_as_with_spark_inference(spark, tmp_path, monkeypatch):
    mirror = _mirror_with(tmp_path, "empty", "")
    assert tsv_header_schema(spark, str(mirror / "pr.data.0.Current")) is None
    with pytest.raises(AnalysisException) as got:
        report_job(spark, str(mirror))
    monkeypatch.setattr(jobs, "tsv_header_schema", lambda spark, path: None)
    with pytest.raises(AnalysisException) as want:
        report_job(spark, str(mirror))
    assert got.value.getCondition() == want.value.getCondition()
    assert "year" in str(got.value)


def test_cli_main_list_query_oracle_sync(spark, tmp_path, capsys):
    """The `python -m blspark` surface routes through the same library
    code: list prints the registry, query runs one, oracle prints SQL,
    sync converges a mirror, report degrades gracefully on an empty
    data dir."""
    from blspark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q2_best_year" in out and "x_similarity_pq_checked" in out

    assert main(["oracle", "q2_best_year"]) == 0
    assert "series_key" in capsys.readouterr().out
    assert main(["oracle", "nope"]) == 2

    assert main([
        "query", "q_distinct_sorted", "--sf-dir", "/root/testdata/sf0.001",
        "--limit", "3",
    ]) == 0
    assert main(["query", "definitely_not_registered"]) == 2

    src = tmp_path / "src"
    src.mkdir()
    (src / "f.txt").write_text("hello")
    assert main(["sync", str(src), str(tmp_path / "mirror")]) == 0
    assert (tmp_path / "mirror" / "f.txt").read_text() == "hello"
    assert '"insert": 1' in capsys.readouterr().out

    empty = tmp_path / "empty"
    empty.mkdir()
    assert main(["report", str(empty)]) == 0
    assert "skipped" in capsys.readouterr().out
