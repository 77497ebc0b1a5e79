"""catalog.load_table's per-session schema memo and catalog.session_memo's
file-signature key: what a live session may reuse, and when it must not."""

from __future__ import annotations

import shutil

import pandas as pd
from pyspark.sql import functions as F

from blspark.catalog import file_signature, load_table
from tests.conftest import SF_ORACLE, SF_SMOKE, JobCount


def _copy_table(tmp_path, name, sf=SF_SMOKE):
    shutil.copyfile(f"{sf}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_second_load_of_unchanged_table_launches_no_job(spark, tmp_path):
    sf = _copy_table(tmp_path, "lineitem")
    with JobCount(spark) as first:
        load_table(spark, sf, "lineitem")
    with JobCount(spark) as second:
        df = load_table(spark, sf, "lineitem")
    assert first.jobs == 1  # the parquet schema inference
    assert second.jobs == 0
    assert df.count() == pd.read_parquet(f"{sf}/lineitem.parquet").shape[0]


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pd.DataFrame({"c": [3.5], "d": [True], "e": [7]}).to_parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["c", "d", "e"]
    assert [tuple(r) for r in df.collect()] == [(3.5, True, 7)]


def test_rewritten_directory_table_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(2).select(F.col("id").alias("k"), F.lit("v").alias("s")).write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "s"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "v"), (1, "v")]


def test_self_join_of_two_handles_keeps_its_rows(spark):
    """Two handles of one table stay separate relations: the self-join
    returns exactly what two uninferred reads of the file return."""

    def pairs(a, b):
        return sorted(
            tuple(r)
            for r in a.alias("a")
            .join(
                b.alias("b"),
                (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
                & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
            )
            .select("a.n_nationkey", "b.n_nationkey")
            .collect()
        )

    path = f"{SF_ORACLE}/nation.parquet"
    got = pairs(
        load_table(spark, SF_ORACLE, "nation"), load_table(spark, SF_ORACLE, "nation")
    )
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    nation = pd.read_parquet(path)
    m = nation.merge(nation, on="n_regionkey")
    m = m[m.n_nationkey_x < m.n_nationkey_y]
    assert got == want == sorted(zip(m.n_nationkey_x, m.n_nationkey_y))


def test_file_signature_local_only(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"abc")
    st = f.stat()
    assert file_signature(str(f)) == ((3, st.st_mtime_ns),)
    assert file_signature(f.as_uri()) == file_signature(str(f))
    d = tmp_path / "d"
    (d / "p=1").mkdir(parents=True)
    (d / "p=1" / "part-0").write_bytes(b"xy")
    assert [e[:2] for e in file_signature(str(d))] == [("p=1/part-0", 2)]
    assert file_signature("s3a://bucket/t.parquet") is None
    assert file_signature(str(tmp_path / "missing")) is None


def test_det_centroids_follow_an_in_place_rewrite(spark, tmp_path):
    """Trained centroids key on the content read, not only on the plan:
    doubling every embedding and rewriting the file in place, in the
    same session, serves the new centroids."""
    from blspark.queries.extensions9 import _DET_CENTROIDS_MEMO, _det_centroids

    sf = _copy_table(tmp_path, "embeddings")

    def cents():
        rows = _det_centroids(load_table(spark, sf, "embeddings")).collect()
        return sorted((r.cell_id, tuple(r.centroid)) for r in rows)

    before = cents()
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    emb["embedding"] = emb["embedding"].map(lambda v: v * 2)
    emb.to_parquet(f"{sf}/embeddings.parquet", index=False)
    after = cents()
    assert after != before
    _DET_CENTROIDS_MEMO.clear()
    assert cents() == after  # what a fresh computation gives


def test_dedup_prefix_join_warm_job_budget(spark):
    """One shingle-set build per query: the warm prefix join stays within
    11 Spark jobs, and the count repeats exactly."""
    from blspark.catalog import registry

    q = registry()["x_dedup_prefix_join"].spark_fn
    q(spark, SF_ORACLE).collect()  # cold: schema inference, JIT
    counts = []
    for _ in range(2):
        with JobCount(spark) as run:
            q(spark, SF_ORACLE).collect()
        counts.append(run.jobs)
    assert counts[0] == counts[1] <= 11
