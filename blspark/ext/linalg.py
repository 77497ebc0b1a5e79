"""Distributed linear algebra for the embedding column: exact-decimal
covariance and top-eigenvector power iteration — the PCA stage of an
embedding pipeline (whitening / dominant-direction removal / dim
reduction), expressed as DataFrame plans end to end.

Determinism contract (catalog numeric policy): the covariance pass
quantizes each component onto an exact POWER-OF-TWO grid —
qx = FLOOR(x * 2^40) — not a decimal cast: a double->DECIMAL(18,9)
cast rounds its 9th fractional digit differently across engines on
some inputs (observed at sf0.1: 1-step cov differences ~1e-12 that 8
power iterations amplified into a 64/64 loading mismatch), while
x * 2^40 is an EXACT double op (power-of-two multiply), FLOOR is
unambiguous, and the resulting integral double (< 2^53) casts to
DECIMAL(19,0) exactly in both engines (19, not 18: DuckDB needs
precision >= 19 to take its int128 multiply path — the dstd gotcha). Integer moments then multiply
and sum exactly (precision 37/38, inside both engines' int128
paths); the rescale back divides by 2^40 / 2^80 — power-of-two
double literals, so the division is exact — and the remaining
mean/covariance arithmetic is pinned (s_ij/n - (s_i/n)*(s_j/n), one
op order). Quantization at 2^-40 (~9e-13) is far below float32 input
precision, so the matrix is the true covariance to ~1e-12.
The power iteration is pure +,*,/ and SQRT (the one correctly-rounded
transcendental) over ordered folds — matvec folds j in index order
from 0.0, the norm folds squares in index order — so after any fixed
number of iterations the vector is BITWISE identical across engines
and partitionings. No convergence test (a float comparison would be a
hidden determinism hazard): iteration count is fixed, the Rayleigh
quotient prices how converged the result is.

Scale shape (100 TB): the covariance pass generates each row's own
d(d+1)/2 ordered component products (posexplode of the quantized
array, then a second explode over the suffix slice — no self-join,
no corpus exchange; optimization r17) and partially aggregates
map-side — the one shuffle carries d(d+1)/2 + d groups per map task
(d = 64 -> 2,144), independent of corpus size; the d x d matrix is
metadata (32 KB) and the iteration runs on a ONE-ROW frame
(localCheckpoint every second step truncates the expression tree —
the pagerank/components lineage device). For top-k components, deflate and repeat, or block
iteration; the matrix stays broadcast-sized for any d where d^2
doubles fit an executor (d <= ~30k)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2^40 / 2^80 as exact double literals: power-of-two scaling factors,
# so multiplying/dividing by them never rounds.
_Q_SCALE = float(2**40)
_Q_SCALE2 = float(2**80)


def covariance_matrix(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """ONE row: n (long), trace (double), cov (array<array<double>>,
    dim x dim, sample covariance with 1/n normalization). Exact
    integer moments on the 2^-40 grid; pinned double arithmetic
    (module doc).

    ``dim`` must equal the length of every stored vector: components
    are read by position 1..dim with ``element_at``, so under ANSI mode
    a shorter vector aborts the job, and without ANSI its missing
    components read as null and add nothing to the sums; components
    past ``dim`` are ignored."""
    # ONE corpus pass, ZERO corpus exchanges (optimization r17, guide
    # §2.4): each row quantizes its vector ONCE into a d-element
    # decimal array, posexplodes it, and a second explode over the
    # suffix slice(qa, i+1, d-i) ++ [qx] generates that row's own
    # d(d+1)/2 upper-triangle products (pos < d-i), the d per-component
    # sum terms (the appended singleton, tagged j = -1), and the row
    # count — all small codegen'd expressions pipelined inside one
    # whole-stage-codegen span (a literal 2,144-element struct array
    # was A/B'd first: janino rejects the generated method and the
    # interpreted fallback re-casts the full vector per term, O(d^3)
    # per row; the r16 nested-transform HOF shape was +86% for the
    # same interpreted reason). The only shuffle left carries
    # d(d+1)/2 + d partially-aggregated groups per map task —
    # independent of corpus size — where the old corpus self-join on
    # vec_id exchanged the exploded corpus twice (and Catalyst planned
    # that moment subtree TWICE more via the upper/transpose union).
    # Value-identical: same quantization expression, same
    # decimal(19,0) x decimal(19,0) -> decimal(38,0) products, same
    # sums (s1 widens decimal(29,0) -> decimal(38,0), exact for any
    # realistic count), same double casts; per-group COUNT equals
    # count(*) because every row emits every (i, j) group (null
    # vectors / null components contribute null products, which SUM
    # skips and COUNT keeps — exactly the old posexplode-join
    # semantics).
    v = F.col(vec_col).cast("array<double>")
    qa = F.array(*[
        F.floor(F.element_at(v, i + 1) * F.lit(_Q_SCALE))
        .cast("decimal(19,0)")
        for i in range(dim)
    ])
    # Project to the ONE needed column before anything else (§2.3) —
    # vec_id was only ever the old self-join key and is gone. The
    # conf-gated local-parallelism restore is the _cell_assign device
    # (session.py): the pass keeps the SCAN's partitioning — right at
    # scale where a 100 TB table has thousands of row groups, but the
    # single-row-group local test files would run the whole quadratic
    # generate+aggregate in one task. Locally the compact vector
    # projection round-robins across cores first; production leaves
    # the conf unset and the pass performs ZERO shuffle before the
    # 2,144-group partial-aggregate exchange.
    src = emb.select(F.col(vec_col))
    par = emb.sparkSession.conf.get("blspark.assign.localParallelism", "")
    if par and int(par) > 0:
        src = src.repartition(int(par))
    p1 = src.select(qa.alias("qa")).select(
        F.posexplode("qa").alias("i", "qx"), "qa"
    )
    tail = F.concat(
        F.slice(F.col("qa"), F.col("i") + 1, F.lit(dim) - F.col("i")),
        F.array(F.col("qx")),
    )
    p2 = p1.select(
        "i", "qx", F.posexplode(tail).alias("pos", "qy")
    )
    in_tri = (F.col("i") + F.col("pos")) < dim
    # localCheckpoint: the tiny (2144-row) moment frame feeds sums,
    # moments AND the transpose union below — without materialization
    # the union would re-run the corpus pass once per branch.
    base = (
        p2.select(
            "i",
            F.when(in_tri, F.col("i") + F.col("pos"))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("j"),
            F.when(in_tri, F.col("qx") * F.col("qy"))
            .otherwise(F.col("qx").cast("decimal(38,0)"))
            .alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sv"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    mom = base.filter(F.col("j") >= 0).select(
        "i", "j", F.col("sv").cast("double").alias("s"), "n"
    )
    sums = base.filter(F.col("j") < 0).select(
        "i", F.col("sv").cast("double").alias("s1")
    )
    si = sums.select(F.col("i").alias("_i"), F.col("s1").alias("si"))
    sj = sums.select(F.col("i").alias("_j"), F.col("s1").alias("sj"))
    cov_ij = (
        (F.col("s") / F.col("n")) / F.lit(_Q_SCALE2)
        - ((F.col("si") / F.col("n")) / F.lit(_Q_SCALE))
        * ((F.col("sj") / F.col("n")) / F.lit(_Q_SCALE))
    )
    upper = (
        mom.join(F.broadcast(si), F.col("i") == F.col("_i"))
        .join(F.broadcast(sj), F.col("j") == F.col("_j"))
        .select("i", "j", cov_ij.alias("cov"), "n")
    )
    full = upper.unionByName(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov", "n"
        )
    )
    rows = full.groupBy("i", "n").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "cov"))),
            lambda s: s["cov"],
        ).alias("row")
    )
    return rows.groupBy("n").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "row"))),
            lambda s: s["row"],
        ).alias("cov"),
    ).select(
        "n",
        "cov",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.element_at(
                    F.element_at(F.col("cov"), i + 1), i + 1
                ),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ).alias("trace"),
    )


def _matvec(mat, vec):
    """C.v with the j-fold pinned: per row, multiply elementwise in
    index order and fold the sum from 0.0."""
    return F.transform(
        mat,
        lambda row: F.aggregate(
            F.zip_with(row, vec, lambda a, b: a * b),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ),
    )


def _norm(vec):
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


def power_top_eigen(cov_row: DataFrame, dim: int = 64, iters: int = 8):
    """Power iteration on the one-row covariance frame: v0 = all ones,
    ``iters`` steps of v <- C.v / ||C.v||, then the Rayleigh quotient
    lambda = v . (C.v). Returns a one-row frame (n, trace, v
    array<double>, eigenvalue double). Fixed iteration count — no
    convergence test by design (module doc); localCheckpoint per step
    keeps the plan linear in ``iters``."""
    cur = cov_row.select(
        "n",
        "trace",
        "cov",
        F.array_repeat(F.lit(1.0).cast("double"), dim).alias("v"),
    ).localCheckpoint(eager=True)
    for step in range(iters):
        stepped = (
            cur.select(
                "n",
                "trace",
                "cov",
                _matvec(F.col("cov"), F.col("v")).alias("w"),
            )
            .select("n", "trace", "cov", "w", _norm(F.col("w")).alias("nrm"))
            .select(
                "n",
                "trace",
                "cov",
                F.transform(
                    F.col("w"), lambda x: x / F.col("nrm")
                ).alias("v"),
            )
        )
        # checkpoint every SECOND step (and the last): each eager
        # localCheckpoint is one serial driver job over a one-row
        # frame, so halving them halves the iteration's job count
        # (optimization r17). Two composed steps square the collapsed
        # HOF tree once (w appears twice in the step expression) —
        # still a few thousand interpreted ops on ONE row — while the
        # arithmetic is the IDENTICAL ops in the identical order, so
        # the loadings stay bitwise-stable; three-plus composed steps
        # would start the 2^k planning blowup the per-step checkpoint
        # exists to stop.
        if step % 2 == 1 or step == iters - 1:
            cur = stepped.localCheckpoint(eager=True)
        else:
            cur = stepped
    rayleigh = F.aggregate(
        F.zip_with(
            F.col("v"),
            _matvec(F.col("cov"), F.col("v")),
            lambda a, b: a * b,
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return cur.select("n", "trace", "v", rayleigh.alias("eigenvalue"))


def mean_vector(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """ONE row: m (array<double>) — the per-dimension mean from the
    same exact 2^-40-grid integer sums as ``covariance_matrix``, with
    the identical pinned rescale ((s1/n)/2^40), so a consumer
    combining the two artifacts (e.g. centered projection) sees one
    consistent quantization."""
    comp = emb.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x")
    ).select(
        "i",
        F.floor(F.col("x") * F.lit(_Q_SCALE))
        .cast("decimal(19,0)")
        .alias("qx"),
    )
    sums = comp.groupBy("i").agg(F.sum("qx").cast("double").alias("s1"))
    n = emb.agg(F.count("*").alias("n"))
    return (
        sums.crossJoin(F.broadcast(n))
        .select(
            "i",
            ((F.col("s1") / F.col("n")) / F.lit(_Q_SCALE)).alias("mi"),
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mi"))),
                lambda s: s["mi"],
            ).alias("m")
        )
    )
