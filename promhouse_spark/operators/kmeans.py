"""Hand-rolled Lloyd's k-means over an embedding column — the coarse
quantizer / topic-blocking fit (SemDeDup's clustering stage, IVF's
quantizer) with a VERIFIABLE training trajectory.

Why this exists next to ``similarity.ivf_index`` (MLlib KMeans): the
MLlib fit is a black box to a SQL differential oracle — those queries
stage the fitted centroids and verify only what's downstream. Here each
Lloyd iteration is built from the same SQL-replayable primitives as
``ivf_assign`` (sequential zip-fold squared-L2 argmin, smallest-cid
tie-break) plus one keyed aggregation for the means, so a DuckDB oracle
can unroll the iterations as a chained CTE and land on bit-identical
centroids — the same verified-training contract as operators/hashlr.py.

Spark shape (what must survive 100 TB):
  - assignment is map-side over centroid LITERALS (no join, no
    shuffle): by default the Arrow-batched :func:`assign_with_dist_exact`
    kernel, which replays the reference column fold's IEEE operation
    order and is bit-identical to it (r11 — the interpreted fold was 80%
    of the sf100 scaling gate);
  - the mean recompute is one keyed aggregation with ``dim``
    per-coordinate avg columns (k·(dim+1) doubles shuffled/collected as
    index metadata — the bounded-collect contract the ANN operators
    follow);
  - iteration count is a fixed hyper-parameter;
  - serving-scale assignment has an Arrow-batched numpy twin
    (:func:`assign_with_dist_vectorized`) for when oracle-exactness is
    not required.

Determinism contract: centroid coordinates quantize to 1e-7 after every
iteration in both engines, crushing aggregation-order float drift
(~1e-15) so the unrolled oracle reproduces the trajectory exactly (the
driver side rounds half-away-from-zero via functions/quantize.py to
match DuckDB's mode — Python's half-to-even builtin would diverge at an
exact midpoint).
Init is the k lowest-id vectors by default (deterministic,
SQL-replayable — what the unrolled oracle pins); ``init="kmeans||"``
switches to hash-seeded k-means|| (:func:`kmeans_parallel_init`) for
skewed corpora — still deterministic, but not oracle-replayed.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from promhouse_spark.functions.quantize import quantize

# per-fit temp-view names (means step below): unique per kmeans_fit call so
# concurrent fits in one session never clobber each other's view
_FIT_VIEW_IDS = itertools.count()


def _quoted(name: str) -> str:
    """``name`` as one quoted identifier: ``vec_col`` is a column name, so
    a dot or backtick in it is part of the name (a backtick doubles)."""
    return "`" + name.replace("`", "``") + "`"


def assign_with_dist(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment keeping the squared-L2 distance:
    the ``similarity.ivf_assign`` argmin (sequential zip-fold, struct-min
    on (distance, cid)) with both struct fields surfaced.

    Evaluation-strategy note (measured at sf10, 2M x 8 x 64): the
    zip-fold, though interpreted (higher-order lambdas get no codegen),
    BEATS a flat k·dim-term unrolled expression — the ~2000-node tree
    exceeds codegen budgets and falls back to node-at-a-time interpreted
    eval (42 s fold vs 57-60 s unrolled, both struct-min and least()
    argmins). Keep the fold."""
    v = F.col(_quoted(vec_col)).cast("array<double>")
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for i, c in enumerate(centers)
        ]
    )
    dists = F.transform(
        cent_arr,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(s["c"], v, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            s["cid"].alias("cid"),
        ),
    )
    best = F.array_min(dists)
    return df.withColumn("centroid_id", best["cid"]).withColumn(
        "dist", best["d"]
    )


def assign_with_dist_exact(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched assignment that is BIT-IDENTICAL to
    :func:`assign_with_dist` — same winner, same double ``dist`` — at
    vectorized speed, so the oracle-replayed training loop no longer has
    to pay the interpreted fold (~1 µs per (row, centroid); the two
    k-means queries were 80% of the r11 sf100 scaling gate).

    Why it is exact where :func:`assign_with_dist_vectorized` is not:
    the fold accumulates ``(v[j]-c[j])²`` sequentially in coordinate
    order, and IEEE-754 float addition is order-sensitive. This kernel
    replays that exact order — one numpy elementwise op per coordinate,
    ``acc = acc + d*d`` over j = 0..dim-1 — and elementwise fp64 numpy
    ops perform the same round-to-nearest-even operation per lane as
    Catalyst's scalar eval, so every (row, centroid) distance is the
    same double. The norm-trick kernel instead ranks by
    ``-2 v·c + ||c||²`` (different operations entirely), which can flip
    near-exact ties. Argmin tie-break: ``np.argmin`` takes the first
    (smallest cid) occurrence, matching the fold's struct-min.
    tests/test_kmeans.py pins full-frame equality on real data plus a
    constructed exact tie.

    Degenerate inputs match the fold exactly (r11 ADVICE — the bare
    kernel crashed where the fold degraded gracefully): a NULL, ragged
    (length ≠ dim), or NULL-element vector yields (centroid_id=0,
    dist=NULL), a NaN coordinate yields (0, NaN) — the NULL semantics are
    applied JVM-side from a validity predicate so the kernel stays pure
    float64. CENTERS must be finite: the fold's struct-min sorts a NaN
    distance last while np.argmin would sort it first, so a non-finite
    centroid breaks the bit-exactness contract — asserted up front. (A
    NaN/±Inf coordinate in a VECTOR poisons every centroid's distance
    identically in both forms, so those stay bit-exact.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)  # k x dim
    if C.size and not np.isfinite(C).all():
        raise ValueError(
            "assign_with_dist_exact requires finite centroids: the fold "
            "ranks a NaN distance last, np.argmin first — a non-finite "
            "center would silently break the bit-identical contract"
        )
    dim = C.shape[1] if C.size else 0

    schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def kernel(vecs):
        raw = vecs.tolist()
        if not raw:
            return pd.DataFrame({"centroid_id": [], "dist": []})
        try:  # fast path: rectangular, no NULLs — the training-loop shape
            V = np.asarray(raw, dtype=np.float64)  # n x dim
            ok = V.ndim == 2 and V.shape[1] == dim
        except (TypeError, ValueError):
            ok = False
        if not ok:
            # NULL / ragged / NULL-element rows: substitute a zeros
            # placeholder so the batch stays vectorized; the JVM layer
            # overrides their output with the fold's (0, NULL)
            clean = [
                v
                if (
                    v is not None
                    and len(v) == dim
                    and not any(x is None for x in v)
                )
                else [0.0] * dim
                for v in raw
            ]
            V = np.asarray(clean, dtype=np.float64)
        n = V.shape[0]
        acc = np.zeros((n, C.shape[0]), dtype=np.float64)
        for j in range(dim):  # fold's coordinate order, one lane per row
            d = V[:, j, None] - C[None, :, j]
            acc += d * d
        cid = acc.argmin(axis=1)  # first occurrence = smallest cid
        dist = acc[np.arange(n), cid]
        return pd.DataFrame(
            {"centroid_id": cid.astype("int32"), "dist": dist}
        )

    kernel_udf = F.pandas_udf(kernel, returnType=schema)
    v = F.col(_quoted(vec_col)).cast("array<double>")
    valid = (
        v.isNotNull()
        & (F.size(v) == F.lit(dim))
        & ~F.exists(v, lambda x: x.isNull())
    )
    # a NaN coordinate poisons every centroid distance → the fold answers
    # (0, NaN); restore the NaN here because the Arrow boundary turns the
    # kernel's NaN dist into NULL on the way back
    has_nan = F.exists(v, lambda x: F.isnan(x))
    out = df.withColumn("_a", kernel_udf(v))
    return (
        out.withColumn(
            "centroid_id",
            F.when(valid, F.col("_a.centroid_id")).otherwise(F.lit(0)),
        )
        .withColumn(
            "dist",
            F.when(
                valid & has_nan, F.lit(float("nan"))
            ).otherwise(F.when(valid, F.col("_a.dist"))),
        )
        .drop("_a")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 7,
    assign_fn=None,
    init: str = "lowest_id",
    seed: int = 42,
) -> list[list[float]]:
    """Lloyd's algorithm: assign (map-side argmin over centroid
    literals) then re-center (one keyed agg per iteration, k·dim rows
    collected). Empty clusters keep their previous centroid. Returns the
    fitted centroid list.

    ``assign_fn`` picks the assignment kernel for the training loop:
    default :func:`assign_with_dist_exact` — the Arrow-batched kernel
    that replays the fold's IEEE operation order and is therefore
    bit-identical to :func:`assign_with_dist` (the training trajectory,
    and so the unrolled SQL oracle's hash, is unchanged) at ~10× the
    speed (r11: the interpreted fold made the two k-means queries 80%
    of the sf100 scaling gate, 312 + 261 s of 719 s). Pass
    :func:`assign_with_dist` to force the pure column-expression form,
    or :func:`assign_with_dist_vectorized` for the norm-trick serving
    kernel (faster still, but last-ulp rank differences can flip
    near-exact ties, so not for oracle-replayed fits).

    ``init``: ``"lowest_id"`` (default — deterministic and trivially
    SQL-replayable, what the unrolled oracle pins) or ``"kmeans||"``
    (:func:`kmeans_parallel_init` — hash-seeded, still deterministic,
    the production choice on skewed corpora where the k lowest ids can
    all land in one dense region)."""
    if assign_fn is None:
        assign_fn = assign_with_dist_exact
    if init == "kmeans||":
        centers = kmeans_parallel_init(
            df, k, id_col, vec_col, seed=seed, assign_fn=assign_fn
        )
    elif init == "lowest_id":
        seeds = (
            df.orderBy(id_col)
            .limit(k)
            .select(F.col(_quoted(vec_col)).cast("array<double>").alias("v"))
            .collect()
        )
        centers = [[float(x) for x in r["v"]] for r in seeds]
    else:
        raise ValueError(f"kmeans_fit: unknown init {init!r}")
    if not centers:
        return centers
    dim = len(centers[0])
    # per-coordinate avg as `dim` aggregate columns in ONE keyed agg —
    # not posexplode: exploding N×dim rows through a shuffle per
    # iteration dominated the fit at sf10 (128M-row explodes, 44 s);
    # column aggregates combine map-side and shuffle k×(dim+1) doubles.
    # The whole means step ships as ONE server-parsed SQL string over a
    # temp view instead of `dim` Column-API aggregates: building 64
    # `F.avg(F.element_at(...))` columns cost ~0.27 s of py4j round trips
    # PER ITERATION (~1.1 s of the 4.3 s query at sf0.1, measured warm),
    # the parse is <10 ms, and the parsed expression tree is IDENTICAL —
    # `element_at(CAST(col AS array<double>), <int literal>)` — so every
    # avg is bit-identical to the Column form (pinned in
    # tests/test_kmeans.py::test_means_sql_matches_column_form).
    spark = df.sparkSession
    view = f"__promhouse_kmeans_means_{next(_FIT_VIEW_IDS)}"
    cast_v = f"CAST({_quoted(vec_col)} AS array<double>)"
    means_sql = (
        "SELECT centroid_id, "
        + ", ".join(
            f"avg(element_at({cast_v}, {i + 1})) AS m{i}" for i in range(dim)
        )
        + f" FROM {view} GROUP BY centroid_id"
    )
    try:
        for _ in range(iters):
            assigned = assign_fn(df, centers, vec_col)
            assigned.createOrReplaceTempView(view)
            means = spark.sql(means_sql).collect()
            new = [list(c) for c in centers]
            for r in means:
                new[r["centroid_id"]] = [
                    quantize(r[f"m{i}"], quant) for i in range(dim)
                ]
            centers = new
    finally:
        spark.catalog.dropTempView(view)
    return centers


def assign_with_dist_vectorized(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched numpy assignment — the 100 TB serving path for the
    fitted model. The column-expression fold above is the ORACLE-exact
    form (sequential float accumulation a SQL engine replays bit-for-bit)
    but evaluates interpreted at ~1 µs per (row, centroid); this kernel
    does the same k x dim argmin as one BLAS-shaped batch op per Arrow
    batch (||v||² - 2 v·Cᵀ + ||c||², then the true squared distance
    recomputed for the winner only). Measured at sf10 (2M x 8 x 64):
    0.81 s vs the fold's 7.57 s. Distances can differ from the fold
    in the last ulp (pairwise vs sequential summation), so near-exact
    ties may break differently — use the fold when differential
    verification needs bit-exact assignment (the registered query does);
    tests/test_kmeans.py pins agreement on real data."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)  # k x dim
    c_sq = (C * C).sum(axis=1)  # k

    schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def kernel(vecs):
        V = np.asarray(vecs.tolist(), dtype=np.float64)  # n x dim
        if V.size == 0:
            return pd.DataFrame({"centroid_id": [], "dist": []})
        # rank by the norm trick (monotone in true distance per row)
        rank = V @ C.T * -2.0 + c_sq  # n x k
        cid = rank.argmin(axis=1)
        # ties: argmin already takes the first (smallest cid) occurrence
        diff = V - C[cid]
        dist = (diff * diff).sum(axis=1)
        return pd.DataFrame(
            {"centroid_id": cid.astype("int32"), "dist": dist}
        )

    # struct-returning SCALAR pandas UDF (pd.Series -> pd.DataFrame);
    # built without type hints — the hinted form trips the 4.x signature
    # inference for struct returns
    kernel_udf = F.pandas_udf(kernel, returnType=schema)
    out = df.withColumn(
        "_a", kernel_udf(F.col(_quoted(vec_col)).cast("array<double>"))
    )
    return (
        out.withColumn("centroid_id", F.col("_a.centroid_id"))
        .withColumn("dist", F.col("_a.dist"))
        .drop("_a")
    )


def kmeans_parallel_init(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 3,
    oversample: int | None = None,
    seed: int = 42,
    assign_fn=None,
) -> list[list[float]]:
    """k-means|| seeding (Bahmani et al., VLDB 2012 — the public
    scalable-k-means++ algorithm MLlib also uses): ``rounds`` passes,
    each sampling every point with probability ``l * d²(x, C) / φ(C)``
    (l = oversample factor, default 2k), then a weighted k-means++ pass
    over the ~l·rounds candidates on the driver.

    Distributed shape: each round is ONE assignment pass (map-side
    argmin over candidate literals) + one scalar agg for φ + a filtered
    collect whose expected size is l — never the corpus. The Bernoulli
    draw is a hash of (id, seed, round), so sampling is deterministic
    and partitioning-independent; the driver-side k-means++ uses a
    seeded generator — the whole init replays bit-identically.

    The deterministic lowest-id init stays the default in
    :func:`kmeans_fit` (it is what the unrolled SQL oracle replays);
    this is the production option for skewed corpora, where lowest-id
    can plant every seed in one dense region."""
    if assign_fn is None:
        assign_fn = assign_with_dist
    l = oversample or 2 * k
    first = (
        df.orderBy(id_col)
        .limit(1)
        .select(F.col(_quoted(vec_col)).cast("array<double>").alias("v"))
        .collect()
    )
    if not first:
        raise ValueError("kmeans_parallel_init: empty input")
    centers = [[float(x) for x in first[0]["v"]]]
    for r in range(rounds):
        assigned = assign_fn(df, centers, vec_col)
        phi = assigned.agg(F.sum("dist").alias("s")).first()["s"] or 0.0
        if phi <= 0:
            break  # all points coincide with a center: nothing to sample
        draw = (
            (F.abs(F.xxhash64(F.col(id_col), F.lit(seed), F.lit(r))) % 1_000_000)
            / 1_000_000.0
        )
        cand = (
            assigned.filter(draw < F.lit(float(l)) * F.col("dist") / F.lit(phi))
            .select(id_col, F.col(_quoted(vec_col)).cast("array<double>").alias("v"))
            .collect()
        )
        # collect order is partitioning-dependent; candidate order feeds
        # the weighted k-means++ below, so pin it by id
        cand.sort(key=lambda row: row[id_col])
        centers.extend([float(x) for x in row["v"]] for row in cand)
    # weight candidates by the size of their Voronoi cell, then k-means++
    # over the (small, driver-resident) weighted candidate set
    assigned = assign_fn(df, centers, vec_col)
    wrows = assigned.groupBy("centroid_id").count().collect()
    weights = [0.0] * len(centers)
    for row in wrows:
        weights[row["centroid_id"]] = float(row["count"])
    return _weighted_kmeanspp(centers, weights, k, seed)


def _weighted_kmeanspp(
    cands: list[list[float]], weights: list[float], k: int, seed: int
) -> list[list[float]]:
    """Seeded k-means++ over a weighted candidate set (driver-side,
    O(|cands|·k) — |cands| is the k-means|| oversample, not the corpus)."""
    import random

    rng = random.Random(seed)
    if len(cands) <= k:
        return [list(c) for c in cands]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    total = sum(weights)
    # first pick: weighted draw
    x = rng.random() * total
    acc = 0.0
    pick = 0
    for i, w in enumerate(weights):
        acc += w
        if x <= acc:
            pick = i
            break
    chosen = [pick]
    mind = [d2(c, cands[pick]) for c in cands]
    while len(chosen) < k:
        scores = [w * d for w, d in zip(weights, mind)]
        total = sum(scores)
        if total <= 0:  # fewer than k distinct candidates: pad by weight
            rest = [i for i in range(len(cands)) if i not in chosen]
            rest.sort(key=lambda i: -weights[i])
            chosen.extend(rest[: k - len(chosen)])
            break
        x = rng.random() * total
        acc = 0.0
        pick = len(cands) - 1
        for i, s in enumerate(scores):
            acc += s
            if x <= acc:
                pick = i
                break
        chosen.append(pick)
        mind = [min(m, d2(c, cands[pick])) for m, c in zip(mind, cands)]
    return [list(cands[i]) for i in chosen]
