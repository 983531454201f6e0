"""Hand-rolled Lloyd k-means (operators/kmeans.py): convergence on a
planted mixture, empty-cluster stability, and fit determinism across
partitionings. The full fit+assign pipeline is DuckDB-hash-verified
against the unrolled-Lloyd oracle via the registered query
``emb_kmeans_topics`` (tests/test_oracle_tail.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from promhouse_spark.operators.kmeans import assign_with_dist, kmeans_fit


def _planted(spark, n_per=20):
    """Two tight blobs far apart: cluster recovery must be exact."""
    rows = []
    for i in range(n_per):
        rows.append((i, [10.0 + (i % 3) * 0.01, 0.0]))
        rows.append((100 + i, [0.0, 10.0 + (i % 3) * 0.01]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_lloyd_recovers_planted_blobs(spark):
    df = _planted(spark)
    centers = kmeans_fit(df, k=2, iters=3)
    assigned = assign_with_dist(df, centers).collect()
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r["vec_id"] < 100, set()).add(r["centroid_id"])
    # each blob maps to exactly one cluster, and the two differ
    assert all(len(v) == 1 for v in by_blob.values())
    assert by_blob[True] != by_blob[False]
    # fitted centers sit on the blob means (quantized): distance is tiny
    assert all(r["dist"] < 0.1 for r in assigned)


def test_empty_cluster_keeps_previous_center(spark):
    # k=3 over two blobs: at least one cluster goes empty after the
    # first re-center; its centroid must persist, not NaN out
    df = _planted(spark, n_per=5)
    centers = kmeans_fit(df, k=3, iters=3)
    assert len(centers) == 3
    assert all(all(x == x for x in c) for c in centers)  # no NaN


def test_fit_is_deterministic_across_partitionings(spark):
    df = _planted(spark)
    f1 = kmeans_fit(df, k=2, iters=3)
    f2 = kmeans_fit(df.repartition(7), k=2, iters=3)
    assert f1 == f2


def test_vectorized_assign_matches_fold(spark, sf_dir):
    """The Arrow/numpy serving kernel must agree with the oracle-exact
    fold on real fitted centroids — distances equal to float tolerance
    (summation-order ulps only), and the same cluster id EXCEPT when two
    centroids are a near-exact tie, where the kernel's norm-trick
    arithmetic may legitimately flip the argmin (its docstring's caveat).
    A tie flip is accepted only when both engines' distances to the two
    chosen centroids agree within 1e-9."""
    import math

    from promhouse_spark.operators.kmeans import assign_with_dist_vectorized
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, k=4, iters=2)
    a = {
        r["vec_id"]: (r["centroid_id"], r["dist"])
        for r in assign_with_dist(emb, centers).collect()
    }
    b = {
        r["vec_id"]: (r["centroid_id"], r["dist"])
        for r in assign_with_dist_vectorized(emb, centers).collect()
    }

    def sqdist(vec, cid):
        return sum((x - c) ** 2 for x, c in zip(vec, centers[cid]))

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert a.keys() == b.keys()
    n_tie_flips = 0
    for k_ in a:
        assert abs(a[k_][1] - b[k_][1]) < 1e-9, k_
        if a[k_][0] != b[k_][0]:
            # allowed only as a genuine tie: exact distances to both
            # chosen centroids must coincide within tolerance
            da = sqdist(vecs[k_], a[k_][0])
            db = sqdist(vecs[k_], b[k_][0])
            assert math.isclose(da, db, rel_tol=0, abs_tol=1e-9), (
                k_,
                a[k_],
                b[k_],
            )
            n_tie_flips += 1
    # ties must be the exception, not a sign the kernel is broken
    assert n_tie_flips <= max(1, len(a) // 100)


def test_exact_kernel_is_bit_identical_to_fold(spark, sf_dir):
    """assign_with_dist_exact (the default training kernel since r11)
    must be BIT-identical to the column fold — same centroid_id and the
    same double dist for every row (it replays the fold's sequential
    coordinate accumulation, so not even last-ulp drift is allowed) —
    and a constructed exact tie must break to the smaller cid in both."""
    from promhouse_spark.operators.kmeans import assign_with_dist_exact
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, k=4, iters=2, assign_fn=assign_with_dist)
    a = sorted(
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist(emb, centers).collect()
    )
    b = sorted(
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist_exact(emb, centers).collect()
    )
    assert a == b  # exact equality, doubles included

    # fits agree too (trajectory preserved step for step)
    fold_fit = kmeans_fit(emb, k=4, iters=2, assign_fn=assign_with_dist)
    exact_fit = kmeans_fit(emb, k=4, iters=2)  # default = exact kernel
    assert fold_fit == exact_fit

    # exact tie: point (1,0) equidistant from (0,0) and (2,0) → cid 0
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    cents = [[0.0, 0.0], [2.0, 0.0]]
    ta = [
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist(df, cents).orderBy("vec_id").collect()
    ]
    tb = [
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist_exact(df, cents).orderBy("vec_id").collect()
    ]
    assert ta == tb
    assert ta[2][1] == 0  # the tie broke to the smaller cid


def test_fit_with_vectorized_assign_fn_matches_fold_fit(spark):
    """kmeans_fit(assign_fn=assign_with_dist_vectorized) — the serving-
    scale fit — lands on the same quantized centroids as the oracle-exact
    fold on a corpus without near-exact centroid ties."""
    from promhouse_spark.operators.kmeans import assign_with_dist_vectorized

    df = _planted(spark)
    fold = kmeans_fit(df, k=2, iters=3)
    fast = kmeans_fit(df, k=2, iters=3, assign_fn=assign_with_dist_vectorized)
    assert fold == fast


def _skewed_planted(spark):
    """Three far-apart blobs, with ALL of the k lowest ids being the SAME
    point inside blob A — lowest-id seeding then starts with coincident
    centers, the smallest-cid tie-break starves the duplicates, and
    Lloyd can never un-collapse them (empty clusters keep their previous
    centroid); k-means|| samples by distance mass and escapes."""
    rows = []
    for i in range(40):
        rows.append((i, [0.0, 0.0]))
    for i in range(20):
        rows.append((100 + i, [100.0 + (i % 5) * 0.01, 0.0]))
    for i in range(20):
        rows.append((200 + i, [0.0, 100.0 + (i % 5) * 0.01]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _inertia(df, centers):
    return (
        assign_with_dist(df, centers)
        .agg(F.sum("dist").alias("s"))
        .first()["s"]
    )


def test_kmeans_parallel_init_beats_lowest_id_on_skew(spark):
    """k-means|| seeding recovers the planted 3-blob partition that
    lowest-id seeding (all 3 seeds in one blob) cannot: strictly lower
    inertia AND an exact blob↔cluster bijection."""
    df = _skewed_planted(spark)
    low = kmeans_fit(df, k=3, iters=4)
    par = kmeans_fit(df, k=3, iters=4, init="kmeans||")
    i_low = _inertia(df, low)
    i_par = _inertia(df, par)
    assert i_par < i_low / 10, (i_par, i_low)
    # exact recovery: each blob maps to exactly one distinct cluster
    blobs = {}
    for r in assign_with_dist(df, par).collect():
        blobs.setdefault(r["vec_id"] // 100, set()).add(r["centroid_id"])
    assert all(len(v) == 1 for v in blobs.values())
    assert len({next(iter(v)) for v in blobs.values()}) == 3


def test_kmeans_parallel_init_is_deterministic(spark):
    df = _skewed_planted(spark)
    a = kmeans_fit(df, k=3, iters=2, init="kmeans||")
    b = kmeans_fit(df.repartition(7), k=3, iters=2, init="kmeans||")
    assert a == b


def test_exact_kernel_degenerate_inputs_match_fold(spark):
    """r11 ADVICE guard: NULL / ragged / NULL-element / NaN / Inf vectors
    must degrade exactly like the column fold — (0, NULL) for malformed
    vectors, (0, NaN) for a NaN coordinate (which the Arrow boundary
    would otherwise surface as NULL), (0, Inf) for an Inf coordinate —
    and non-finite CENTERS are rejected up front (the fold ranks a NaN
    distance last, np.argmin first)."""
    import math

    import pytest

    from promhouse_spark.operators.kmeans import assign_with_dist_exact

    rows = [
        (1, [1.0, 2.0]),
        (2, None),
        (3, [1.0]),
        (4, [1.0, 2.0, 3.0]),
        (5, [float("nan"), 1.0]),
        (6, [None, 2.0]),
        (7, [float("inf"), 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = [[0.0, 0.0], [1.0, 2.0]]
    fold = {
        r["vec_id"]: (r["centroid_id"], r["dist"])
        for r in assign_with_dist(df, centers).collect()
    }
    ex = {
        r["vec_id"]: (r["centroid_id"], r["dist"])
        for r in assign_with_dist_exact(df, centers).collect()
    }
    assert fold.keys() == ex.keys()
    for k in fold:
        (fc, fd), (ec, ed) = fold[k], ex[k]
        assert fc == ec, k
        if fd is None or ed is None:
            assert fd is None and ed is None, k
        elif math.isnan(fd) or math.isnan(ed):
            assert math.isnan(fd) and math.isnan(ed), k
        else:
            assert fd == ed, k
    with pytest.raises(ValueError, match="finite centroids"):
        assign_with_dist_exact(df, [[float("nan"), 0.0]])


def test_means_sql_matches_column_form(spark, sf_dir):
    """r12: the re-center step ships as ONE server-parsed SQL string
    (removing ~dim×5 py4j calls per iteration). The parsed expression —
    avg(element_at(CAST(col AS array<double>), <int literal>)) — must be
    the same analyzed aggregate as the Column form, so the collected
    means are BIT-identical doubles."""
    from promhouse_spark.operators.kmeans import assign_with_dist_exact
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    centers = kmeans_fit(emb, k=4, iters=1)
    assigned = assign_with_dist_exact(emb, centers, "embedding")
    v = F.col("embedding").cast("array<double>")
    col_form = sorted(
        tuple(r)
        for r in assigned.groupBy("centroid_id")
        .agg(*[F.avg(F.element_at(v, i + 1)).alias(f"m{i}") for i in range(dim)])
        .collect()
    )
    assigned.createOrReplaceTempView("__t_means_sql")
    cast_v = "CAST(`embedding` AS array<double>)"
    sql_form = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT centroid_id, "
            + ", ".join(
                f"avg(element_at({cast_v}, {i + 1})) AS m{i}" for i in range(dim)
            )
            + " FROM __t_means_sql GROUP BY centroid_id"
        ).collect()
    )
    spark.catalog.dropTempView("__t_means_sql")
    assert col_form == sql_form  # exact equality, doubles included


def test_fit_on_column_name_with_backtick(spark):
    """The re-center step quotes the vector column inside SQL text; a
    backtick in the name must be doubled there, so a fit on such a column
    equals the fit on the same data under a plain name."""
    df = _planted(spark)
    odd = df.withColumnRenamed("embedding", "emb`x")
    centers = kmeans_fit(odd, k=2, iters=3, vec_col="emb`x")
    assert centers == kmeans_fit(df, k=2, iters=3)
    got = assign_with_dist(odd, centers, "emb`x").select("vec_id", "centroid_id")
    want = assign_with_dist(df, centers).select("vec_id", "centroid_id")
    assert sorted(got.collect()) == sorted(want.collect())
