"""Unit/property tests for the distributed k-means + SemDeDup layer
(operators/clustering.py). The cross-engine value checks live in
test_queries_oracle; these pin the operator-level contracts:
determinism under partitioning, tie-break order, the removal policy,
and the bounded-collect guard."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_integration_pipelines_spark.catalog import load_table
from data_integration_pipelines_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    quantize_vec,
    semdedup_pairs,
    semdedup_survivors,
)


@pytest.fixture(scope="module")
def embeddings(spark, sf_small):
    return load_table(spark, sf_small, "embeddings")


def _assignment(df, **kw):
    assigned, cents = kmeans_fit(df, **kw)
    rows = {r["id"]: r["cluster"] for r in assigned.select("id", "cluster").collect()}
    return rows, cents


def test_kmeans_partitioning_invariant(embeddings):
    # the fixed point must be a pure function of the DATA — row order,
    # partition count and layout must not leak into assignments
    a1, c1 = _assignment(embeddings.repartition(7), k=4, iters=2)
    a2, c2 = _assignment(embeddings.repartition(3, "label"), k=4, iters=2)
    assert a1 == a2
    assert c1 == c2


def test_kmeans_inertia_improves_on_fixture(embeddings):
    one, _ = kmeans_fit(embeddings, k=4, iters=1)
    three, _ = kmeans_fit(embeddings, k=4, iters=3)
    i1 = one.agg(F.sum("dist")).first()[0]
    i3 = three.agg(F.sum("dist")).first()[0]
    assert i3 <= i1


def test_assign_tie_breaks_to_lowest_cid(spark):
    # a point exactly between two centroids must take the lower cid —
    # the oracle's ROW_NUMBER (ORDER BY dist, cid) order
    qdf = spark.createDataFrame([Row(id=0, qvec=[0, 0])])
    cents = [(10, [-500, 0]), (20, [500, 0])]
    out = assign_clusters(qdf, cents).collect()[0]
    assert out["cluster"] == 10
    assert out["dist"] == 500 * 500


def test_assign_arrow_kernel_matches_expression_twin(spark, embeddings):
    """The r12 vectorized Arrow assignment (NumPy int64 kernel) must be
    bit-identical to the JVM expression twin on real fixture vectors —
    same cluster, same exact integer distance — and its plan must carry
    the ArrowEvalPython stage that replaced the interpreted HOF chain."""
    from data_integration_pipelines_spark.operators.clustering import (
        C_SCALE,
        assign_clusters_exprs,
    )

    qdf = embeddings.select(
        F.col("vec_id").alias("id"),
        quantize_vec(F.col("embedding")).alias("qvec"),
    )
    seed = qdf.orderBy("id").limit(5).collect()
    cents = [(int(r["id"]), [int(v) * C_SCALE for v in r["qvec"]]) for r in seed]
    got_df = assign_clusters(qdf, cents)
    got = {r["id"]: (r["cluster"], r["dist"]) for r in got_df.collect()}
    want = {
        r["id"]: (r["cluster"], r["dist"])
        for r in assign_clusters_exprs(qdf, cents).collect()
    }
    assert got == want and len(got) == embeddings.count()
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan[:2000]


def test_assign_arrow_kernel_tie_breaks_on_duplicate_centroids(spark):
    """Exact-distance ties (duplicate centroid components under
    different cids) must break to the LOWEST cid in the Arrow kernel —
    np.argmin's first-min over the cid-ascending matrix, the same rule
    as the expression twin and the oracle's ROW_NUMBER order."""
    from data_integration_pipelines_spark.operators.clustering import (
        assign_clusters_exprs,
    )

    qdf = spark.createDataFrame(
        [Row(id=i, qvec=[i * 7 % 13, -i * 3 % 11]) for i in range(50)]
    )
    cents = [(3, [100, 0]), (7, [100, 0]), (9, [0, 100])]  # 3 & 7 identical
    got = {r["id"]: (r["cluster"], r["dist"]) for r in assign_clusters(qdf, cents).collect()}
    want = {
        r["id"]: (r["cluster"], r["dist"])
        for r in assign_clusters_exprs(qdf, cents).collect()
    }
    assert got == want
    assert all(c != 7 for c, _ in got.values())  # ties never pick the larger cid


def test_assign_arrow_kernel_scores_bad_vectors_null(spark):
    """A NULL, wrong-length or NULL-component vector scores (NULL, NULL)
    in the Arrow kernel, as in the expression twin, while the valid
    rows of the same batch keep their nearest centroid."""
    from data_integration_pipelines_spark.operators.clustering import (
        assign_clusters_exprs,
    )

    qdf = spark.createDataFrame(
        [(0, [1, 2]), (1, None), (2, [1]), (3, [3, None]), (4, [0, 1])],
        "id long, qvec array<bigint>",
    ).coalesce(1)
    cents = [(0, [100, 200]), (1, [0, 100])]
    got = {r["id"]: (r["cluster"], r["dist"]) for r in assign_clusters(qdf, cents).collect()}
    want = {
        r["id"]: (r["cluster"], r["dist"])
        for r in assign_clusters_exprs(qdf, cents).collect()
    }
    assert got == want
    assert got == {0: (0, 0), 1: (None, None), 2: (None, None), 3: (None, None), 4: (1, 0)}


def test_kmeans_fit_null_probe_vector_raises_named_error(spark):
    """k above PROBE_FREE_K probes one row for the dimension first; a
    NULL vector there is a named ValueError, not a TypeError on len()."""
    from data_integration_pipelines_spark.operators.clustering import PROBE_FREE_K

    df = spark.createDataFrame(
        [(0, None), (1, [0.5, 0.5])], "vec_id long, embedding array<float>"
    ).coalesce(1)
    with pytest.raises(ValueError, match="dimension probe row's 'embedding' is NULL"):
        kmeans_fit(df, k=PROBE_FREE_K + 1, iters=1)


def test_kmeans_fit_null_seed_vector_raises_named_error(spark):
    """Small k takes the dimension from the seed rows (the k lowest
    ids); a NULL vector among them is a named ValueError."""
    df = spark.createDataFrame(
        [(i, None if i == 0 else [0.1 * i, 1.0]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="seed row's 'embedding' is NULL"):
        kmeans_fit(df, k=2, iters=1)


def test_quantize_vec_rounds_half_away(spark):
    df = spark.createDataFrame([Row(v=[0.00005, -0.00005, 0.12344])])
    got = df.select(quantize_vec(F.col("v")).alias("q")).first()["q"]
    # 0.00005*1e4 = 0.5 -> 1 away from zero; -0.5 -> -1
    assert got == [1, -1, 1234]


def test_semdedup_survivor_accounting(embeddings):
    assigned, _ = kmeans_fit(embeddings, k=4, iters=2)
    surv = semdedup_survivors(assigned, 0.35).collect()
    assert all(r["n_removed"] + r["n_kept"] == r["n_members"] for r in surv)
    # every removed id must have a smaller similar clustermate; every
    # pair's id_b must be removed
    pairs = semdedup_pairs(assigned, 0.35).collect()
    removed_expected = {(r["cluster"], r["id_b"]) for r in pairs}
    n_removed = sum(r["n_removed"] for r in surv)
    assert n_removed == len({key for key in removed_expected})


def test_kmeans_table_path_equals_driver_loop(embeddings):
    """The checkpointed centroid-table path must reach the EXACT fixed
    point of the driver-loop path: same assignment, same distances,
    same centroid values — the large-k*D regime changes the plan, not
    the algorithm."""
    from data_integration_pipelines_spark.operators.clustering import (
        kmeans_fit_table,
    )

    assigned_d, cents_d = kmeans_fit(embeddings, k=4, iters=2)
    assigned_t, cent_tbl = kmeans_fit_table(embeddings, k=4, iters=2)
    want = {
        r["id"]: (r["cluster"], r["dist"])
        for r in assigned_d.select("id", "cluster", "dist").collect()
    }
    got = {
        r["id"]: (r["cluster"], r["dist"])
        for r in assigned_t.select("id", "cluster", "dist").collect()
    }
    assert got == want
    want_cells = {
        (cid, pos, val)
        for cid, comps in cents_d
        for pos, val in enumerate(comps)
    }
    got_cells = {
        (r["cluster"], r["pos"], r["cval"]) for r in cent_tbl.collect()
    }
    assert got_cells == want_cells


def test_kmeans_auto_switches_above_cell_cap(embeddings, monkeypatch):
    """Above MAX_CENTROID_CELLS kmeans_fit must NOT raise: it delegates
    to the centroid-table path (the guard message's promised escape
    hatch) and still reaches the driver-loop fixed point."""
    from data_integration_pipelines_spark.operators import clustering

    want, _ = kmeans_fit(embeddings, k=4, iters=2)
    want = {r["id"]: r["cluster"] for r in want.select("id", "cluster").collect()}
    monkeypatch.setattr(clustering, "MAX_CENTROID_CELLS", 8)
    assigned, cents = clustering.kmeans_fit(embeddings, k=4, iters=2)
    from pyspark.sql import DataFrame

    assert isinstance(cents, DataFrame)  # table mode engaged
    got = {r["id"]: r["cluster"] for r in assigned.select("id", "cluster").collect()}
    assert got == want


def test_kmeans_table_reseeds_empty_cluster(spark):
    """A centroid no point chooses re-seeds from the farthest assigned
    point instead of silently dropping out: duplicate seed vectors make
    cluster 1 empty on the first assignment (ties break to cid 0)."""
    from data_integration_pipelines_spark.operators.clustering import (
        kmeans_fit_table,
    )

    rows = [
        Row(vec_id=0, embedding=[0.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 0.0]),  # duplicate of seed 0
        Row(vec_id=2, embedding=[10.0, 10.0]),
        Row(vec_id=3, embedding=[10.2, 10.2]),
    ]
    df = spark.createDataFrame(rows)
    assigned, cent = kmeans_fit_table(df, k=3, iters=1, reseed_empty=True)
    got = {r["id"]: r["cluster"] for r in assigned.collect()}
    # cluster 1 re-seeded at the farthest point (id 3), which then
    # claims it at distance 0
    assert got[3] == 1
    assert {r[0] for r in cent.select("cluster").distinct().collect()} == {0, 1, 2}

    dropped, cent_nr = kmeans_fit_table(df, k=3, iters=1, reseed_empty=False)
    assert {r[0] for r in cent_nr.select("cluster").distinct().collect()} == {0, 2}
    assert {r["cluster"] for r in dropped.collect()} == {0, 2}


def _brute_pairs(rows, threshold):
    """(cluster, id_a, id_b, cosine_e4) by one unblocked NumPy gram
    matrix per cluster over ``rows`` of (id, cluster, qvec)."""
    import numpy as np

    from data_integration_pipelines_spark.functions.quantize import np_e4

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append((r.id, r.qvec))
    out = set()
    for c, members in by_cluster.items():
        members.sort()
        ids = [i for i, _ in members]
        X = np.array([v for _, v in members], dtype=np.float64)
        nrm = np.sqrt((X * X).sum(axis=1))
        cos = (X @ X.T) / np.outer(nrm, nrm)
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                if cos[a, b] >= threshold:
                    out.add((c, ids[a], ids[b], int(np_e4(cos[a, b : b + 1])[0])))
    return out


def test_blocked_semdedup_equals_unblocked(embeddings, monkeypatch):
    """The rank-blocked pair kernel must emit the EXACT pair set of an
    unblocked per-cluster gram matrix, at any block cap — blocking
    caps task memory, never coverage or scores."""
    import data_integration_pipelines_spark.operators.clustering as cl

    assigned, _ = kmeans_fit(embeddings, k=4, iters=2)
    want = _brute_pairs(assigned.select("id", "cluster", "qvec").collect(), 0.35)
    assert len(want) > 0
    for cap in (7, 30, 100000):
        monkeypatch.setattr(cl, "MAX_BLOCK", cap)
        got = {
            (r.cluster, r.id_a, r.id_b, r.cosine_e4)
            for r in semdedup_pairs(assigned, 0.35).collect()
        }
        assert got == want, cap


def test_semdedup_pairs_one_kernel_at_any_cluster_size(spark, monkeypatch):
    """A cluster larger than ``MAX_BLOCK`` is scored by the same single
    grouped-pandas kernel as any other cluster, with the pairs it has
    at the default cap — including pairs whose ids sit in different
    rank blocks."""
    import data_integration_pipelines_spark.operators.clustering as cl

    # cluster 0: 12 rows (3 blocks at cap 5); id 11 repeats id 0's
    # direction and id 6 nearly repeats id 1's; cluster 1: 3 rows
    vecs = {i: [1 + i % 3 * 40, 1 + i * 7 % 5 * 30, 10 + i] for i in range(12)}
    vecs[11] = [2 * x for x in vecs[0]]
    vecs[6] = [x + 1 for x in vecs[1]]
    rows = [(i, 0, v) for i, v in vecs.items()] + [
        (20, 1, [5, 5, 5]),
        (21, 1, [5, 5, 6]),
        (22, 1, [-5, 9, 0]),
    ]
    assigned = spark.createDataFrame(
        rows, "id bigint, cluster bigint, qvec array<bigint>"
    )
    want = _brute_pairs(assigned.collect(), 0.98)
    assert (0, 0, 11, 10000) in want and (0, 1, 6) in {w[:3] for w in want}

    for cap in (None, 5):  # the default cap, then 3 blocks in cluster 0
        if cap is not None:
            monkeypatch.setattr(cl, "MAX_BLOCK", cap)
        df = semdedup_pairs(assigned, 0.98)
        assert {tuple(r) for r in df.collect()} == want, cap
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE prints the final plan first, then the initial one
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("FlatMapGroupsInPandas") == 1, plan


def test_semdedup_pairs_skip_unassigned_rows(spark):
    """A NULL-embedding row is assigned no cluster and no qvec
    (assign_clusters); the pair kernel skips it instead of scoring a
    NULL vector, so the pairs are those of the frame without it."""
    rows = [
        (1, 0, [5, 5, 5]),
        (2, 0, [5, 5, 6]),
        (3, 0, [-5, 9, 0]),
        (4, 1, [1, 2, 3]),
        (5, 1, [2, 4, 6]),
    ]
    assigned = spark.createDataFrame(
        rows + [(9, None, None)], "id bigint, cluster bigint, qvec array<bigint>"
    )
    want = _brute_pairs([Row(id=i, cluster=c, qvec=v) for i, c, v in rows], 0.98)
    assert len(want) == 2
    assert {tuple(r) for r in semdedup_pairs(assigned, 0.98).collect()} == want


def test_auto_k_resolution():
    """auto_k pins: the sf0.01 fixture (N=500) MUST resolve to the
    oracle's k=8 (semdedup_survivors_auto_k shares the unrolled k=8
    CTE oracle at the driver's comparison SF), and k must grow
    linearly with N (the SemDeDup bounded-cluster contract)."""
    from data_integration_pipelines_spark.operators.clustering import (
        SEMDEDUP_TARGET_CLUSTER,
        auto_k,
    )

    assert SEMDEDUP_TARGET_CLUSTER == 64
    assert auto_k(500) == 8  # the driver-gate fixture regime
    assert auto_k(1) == 2 and auto_k(100) == 2  # floor
    assert auto_k(500 * 30) == 235  # 30x probe: k grows with N
    # bounded clusters: N / auto_k(N) <= target for all regimes
    for n in (1, 500, 10_000, 10**9):
        assert n / auto_k(n) <= 64


class TestPivotedAssignment:
    """IVF-style centroid assignment (assign_clusters_pivoted, r7)."""

    def test_exact_when_all_buckets_probed(self, embeddings):
        """nprobe >= n_super (every super-bucket probed) must reproduce
        the flat exact assignment bit-for-bit — the approximation is
        ONLY the probe restriction."""
        from data_integration_pipelines_spark.operators.clustering import (
            assign_clusters_pivoted,
            kmeans_fit_table,
        )

        exact, cent = kmeans_fit_table(embeddings, k=8, iters=2, reseed_empty=False)
        want = {(r.id, r.cluster, r.dist) for r in exact.collect()}
        got = {
            (r.id, r.cluster, r.dist)
            for r in assign_clusters_pivoted(
                embeddings, cent, n_super=4, nprobe=4
            ).collect()
        }
        assert got == want

    def test_exact_when_every_centroid_is_a_super(self, embeddings):
        from data_integration_pipelines_spark.operators.clustering import (
            assign_clusters_pivoted,
            kmeans_fit_table,
        )

        exact, cent = kmeans_fit_table(embeddings, k=8, iters=2, reseed_empty=False)
        want = {(r.id, r.cluster, r.dist) for r in exact.collect()}
        got = {
            (r.id, r.cluster, r.dist)
            for r in assign_clusters_pivoted(
                embeddings, cent, n_super=8, nprobe=1
            ).collect()
        }
        assert got == want

    def test_probe_restriction_properties(self, embeddings):
        """The approximate regime must (a) assign EVERY vector, (b) only
        ever assign a vector to a centroid of a probed bucket, and (c)
        report the exact distance for whatever centroid it picked
        (approximation narrows the candidate set, never corrupts the
        scores)."""
        from data_integration_pipelines_spark.operators.clustering import (
            assign_clusters_pivoted,
            kmeans_fit_table,
        )

        exact, cent = kmeans_fit_table(embeddings, k=8, iters=2, reseed_empty=False)
        approx = assign_clusters_pivoted(embeddings, cent, n_super=2, nprobe=1)
        got = {r.id: (r.cluster, r.dist) for r in approx.collect()}
        want = {r.id: (r.cluster, r.dist) for r in exact.collect()}
        assert set(got) == set(want)  # every vector assigned
        # exact-score property: where the pick agrees, the dist agrees
        agree = [i for i in got if got[i][0] == want[i][0]]
        assert all(got[i][1] == want[i][1] for i in agree)
        # approximate dist is never better than the true minimum
        assert all(got[i][1] >= want[i][1] for i in got)
        # and the restriction bites without destroying quality on the
        # fixture: most vectors still get their true nearest centroid
        assert len(agree) >= int(0.5 * len(got))


class TestSemdedupFrontDoor:
    """The r8 auto-routing front door (VERDICT r7 task 2): below the
    N*k*D cell cap the EXACT flat fit, above it the sample-fit +
    pivoted-probing composition — callers can no longer take the flat
    quadratic assignment to scale by default."""

    def test_flat_route_equals_exact_fit(self, embeddings):
        from data_integration_pipelines_spark.operators.clustering import (
            auto_k,
            semdedup_assign,
        )

        n = embeddings.count()
        assert auto_k(n) == 8  # the oracle-pinned fixture resolution
        got = {
            (r.id, r.cluster)
            for r in semdedup_assign(embeddings, k="auto").collect()
        }
        exact, _ = kmeans_fit(embeddings, k=8, iters=3)
        want = {(r.id, r.cluster) for r in exact.collect()}
        assert got == want

    def test_scale_route_fires_above_cap_and_loses_no_rows(self, embeddings):
        """With the cap forced below the fixture's N*k*D, the front
        door must take the pivoted route (approximate assignment) and
        still emit exactly one row per vector."""
        from data_integration_pipelines_spark.operators.clustering import (
            semdedup_assign,
        )

        n = embeddings.count()
        out = semdedup_assign(embeddings, k="auto", flat_cells=1)
        rows = out.collect()
        assert len(rows) == n
        assert len({r.id for r in rows}) == n

    def test_semdedup_pipeline_accounting_on_both_routes(self, embeddings):
        """n_members sums to N and n_kept + n_removed == n_members on
        the flat AND the pivoted route."""
        from data_integration_pipelines_spark.operators.clustering import (
            semdedup,
        )

        n = embeddings.count()
        for cells in (64_000_000, 1):
            surv = semdedup(embeddings, 0.35, k="auto", flat_cells=cells)
            rows = surv.collect()
            assert sum(r.n_members for r in rows) == n
            assert all(r.n_kept + r.n_removed == r.n_members for r in rows)


def test_pivoted_assignment_survives_duplicate_super_centroids(spark):
    """ADVICE r7: two identical super centroids tie at distance 0 and
    pre-r8 the larger-scid super's bucket ended up EMPTY (even its own
    centroid broke the tie to the smaller scid) — any vector probing
    that bucket was silently dropped. The c2s self-pin guarantees every
    bucket holds >= 1 centroid, so every vector gets exactly one row."""
    from data_integration_pipelines_spark.operators.clustering import (
        assign_clusters_pivoted,
    )

    # centroid table with clusters 0 and 1 IDENTICAL (the degenerate
    # duplicate-super fit) and cluster 2 distinct; D=2
    cent = spark.createDataFrame(
        [
            (0, 0, 10_000_000), (0, 1, 0),
            (1, 0, 10_000_000), (1, 1, 0),
            (2, 0, -10_000_000), (2, 1, 0),
        ],
        "cluster bigint, pos int, cval bigint",
    )
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) / 10, float(i % 3) / 10])
         for i, x in enumerate([9, -9, 8, -8, 7, -7, 5, -5])],
    )
    out = assign_clusters_pivoted(emb, cent, n_super=2, nprobe=1)
    rows = out.collect()
    assert len(rows) == emb.count(), "row loss on duplicate supers"
    assert len({r.id for r in rows}) == emb.count()


def test_semdedup_keep_list_matches_survivor_accounting(embeddings):
    """The keep LIST (semdedup_keep, r8) and the per-cluster funnel
    (semdedup_survivors) are two views of ONE decision: per cluster,
    len(keep ids) == n_kept, and no kept id appears as a removed
    id_b. Also pins the keep-one policy directly: the smallest id of
    every cluster always survives."""
    from data_integration_pipelines_spark.operators.clustering import (
        semdedup_keep,
        semdedup_survivors,
    )

    assigned, _ = kmeans_fit(embeddings, k=8, iters=3)
    kept = semdedup_keep(assigned, 0.35).collect()
    funnel = {r.cluster: r for r in semdedup_survivors(assigned, 0.35).collect()}
    by_cluster: dict[int, list[int]] = {}
    for r in kept:
        by_cluster.setdefault(r.cluster, []).append(r.id)
    assert {c: len(ids) for c, ids in by_cluster.items()} == {
        c: r.n_kept for c, r in funnel.items() if r.n_kept > 0
    }
    mins = {
        r.cluster: r.id
        for r in assigned.groupBy("cluster")
        .agg(F.min("id").alias("id"))
        .collect()
    }
    for c, lo in mins.items():
        assert lo in by_cluster.get(c, []), f"cluster {c} min id removed"


def test_semdedup_assign_scale_route_survives_structured_ids(spark):
    """ADVICE r8: the scale-route sample filter used pmod(id, step)==0,
    which returns an EMPTY sample when ids are structured (here: all
    odd, step even) — the hash-based filter (xxhash64 first) must
    sample regardless of the id distribution and assign every row."""
    from data_integration_pipelines_spark.operators.clustering import (
        semdedup_assign,
    )

    n = 8192
    emb = spark.range(n).select(
        (F.col("id") * 2 + 1).alias("vec_id"),  # every id odd
        F.array(
            (F.col("id") % 17).cast("float"),
            (F.col("id") % 5).cast("float"),
            ((F.col("id") * 3) % 7).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    out = semdedup_assign(emb, k=4, iters=1, flat_cells=1)
    rows = out.select("id").collect()
    assert len(rows) == n
    assert len({r.id for r in rows}) == n


def test_semdedup_assign_routing_probe_error_messages(spark):
    """ADVICE: the routing probe took ``F.first`` without ignorenulls, so
    a non-empty frame whose first vector is NULL reported "empty
    DataFrame". An empty frame and an all-NULL vector column now each
    get their own message."""
    from data_integration_pipelines_spark.operators.clustering import (
        semdedup_assign,
    )

    schema = "vec_id bigint, embedding array<float>"
    with pytest.raises(ValueError, match="empty DataFrame"):
        semdedup_assign(spark.createDataFrame([], schema), k=2)
    all_null = spark.createDataFrame([(1, None), (2, None)], schema)
    with pytest.raises(ValueError, match="every 'embedding' value is NULL"):
        semdedup_assign(all_null, k=2)
