"""Unit tests for the domain operator library on tiny in-memory data."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_integration_pipelines_spark.operators.closure import (
    agreement_class,
    first_common_ancestor,
    siblings,
    transitive_closure,
)
from data_integration_pipelines_spark.operators.filter_dsl import Filter, compile_filter, search
from data_integration_pipelines_spark.operators.merge import apply_merge, keep_latest, merge_classify


@pytest.fixture(scope="module")
def resources(spark):
    rows = [
        Row(
            id="r1",
            annotation=[
                Row(hasBody=Row(label="Curated"), note="a"),
                Row(hasBody=Row(label="Other"), note="b"),
            ],
            subject=Row(species=Row(label="Mouse")),
        ),
        Row(
            id="r2",
            annotation=[Row(hasBody=Row(label="Unassessed"), note=None)],
            subject=Row(species=Row(label="Rat")),
        ),
        Row(id="r3", annotation=[], subject=Row(species=Row(label="Mouse"))),
    ]
    return spark.createDataFrame(rows)


class TestFilterDSL:
    def test_nested_array_exists(self, resources):
        got = search(resources, [Filter("eq", ["annotation", "hasBody", "label"], "Curated")])
        assert [r.id for r in got.select("id").collect()] == ["r1"]

    def test_struct_path(self, resources):
        got = search(resources, [Filter("eq", ["subject", "species", "label"], "Mouse")])
        assert sorted(r.id for r in got.select("id").collect()) == ["r1", "r3"]

    def test_ne_means_no_element_matches(self, resources):
        got = search(resources, [Filter("ne", ["annotation", "hasBody", "label"], "Curated")])
        # r2: no Curated element; r3: empty array (vacuously true)
        assert sorted(r.id for r in got.select("id").collect()) == ["r2", "r3"]

    def test_conjunction_and_limit(self, resources):
        got = search(
            resources,
            [
                Filter("eq", ["subject", "species", "label"], "Mouse"),
                Filter("eq", ["annotation", "hasBody", "label"], "Curated"),
            ],
        )
        assert [r.id for r in got.select("id").collect()] == ["r1"]

    def test_bad_path_raises(self, resources):
        with pytest.raises(ValueError, match="no field"):
            compile_filter(resources, Filter("eq", ["nope"], 1))

    def test_bad_op_raises(self):
        with pytest.raises(ValueError, match="unsupported operator"):
            Filter("weird", ["a"], 1)


class TestClosure:
    def test_chain(self, spark):
        edges = spark.createDataFrame(
            [(2, 1), (3, 2), (4, 3)], ["child", "parent"]
        )
        got = {
            (r.node, r.ancestor): r.depth
            for r in transitive_closure(edges).collect()
        }
        assert got == {
            (2, 1): 1, (3, 2): 1, (4, 3): 1,
            (3, 1): 2, (4, 2): 2, (4, 1): 3,
        }

    def test_forest_with_nulls(self, spark):
        edges = spark.createDataFrame(
            [(2, 1), (3, 1), (5, None), (10, 9)], "child int, parent int"
        )
        got = transitive_closure(edges)
        assert got.count() == 3  # null-parent roots excluded

    def test_cycle_raises(self, spark):
        edges = spark.createDataFrame([(1, 2), (2, 1)], ["child", "parent"])
        with pytest.raises(RuntimeError, match="did not converge"):
            transitive_closure(edges, max_iterations=5)

    def test_distributed_route_matches_driver_route(self, spark, monkeypatch):
        # r11: small hop tables auto-route to a driver-side BFS. Pin the
        # cap's boundary (cap = the 5 hop rows -> driver route, 4 -> the
        # DISTRIBUTED loop) and route parity — including the multiset
        # row semantics of a multi-parent DAG (two paths to the same
        # ancestor = two rows on both routes)
        from data_integration_pipelines_spark.operators import closure as cl
        from data_integration_pipelines_spark.operators import routing

        driver_closure = cl._driver_closure
        driver_calls = []

        def spy(*args):
            driver_calls.append(1)
            return driver_closure(*args)

        monkeypatch.setattr(cl, "_driver_closure", spy)
        edges = spark.createDataFrame(
            # diamond DAG (4 has parents 2 and 3, both under 1) + chain
            [(2, 1), (3, 1), (4, 2), (4, 3), (5, 4)],
            ["child", "parent"],
        )
        monkeypatch.setattr(routing, "DRIVER_EDGE_ROWS", 5)
        via_driver = sorted(
            map(tuple, transitive_closure(edges).collect())
        )
        assert len(driver_calls) == 1
        monkeypatch.setattr(routing, "DRIVER_EDGE_ROWS", 4)
        via_cluster = sorted(
            map(tuple, transitive_closure(edges).collect())
        )
        assert len(driver_calls) == 1
        assert via_driver == via_cluster
        # the diamond contributes TWO (4, 1, 2) rows — one per path
        assert via_driver.count((4, 1, 2)) == 2

    def test_cycle_raises_distributed(self, spark, monkeypatch):
        from data_integration_pipelines_spark.operators import routing

        monkeypatch.setattr(routing, "DRIVER_EDGE_ROWS", 0)
        edges = spark.createDataFrame([(1, 2), (2, 1)], ["child", "parent"])
        with pytest.raises(RuntimeError, match="did not converge"):
            transitive_closure(edges, max_iterations=5)

    def test_siblings(self, spark):
        edges = spark.createDataFrame([(1, 0), (2, 0), (3, 0), (4, 9)], ["child", "parent"])
        pairs = {(r.a, r.b) for r in siblings(edges).collect()}
        assert pairs == {(1, 2), (1, 3), (2, 3)}

    def test_first_common_ancestor(self, spark):
        # tree:      0
        #          1   2
        #         3 4 5 6
        edges = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 1), (4, 1), (5, 2), (6, 2)],
            ["child", "parent"],
        )
        closure = transitive_closure(edges)
        pairs = spark.createDataFrame(
            [(3, 3), (1, 3), (3, 1), (3, 4), (3, 5), (0, 6)], ["a", "b"]
        )
        got = {
            (r.a, r.b): (r.fca, r.depth_a, r.depth_b)
            for r in first_common_ancestor(closure, pairs).collect()
        }
        assert got == {
            (3, 3): (3, 0, 0),  # same node
            (1, 3): (1, 0, 1),  # a is parent of b
            (3, 1): (1, 1, 0),  # a is child of b
            (3, 4): (1, 1, 1),  # siblings -> shared direct parent
            (3, 5): (0, 2, 2),  # cousins -> root is the FCA
            (0, 6): (0, 0, 2),  # root vs leaf
        }

    def test_fca_local_route_parity_and_single_broadcast_build(
        self, spark, monkeypatch
    ):
        """r12: ontology-sized closures rebuild as a LocalRelation
        inside first_common_ancestor so the two broadcast joins either
        share one exchange (ReusedExchange) or ship constraint-pruned
        subsets — and the rows must be identical to the checkpoint
        path. The cap's boundary is pinned: cap = the self-augmented
        closure's row count keeps the local route, one less checkpoints."""
        from data_integration_pipelines_spark.operators import closure as cl

        edges = spark.range(1, 500).select(
            F.col("id").alias("child"), F.floor((F.col("id") - 1) / 2).alias("parent")
        )
        closure = transitive_closure(edges)
        pairs = spark.range(1, 60).select(
            F.col("id").alias("a"), ((F.col("id") * 13) % 120).alias("b")
        )
        n_full = closure.count() + 500  # + one depth-0 row per node 0..499
        monkeypatch.setattr(cl, "FCA_LOCAL_ROWS", n_full)
        jsc = spark.sparkContext._jsc
        cached = set(jsc.getPersistentRDDs().keySet())
        local_df = first_common_ancestor(closure, pairs)
        # the local route keeps no block of its routing checkpoint
        assert set(jsc.getPersistentRDDs().keySet()) <= cached
        local_df.collect()
        plan = local_df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan[:2000]
        # one build reused, or two constraint-pruned local sends — never
        # two full RDD-leaf broadcasts
        assert "ReusedExchange" in plan or plan.count("LocalTableScan") >= 2
        want = sorted(map(tuple, local_df.collect()))
        monkeypatch.setattr(cl, "FCA_LOCAL_ROWS", n_full - 1)
        ckpt_df = first_common_ancestor(closure, pairs)
        assert sorted(map(tuple, ckpt_df.collect())) == want
        assert "LocalTableScan" not in ckpt_df._jdf.queryExecution().executedPlan().toString()

    def test_fca_large_route_computes_closure_once(self, spark, monkeypatch):
        """Over FCA_LOCAL_ROWS the routing fetch and the relation the
        joins read are one materialization: building the operator
        evaluates the closure's rows as often as on the local route."""
        from pyspark.sql.types import LongType

        from data_integration_pipelines_spark.operators import closure as cl

        seen = spark.sparkContext.accumulator(0)

        def tap(x):
            seen.add(1)
            return x

        closure = spark.createDataFrame(
            [(1, 0, 1), (2, 0, 1), (3, 1, 1), (3, 0, 2)],
            "node long, ancestor long, depth int",
        ).select(F.udf(tap, LongType())("node").alias("node"), "ancestor", "depth")
        pairs = spark.createDataFrame([(3, 2), (1, 3)], ["a", "b"])

        def build():
            before = seen.value
            out = first_common_ancestor(closure, pairs)
            return seen.value - before, out

        local_reads, local_df = build()
        monkeypatch.setattr(cl, "FCA_LOCAL_ROWS", 1)
        large_reads, large_df = build()
        assert large_reads == local_reads > 0, (large_reads, local_reads)
        assert sorted(map(tuple, large_df.collect())) == sorted(
            map(tuple, local_df.collect())
        )

    def test_driver_routes_build_in_one_fetch_job(self, spark):
        """Each size router decides and delivers its driver route with
        ONE bounded fetch. On 16-partition inputs that never shuffle,
        building the closure and the components runs one job each (the
        count probe + collect took 3), and the FCA local rebuild runs
        two (the distinct's exchange stage, then the fetch; the eager
        checkpoint + count + toPandas took 5)."""
        from data_integration_pipelines_spark.operators.dedup import (
            connected_components,
        )

        edges = spark.range(1, 200, numPartitions=16).select(
            F.col("id").alias("child"), F.floor((F.col("id") - 1) / 2).alias("parent")
        )
        pairs = spark.range(0, 200, numPartitions=16).select(
            F.col("id").alias("id_a"), (F.col("id") % 7 + 1000).alias("id_b")
        )
        probe = spark.range(1, 30).select(
            F.col("id").alias("a"), (F.col("id") * 3 % 50).alias("b")
        )
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def build_jobs(group, build):
            sc.setJobGroup(group, group)
            try:
                out = build()
            finally:
                sc.setJobGroup(None, None)
            return out, len(tracker.getJobIdsForGroup(group))

        closure, n_closure = build_jobs("route-closure", lambda: transitive_closure(edges))
        _, n_fca = build_jobs("route-fca", lambda: first_common_ancestor(closure, probe))
        _, n_cc = build_jobs("route-cc", lambda: connected_components(pairs))
        assert n_closure <= 1 and n_fca <= 2 and n_cc <= 1, (n_closure, n_fca, n_cc)

    def test_agreement_classes(self, spark):
        df = spark.createDataFrame(
            [(0, 0), (0, 2), (2, 0), (1, 1), (2, 2)], ["da", "db"]
        )
        got = [
            r.cls
            for r in df.select(
                agreement_class(F.col("da"), F.col("db")).alias("cls")
            ).collect()
        ]
        assert got == ["same", "ancestor", "descendant", "sibling", "disjoint"]


class TestMerge:
    def test_keep_latest(self, spark):
        df = spark.createDataFrame(
            [("t1", 1, "old"), ("t1", 2, "new"), ("t2", 5, "only")],
            ["target", "created_at", "payload"],
        )
        got = keep_latest(df, ["target"], "created_at").orderBy("target").collect()
        assert [(r.target, r.payload) for r in got] == [("t1", "new"), ("t2", "only")]

    def test_merge_classify(self, spark):
        existing = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["key", "val"])
        computed = spark.createDataFrame([(2, "b"), (3, "X"), (4, "d")], ["key", "val"])
        got = {
            r.key: r.action
            for r in merge_classify(existing, computed, ["key"], ["val"]).collect()
        }
        assert got == {1: "deprecate", 2: "keep", 3: "update", 4: "create"}

    def test_apply_merge_rev_bump(self, spark):
        existing = spark.createDataFrame(
            [(1, "a", 3, False), (2, "b", 1, False)],
            ["key", "val", "_rev", "_deprecated"],
        )
        computed = spark.createDataFrame([(1, "a2"), (9, "new")], ["key", "val"])
        got = {r.key: (r.val, r._rev, r._deprecated) for r in
               apply_merge(existing.select("key", "val", "_rev"), computed, ["key"]).collect()}
        assert got[1] == ("a2", 4, False)   # updated: rev bumped
        assert got[9] == ("new", 1, False)  # created: rev 1
        assert got[2][2] is True            # stale row deprecated

    def test_apply_merge_unchanged_keeps_rev(self, spark):
        # identical values -> NO rev bump (update-only-on-change)
        existing = spark.createDataFrame([(1, "a", 3)], ["key", "val", "_rev"])
        computed = spark.createDataFrame([(1, "a")], ["key", "val"])
        got = {r.key: r._rev for r in apply_merge(existing, computed, ["key"]).collect()}
        assert got == {1: 3}

    def test_apply_merge_null_valued_computed_row_upserts(self, spark):
        # a computed row whose value columns are all NULL is still a
        # real row: it must upsert (and bump rev vs a non-null value),
        # not vanish from the output
        existing = spark.createDataFrame([(1, "a", 3)], ["key", "val", "_rev"])
        computed = spark.createDataFrame(
            [(1, None), (2, None)], "key int, val string"
        )
        got = {r.key: (r.val, r._rev, r._deprecated) for r in
               apply_merge(existing, computed, ["key"]).collect()}
        assert got[1] == (None, 4, False)  # matched, value changed a->NULL
        assert got[2] == (None, 1, False)  # created with NULL value


class TestSkyline:
    def test_matches_bruteforce_on_random_points(self, spark):
        import random

        from data_integration_pipelines_spark.operators.skyline import skyline_2d

        rng = random.Random(11)
        for trial in range(3):
            pts = [
                (i, rng.randint(0, 60), rng.randint(0, 40))
                for i in range(rng.randint(1, 120))
            ]
            df = spark.createDataFrame(pts, "id long, cost long, gain long")
            got = sorted(
                r.id for r in skyline_2d(df, minimize="cost", maximize="gain").collect()
            )
            want = sorted(
                p[0]
                for p in pts
                if not any(
                    q[1] <= p[1]
                    and q[2] >= p[2]
                    and (q[1] < p[1] or q[2] > p[2])
                    for q in pts
                )
            )
            assert got == want, f"trial {trial}"

    def test_duplicate_points_both_survive(self, spark):
        from data_integration_pipelines_spark.operators.skyline import skyline_2d

        df = spark.createDataFrame(
            [(1, 10, 5), (2, 10, 5), (3, 20, 4)], "id long, cost long, gain long"
        )
        got = sorted(r.id for r in skyline_2d(df, "cost", "gain").collect())
        assert got == [1, 2]  # identical points are mutually non-dominated


def test_skew_proof_count_distinct_matches_naive(spark):
    from data_integration_pipelines_spark.operators.skew import (
        skew_proof_count_distinct,
    )

    # hot key 0 holds 90% of rows with repeating values
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") % 137).alias("v"),
    )
    got = {
        r.k: r.n_distinct
        for r in skew_proof_count_distinct(df, ["k"], "v").collect()
    }
    want = {
        r.k: r.nd
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("nd")).collect()
    }
    assert got == want


def test_skew_proof_count_distinct_null_semantics(spark):
    from data_integration_pipelines_spark.operators.skew import (
        skew_proof_count_distinct,
    )

    # COUNT(DISTINCT v) ignores NULLs; a key with only NULLs reports 0
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, None), (2, None), (2, None)],
        "k int, v string",
    )
    got = {
        r.k: r.n_distinct
        for r in skew_proof_count_distinct(df, ["k"], "v").collect()
    }
    want = {
        r.k: r.nd
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("nd")).collect()
    }
    assert got == want == {1: 1, 2: 0}


def test_keep_latest_salted_matches_plain_on_skew(spark):
    from data_integration_pipelines_spark.operators.skew import keep_latest_salted

    # Zipf-ish: key 0 holds ~90% of 20k rows; unique order column
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("ord"),
        (F.col("id") % 7).cast("string").alias("payload"),
    )
    plain = {
        (r.k, r.ord, r.payload)
        for r in keep_latest(df, ["k"], "ord", tiebreak_cols=["payload"]).collect()
    }
    salted = {
        (r.k, r.ord, r.payload)
        for r in keep_latest_salted(df, ["k"], "ord", ("payload",)).collect()
    }
    assert plain == salted
    # keys: 0 (the hot key) plus 10,20,...,90 -> 10 distinct
    assert len(salted) == 10


class TestTemporalJoins:
    def test_asof_backward_and_ties(self, spark):
        from data_integration_pipelines_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 20, "b"), (1, 15, "t"), (2, 5, "c")],
            "k int, ts int, tag string",
        )
        right = spark.createDataFrame(
            [(1, 8, 100.0), (1, 15, 200.0), (2, 99, 300.0)],
            "k int, ts int, payload double",
        )
        got = {
            (r.k, r.ts): (r.payload, r["__matched_ts"])
            for r in asof_join(left, right, ["k"], "ts", ["payload"]).collect()
        }
        assert got[(1, 10)] == (100.0, 8)
        assert got[(1, 15)] == (200.0, 15)  # tie matches (<=)
        assert got[(1, 20)] == (200.0, 15)
        assert got[(2, 5)] == (None, None)  # nothing before -> NULLs

    def test_asof_null_payload_not_stitched_from_older_rows(self, spark):
        """A NULL field in the LATEST matching right row must come
        through as NULL — not fall back to an older right row's value
        for that one column (all payload fields + __matched_ts must
        come from the same matched row)."""
        from data_integration_pipelines_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, 30, "x")], "k int, ts int, tag string")
        right = spark.createDataFrame(
            [(1, 10, 100.0, "old"), (1, 20, None, "new")],
            "k int, ts int, price double, src string",
        )
        row = asof_join(left, right, ["k"], "ts", ["price", "src"]).collect()[0]
        assert row["__matched_ts"] == 20
        assert row.src == "new"
        assert row.price is None  # latest row's NULL, not 100.0 from ts=10

    def test_asof_tolerance(self, spark):
        from data_integration_pipelines_spark.operators.temporal import asof_join

        mk = lambda s: f"2024-01-01 00:00:{s:02d}"
        left = spark.createDataFrame(
            [(1, mk(30), "x")], "k int, ts string, tag string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [(1, mk(5), 1.0)], "k int, ts string, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        loose = asof_join(left, right, ["k"], "ts", ["v"], tolerance_us=60_000_000)
        tight = asof_join(left, right, ["k"], "ts", ["v"], tolerance_us=10_000_000)
        assert loose.collect()[0].v == 1.0
        row = tight.collect()[0]
        assert row.v is None and row["__matched_ts"] is None  # 25s > 10s tolerance

    def test_asof_zipfian_skew_correct_and_bounded(self, spark):
        """Zipf-ish key distribution (one key holds ~90% of rows, the
        keep_latest_salted fixture shape): the union+window asof must
        (a) stay correct vs a naive per-row backward lookup and (b) not
        concentrate MORE than the hot key's own rows on one task — the
        plan is one hash exchange on the key, so the max partition holds
        the hot key but nothing melts beyond it. Documented in SCALE.md:
        the window is inherently per-key-sequential; time-range chunking
        is the remedy past ~10M rows/key, not salting."""
        import bisect
        from collections import defaultdict

        from data_integration_pipelines_spark.operators.temporal import asof_join

        n = 20_000
        left = spark.range(n).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 100).alias("k"),
            (F.xxhash64("id") % 100_000).alias("ts"),
            F.col("id").alias("lid"),
        )
        right = spark.range(2_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 100).alias("k"),
            (F.xxhash64("id", F.lit(1)) % 100_000).alias("ts"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        # right must be unique per (k, ts): keep max v per key+ts
        right = right.groupBy("k", "ts").agg(F.max("v").alias("v"))

        got = {
            (r.k, r.lid): (r.v, r["__matched_ts"])
            for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
        }
        # naive oracle: sorted right rows per key, bisect per left row
        by_key: dict[int, list[tuple[int, float]]] = defaultdict(list)
        for r in right.collect():
            by_key[r.k].append((r.ts, r.v))
        for rows in by_key.values():
            rows.sort()
        want = {}
        for r in left.collect():
            rows = by_key.get(r.k, [])
            i = bisect.bisect_right([t for t, _ in rows], r.ts)
            want[(r.k, r.lid)] = (
                (rows[i - 1][1], rows[i - 1][0]) if i else (None, None)
            )
        assert got == want

    def test_range_join_binned_matches_naive(self, spark):
        import random

        from data_integration_pipelines_spark.operators.temporal import (
            range_join_binned,
        )

        rng = random.Random(7)
        pts = [(i, rng.uniform(0, 100)) for i in range(300)]
        ivals = []
        for j in range(20):
            lo = rng.uniform(0, 95)
            ivals.append((f"b{j}", lo, lo + rng.uniform(0.5, 20)))
        pdf = spark.createDataFrame(pts, "pid long, v double")
        idf = spark.createDataFrame(ivals, "band string, lo double, hi double")
        got = {
            (r.pid, r.band)
            for r in range_join_binned(pdf, idf, "v", "lo", "hi", bin_width=7.0).collect()
        }
        want = {
            (pid, band)
            for pid, v in pts
            for band, lo, hi in ivals
            if lo <= v < hi
        }
        assert got == want

    def test_range_join_binned_plans_hash_join(self, spark):
        from data_integration_pipelines_spark.operators.temporal import (
            range_join_binned,
        )

        pdf = spark.createDataFrame([(1, 5.0)], "pid long, v double")
        idf = spark.createDataFrame([("b", 0.0, 10.0)], "band string, lo double, hi double")
        plan = (
            range_join_binned(pdf, idf, "v", "lo", "hi", bin_width=5.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_grouped_topk_salted_matches_window_on_skew(spark):
    from data_integration_pipelines_spark.operators.skew import grouped_topk_salted
    from pyspark.sql.window import Window

    df = spark.range(20000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("ord"),
        (F.col("id") * 7 % 1000).alias("score"),
    )
    order = [F.desc("score"), F.asc("ord")]
    got = {
        (r.k, r.ord)
        for r in grouped_topk_salted(df, ["k"], order, k=5).collect()
    }
    w = Window.partitionBy("k").orderBy(*order)
    want = {
        (r.k, r.ord)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    assert got == want and len(want) == 50


def test_grouped_topk_salted_per_key_k_column(spark):
    """k as a Column (per-key fractional cut, the r7
    quality_stratified_sample shape) must equal the single-window
    rank <= k filter."""
    from pyspark.sql.window import Window

    from data_integration_pipelines_spark.operators.skew import grouped_topk_salted

    df = spark.range(3000).select(
        (F.col("id") % 7).alias("k"),
        F.col("id").alias("ord"),
        (F.col("id") * 13 % 500).alias("score"),
    )
    cnt = df.groupBy("k").agg(F.count("*").alias("cnt"))
    withk = df.join(F.broadcast(cnt), "k")
    order = [F.desc("score"), F.asc("ord")]
    got = {
        (r.k, r.ord)
        for r in grouped_topk_salted(
            withk, ["k"], order, k=F.expr("(cnt * 2) div 5")
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(*order)
    want = {
        (r.k, r.ord)
        for r in withk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") * 5 <= F.col("cnt") * 2)
        .collect()
    }
    assert got == want and len(want) > 0


def test_grouped_topk_salted_guard_raises_on_degenerate_k(spark):
    """The r8 degeneracy guard (VERDICT r7 task 3): a fractional k on a
    key bigger than TOPK_GUARD_MIN_ROWS makes phase 1 keep every row
    (k*n_salts >= cnt), so the call must FAIL LOUDLY instead of
    silently sorting the whole key in one task with an extra shuffle
    of overhead. Small keys stay exempt (single-task sorts of small
    keys are trivial, not degenerate)."""
    import pytest

    from data_integration_pipelines_spark.operators.skew import (
        TOPK_GUARD_MIN_ROWS,
        grouped_topk_salted,
    )

    n = TOPK_GUARD_MIN_ROWS + 1000
    big = spark.range(n).select(
        F.lit(0).alias("k"), F.col("id").alias("ord"), F.lit(n).alias("cnt")
    )
    with pytest.raises(Exception, match="degenerate"):
        grouped_topk_salted(
            big,
            ["k"],
            [F.asc("ord")],
            k=F.expr("(cnt * 2) div 5"),
            count_col="cnt",
        ).count()
    # a REAL top-k (k << cnt/n_salts) on the same big key passes the guard
    ok = grouped_topk_salted(
        big, ["k"], [F.asc("ord")], k=10, count_col="cnt"
    )
    assert ok.count() == 10
    # small keys: fractional k is exempt (and exact)
    small = spark.range(1000).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("ord")
    )
    cnt = small.groupBy("k").agg(F.count("*").alias("cnt"))
    withk = small.join(F.broadcast(cnt), "k")
    out = grouped_topk_salted(
        withk,
        ["k"],
        [F.asc("ord")],
        k=F.expr("(cnt * 2) div 5"),
        count_col="cnt",
    )
    assert out.count() == 400  # 2 keys x floor(500*2/5)


class TestStratifiedFractionCut:
    """Threshold-based fractional stratified cut (VERDICT r7 task 1):
    equals the rank formulation exactly, including boundary ties, and
    the only per-key window over DATA rows sees the boundary-tie set
    — never the stratum."""

    def _reference(self, df, num, den):
        from pyspark.sql.window import Window

        w = Window.partitionBy("k").orderBy(F.desc("score"), F.asc("ord"))
        cnt = df.groupBy("k").agg(F.count("*").alias("cnt"))
        return (
            df.join(F.broadcast(cnt), "k")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") * den <= F.col("cnt") * num)
        )

    def test_equals_rank_formulation_with_ties(self, spark):
        from data_integration_pipelines_spark.operators.skew import (
            stratified_fraction_cut,
        )

        # score = id*13 % 50 over 3000 rows / 7 keys -> heavy ties at
        # every score value, including the per-key boundary
        df = spark.range(3000).select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("ord"),
            (F.col("id") * 13 % 50).alias("score"),
        )
        got = {
            (r.k, r.ord)
            for r in stratified_fraction_cut(
                df, ["k"], "score", "ord", num=2, den=5
            ).collect()
        }
        want = {(r.k, r.ord) for r in self._reference(df, 2, 5).collect()}
        assert got == want and len(want) > 0

    def test_tiny_and_empty_strata(self, spark):
        from data_integration_pipelines_spark.operators.skew import (
            stratified_fraction_cut,
        )

        # keys with 1 and 2 rows: floor(cnt*2/5) = 0 -> keep nothing
        df = spark.createDataFrame(
            [(0, 1, 10), (1, 2, 10), (1, 3, 20)], "k int, ord int, score int"
        )
        assert (
            stratified_fraction_cut(df, ["k"], "score", "ord", 2, 5).count()
            == 0
        )
        # 3 rows: floor(6/5) = 1 -> exactly the best row survives
        df3 = spark.createDataFrame(
            [(0, 1, 10), (0, 2, 30), (0, 3, 20)], "k int, ord int, score int"
        )
        rows = stratified_fraction_cut(df3, ["k"], "score", "ord", 2, 5).collect()
        assert [(r.k, r.ord, r.score) for r in rows] == [(0, 2, 30)]

    def test_hot_stratum_tie_window_reduction(self, spark):
        """The survivor-reduction gate VERDICT r7 demanded: on a hot
        stratum the rows that reach the exact tie-break window (score
        == q*) must be a vanishing fraction of the stratum — the
        whole point of the threshold algorithm. Computed from the
        same histogram the operator uses, against the reference
        ranking's own boundary score."""
        from pyspark.sql.window import Window

        from data_integration_pipelines_spark.operators.skew import (
            stratified_fraction_cut,
        )

        n = 200_000
        # one hot stratum, near-unique scores (ties only by collision)
        df = spark.range(n).select(
            F.lit("hot").alias("k"),
            F.col("id").alias("ord"),
            (F.col("id") * 2654435761 % 1000003).alias("score"),
        )
        got = stratified_fraction_cut(df, ["k"], "score", "ord", 2, 5)
        k = n * 2 // 5
        assert got.count() == k
        # boundary score from the reference ranking; tie set size is
        # what the operator's only data-row window sees
        w = Window.partitionBy("k").orderBy(F.desc("score"), F.asc("ord"))
        qstar = (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == k)
            .collect()[0]["score"]
        )
        tie_rows = df.filter(F.col("score") == qstar).count()
        assert tie_rows < n // 1000, (
            f"tie window saw {tie_rows} of {n} rows — no reduction"
        )

    def test_null_score_fails_loudly(self, spark):
        """ADVICE r8: NULL scores previously vanished silently (the
        histogram and the data filter both drop them, so the cut was
        computed over a different population than documented). The
        codegen'd guard must raise on the first NULL instead."""
        from data_integration_pipelines_spark.operators.skew import (
            stratified_fraction_cut,
        )

        df = spark.createDataFrame(
            [(0, 1, 10), (0, 2, None), (0, 3, 20), (0, 4, 30), (0, 5, 40)],
            "k int, ord int, score int",
        )
        with pytest.raises(Exception, match="NULL in score_col"):
            stratified_fraction_cut(df, ["k"], "score", "ord", 2, 5).collect()


class TestTwoLevelRunningOffsets:
    """Cross-shard offset arithmetic invariants for
    two_level_running_offsets (VERDICT r6 task 2)."""

    def _df(self, spark):
        # 3 groups with interleaved, gappy order keys and a hot group
        return spark.range(5000).select(
            F.when(F.col("id") % 11 == 0, "b")
            .when(F.col("id") % 17 == 0, "c")
            .otherwise("a")
            .alias("g"),
            (F.col("id") * 3).alias("ord"),  # gaps: sub-shards uneven
            (F.col("id") % 37 + 1).alias("v"),
        )

    def test_equals_single_window_at_any_sub_width(self, spark):
        from pyspark.sql.window import Window

        from data_integration_pipelines_spark.operators.skew import (
            two_level_running_offsets,
        )

        df = self._df(spark)
        w = (
            Window.partitionBy("g")
            .orderBy("ord")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = {
            (r.g, r.ord): (r.s, r.e)
            for r in df.select(
                "g",
                "ord",
                (F.sum("v").over(w) - F.col("v")).alias("s"),
                F.sum("v").over(w).alias("e"),
            ).collect()
        }
        # widths forcing 1, a few, and many sub-shards — output must be
        # IDENTICAL (the width is physical, never semantic), including
        # width 7 where sub-shard boundaries cut inside every group
        for width in (7, 128, 10**9):
            got = {
                (r.g, r.ord): (r.tok_start, r.tok_end)
                for r in two_level_running_offsets(
                    df, ["g"], "ord", "v", sub_width=width
                ).collect()
            }
            assert got == want, f"divergence at sub_width={width}"

    def test_conservation_and_boundaries(self, spark):
        from data_integration_pipelines_spark.operators.skew import (
            two_level_running_offsets,
        )

        df = self._df(spark)
        out = two_level_running_offsets(df, ["g"], "ord", "v", sub_width=13)
        rows = out.collect()
        by_g: dict[str, list] = {}
        for r in rows:
            by_g.setdefault(r.g, []).append(r)
        for g, rs in by_g.items():
            rs.sort(key=lambda r: r.ord)
            # first offset starts at zero; spans tile with no gap/overlap
            assert rs[0].tok_start == 0
            for prev, cur in zip(rs, rs[1:]):
                assert cur.tok_start == prev.tok_end, (g, cur.ord)
            # total conservation: last end == sum of values
            assert rs[-1].tok_end == sum(r.v for r in rs)


def test_loop_session_isolates_aqe_from_base_session(spark):
    """r12 (VERDICT r11 #7): the k-means driver loop's AQE-off +
    pinned-shuffle-width setting lives on an ISOLATED session clone —
    the base session's conf is never mutated, so a query planned
    concurrently (guide §2.6 overlapping jobs) keeps AQE; the clone is
    memoized and shares the cache manager (a persisted base-session
    frame serves it through a global_temp view)."""
    from data_integration_pipelines_spark.operators.cache import loop_session

    base_sp = spark.conf.get("spark.sql.shuffle.partitions")
    loop = loop_session(spark, shuffle_partitions=1)
    assert loop.conf.get("spark.sql.adaptive.enabled") == "false"
    assert loop.conf.get("spark.sql.shuffle.partitions") == "1"
    # base session untouched while the loop session exists
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == base_sp
    # a query planned on the base session keeps AQE
    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert "AdaptiveSparkPlan" in df._jdf.queryExecution().executedPlan().toString()
    # memoized: one SessionState per loop shape
    assert loop_session(spark, shuffle_partitions=1) is loop
    # shared cache: the clone's plan over a global_temp view of a
    # persisted base frame reads the InMemoryRelation, not a recompute
    cached = spark.range(1000).select((F.col("id") * 2).alias("v")).persist()
    cached.count()
    cached.createOrReplaceGlobalTempView("__loop_sess_test")
    try:
        got = loop.table("global_temp.__loop_sess_test")
        assert "InMemory" in got._jdf.queryExecution().executedPlan().toString()
        assert got.count() == 1000
    finally:
        spark.catalog.dropGlobalTempView("__loop_sess_test")
        cached.unpersist()


def test_loop_session_memo_dies_with_its_base_session(spark):
    """A dropped session's loop clone is not kept by the memo, and a new
    session on the same context gets a fresh clone carrying ITS confs —
    never the stale clone of a GC'd session whose id() it may reuse."""
    import gc
    import weakref

    from data_integration_pipelines_spark.operators.cache import loop_session

    old = spark.newSession()
    old.conf.set("spark.sql.session.timeZone", "America/New_York")
    old_clone = loop_session(old, shuffle_partitions=3)
    assert old_clone.conf.get("spark.sql.session.timeZone") == "America/New_York"
    old_ref = weakref.ref(old_clone)
    del old, old_clone
    # building a session also re-points pyspark's RDD.toDF patch, which
    # holds the most recently built session, away from the old clone
    new = spark.newSession()
    gc.collect()
    assert old_ref() is None, "memo kept a dropped session's clone alive"

    clone = loop_session(new, shuffle_partitions=3)
    assert clone.conf.get("spark.sql.session.timeZone") == new.conf.get(
        "spark.sql.session.timeZone"
    )
    assert clone.conf.get("spark.sql.shuffle.partitions") == "3"
    # the live session keeps its one memoized clone
    assert loop_session(new, shuffle_partitions=3) is clone


class TestQuartileBins:
    """Auto-switching equi-depth cuts (operators/quantiles, r7)."""

    def _view(self, spark, name):
        spark.range(100000).select(
            (F.col("id") * 37 % 9973).cast("double").alias("v")
        ).createOrReplaceTempView(name)

    def test_auto_picks_exact_below_threshold(self, spark):
        from data_integration_pipelines_spark.operators.quantiles import (
            with_quartile_bin,
        )

        self._view(spark, "qb_t1")
        auto = with_quartile_bin(spark, "qb_t1", "v", "auto")
        exact = with_quartile_bin(spark, "qb_t1", "v", "exact")
        a = {r.v: r.bin for r in auto.collect()}
        e = {r.v: r.bin for r in exact.collect()}
        assert a == e

    def test_auto_picks_approx_above_threshold(self, spark):
        from data_integration_pipelines_spark.operators.quantiles import (
            quartile_mass_certificate,
            with_quartile_bin,
        )

        self._view(spark, "qb_t2")
        # force the switch with a tiny threshold: the approx regime must
        # still certify every bin within 1% rank mass
        binned = with_quartile_bin(spark, "qb_t2", "v", "auto", threshold=10)
        cert = quartile_mass_certificate(binned).collect()
        assert len(cert) == 4
        assert all(r.mass_within_1pct_rank for r in cert)
        assert all(r.n_total == 100000 for r in cert)

    def test_auto_big_route_fuses_count_into_sketch_pass(self, spark):
        """r12: when the plan-size estimate says 'big', auto routes in
        ONE aggregate pass (sketch + count(*) fused) instead of a count
        wave followed by a sketch wave, and the cuts are identical to
        the explicit approx method (single-partition view, so the GK
        sketch build is deterministic across the two calls)."""
        from data_integration_pipelines_spark.operators.quantiles import (
            with_quartile_bin,
        )

        spark.range(2000).repartition(1).select(
            (F.col("id") * 37 % 997).cast("double").alias("v")
        ).createOrReplaceTempView("qb_t5")
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup("qb-route", "qb-route")
        binned = with_quartile_bin(spark, "qb_t5", "v", "auto", threshold=10)
        sc.setJobGroup(None, None)
        # the fused probe is the ONLY corpus action at build time (AQE
        # may split it into <=2 stage jobs; the old router paid a count
        # job AND deferred the sketch to a second pass)
        assert len(tracker.getJobIdsForGroup("qb-route")) <= 2
        appr = with_quartile_bin(spark, "qb_t5", "v", "approx")
        assert {r.v: r.bin for r in binned.collect()} == {
            r.v: r.bin for r in appr.collect()
        }

    def test_interleaved_calls_keep_their_own_cuts(self, spark, monkeypatch):
        """ADVICE: the at-scale route registered its cuts under the fixed
        name ``{view}__qcuts``, so a second call on the same view landing
        between the first call's registration and its analysis replaced
        the first call's cuts. Here a call over ``w`` runs inside a call
        over ``v`` at exactly that point; each must bin like a run
        alone, and no cuts view may outlive its call."""
        from data_integration_pipelines_spark.operators import quantiles

        spark.range(2000).repartition(1).select(
            (F.col("id") * 37 % 997).cast("double").alias("v"),
            (F.col("id") * 11 % 101 + 5000).cast("double").alias("w"),
        ).createOrReplaceTempView("qb_race")

        def bins(df, col):
            return {(r[col], r.bin) for r in df.select(col, "bin").collect()}

        alone_v = bins(quantiles.with_quartile_bin(spark, "qb_race", "v", threshold=10), "v")
        alone_w = bins(quantiles.with_quartile_bin(spark, "qb_race", "w", threshold=10), "w")

        binned = quantiles._binned
        inner = {}

        def interleaved(spark_, view, vcol, q):
            if not inner:
                inner["started"] = True  # the nested call bins straight through
                inner["w"] = quantiles.with_quartile_bin(
                    spark, "qb_race", "w", threshold=10
                )
            return binned(spark_, view, vcol, q)

        monkeypatch.setattr(quantiles, "_binned", interleaved)
        outer_v = quantiles.with_quartile_bin(spark, "qb_race", "v", threshold=10)
        assert bins(outer_v, "v") == alone_v
        assert bins(inner["w"], "w") == alone_w
        assert not [
            t.name for t in spark.catalog.listTables() if "__qcuts" in t.name
        ]

    def test_unknown_method_rejected(self, spark):
        import pytest as _pytest

        from data_integration_pipelines_spark.operators.quantiles import (
            with_quartile_bin,
        )

        self._view(spark, "qb_t3")
        with _pytest.raises(ValueError):
            with_quartile_bin(spark, "qb_t3", "v", "tdigest")

    def test_null_values_get_null_bin_not_top_bin(self, spark):
        """ADVICE r7: percentile/approx_percentile exclude NULLs from
        the cuts, so NULL rows falling through the CASE into p75_100
        silently inflated the top bin on NULL-heavy columns. NULLs now
        get bin='null'; the certificate checks the four quartile bins
        against the NON-NULL total."""
        from data_integration_pipelines_spark.operators.quantiles import (
            quartile_mass_certificate,
            with_quartile_bin,
        )

        # 50% NULL column: pre-fix the top bin held 5/8 of all rows
        spark.range(80000).select(
            F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("v")
        ).createOrReplaceTempView("qb_null")
        for method in ("exact", "approx"):
            binned = with_quartile_bin(spark, "qb_null", "v", method)
            counts = {r.bin: r.n for r in
                      binned.groupBy("bin").agg(F.count("*").alias("n")).collect()}
            assert counts["null"] == 40000
            assert counts["p75_100"] <= 10000 + 40  # a quarter of non-null
            cert = quartile_mass_certificate(binned).collect()
            assert len(cert) == 4  # 'null' excluded
            assert all(r.n_total == 40000 for r in cert)
            assert all(r.mass_within_1pct_rank for r in cert)


class TestJwtDecode:
    def test_claim_from_externally_minted_token(self, spark):
        """Interop beyond self-roundtrip: decode the canonical example
        JWT (jwt.io / RFC 7519 tutorial token, HS256) — minted by a
        THIRD-PARTY encoder, exercising base64url re-padding."""
        from data_integration_pipelines_spark.functions.text import jwt_claim

        token = (
            "eyJhbGciOiJIUzI1NiIsInR5cCI6IkpXVCJ9."
            "eyJzdWIiOiIxMjM0NTY3ODkwIiwibmFtZSI6IkpvaG4gRG9lIiwiaWF0IjoxNTE2MjM5MDIyfQ."
            "SflKxwRJSMeKKF2QT4fwpMeJf36POk6yJV_adQssw5c"
        )
        df = spark.createDataFrame([(token,)], ["token"]).repartition(1)
        row = df.select(
            jwt_claim(F.col("token"), "name").alias("name"),
            jwt_claim(F.col("token"), "sub").alias("sub"),
            jwt_claim(F.col("token"), "iat").alias("iat"),
            jwt_claim(F.col("token"), "missing").alias("missing"),
        ).collect()[0]
        assert row["name"] == "John Doe"
        assert row["sub"] == "1234567890"
        assert row["iat"] == "1516239022"
        assert row["missing"] is None

    def test_base64url_roundtrip_padding_lengths(self, spark):
        """Inputs whose b64 needs 0/1/2 padding chars all round-trip."""
        from data_integration_pipelines_spark.functions.text import (
            base64url_decode,
            base64url_encode,
        )

        vals = ["abc", "abcd", "abcde", "", "q", '{"x":"~~?>"}']
        df = spark.createDataFrame([(v,) for v in vals], ["s"]).repartition(1)
        got = df.select(
            "s", base64url_decode(base64url_encode(F.col("s"))).cast("string").alias("back")
        ).collect()
        for r in got:
            assert r["back"] == r["s"]


class TestIncrementalAgg:
    def test_any_split_folds_to_one_shot(self, spark):
        """Folding batches in ANY split/order equals the one-shot
        aggregate — the associativity invariant incremental pipelines
        rely on."""
        import random

        from data_integration_pipelines_spark.operators.incremental import (
            finalize,
            merge_states,
            partial_state,
        )

        rng = random.Random(3)
        rows = [(rng.choice("abc"), rng.randint(-50, 100)) for _ in range(300)]
        df = spark.createDataFrame(rows, "k string, v long")
        one_shot = {
            r["k"]: (r["cnt"], r["total"], r["mn"], r["mx"])
            for r in partial_state(df, ["k"], "v").collect()
        }
        # three random disjoint batches, folded sequentially
        tagged = [(k, v, rng.randint(0, 2)) for (k, v) in rows]
        state = None
        for b in (2, 0, 1):  # deliberately out of order
            batch = spark.createDataFrame(
                [(k, v) for k, v, t in tagged if t == b], "k string, v long"
            )
            state = merge_states(state, partial_state(batch, ["k"], "v"), ["k"])
        got = {
            r["k"]: (r["cnt"], r["total"], r["mn"], r["mx"])
            for r in state.collect()
        }
        assert got == one_shot
        fin = {r["k"]: r["avg"] for r in finalize(state, ["k"]).collect()}
        for k, (cnt, total, _, _) in one_shot.items():
            assert fin[k] == total / cnt

    def test_empty_batch_is_identity(self, spark):
        from data_integration_pipelines_spark.operators.incremental import (
            merge_states,
            partial_state,
        )

        df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
        empty = spark.createDataFrame([], "k string, v long")
        s1 = partial_state(df, ["k"], "v")
        merged = merge_states(s1, partial_state(empty, ["k"], "v"), ["k"])
        assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, s1.collect()))


class TestAsofChunked:
    def _zipf_frames(self, spark):
        left = spark.range(8_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 50).alias("k"),
            (F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("ts"),
            F.col("id").alias("lid"),
        )
        right = (
            spark.range(900)
            .select(
                F.when(F.col("id") % 10 != 0, 0)
                .otherwise(F.col("id") % 50)
                .alias("k"),
                (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000))).alias("ts"),
                (F.col("id") % 83).cast("double").alias("v"),
                (F.col("id") % 3 == 0).alias("flag"),
            )
            .groupBy("k", "ts")
            .agg(F.max("v").alias("v"), F.max("flag").alias("flag"))
        )
        return left, right

    @pytest.mark.parametrize("width", [1_000, 50_000, 10_000_000])
    def test_chunked_equals_plain_on_zipf_keys(self, spark, width):
        """Time-chunked asof must be bit-identical to the plain window
        formulation for ANY chunk width — narrow widths force many
        chunks + boundary carries on the hot key, the huge width
        degenerates to one chunk."""
        from data_integration_pipelines_spark.operators.temporal import (
            asof_join,
            asof_join_chunked,
        )

        left, right = self._zipf_frames(spark)
        plain = {
            (r.k, r.lid): (r.v, r.flag, r["__matched_ts"])
            for r in asof_join(left, right, ["k"], "ts", ["v", "flag"]).collect()
        }
        chunked = {
            (r.k, r.lid): (r.v, r.flag, r["__matched_ts"])
            for r in asof_join_chunked(
                left, right, ["k"], "ts", ["v", "flag"], chunk_width_us=width
            ).collect()
        }
        assert chunked == plain and len(plain) == 8_000

    def test_chunked_spreads_hot_key_over_chunks(self, spark):
        """The point of the operator: the hot key's rows land in many
        (key, chunk) window partitions, not one."""
        from data_integration_pipelines_spark.operators.temporal import (
            asof_join_chunked,
        )

        left, right = self._zipf_frames(spark)
        out = asof_join_chunked(left, right, ["k"], "ts", ["v"], chunk_width_us=1_000)
        # count distinct chunks the hot key k=0 spans
        n_chunks = (
            left.filter(F.col("k") == 0)
            .select(F.floor(F.col("ts").cast("bigint") / 1_000).alias("c"))
            .distinct()
            .count()
        )
        assert n_chunks > 100  # genuinely parallelizable
        assert out.count() == 8_000


class TestIncrementalDistinct:
    def test_folded_sketches_equal_one_shot_and_near_exact(self, spark):
        """HLL sketch partials: batch-folded union must equal the
        one-shot sketch EXACTLY (same algorithm, associative merge),
        and the estimate must be near the true distinct count."""
        import random

        from data_integration_pipelines_spark.operators.incremental import (
            finalize_distinct,
            merge_distinct_sketches,
            partial_distinct_sketch,
        )

        rng = random.Random(5)
        rows = [(rng.choice("ab"), rng.randint(0, 5000)) for _ in range(20_000)]
        df = spark.createDataFrame(rows, "k string, v long")
        one_shot = {
            r["k"]: r["n_distinct_est"]
            for r in finalize_distinct(
                partial_distinct_sketch(df, ["k"], "v"), ["k"]
            ).collect()
        }
        state = None
        for b in range(4):
            batch = spark.createDataFrame(
                [(k, v) for k, v in rows if v % 4 == b], "k string, v long"
            )
            state = merge_distinct_sketches(
                state, partial_distinct_sketch(batch, ["k"], "v"), ["k"]
            )
        folded = {
            r["k"]: r["n_distinct_est"]
            for r in finalize_distinct(state, ["k"]).collect()
        }
        assert folded == one_shot
        exact = {
            r["k"]: r["nd"]
            for r in df.groupBy("k")
            .agg(F.countDistinct("v").alias("nd"))
            .collect()
        }
        for k, est in folded.items():
            assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


class TestPageRank:
    """operators/graph_rank.py — integer-exact iterative ranking."""

    def _edges(self, spark):
        # two hubs: 0 <- {1,2,3}, 4 <- {1}; 0 -> 4; dangling node 5 <- 4
        rows = [(1, 0), (2, 0), (3, 0), (1, 4), (0, 4), (4, 5)]
        return spark.createDataFrame(rows, "src long, dst long")

    def test_checkpoint_modes_identical(self, spark):
        from data_integration_pipelines_spark.operators.graph_rank import pagerank

        plain = sorted(map(tuple, pagerank(self._edges(spark), iterations=4).collect()))
        ckpt = sorted(
            map(
                tuple,
                pagerank(
                    self._edges(spark), iterations=4, checkpoint_every=1
                ).collect(),
            )
        )
        assert plain == ckpt

    def test_rank_properties(self, spark):
        from data_integration_pipelines_spark.operators.graph_rank import (
            NANO,
            pagerank,
        )

        ranks = {r.node: r.rank_nano for r in pagerank(self._edges(spark)).collect()}
        n = len(ranks)
        base = (NANO - 850_000_000) // n
        # every node keeps at least the teleport base; total mass never
        # exceeds 1.0 (dangling leak only removes mass)
        assert all(v >= base for v in ranks.values())
        assert sum(ranks.values()) <= NANO
        # the 3-in-degree hub outranks every leaf that only feeds it
        assert ranks[0] > ranks[1] and ranks[0] > ranks[2] and ranks[0] > ranks[3]

    def test_empty_edges_returns_empty(self, spark):
        from data_integration_pipelines_spark.operators.graph_rank import pagerank

        empty = spark.createDataFrame([], "src long, dst long")
        assert pagerank(empty).collect() == []

    def test_matches_pure_python_reference(self, spark):
        """Differential vs an independent driver-side implementation of
        the same integer recurrence, on a graph with a cycle, a
        dangling node, and a disconnected component."""
        from data_integration_pipelines_spark.operators.graph_rank import (
            NANO,
            pagerank,
        )

        edges = [(0, 1), (1, 2), (2, 0), (2, 3), (5, 6), (6, 5), (3, 3)]
        d = 850_000_000
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        out = {}
        for a, _ in edges:
            out[a] = out.get(a, 0) + 1
        n = len(nodes)
        r = {v: NANO // n for v in nodes}
        for _ in range(5):
            contrib = {v: 0 for v in nodes}
            for a, b in edges:
                contrib[b] += r[a] // out[a]
            r = {v: (NANO - d) // n + (d * contrib[v]) // NANO for v in nodes}
        got = {
            row.node: row.rank_nano
            for row in pagerank(
                spark.createDataFrame(edges, "src long, dst long"), iterations=5
            ).collect()
        }
        assert got == r


    def test_weighted_with_equal_weights_equals_unweighted(self, spark):
        from pyspark.sql import functions as F

        from data_integration_pipelines_spark.operators.graph_rank import (
            pagerank,
            pagerank_weighted,
        )

        e = spark.createDataFrame(
            [(a, b) for a, b in [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)]],
            "src long, dst long",
        )
        ew = e.withColumn("w", F.lit(7))  # equal weights: w/total == 1/outdeg
        plain = sorted(map(tuple, pagerank(e, iterations=4).collect()))
        weighted = sorted(map(tuple, pagerank_weighted(ew, iterations=4).collect()))
        assert plain == weighted

    def test_weighted_prefers_heavy_edge(self, spark):
        from data_integration_pipelines_spark.operators.graph_rank import (
            pagerank_weighted,
        )

        # node 0 sends 9x more weight to 1 than to 2
        e = spark.createDataFrame(
            [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
            "src long, dst long, w long",
        )
        ranks = {r.node: r.rank_nano for r in pagerank_weighted(e).collect()}
        assert ranks[1] > ranks[2]


class TestIncrementalJoin:
    """operators/incremental.py delta_join / fold_join_batches."""

    def test_unaligned_batches_equal_one_shot(self, spark):
        a = spark.createDataFrame([(k, k * 10) for k in range(12)], "k long, va long")
        b = spark.createDataFrame(
            [(k, chr(97 + k % 4)) for k in range(12) if k % 5 != 0],
            "k long, vb string",
        )
        from data_integration_pipelines_spark.operators.incremental import (
            fold_join_batches,
        )
        from pyspark.sql import functions as F

        # every (i, j) batch-pair combination occurs
        ab = [a.filter(F.col("k") % 3 == i) for i in range(3)]
        bb = [b.filter((F.col("k") * 2) % 3 == i) for i in range(3)]
        got = sorted(map(tuple, fold_join_batches(ab, bb, ["k"]).collect()))
        want = sorted(map(tuple, a.join(b, "k").collect()))
        assert got == want

    def test_empty_side_bootstrap(self, spark):
        from data_integration_pipelines_spark.operators.incremental import (
            delta_join,
        )

        a = spark.createDataFrame([(1, 2)], "k long, va long")
        # first fold with no B state and no B delta joins nothing
        assert delta_join(None, None, a, None, ["k"]) is None

    def test_retraction_cancels_exactly(self, spark):
        """Insert, join, retract: the net view equals the join over the
        surviving rows only — and double-inserts carry mult 2."""
        from pyspark.sql import functions as F

        from data_integration_pipelines_spark.operators.incremental import (
            fold_join_batches_mult,
            with_mult,
        )

        a = spark.createDataFrame([(k, k * 10) for k in range(8)], "k long, va long")
        b = spark.createDataFrame([(k, k % 3) for k in range(8)], "k long, vb long")
        gone = a.filter(F.col("k") % 2 == 0)
        dup = a.filter(F.col("k") == 1)  # k=1 inserted twice
        av = [with_mult(a), with_mult(dup), with_mult(gone, -1)]
        e = b.limit(0)
        bv = [with_mult(b), with_mult(e), with_mult(e)]
        got = {
            (r.k, r.va, r.vb): r["__mult"]
            for r in fold_join_batches_mult(av, bv, ["k"]).collect()
        }
        want = {
            (k, k * 10, k % 3): (2 if k == 1 else 1) for k in range(8) if k % 2 == 1
        }
        assert got == want

    def test_correction_batch_preserves_nonzero_total_state(self, spark):
        """retract v_old + insert v_new nets cnt=0 with total!=0 — that
        state must SURVIVE merging (dropping it corrupts later folds)."""
        from pyspark.sql import functions as F

        from data_integration_pipelines_spark.operators.incremental import (
            merge_states_mult,
            partial_state_mult,
            with_mult,
        )

        g = spark.createDataFrame([("a", 7)], "k string, v long")
        old = spark.createDataFrame([("a", 5)], "k string, v long")
        late = spark.createDataFrame([("a", 3)], "k string, v long")
        # batch 1: insert 7, retract 5 (a correction) -> cnt 0, total 2
        b1 = with_mult(g).unionByName(with_mult(old, -1))
        state = merge_states_mult(None, partial_state_mult(b1, ["k"], "v"), ["k"])
        assert state.collect()[0].total == 2  # not dropped
        # batch 2: insert 3 -> cnt 1, total 5 (7 - 5 + 3)
        state = merge_states_mult(
            state, partial_state_mult(with_mult(late), ["k"], "v"), ["k"]
        )
        row = state.collect()[0]
        assert (row.cnt, row.total) == (1, 5)
