"""Operator-level tests for dedup and similarity on real fixture data
plus planted synthetic cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_pipelines_spark.catalog import load_table
from data_integration_pipelines_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_blocks,
    simhash_bucket_pairs,
    simhash_hamming_pairs,
)
from data_integration_pipelines_spark.operators.similarity import (
    brute_force_topk,
    topk_pandas,
)


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents")


class TestDedup:
    def test_exact_dedup_finds_planted_copies(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "hello world"), (3, "other text")],
            ["doc_id", "text"],
        )
        got = {r.survivor_id: r.n_copies for r in exact_dedup(df, "text", "doc_id").collect()}
        # normalization (case + whitespace) folds 1 and 2 together
        assert got == {1: 2, 3: 1}

    def test_minhash_recall_vs_jaccard_ground_truth(self, docs):
        truth = {
            (r.id_a, r.id_b)
            for r in jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8).collect()
        }
        candidates = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_candidates(
                docs, "text", "doc_id", n=3, num_hashes=12, bands=4
            ).collect()
        }
        assert truth, "fixture should contain planted near-dup pairs"
        recall = len(truth & candidates) / len(truth)
        assert recall >= 0.9, f"LSH recall too low: {recall} ({len(truth)} true pairs)"

    def test_df_capping_keeps_high_jaccard_pairs(self, docs):
        uncapped = {
            (r.id_a, r.id_b)
            for r in jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8).collect()
        }
        # df-capped variant must not lose planted near-dups: with a doc-freq
        # cap of 50, near-identical docs still share plenty of rare shingles,
        # though jaccard denominators change -> compare candidate coverage
        capped = jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=50
        )
        capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
        assert uncapped <= capped_pairs

    def test_simhash_blocks_partition_the_sketch(self):
        assert simhash_blocks(16, 4) == [(1, 4), (5, 4), (9, 4), (13, 4)]
        assert simhash_blocks(32, 3) == [(1, 11), (12, 11), (23, 10)]
        with pytest.raises(ValueError):
            simhash_blocks(8, 9)

    def test_hamming_pairs_superset_of_exact_buckets(self, docs):
        exact = {
            (r.id_a, r.id_b)
            for r in simhash_bucket_pairs(docs, "text", "doc_id", nbits=32).collect()
        }
        tolerant = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_hamming_pairs(
                docs, "text", "doc_id", nbits=32, max_hamming=3
            ).collect()
        }
        # identical sketches are Hamming 0 -> always recovered
        assert exact <= set(tolerant)
        assert all(h == 0 for p, h in tolerant.items() if p in exact)
        assert all(0 <= h <= 3 for h in tolerant.values())

    def test_hamming_pairs_find_planted_one_bit_neighbor(self, spark):
        # two docs differing in ONE word have sketches a few bits apart:
        # missed by exact buckets, found by the pigeonhole block join
        a = "the quick brown fox jumps over the lazy dog near the old river bank today"
        b = a.replace("today", "tonight")
        df = spark.createDataFrame([(1, a), (2, b), (3, "완전히 다른 내용의 문서")], ["doc_id", "text"])
        tolerant = {
            (r.id_a, r.id_b)
            for r in simhash_hamming_pairs(
                df, "text", "doc_id", nbits=32, max_hamming=3
            ).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in simhash_bucket_pairs(df, "text", "doc_id", nbits=32).collect()
        }
        assert (1, 2) in tolerant
        assert (1, 3) not in tolerant and (2, 3) not in tolerant
        assert (1, 2) not in exact  # the pair exact bucketing misses


class TestSimilarity:
    def test_pandas_topk_matches_relational(self, spark, sf_small):
        emb = load_table(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = brute_force_topk(emb, queries, k=10).collect()
        fast = topk_pandas(emb, queries, k=10).collect()
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        exact_m = {key(r): (r.neighbor_id, r.cosine_e4) for r in exact}
        fast_m = {key(r): (r.neighbor_id, r.cosine_e4) for r in fast}
        assert exact_m == fast_m

    def test_self_excluded(self, spark, sf_small):
        emb = load_table(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") == 0)
        got = brute_force_topk(emb, queries, k=5).collect()
        assert all(r.neighbor_id != 0 for r in got)
        assert [r.rank for r in got] == [1, 2, 3, 4, 5]

    def test_multiprobe_supersets_exact_signature_pairs(self, spark, sf_small):
        from data_integration_pipelines_spark.operators.similarity import (
            embedding_near_dup_multiprobe,
            embedding_near_dup_pairs,
        )

        emb = load_table(spark, sf_small, "embeddings")
        exact = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_pairs(emb, threshold=0.35).collect()
        }
        probed = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_multiprobe(
                emb, threshold=0.35, max_hamming=1
            ).collect()
        }
        # Hamming 0 (identical signatures) is within Hamming <= 1, and the
        # cosine verify is shared -> strict superset with equal scores
        assert set(exact) <= set(probed)
        assert all(probed[p] == c for p, c in exact.items())

    def test_signature_probing_equals_block_join_multiprobe(self, spark, sf_small):
        """embedding_near_dup_probed (query-side signature probing, the
        recommended_n_planes scale path) must emit EXACTLY the block-join
        multiprobe's pairs and scores — candidate strategy is physical,
        never semantic. Checked at two plane widths so the equality is
        not an 8-plane coincidence."""
        from data_integration_pipelines_spark.operators.similarity import (
            embedding_near_dup_multiprobe,
            embedding_near_dup_probed,
        )

        emb = load_table(spark, sf_small, "embeddings")
        for planes in (8, 11):
            block = {
                (r.id_a, r.id_b): r.cosine_e4
                for r in embedding_near_dup_multiprobe(
                    emb, threshold=0.35, n_planes=planes, max_hamming=1
                ).collect()
            }
            probed = {
                (r.id_a, r.id_b): r.cosine_e4
                # max_bucket=None: this test pins recall-EXACT pair
                # equality across candidate strategies; the multiprobe
                # twin is uncapped, so the probed side must be too
                for r in embedding_near_dup_probed(
                    emb, threshold=0.35, n_planes=planes, max_hamming=1,
                    max_bucket=None,
                ).collect()
            }
            assert probed == block, f"divergence at n_planes={planes}"
            assert len(probed) > 0

    def test_probed_auto_planes_matches_explicit(self, spark, sf_small):
        """n_planes=None sizes via recommended_n_planes(N) at plan build
        (the production default since r7) — must equal the explicitly
        sized call at the same width."""
        from data_integration_pipelines_spark.operators.similarity import (
            embedding_near_dup_probed,
            recommended_n_planes,
        )

        emb = load_table(spark, sf_small, "embeddings")
        width = recommended_n_planes(emb.count())
        auto = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_probed(emb, threshold=0.35, n_planes=None).collect()
        }
        explicit = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_probed(
                emb, threshold=0.35, n_planes=width
            ).collect()
        }
        assert auto == explicit

    def test_signature_probes_h2_rejected(self, spark):
        import pytest as _pytest

        from data_integration_pipelines_spark.operators.similarity import (
            signature_probes,
        )

        with _pytest.raises(ValueError, match="h=1"):
            signature_probes(F.lit("0101"), 4, max_hamming=2)


def _union_find_clusters(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: node -> min member of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    members: dict[int, list[int]] = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    return {x: min(xs) for xs in members.values() for x in xs}


class TestConnectedComponents:
    def _run(self, spark, pairs):
        from data_integration_pipelines_spark.operators.dedup import (
            connected_components,
        )

        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        return {
            r["id"]: r["cluster_id"] for r in connected_components(df).collect()
        }

    def test_chain_transitivity(self, spark):
        # A-B, B-C, C-D: one cluster even though A,D never paired directly
        got = self._run(spark, [(1, 2), (2, 3), (3, 4)])
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_long_chain_converges_in_log_rounds(self, spark):
        # diameter 40 — naive min-propagation would need 40 rounds;
        # star-contraction must still finish within the max_iter cap
        pairs = [(i, i + 1) for i in range(40)]
        got = self._run(spark, pairs)
        assert set(got.values()) == {0}
        assert len(got) == 41

    def test_disjoint_components_and_hub(self, spark):
        got = self._run(spark, [(10, 1), (10, 2), (10, 3), (7, 8)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 1, 7: 7, 8: 7}

    def test_duplicate_and_reversed_edges(self, spark):
        got = self._run(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
        assert got == {1: 1, 2: 1, 3: 1}

    def test_reliable_checkpoint_mode_matches_local(self, spark, tmp_path):
        # checkpoint_dir switches localCheckpoint -> reliable checkpoint
        # (survives executor loss on a real cluster); clusters must be
        # identical in both modes and checkpoint files must actually land
        from data_integration_pipelines_spark.operators.dedup import (
            connected_components,
        )

        pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        local = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
        ckdir = str(tmp_path / "cc_ckpt")
        durable = {
            r["id"]: r["cluster_id"]
            for r in connected_components(df, checkpoint_dir=ckdir).collect()
        }
        assert durable == local == _union_find_clusters(pairs)
        import os

        assert os.path.isdir(ckdir) and any(os.scandir(ckdir))

    def test_random_graphs_match_union_find(self, spark):
        import random

        rng = random.Random(42)
        for _ in range(3):
            n = rng.randint(5, 40)
            pairs = [
                (rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(1, 60))
            ]
            pairs = [(a, b) for a, b in pairs if a != b]
            if not pairs:
                continue
            assert self._run(spark, pairs) == _union_find_clusters(pairs)

    def test_distributed_star_loop_matches_driver_route(self, spark, monkeypatch):
        # Small graphs auto-route to driver union-find. Pin the cap's
        # boundary (cap = distinct edge count -> driver route, one less
        # -> the distributed star loop, the 100 TB path) and route
        # parity on chains, hubs, duplicates and a random graph.
        import random

        from data_integration_pipelines_spark.operators import dedup, routing

        driver_cc = dedup._driver_cc
        driver_calls = []

        def spy(*args):
            driver_calls.append(1)
            return driver_cc(*args)

        monkeypatch.setattr(dedup, "_driver_cc", spy)
        rng = random.Random(7)
        cases = [
            [(1, 2), (2, 3), (3, 4)],
            [(10, 1), (10, 2), (10, 3), (7, 8)],
            [(2, 1), (1, 2), (2, 3), (3, 2)],
            [
                (rng.randint(0, 30), rng.randint(0, 30))
                for _ in range(50)
            ],
        ]
        for pairs in cases:
            pairs = [(a, b) for a, b in pairs if a != b]
            n_edges = len(set(pairs))
            monkeypatch.setattr(routing, "DRIVER_EDGE_ROWS", n_edges)
            driver_got = self._run(spark, pairs)
            assert len(driver_calls) == 1
            monkeypatch.setattr(routing, "DRIVER_EDGE_ROWS", n_edges - 1)
            dist_got = self._run(spark, pairs)
            assert len(driver_calls) == 1
            driver_calls.clear()
            assert dist_got == driver_got == _union_find_clusters(pairs)


class TestEdgeCases:
    """Degenerate inputs the fixtures never produce: empty corpora,
    null/empty/whitespace text, single-token docs."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    def test_empty_corpus_all_dedup_ops(self, spark):
        from data_integration_pipelines_spark.operators.dedup import (
            connected_components,
            exact_dedup,
            jaccard_pairs,
            minhash_lsh_candidates,
            simhash_hamming_pairs,
        )

        empty = self._docs(spark, [])
        assert exact_dedup(empty, "text", "doc_id").count() == 0
        assert jaccard_pairs(empty, "text", "doc_id").count() == 0
        assert minhash_lsh_candidates(empty, "text", "doc_id").count() == 0
        assert simhash_hamming_pairs(empty, "text", "doc_id").count() == 0
        no_pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(no_pairs).count() == 0

    def test_null_empty_and_short_text(self, spark):
        from data_integration_pipelines_spark.operators.dedup import (
            jaccard_pairs,
            minhash_lsh_candidates,
        )

        docs = self._docs(
            spark,
            [
                (1, None, "en", "s", 0),
                (2, "", "en", "s", 0),
                (3, "   ", "en", "s", 3),
                (4, "one two", "en", "s", 7),  # shorter than the 3-gram window
                (5, "a b c d e f", "en", "s", 11),
                (6, "a b c d e f", "en", "s", 11),  # exact near-dup of 5
            ],
        )
        pairs = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8).collect()
        assert [(r.id_a, r.id_b) for r in pairs] == [(5, 6)]
        cand = minhash_lsh_candidates(docs, "text", "doc_id", n=3).collect()
        assert [(r.id_a, r.id_b) for r in cand] == [(5, 6)]


def test_ivf_recall_against_bruteforce(spark, sf_small):
    """IVF (single-probe, 8 pivots) must keep most of the exact top-3
    neighborhood for most queries — the recall/latency trade is the
    point of IVF; this pins that the bucketing isn't degenerate
    (recall would be ~0 if pivot assignment or bucket search broke)."""
    from data_integration_pipelines_spark.catalog import load_table
    from data_integration_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    pivots = emb.filter(F.col("vec_id") < 8)
    k = 3

    exact = {}
    for r in brute_force_topk(emb, queries, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf_topk(emb, queries, pivots, k=k).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)

    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    # single-probe IVF on 64-d gaussian data: far from perfect by
    # design, but must beat random bucketing by a wide margin
    assert mean_recall >= 0.5, f"mean recall {mean_recall:.2f}"
    # ivf results are a subset of the corpus and never contain self
    assert all(q not in ns for q, ns in approx.items())


def test_multiprobe_ivf_recall_dominates_single_probe(spark, sf_small):
    from data_integration_pipelines_spark.catalog import load_table
    from data_integration_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    pivots = emb.filter(F.col("vec_id") < 8)
    k = 3

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_sets(brute_force_topk(emb, queries, k=k))

    def mean_recall(nprobe):
        approx = topk_sets(ivf_topk(emb, queries, pivots, k=k, nprobe=nprobe))
        return sum(
            len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)

    r1, r2 = mean_recall(1), mean_recall(2)
    assert r2 >= r1, f"nprobe=2 recall {r2:.2f} < nprobe=1 {r1:.2f}"
    assert r2 >= 0.6


class TestScaleSafetyCaps:
    """Caps that keep candidate generation bounded on degenerate data:
    stop-shingle df-capping, LSH bucket-population capping, and the
    driver-collect guard on topk_pandas."""

    def test_max_doc_freq_bounds_stop_shingle_candidates(self, spark):
        # 60 docs sharing one ubiquitous shingle ("the quick brown fox"
        # prefix) + 2 genuine near-dups. Uncapped, the stop shingle
        # creates ~60^2/2 candidate pairs; capped, candidates collapse
        # to the genuine pair (scores stay exact for surviving pairs).
        rows = [(i, f"the quick brown fox unique{i} a b c d e f") for i in range(60)]
        rows += [(100, "x y z w v u t s r q"), (101, "x y z w v u t s r q")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])

        capped = jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=10
        ).collect()
        got = {(r.id_a, r.id_b) for r in capped}
        assert got == {(100, 101)}

        # and the planted pair's score is exact
        assert all(abs(r.jaccard - 1.0) < 1e-9 for r in capped)

    def test_embedding_bucket_cap_bounds_candidates(self, spark):
        from data_integration_pipelines_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        # 50 identical vectors land in ONE signature bucket (the
        # mass-duplicate degenerate case) + one distinct near-dup pair
        # in another bucket. max_bucket=10 drops the degenerate bucket
        # but keeps the well-behaved one.
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
        rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 0.995, 0.0998, 0.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])

        uncapped = embedding_near_dup_pairs(df, threshold=0.9)
        capped = embedding_near_dup_pairs(df, threshold=0.9, max_bucket=10)
        got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
        assert (100, 101) in got_capped
        assert len(got_capped) < uncapped.count()
        # no pair from the degenerate (capped) bucket survives
        assert not any(a < 50 and b < 50 for a, b in got_capped)

    def test_multiprobe_bucket_cap(self, spark):
        from data_integration_pipelines_spark.operators.similarity import (
            embedding_near_dup_multiprobe,
        )

        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
        rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 0.995, 0.0998, 0.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        capped = embedding_near_dup_multiprobe(df, threshold=0.9, max_bucket=10)
        got = {(r.id_a, r.id_b) for r in capped.collect()}
        assert (100, 101) in got
        assert not any(a < 50 and b < 50 for a, b in got)

    def test_auto_max_bucket_rule(self):
        """auto_max_bucket = mult * max(1, ceil(N / 2^planes)) — pure
        integers, mirrored by the DuckDB oracles (lsh_oracle.cap_cte)."""
        from data_integration_pipelines_spark.operators.similarity import (
            auto_max_bucket,
            recommended_n_planes,
        )

        assert auto_max_bucket(500, 9) == 16  # mean <= 1 under rec sizing
        assert auto_max_bucket(500, 8) == 32  # ceil(500/256) = 2
        assert auto_max_bucket(43, 8) == 16
        # under recommended_n_planes the mean population is oversharded
        # to ~1, so the auto cap is the constant mult at ANY corpus size
        for n in (100, 10_000, 10_000_000, 10_000_000_000):
            assert auto_max_bucket(n, recommended_n_planes(n)) == 16

    def test_probed_auto_cap_semantics(self, spark, sf_medium):
        """The r9 default (max_bucket='auto') must equal the explicit
        auto_max_bucket(N, planes) cap, and equal the uncapped twin
        minus exactly the pairs with an endpoint in an over-cap
        signature bucket. Runs at sf0.01 — the cap (16) binds there
        (hottest buckets hold 18-19 of 500); at sf0.001 the hottest
        bucket is exactly 16 and the cap is a no-op."""
        from data_integration_pipelines_spark.operators.similarity import (
            auto_max_bucket,
            embedding_near_dup_probed,
            hyperplane_signatures,
            recommended_n_planes,
        )

        emb = load_table(spark, sf_medium, "embeddings")
        n = emb.count()
        planes = recommended_n_planes(n)
        cap = auto_max_bucket(n, planes)
        auto = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_probed(
                emb, threshold=0.35, n_planes=None, max_bucket="auto"
            ).collect()
        }
        explicit = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_probed(
                emb, threshold=0.35, n_planes=planes, max_bucket=cap
            ).collect()
        }
        assert auto == explicit
        uncapped = {
            (r.id_a, r.id_b): r.cosine_e4
            for r in embedding_near_dup_probed(
                emb, threshold=0.35, n_planes=None, max_bucket=None
            ).collect()
        }
        sig = hyperplane_signatures(emb, n_planes=planes)
        pops = sig.groupBy("signature").count().collect()
        hot = {r["signature"] for r in pops if r["count"] > cap}
        assert hot, "fixture must have over-cap buckets or this test is vacuous"
        in_hot = {
            r["id"] for r in sig.collect() if r["signature"] in hot
        }
        lost = set(uncapped) - set(auto)
        assert lost, "cap must BIND at the fixture"
        # capped keeps scores identical for surviving pairs, and every
        # lost pair had at least one endpoint inside an over-cap bucket
        assert all(uncapped[p] == c for p, c in auto.items())
        assert all(a in in_hot or b in in_hot for a, b in lost)

    def test_exact_then_near_dup_recovers_capped_losses(self, spark):
        """THE production composition's money property (r9): on a
        mass-duplicate corpus the capped kernel alone loses the true
        near-dup pairs inside the mass bucket, but exact dedup FIRST
        collapses the verbatim pile to one representative, the bucket
        falls back under the cap, and the capped kernel on survivors
        recovers them — the cap's recall loss is bounded to in-bucket
        exact-dups already removed upstream."""
        from data_integration_pipelines_spark.operators.dedup import exact_dedup
        from data_integration_pipelines_spark.operators.similarity import (
            embedding_near_dup_probed,
        )

        docs = spark.createDataFrame(
            [(i, "mass duplicate text") for i in range(40)]
            + [(50, "organic neighbor"), (100, "other a"), (101, "other b")],
            ["doc_id", "text"],
        )
        emb = spark.createDataFrame(
            [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
            + [
                (50, [1.0, 0.001, 0.0, 0.0]),  # organic near-dup of the pile
                (100, [0.0, 1.0, 0.0, 0.0]),
                (101, [0.0, 0.995, 0.0998, 0.0]),
            ],
            ["vec_id", "embedding"],
        )
        capped_raw = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_probed(
                emb, threshold=0.9, n_planes=None, max_bucket="auto"
            ).collect()
        }
        # the mass bucket (41 > cap=16) is dropped: the organic pair
        # (0, 50) is lost, the well-behaved bucket survives
        assert (100, 101) in capped_raw
        assert not any(a <= 50 and b <= 50 for a, b in capped_raw)

        # the composition: exact dedup -> survivors -> capped near-dup
        surv = exact_dedup(docs, "text", "doc_id").select(
            F.col("survivor_id").alias("vec_id")
        )
        comp = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_probed(
                emb.join(surv, "vec_id"),
                threshold=0.9,
                n_planes=None,
                max_bucket="auto",
            ).collect()
        }
        assert comp == {(0, 50), (100, 101)}
        # and on survivors the cap no longer binds: capped == uncapped
        uncapped_surv = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_probed(
                emb.join(surv, "vec_id"),
                threshold=0.9,
                n_planes=None,
                max_bucket=None,
            ).collect()
        }
        assert comp == uncapped_surv

    def test_topk_pandas_rejects_oversized_query_set(self, spark, sf_small):
        emb = load_table(spark, sf_small, "embeddings")
        with pytest.raises(ValueError, match="max_queries"):
            topk_pandas(emb, emb, k=3, max_queries=5)

    def test_topk_join_bulk_path_never_collects(self, spark, sf_small, monkeypatch):
        """topk_join is the batch-inference ANN path: the query set
        stays a DataFrame end-to-end, so building the plan must run NO
        driver action at all (collect/count/take/first all trapped).
        Results must equal ivf_topk with the same pivots/nprobe —
        broadcast hints are physical, never semantic."""
        from pyspark.sql import DataFrame as _DF

        from data_integration_pipelines_spark.operators.similarity import (
            ivf_topk,
            topk_join,
        )

        emb = load_table(spark, sf_small, "embeddings")
        pivots = emb.filter(F.col("vec_id") < 8)
        queries = emb.filter(F.col("vec_id") < 50)

        def _boom(name):
            def fail(self, *a, **kw):
                raise AssertionError(f"driver action {name}() in bulk ANN path")
            return fail

        with monkeypatch.context() as m:
            for action in ("collect", "count", "take", "first", "toPandas"):
                m.setattr(_DF, action, _boom(action))
            out = topk_join(emb, queries, pivots, k=5, nprobe=2)
        assert isinstance(out, _DF)

        got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
               for r in out.collect()}
        want = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
                for r in ivf_topk(emb, queries, pivots, k=5, nprobe=2).collect()}
        assert got == want and len(want) >= 200

    def test_doc_freq_cap_exprs_are_concurrency_safe(self, spark, sf_small):
        """Two live cap expressions in one session must each count
        their OWN corpus: a fixed backing-view name would let the
        second registration hijack the first expression's scalar
        subquery (round-5 verdict item 8). Both caps are built before
        either is evaluated — exactly the collision window."""
        from data_integration_pipelines_spark.operators.dedup import (
            relative_doc_freq_cap_expr,
        )

        docs = load_table(spark, sf_small, "documents")
        corpus_a = docs.filter(F.col("doc_id") < 5)
        corpus_b = docs.filter(F.col("doc_id") < 9)
        cap_a = relative_doc_freq_cap_expr(corpus_a, fraction=1.0, floor=1)
        cap_b = relative_doc_freq_cap_expr(corpus_b, fraction=1.0, floor=1)
        got_a = spark.range(1).select(cap_a.alias("cap")).collect()[0]["cap"]
        got_b = spark.range(1).select(cap_b.alias("cap")).collect()[0]["cap"]
        assert (got_a, got_b) == (5, 9)

    def test_ivf_pq_guard_fires_before_probe_collect(self, spark, sf_small):
        """ivf_pq_topk's bounded-Q guard must run BEFORE the Q*nprobe
        probe-set collect, not only inside _pq_adc_topk (round-5
        advisory: an oversized query set would do an unbounded driver
        collect before the loud failure). The top-of-function guard has
        its own message naming the probe sets."""
        from data_integration_pipelines_spark.operators.similarity import (
            fixture_codebooks,
            ivf_pq_topk,
        )

        emb = load_table(spark, sf_small, "embeddings")
        pivots = emb.filter(F.col("vec_id") < 8)
        cb = fixture_codebooks(emb, m_subvectors=8, k_centroids=16)
        with pytest.raises(ValueError, match="probe sets"):
            ivf_pq_topk(emb, emb, pivots, cb, k=3, max_queries=5)

    def test_empty_query_set_returns_empty(self, spark, sf_small):
        from data_integration_pipelines_spark.operators.similarity import (
            fixture_codebooks,
            pq_topk,
        )

        emb = load_table(spark, sf_small, "embeddings")
        none = emb.filter("vec_id < 0")
        got = topk_pandas(emb, none, k=3)
        assert got.count() == 0
        assert got.columns == ["query_id", "neighbor_id", "cosine_e4", "rank"]
        cb = fixture_codebooks(emb)
        got_pq = pq_topk(emb, none, cb, k=3)
        assert got_pq.count() == 0
        assert got_pq.columns == ["query_id", "neighbor_id", "cosine_e4", "rank"]

    def test_recommended_n_planes_scales(self):
        from data_integration_pipelines_spark.operators.similarity import (
            recommended_n_planes,
        )

        assert recommended_n_planes(1_000) == 10
        assert recommended_n_planes(1_000_000) == 20
        # monotone, floored at 8
        assert recommended_n_planes(10) == 8


class TestBoundedPersistPool:
    def test_pool_caps_cached_tables(self, spark, sf_small):
        from data_integration_pipelines_spark.operators.cache import (
            pool_size,
            release_cached,
        )

        release_cached()
        docs = load_table(spark, sf_small, "documents").limit(50)
        for _ in range(12):
            # each call persists one intermediate via bounded_persist
            jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.9).count()
        assert pool_size() <= 8
        released = release_cached()
        assert released <= 8
        assert pool_size() == 0


class TestProductQuantization:
    def test_ivf_pq_full_probe_equals_brute_force(self, spark, sf_small):
        """IVFPQ with nprobe = n_pivots (every cell probed) and a
        corpus-sized rerank budget degrades to exact brute force — the
        bucket restriction and the ADC cut must only ever REMOVE
        candidates, never perturb scores or order."""
        from data_integration_pipelines_spark.operators.similarity import (
            brute_force_topk,
            fixture_codebooks,
            ivf_pq_topk,
        )

        emb = load_table(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        pivots = emb.filter(F.col("vec_id") < 8)
        cbk = fixture_codebooks(emb, m_subvectors=8, k_centroids=16)
        n = emb.count()
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
            for r in ivf_pq_topk(
                emb, queries, pivots, cbk, k=5, rerank=n, nprobe=8,
                exact_dist=True,
            ).collect()
        }
        want = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        assert got == want and len(want) == 25

    def test_ivf_pq_candidates_stay_in_probed_cells(self, spark, sf_small):
        """Every IVFPQ neighbor must come from a cell the query probed
        — the restriction that buys the ~nprobe/n_pivots scan."""
        from data_integration_pipelines_spark.operators.similarity import (
            assign_buckets,
            fixture_codebooks,
            ivf_pq_topk,
        )

        emb = load_table(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        pivots = emb.filter(F.col("vec_id") < 8)
        cbk = fixture_codebooks(emb, m_subvectors=8, k_centroids=16)
        out = ivf_pq_topk(
            emb, queries, pivots, cbk, k=5, rerank=50, nprobe=2, exact_dist=True
        ).collect()
        cb_map = {r["id"]: r["bucket"] for r in assign_buckets(emb, pivots).collect()}
        qb: dict[int, set] = {}
        for r in assign_buckets(queries, pivots, nprobe=2).collect():
            qb.setdefault(r["id"], set()).add(r["bucket"])
        assert out
        for r in out:
            assert cb_map[r.neighbor_id] in qb[r.query_id]

    def test_pq_recall_with_rerank(self, spark, sf_small):
        from data_integration_pipelines_spark.operators.similarity import (
            brute_force_topk,
            pq_topk,
            pq_train,
        )

        emb = load_table(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") < 15)
        k = 5
        cb = pq_train(emb, m_subvectors=8, k_centroids=16)
        assert cb.shape == (8, 16, 8)  # (m, k, D/m) for D=64

        def topk_sets(df):
            out = {}
            for r in df.collect():
                out.setdefault(r.query_id, set()).add(r.neighbor_id)
            return out

        exact = topk_sets(brute_force_topk(emb, queries, k=k))
        # rerank=100 of 500 vectors: the candidate cut is now the EXACT
        # global ADC top-`rerank` (the pre-round-3 cut was a union of
        # per-partition top-`rerank` — an inflated candidate superset
        # whose size depended on the partitioning, so its measured
        # recall overstated what the algorithm delivers at scale)
        approx = topk_sets(pq_topk(emb, queries, cb, k=k, rerank=100))
        recall = sum(
            len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)
        assert recall >= 0.8, f"PQ recall {recall:.2f}"

    def test_pq_train_distributed_table_equals_driver_loop(self, spark, sf_small):
        """The distributed PQ trainer must produce BIT-IDENTICAL
        codebooks whichever Lloyd's backend runs each subspace fit —
        the kmeans_fit == kmeans_fit_table fixed-point guarantee lifted
        to the PQ level (round-5 verdict task 2)."""
        import numpy as np

        from data_integration_pipelines_spark.operators.similarity import (
            pq_train_distributed,
        )

        emb = load_table(spark, sf_small, "embeddings")
        a = pq_train_distributed(emb, m_subvectors=8, k_centroids=8, iters=2)
        b = pq_train_distributed(
            emb, m_subvectors=8, k_centroids=8, iters=2, use_table=True
        )
        assert a.shape == b.shape == (8, 8, 8)
        assert np.array_equal(a, b)

    def test_pq_train_routes_large_samples_through_distributed(
        self, spark, sf_small, monkeypatch
    ):
        """pq_train must never collect a sample above MAX_CENTROID_CELLS
        numbers: above the cap (or with sample_limit=None = full-corpus
        training) it routes through pq_train_distributed and returns
        that trainer's codebooks exactly."""
        import numpy as np

        from data_integration_pipelines_spark.operators import clustering
        from data_integration_pipelines_spark.operators.similarity import (
            pq_train,
            pq_train_distributed,
        )

        emb = load_table(spark, sf_small, "embeddings")
        want = pq_train_distributed(emb, m_subvectors=8, k_centroids=8, iters=2)
        # sample_limit=None: full-corpus training, always distributed
        got = pq_train(emb, m_subvectors=8, k_centroids=8, iters=2, sample_limit=None)
        assert np.array_equal(got, want)
        # an over-cap sample_limit routes the same way (cap shrunk so
        # the fixture crosses it)
        monkeypatch.setattr(clustering, "MAX_CENTROID_CELLS", 100)
        got2 = pq_train(
            emb, m_subvectors=8, k_centroids=8, iters=2, sample_limit=10_000
        )
        assert np.array_equal(got2, want)

    def test_pq_codes_compress(self, spark, sf_small):
        from data_integration_pipelines_spark.operators.similarity import (
            pq_encode,
            pq_train,
        )

        emb = load_table(spark, sf_small, "embeddings")
        cb = pq_train(emb, m_subvectors=8, k_centroids=16)
        codes = pq_encode(emb, cb)
        row = codes.first()
        assert len(row.codes) == 8
        assert all(0 <= c < 16 for c in row.codes)
        assert codes.count() == emb.count()


class TestInt8Quantize:
    def test_codes_scale_and_reconstruction(self, spark):
        import numpy as np

        from data_integration_pipelines_spark.operators.similarity import (
            quantize_int8,
        )

        vecs = [
            (0, [1.0, -0.5, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, codes 0
            (2, [-2.0, 2.0, 1.0, -1.0]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
        # max-abs element always saturates to exactly +/-127
        assert got[0]["codes"][0] == 127 and got[0]["scale"] == 127.0
        assert got[0]["codes"][1] == -63  # floor(-0.5*127+0.5) = -63
        assert got[1]["scale"] == 0.0 and got[1]["codes"] == [0, 0, 0, 0]
        assert got[2]["codes"] == [-127, 127, 64, -63]
        # reconstruction error bounded by half a quantization step
        for vid in (0, 2):
            r = got[vid]
            step = 1.0 / r["scale"]
            recon = np.array(r["codes"]) / r["scale"]
            assert np.max(np.abs(recon - np.array(r["vals"]))) <= step / 2 + 1e-12


class TestBloomPrefilter:
    """operators/bloom.py — lossless-reject semi-join prefilter."""

    def test_no_false_negatives_and_rejects_most_non_members(self, spark):
        from data_integration_pipelines_spark.operators.bloom import (
            bloom_bitmap,
            bloom_prefilter,
        )

        build = spark.range(0, 200).selectExpr("id * 7 AS key")
        probe = spark.range(0, 4000).selectExpr("id AS k")  # members = multiples of 7 < 1400
        kept = bloom_prefilter(probe, build, "k", "key", m_bits=1 << 14, k=3)
        kept_set = {r.k for r in kept.collect()}
        members = {i * 7 for i in range(200)}
        # every true member survives (false negatives impossible)
        assert members <= kept_set
        # the reject rate is real: most non-members die in the prefilter
        non_members_kept = len(kept_set - members)
        assert non_members_kept < 0.05 * 4000, non_members_kept
        # bitmap is one sparse map row, bounded by m/64 blocks
        bm = bloom_bitmap(build, "key", m_bits=1 << 14, k=3).collect()
        assert len(bm) == 1 and len(bm[0].bm) <= (1 << 14) // 64

    def test_key_type_mismatch_raises(self, spark):
        from data_integration_pipelines_spark.operators.bloom import bloom_prefilter

        build = spark.range(0, 10).selectExpr("CAST(id AS INT) AS key")
        probe = spark.range(0, 10).selectExpr("id AS k")  # bigint
        # xxhash64(int) != xxhash64(bigint) for equal values -> a silent
        # false negative; the guard must refuse instead
        with pytest.raises(TypeError, match="type mismatch"):
            bloom_prefilter(probe, build, "k", "key")

    def test_decontaminate_bloom_equals_exact(self, spark, sf_small):
        from data_integration_pipelines_spark.plans import REGISTRY

        exact = sorted(map(tuple, REGISTRY["decontaminate"].fn(spark, sf_small).collect()))
        bloom = sorted(map(tuple, REGISTRY["decontaminate_bloom"].fn(spark, sf_small).collect()))
        assert exact == bloom


class TestMergeTopk:
    """operators/similarity.merge_topk — mergeable top-k monoid."""

    def test_overlapping_and_redelivered_batches(self, spark):
        from pyspark.sql import functions as F

        from data_integration_pipelines_spark.operators.similarity import (
            merge_topk,
            topk_pandas,
        )

        emb = spark.range(0, 60).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("float"), (F.col("id") % 11).cast("float")
            ).alias("embedding"),
        )
        queries = emb.filter(F.col("vec_id") < 2)
        full = topk_pandas(emb, queries, k=5)
        want = sorted(
            (r.query_id, r.neighbor_id, r.rank) for r in full.collect()
        )
        # overlapping thirds + a full re-delivery of batch 0
        batches = [
            emb.filter(F.col("vec_id") < 30),
            emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 50)),
            emb.filter(F.col("vec_id") >= 40),
            emb.filter(F.col("vec_id") < 30),  # re-delivered
        ]
        state = None
        for b in batches:
            state = merge_topk(state, topk_pandas(b, queries, k=5), k=5)
        got = sorted((r.query_id, r.neighbor_id, r.rank) for r in state.collect())
        assert got == want


class TestSplitAssign:
    """Deterministic corpus split: membership is a pure function of the
    id — the property that makes a 100 TB split reproducible."""

    def test_assignment_stable_under_corpus_changes(self, spark):
        from data_integration_pipelines_spark.plans.queries_curation import (
            split_assign,
        )
        from pyspark.sql import functions as F

        full = spark.range(0, 1000).select(
            "id", split_assign(F.col("id")).alias("split")
        )
        subset = spark.range(0, 200, 3).select(
            "id", split_assign(F.col("id")).alias("split")
        )
        f = {r.id: r.split for r in full.collect()}
        for r in subset.collect():
            assert f[r.id] == r.split  # removing rows never reassigns
        # fractions land near the 80/10/10 target
        from collections import Counter

        c = Counter(f.values())
        assert 0.7 < c["train"] / 1000 < 0.9
        assert 0.05 < c["val"] / 1000 < 0.15
        assert 0.05 < c["test"] / 1000 < 0.15

    def test_oracle_matches(self, spark, sf_small):
        from data_integration_pipelines_spark.plans import REGISTRY
        from tests.oracle_compare import compare_query

        ok, msg = compare_query(spark, REGISTRY["train_val_test_split"], sf_small)
        assert ok, msg


class TestCrossJaccardAndIngest:
    def test_cross_pairs_match_symmetric_restriction(self, spark, sf_small):
        # the asymmetric join restricted to (new, old) must equal the
        # full self-join's pairs that straddle the split
        from data_integration_pipelines_spark.operators.dedup import (
            cross_jaccard_pairs,
            jaccard_pairs,
        )

        docs = load_table(spark, sf_small, "documents")
        newd = docs.filter(F.col("doc_id") % 10 >= 8)
        oldd = docs.filter(F.col("doc_id") % 10 < 8)
        cross = {
            (r.new_id, r.old_id, round(r.jaccard, 6))
            for r in cross_jaccard_pairs(
                newd, oldd, "text", "doc_id", n=3, threshold=0.5
            ).collect()
        }
        full = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
        expected = set()
        for r in full:
            a, b = r.id_a, r.id_b
            for x, y in ((a, b), (b, a)):
                if x % 10 >= 8 and y % 10 < 8:
                    expected.add((x, y, round(r.jaccard, 6)))
        assert cross == expected

    def test_exact_tier_beats_near_tier(self, spark):
        # constructed rows: 9 duplicates 2 byte-for-byte (exact_dup even
        # though jaccard=1.0 also fires); 19 is a near-dup of 3; 29 novel
        from data_integration_pipelines_spark.plans import REGISTRY
        import tempfile, os

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (2, base, "en", "srcA", len(base)),
            (3, base + " extra tail words here", "en", "srcA", 1),
            (9, base, "en", "srcA", len(base)),
            (19, base + " extra tail words", "en", "srcA", 1),
            (29, "totally different content with no overlap at all", "en", "srcA", 1),
        ]
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
            out = {
                r.doc_id: r
                for r in REGISTRY["incremental_ingest_dedup"].fn(spark, d).collect()
            }
        assert out[9].verdict == "exact_dup" and out[9].exact_match_id == 2
        assert out[19].verdict == "near_dup" and out[19].n_near_dups >= 1
        assert out[29].verdict == "novel" and out[29].best_jaccard_e4 is None


class TestCountMinSketch:
    def test_merge_equals_build_on_union(self, spark, sf_small):
        from data_integration_pipelines_spark.operators.sketches import (
            cms_build,
            cms_merge,
        )

        docs = load_table(spark, sf_small, "documents")
        toks = docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        a = toks.filter(F.col("doc_id") % 2 == 0).select("tok")
        b = toks.filter(F.col("doc_id") % 2 == 1).select("tok")
        merged = {
            (r.d, r.bucket): r.cnt
            for r in cms_merge(cms_build(a, "tok"), cms_build(b, "tok")).collect()
        }
        full = {
            (r.d, r.bucket): r.cnt for r in cms_build(toks.select("tok"), "tok").collect()
        }
        assert merged == full

    def test_estimate_one_sided_and_exact_without_collisions(self, spark):
        from data_integration_pipelines_spark.operators.sketches import (
            cms_build,
            cms_estimate,
        )
        from pyspark.sql import Row

        rows = [Row(v=w) for w in ["a"] * 5 + ["b"] * 3 + ["c"]]
        df = spark.createDataFrame(rows)
        probes = spark.createDataFrame([Row(v=w) for w in ["a", "b", "c", "zzz"]])
        # width 4096 >> 3 values: no collisions, estimates exact; the
        # never-inserted probe reads 0 from its untouched buckets
        grid = cms_build(df, "v", width=4096, depth=3)
        est = {r.v: r.cms_est for r in cms_estimate(grid, probes, "v", 4096, 3).collect()}
        assert est == {"a": 5, "b": 3, "c": 1, "zzz": 0}
        # undersized width forces collisions -> still never underestimates
        tight = cms_build(df, "v", width=2, depth=2)
        est2 = {r.v: r.cms_est for r in cms_estimate(tight, probes, "v", 2, 2).collect()}
        assert est2["a"] >= 5 and est2["b"] >= 3 and est2["c"] >= 1


class TestExactSubstringRemoval:
    def test_planted_shared_span_removed_token_exact(self, spark):
        # two docs share one verbatim 9-token run; a 9-run yields two
        # overlapping 8-windows covering exactly those 9 positions in
        # each doc — everything else must survive, order preserved
        import hashlib, os, tempfile

        shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9"
        a_pre, a_post = "a1 a2 a3", "a4 a5"
        b_pre = "b1 b2 b3 b4 b5 b6 b7"
        rows = [
            (1, f"{a_pre} {shared} {a_post}", "en", "srcA", 1),
            (2, f"{b_pre} {shared}", "en", "srcA", 1),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10", "en", "srcA", 1),
        ]
        from data_integration_pipelines_spark.plans import REGISTRY

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
            out = {
                r.doc_id: r
                for r in REGISTRY["exact_substring_removal"].fn(spark, d).collect()
            }
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
        assert out[1].n_removed == 9
        assert out[1].cleaned_md5 == md5(f"{a_pre} {a_post}")
        assert out[2].n_removed == 9
        assert out[2].cleaned_md5 == md5(b_pre)
        assert out[3].n_removed == 0
        assert out[3].cleaned_md5 == md5("c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")


class TestCrossJaccardLossless:
    def test_prefix_filter_never_drops_a_true_pair(self, spark, sf_small):
        """Brute-force differential for the asymmetric prefix join:
        exact jaccard over ALL cross pairs (no prefix, no cap) must
        equal cross_jaccard_pairs' output — the Bayardo prefix is a
        candidate FILTER, never a score change or a miss."""
        from data_integration_pipelines_spark.operators.dedup import (
            cross_jaccard_pairs,
            doc_shingles,
        )

        docs = load_table(spark, sf_small, "documents").filter(
            F.col("doc_id") < 200
        )
        newd = docs.filter(F.col("doc_id") % 10 >= 8)
        oldd = docs.filter(F.col("doc_id") % 10 < 8)
        got = {
            (r.new_id, r.old_id, round(r.jaccard, 6))
            for r in cross_jaccard_pairs(
                newd, oldd, "text", "doc_id", n=3, threshold=0.4
            ).collect()
        }
        # brute force: distinct (id, shingle) explode, full equi-join
        a = doc_shingles(newd, "text", "doc_id", 3).withColumnRenamed("id", "new_id")
        b = doc_shingles(oldd, "text", "doc_id", 3).withColumnRenamed("id", "old_id")
        sa = a.groupBy("new_id").agg(F.count("*").alias("sza"))
        sb = b.groupBy("old_id").agg(F.count("*").alias("szb"))
        inter = (
            a.join(b, "shingle")
            .groupBy("new_id", "old_id")
            .agg(F.count("*").alias("c"))
        )
        brute = (
            inter.join(sa, "new_id").join(sb, "old_id")
            .withColumn("j", F.col("c") / (F.col("sza") + F.col("szb") - F.col("c")))
            .filter(F.col("j") >= 0.4)
        )
        want = {
            (r.new_id, r.old_id, round(r.j, 6)) for r in brute.collect()
        }
        assert got == want
        assert len(want) > 0  # non-vacuous at this threshold


class TestIvfIndexPersistence:
    def test_persisted_index_equals_direct_ivf(self, spark, sf_small, tmp_path):
        """Build-once/query-many: serving from the partitioned on-disk
        index must return exactly what ivf_topk computes in one pass,
        for both single- and multi-probe."""
        from data_integration_pipelines_spark.operators.similarity import (
            ivf_index_build,
            ivf_index_query,
            ivf_topk,
        )

        emb = load_table(spark, sf_small, "embeddings")
        pivots = emb.filter(F.col("vec_id") < 8)
        queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
        idx = str(tmp_path / "ivf_index")
        manifest = ivf_index_build(emb, pivots, idx)
        assert manifest["n_buckets"] <= 8

        for nprobe in (1, 2):
            served = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
                for r in ivf_index_query(
                    spark, idx, queries, k=5, nprobe=nprobe
                ).collect()
            }
            direct = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
                for r in ivf_topk(
                    emb, queries, pivots, k=5, nprobe=nprobe
                ).collect()
            }
            assert served == direct
            assert len(served) > 0

    def test_index_append_equals_fresh_build(self, spark, sf_small, tmp_path):
        """Incremental maintenance: build on a corpus prefix, append
        the remainder in two batches — queries over the appended index
        must equal a fresh build over the whole corpus (the frozen
        coarse quantizer makes bucket assignment a pure function of
        (vector, pivots), so append order cannot matter)."""
        from data_integration_pipelines_spark.operators.similarity import (
            ivf_index_append,
            ivf_index_build,
            ivf_index_query,
        )

        emb = load_table(spark, sf_small, "embeddings")
        pivots = emb.filter(F.col("vec_id") < 8)
        queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))

        grown = str(tmp_path / "ivf_grown")
        ivf_index_build(emb.filter(F.col("vec_id") % 3 == 0), pivots, grown)
        ivf_index_append(spark, grown, emb.filter(F.col("vec_id") % 3 == 1))
        manifest = ivf_index_append(
            spark, grown, emb.filter(F.col("vec_id") % 3 == 2)
        )
        assert manifest["n_buckets"] <= 8

        fresh = str(tmp_path / "ivf_fresh")
        ivf_index_build(emb, pivots, fresh)
        for nprobe in (1, 2):
            got = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
                for r in ivf_index_query(
                    spark, grown, queries, k=5, nprobe=nprobe
                ).collect()
            }
            want = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine_e4)
                for r in ivf_index_query(
                    spark, fresh, queries, k=5, nprobe=nprobe
                ).collect()
            }
            assert got == want and len(want) > 0

    def test_index_query_prunes_partitions(self, spark, sf_small, tmp_path):
        """The bucket join against the partitioned store must show a
        partition filter at the scan — the on-disk analogue of the
        bucket equi-join."""
        from data_integration_pipelines_spark.operators.similarity import (
            ivf_index_build,
            ivf_index_query,
        )

        emb = load_table(spark, sf_small, "embeddings")
        pivots = emb.filter(F.col("vec_id") < 8)
        queries = emb.filter(F.col("vec_id") == 100)
        idx = str(tmp_path / "ivf_index")
        ivf_index_build(emb, pivots, idx)
        df = ivf_index_query(spark, idx, queries, k=5, nprobe=1)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the vectors FileScan must carry a DYNAMIC partition filter —
        # "bucket" merely appearing (join key / output column) would
        # hold even with pruning defeated
        assert "dynamicpruning" in plan.lower(), plan


class TestIncrementalEmbeddingDedup:
    """classify_embeddings_against_corpus (r9): the embedding tier of
    the ingest-dedup family — new batch vs persisted corpus, capped
    probed kernel, index-side sizing."""

    def _cls(self, spark, new_rows, old_rows, **kw):
        from data_integration_pipelines_spark.operators.similarity import (
            classify_embeddings_against_corpus,
        )

        new = spark.createDataFrame(new_rows, ["vec_id", "embedding"])
        old = spark.createDataFrame(old_rows, ["vec_id", "embedding"])
        return {
            r.vec_id: r
            for r in classify_embeddings_against_corpus(
                new, old, threshold=0.9, **kw
            ).collect()
        }

    def test_exact_copy_flagged_orthogonal_unique(self, spark):
        old = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)]
        old += [(10, [0.0, 1.0, 0.0, 0.0])]
        new = [
            (100, [1.0, 0.0, 0.0, 0.0]),   # verbatim copy of the 1-dir
            (101, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to everything
        ]
        got = self._cls(spark, new, old)
        assert got[100].verdict == "near_dup"
        assert got[100].max_cosine_e4 == 10000
        assert got[100].n_near == 3  # all three identical corpus rows
        assert got[101].verdict == "unique"
        assert got[101].n_near == 0 and got[101].max_cosine_e4 is None

    def test_corpus_cap_drops_mass_bucket_candidates(self, spark):
        # 50 identical corpus vectors form an over-cap bucket; a new
        # copy of that direction probes into it and must get NOTHING
        # (the capped contract: mass cores are exact-dedup's job) while
        # a new vector near a small corpus bucket is still flagged.
        old = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
        old += [(100, [0.0, 1.0, 0.0, 0.0])]
        new = [
            (200, [1.0, 0.0, 0.0, 0.0]),
            (201, [0.0, 0.995, 0.0998, 0.0]),
        ]
        got = self._cls(spark, new, old, max_bucket=10)
        assert got[200].verdict == "unique"  # mass bucket capped away
        assert got[201].verdict == "near_dup"
        # and with the cap off, the mass copy IS flagged (differential)
        got_uncapped = self._cls(spark, new, old, max_bucket=None)
        assert got_uncapped[200].verdict == "near_dup"
        assert got_uncapped[200].n_near == 50

    def test_never_pairs_within_sides(self, spark):
        # two identical NEW vectors with no corpus neighbor: new x new
        # must not pair (both unique)
        old = [(0, [0.0, 1.0, 0.0, 0.0])]
        new = [(10, [1.0, 0.0, 0.0, 0.0]), (11, [1.0, 0.0, 0.0, 0.0])]
        got = self._cls(spark, new, old)
        assert got[10].verdict == "unique" and got[11].verdict == "unique"
