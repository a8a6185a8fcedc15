"""Similarity-search queries over the ``embeddings`` table
(array<float> column): brute-force cosine top-k (exact baseline) and
IVF-bucketed ANN (scale path).

The oracle mirrors the relational formulation (lockstep unnest +
position join + sum); ordering keys are integer-QUANTIZED cosines
(the identical sign/floor IEEE expression on both engines —
functions/quantize.py) with id tie-breaks so ranks are reproducible
across engines despite floating-point summation order, and every
output cosine emits as a basis-point BIGINT (``cosine_e4``), never a
rounded double (the round-4 float-hash postmortem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.quantize import e4_sql, quantized_sql
from ..operators.similarity import (
    embedding_near_dup_multiprobe,
    embedding_near_dup_pairs,
    embedding_near_dup_probed,
    ivf_topk,
    topk_pandas,
)
from .base import REGISTRY, register
from .lsh_oracle import (
    cap_cte,
    capped_sig_cte,
    capped_sig_cte_dyn,
    hamming_cand_cte,
    lsh_sig_cte,
    lsh_sig_cte_dyn,
    planes_cte,
    probed_cand_cte_dyn,
)

_LONG_CTE = """
    long AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    )
"""


@register(
    "ann_bruteforce",
    f"""
    WITH {_LONG_CTE},
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 5
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, corpus_id AS neighbor_id, {e4_sql('dot')} AS cosine_e4,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY {e4_sql('dot')} DESC, corpus_id) AS INT) AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, cosine_e4, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-10 per query vector (exact ANN baseline), "
    "executed on the vectorized 100TB path: numpy matmul per Arrow batch via "
    "mapInPandas (no shuffle until the k*Q-row partial top-k reduce). The "
    "declarative posexplode formulation (operators/similarity."
    "brute_force_topk) is the pytest-verified equivalent and mirrors the "
    "oracle SQL; the oracle hash-match covers both.",
    headline=True,
)
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return topk_pandas(emb, queries, k=10).orderBy("query_id", "rank")


@register(
    "ann_ivf",
    f"""
    WITH {_LONG_CTE},
    pivot_dots AS (
        SELECT v.vec_id AS id, p.vec_id AS pivot_id, SUM(v.val * p.val) AS dot
        FROM long v JOIN long p ON v.pos = p.pos
        WHERE p.vec_id < 8
        GROUP BY 1, 2
    ),
    buckets AS (
        SELECT id, pivot_id AS bucket FROM (
            SELECT id, pivot_id,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY {quantized_sql('dot', 6)} DESC, pivot_id) AS rn
            FROM pivot_dots
        ) WHERE rn = 1
    ),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id >= 100 AND q.vec_id < 105
        GROUP BY 1, 2
    ),
    in_bucket AS (
        SELECT d.query_id, d.corpus_id, d.dot
        FROM dots d
        JOIN buckets qb ON qb.id = d.query_id
        JOIN buckets cb ON cb.id = d.corpus_id
        WHERE qb.bucket = cb.bucket
    ),
    ranked AS (
        SELECT query_id, corpus_id AS neighbor_id, {e4_sql('dot')} AS cosine_e4,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY {e4_sql('dot')} DESC, corpus_id) AS INT) AS rank
        FROM in_bucket
    )
    SELECT query_id, neighbor_id, cosine_e4, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="IVF-bucketed ANN top-5: coarse quantizer = argmax cosine over 8 pivot "
    "vectors; search restricted to the query's bucket. At 100 TB the bucket "
    "assignment partitions the corpus so each query scans ~1/n_pivots of it.",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pivots = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    return ivf_topk(emb, queries, pivots, k=5).orderBy("query_id", "rank")


#: exact-signature candidates (Hamming=0): pairs sharing the full
#: 8-bit signature
_EXACT_SIG_CAND = """
    cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sig a JOIN sig b ON a.signature = b.signature AND a.vec_id < b.vec_id
    )"""


def _near_dup_oracle(
    kernel, n_planes: int | None = 8, max_hamming: int = 1, max_bucket=None
) -> str:
    """DuckDB twin of ``kernel(emb, threshold=0.35, ...)``: the kernel's
    candidate pairs from the shared plans/lsh_oracle fragments, then the
    exact cosine verify every near-dup twin shares."""
    if kernel is embedding_near_dup_pairs:
        cand = [lsh_sig_cte(n_planes), _EXACT_SIG_CAND]
    elif kernel is embedding_near_dup_multiprobe:
        cand = [lsh_sig_cte(n_planes), hamming_cand_cte(n_planes, max_hamming)]
    else:
        # query-side Hamming<=1 probing at the width-adaptive n_planes;
        # a bucket cap drops over-cap signatures from both join sides
        if max_bucket is None:
            cap = []
        elif max_bucket == "auto":
            cap = [cap_cte(), capped_sig_cte_dyn()]
        else:
            cap = [capped_sig_cte(max_bucket)]
        cand = [
            planes_cte(),
            lsh_sig_cte_dyn(),
            *cap,
            probed_cand_cte_dyn(src="sigc" if cap else "sig"),
        ]
    return f"""
    WITH {_LONG_CTE},{",".join(cand)},
    dots AS (
        SELECT id_a, id_b, {e4_sql('SUM(qa.val * qb.val)')} AS cosine_e4
        FROM cand
        JOIN long qa ON qa.vec_id = id_a
        JOIN long qb ON qb.vec_id = id_b AND qb.pos = qa.pos
        GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, cosine_e4 FROM dots
    WHERE cosine_e4 >= 3500
    ORDER BY id_a, id_b
    """


def _near_dup_twin(
    name: str, doc: str, kernel=embedding_near_dup_probed, **params
) -> None:
    """Register one embedding near-dup twin: ``kernel`` (operators/
    similarity) at cosine >= 0.35 with ``params``, ordered by pair."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.cache import presented

        emb = load_table(spark, sf_dir, "embeddings")
        pairs = kernel(emb, threshold=0.35, **params)
        if kernel is embedding_near_dup_pairs:
            # presented(): the pair emitter's final distance filter is
            # heavy and shuffle-free past its persisted candidate join — a
            # bare orderBy re-runs it via range-partition sampling
            return presented(pairs, "id_a", "id_b")
        return pairs.orderBy("id_a", "id_b")

    register(name, _near_dup_oracle(kernel, **params), doc=doc)(build)


_near_dup_twin(
    "embedding_near_dup",
    doc="TWIN — at scale use embedding_near_dup_probed (this fixed-"
    "width kernel probes 8.53x wall at 10x data, PROBE_r9; retained as "
    "the exact-signature differential). Embedding-cosine near-duplicate "
    "pairs, Hamming=0 candidates only: random-hyperplane LSH signatures "
    "(integer hyperplanes, JVM-side array folds) bucket the corpus; "
    "exact cosine verifies only same-bucket candidates — never the full "
    "N^2. Since r7 this is the differential twin of the recall-complete "
    "family: compositions (dedup_consensus, embedding_dup_clusters) "
    "default to the Hamming<=1 PROBED kernel (embedding_near_dup_probed).",
    kernel=embedding_near_dup_pairs,
)

_near_dup_twin(
    "embedding_near_dup_multiprobe",
    doc="TWIN — at scale use embedding_near_dup_probed (this fixed-"
    "width block-join variant probes 10.71x wall at 10x data, PROBE_r9; "
    "retained as the pigeonhole-join differential). Hamming-tolerant "
    "embedding near-dup: hyperplane-LSH signatures within 1 bit pair "
    "via pigeonhole block joins (a single splitting hyperplane no "
    "longer hides a true near-dup), exact cosine verifies. Superset of "
    "embedding_near_dup's exact-signature candidates.",
    kernel=embedding_near_dup_multiprobe,
    n_planes=8,
    max_hamming=1,
)

_near_dup_twin(
    "embedding_near_dup_probed",
    doc="Hamming<=1 embedding near-dup via QUERY-SIDE signature probing "
    "(operators/similarity.embedding_near_dup_probed) at the FULL "
    "production configuration: WIDTH-ADAPTIVE sizing (r7 — "
    "n_planes=None resolves recommended_n_planes(COUNT)) AND the "
    "AUTO-SIZED bucket cap (r9 — max_bucket='auto' resolves "
    "auto_max_bucket(COUNT, planes), routing the r8 _cap_buckets "
    "mitigation as the default: uncapped, heavy LSH buckets are "
    "duplicate-cluster cores whose candidates grew 870x at 30x data "
    "on the clustered fixture vs 92x capped, PROBE_r8/SCALE.md 1e). "
    "The oracle computes BOTH pure-integer rules in SQL "
    "(plans/lsh_oracle.planes_cte + cap_cte, applied to both join "
    "sides via capped_sig_cte_dyn) then mirrors the probe join "
    "operation for operation — the registry query IS the production "
    "configuration at any corpus size, nothing fixture-pinned. The "
    "cap BINDS at the fixture (the two hottest buckets hold 19-20 of "
    "500 vectors and are dropped). The cap trades recall for the "
    "mass-dup cores BY DESIGN — the recall-exact differential twin is "
    "embedding_near_dup_probed_uncapped, and exact_then_near_dup pins "
    "the recommended exact-dedup-first composition.",
    n_planes=None,
    max_hamming=1,
    max_bucket="auto",
)

_near_dup_twin(
    "embedding_near_dup_probed_uncapped",
    doc="TWIN — at scale use embedding_near_dup_probed (this uncapped "
    "variant's candidates grow 870x at 30x on clustered data; retained "
    "as the recall-exact reference). The RECALL-EXACT differential twin "
    "of embedding_near_dup_probed "
    "(r9 — the pre-r9 default, demoted when the auto bucket cap became "
    "the production configuration): identical width-adaptive "
    "query-side probing with NO bucket cap (max_bucket=None), so every "
    "Hamming<=1 pair — including those inside mass-duplicate cluster "
    "cores — reaches the cosine verify. NOT a scale path: candidates "
    "grow 870x at 30x data on the clustered fixture (PROBE_r8, "
    "SCALE.md 1e). Kept because the capped default's drop semantics "
    "need an exact reference (capped result = this result minus pairs "
    "whose ids share an over-cap bucket — pinned by pytest), and the "
    "probe's contrast row.",
    n_planes=None,
    max_hamming=1,
    max_bucket=None,
)



@register(
    "incremental_embedding_dedup",
    f"""
    WITH newe AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 >= 8),
    olde AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 < 8),
    longo AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM olde
    ),
    longn AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM newe
    ),
    {planes_cte(src='olde').strip()},
    {cap_cte(src='olde').strip()},
    {lsh_sig_cte_dyn(long_src='longo', name='sigo').strip()},
    {lsh_sig_cte_dyn(long_src='longn', name='sign2').strip()},
    {capped_sig_cte_dyn(src='sigo', name='sigoc').strip()},
    probes AS (
        SELECT vec_id,
               CASE WHEN j = 0 THEN signature
                    ELSE substr(signature, 1, CAST(j - 1 AS INT))
                         || (CASE WHEN substr(signature, CAST(j AS INT), 1) = '1'
                             THEN '0' ELSE '1' END)
                         || substr(signature, CAST(j + 1 AS INT))
               END AS probe
        FROM sign2, p, LATERAL (SELECT UNNEST(range(p.np + 1)) AS j) t
    ),
    cand AS (
        SELECT a.vec_id AS new_id, b.vec_id AS old_id
        FROM probes a JOIN sigoc b ON a.probe = b.signature
    ),
    dots AS (
        SELECT new_id, old_id, {e4_sql('SUM(qa.val * qb.val)')} AS cosine_e4
        FROM cand
        JOIN longn qa ON qa.vec_id = new_id
        JOIN longo qb ON qb.vec_id = old_id AND qb.pos = qa.pos
        GROUP BY 1, 2
    ),
    near AS (
        SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_near,
               MAX(cosine_e4) AS max_cosine_e4
        FROM dots WHERE cosine_e4 >= 3500 GROUP BY 1
    )
    SELECT n.vec_id,
           CAST(COALESCE(r.n_near, 0) AS BIGINT) AS n_near,
           r.max_cosine_e4,
           CASE WHEN r.n_near > 0 THEN 'near_dup' ELSE 'unique' END AS verdict
    FROM newe n LEFT JOIN near r ON r.new_id = n.vec_id
    ORDER BY vec_id
    """,
    doc="INCREMENTAL embedding ingest dedup (r9 — the embedding tier of "
    "the ingest family, beside incremental_ingest_dedup's exact/"
    "jaccard text tiers): the NEW batch (vec_id % 10 >= 8, the same "
    "fixture split) is classified against the EXISTING corpus via the "
    "capped probed kernel — (vec_id, n_near, max_cosine_e4, verdict) "
    "per new vector, never pairing new x new or old x old. Production "
    "shape: width and cap are sized over the CORPUS count (the "
    "persisted index's configuration — a batch must probe at the "
    "index's width, not its own), only the corpus side is capped "
    "(that alone bounds candidates at (planes+1) x |new| x cap at any "
    "batch or corpus size), and the batch side needs NO persisted "
    "state. The oracle stamps the identical signature formula over "
    "both sides and computes both sizing rules in SQL "
    "(operators/similarity.classify_embeddings_against_corpus).",
)
def incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import classify_embeddings_against_corpus

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 >= 8)
    old = emb.filter(F.col("vec_id") % 10 < 8)
    return classify_embeddings_against_corpus(
        new, old, threshold=0.35, n_planes=None, max_bucket="auto"
    ).orderBy("vec_id")


_near_dup_twin(
    "embedding_near_dup_probed_capped",
    doc="TWIN — at scale use embedding_near_dup_probed (same kernel; "
    "this row pins the fixed-constant cap against the dynamic rule). "
    "The probed near-dup kernel with a FIXED bucket cap "
    "(operators/similarity._cap_buckets, max_bucket=16 pinned — "
    "BINDING at the fixture: the two hottest signature buckets hold "
    "19-20 of 500 vectors and are dropped on both the probe and the "
    "exact side; the oracle replicates the cap as a HAVING filter, "
    "plans/lsh_oracle.capped_sig_cte). Born r8 as the measured "
    "mitigation for the clustered-space candidate blow-up (537x at "
    "30x); since r9 the DEFAULT query carries the cap via the DYNAMIC "
    "auto_max_bucket rule, which resolves to the same 16 under "
    "recommended_n_planes sizing at any N — so at this fixture the "
    "two rows coincide BY RULE, and this row's remaining job is the "
    "cap-IMPLEMENTATION differential: it pins the fixed-constant "
    "HAVING path against the dynamic cap_cte computation, so a drift "
    "in auto_max_bucket or cap_cte on either engine side turns "
    "exactly one of the two rows red.",
    n_planes=None,
    max_hamming=1,
    max_bucket=16,
)



@register(
    "embedding_dup_clusters",
    f"""
    WITH RECURSIVE {_LONG_CTE.strip()},
    {planes_cte()},
    {cap_cte()},
    {lsh_sig_cte_dyn()},
    {capped_sig_cte_dyn()},
    {probed_cand_cte_dyn(src='sigc')},
    dots AS (
        SELECT id_a, id_b, {e4_sql('SUM(qa.val * qb.val)')} AS cosine_e4
        FROM cand
        JOIN long qa ON qa.vec_id = id_a
        JOIN long qb ON qb.vec_id = id_b AND qb.pos = qa.pos
        GROUP BY id_a, id_b
    ),
    pairs AS (SELECT id_a, id_b FROM dots WHERE cosine_e4 >= 3500),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(src, node) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (SELECT src AS vec_id, MIN(node) AS cluster_id FROM reach GROUP BY src)
    SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labels
    ORDER BY vec_id
    """,
    doc="Embedding-side duplicate clustering: Hamming<=1 hyperplane-LSH "
    "cosine pairs (>= 0.35) from the PROBED kernel at the FULL "
    "production configuration (width-adaptive sizing since r7, "
    "auto-sized bucket cap since r9 — operators/similarity."
    "embedding_near_dup_probed with recommended_n_planes + "
    "auto_max_bucket; the oracle computes the same integer rules in "
    "SQL and caps both join sides) -> connected components -> "
    "(vector, cluster, size). The same pairs->clusters resolution as "
    "the text side (dup_clusters), proving the component operator "
    "composes across candidate generators. Mass-dup cluster cores "
    "above the cap are dropped from candidate generation BY DESIGN — "
    "run exact dedup upstream (exact_then_near_dup) for those.",
)
def embedding_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import connected_components
    from ..operators.similarity import embedding_near_dup_probed

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_probed(
        emb, threshold=0.35, n_planes=None, max_bucket="auto"
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        cc.select(F.col("id").alias("vec_id"), "cluster_id")
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .orderBy("vec_id")
    )


@register(
    "ann_ivf_multiprobe",
    f"""
    WITH {_LONG_CTE},
    pivot_dots AS (
        SELECT v.vec_id AS id, p.vec_id AS pivot_id, SUM(v.val * p.val) AS dot
        FROM long v JOIN long p ON v.pos = p.pos
        WHERE p.vec_id < 8
        GROUP BY 1, 2
    ),
    ranked_buckets AS (
        SELECT id, pivot_id AS bucket,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY {quantized_sql('dot', 6)} DESC, pivot_id) AS rn
        FROM pivot_dots
    ),
    cbuckets AS (SELECT id, bucket FROM ranked_buckets WHERE rn = 1),
    qbuckets AS (SELECT id, bucket FROM ranked_buckets WHERE rn <= 2),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id >= 100 AND q.vec_id < 105
        GROUP BY 1, 2
    ),
    in_bucket AS (
        SELECT DISTINCT d.query_id, d.corpus_id, d.dot
        FROM dots d
        JOIN qbuckets qb ON qb.id = d.query_id
        JOIN cbuckets cb ON cb.id = d.corpus_id
        WHERE qb.bucket = cb.bucket
    ),
    ranked AS (
        SELECT query_id, corpus_id AS neighbor_id, {e4_sql('dot')} AS cosine_e4,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY {e4_sql('dot')} DESC, corpus_id) AS INT) AS rank
        FROM in_bucket
    )
    SELECT query_id, neighbor_id, cosine_e4, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="Multi-probe IVF ANN top-5 (nprobe=2): each query searches its TWO "
    "nearest coarse cells — the standard recall/candidate-count trade "
    "(Faiss nprobe; multi-probe LSH, Lv et al. VLDB'07). The candidate "
    "join stays bucket-keyed, so cost is ~2/n_pivots of brute force.",
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pivots = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    return ivf_topk(emb, queries, pivots, k=5, nprobe=2).orderBy("query_id", "rank")


@register(
    "ann_pq",
    f"""
    WITH {_LONG_CTE},
    vecsub AS (  -- every vector split into m=8 subspaces of 8 dims
        SELECT vec_id, (pos - 1) // 8 AS j, (pos - 1) % 8 AS p, val FROM long
    ),
    cb AS (  -- fixture codebooks: centroid c of subspace j = subvector
             -- j of the vector with vec_id = c (c in 0..15)
        SELECT vec_id AS c, j, p, val FROM vecsub WHERE vec_id < 16
    ),
    d2 AS (  -- squared distance vector-subspace -> centroid, rounded
        SELECT v.vec_id, v.j, cb.c,
               {quantized_sql('SUM((v.val - cb.val) * (v.val - cb.val))', 6)} AS d2
        FROM vecsub v JOIN cb ON v.j = cb.j AND v.p = cb.p
        GROUP BY 1, 2, 3
    ),
    codes AS (  -- PQ encode: nearest centroid per subspace, ties -> lowest c
        SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    qlut AS (  -- ADC lookup table: query-subvector . centroid
        SELECT q.vec_id AS query_id, cb.j, cb.c, SUM(q.val * cb.val) AS dot
        FROM vecsub q JOIN cb ON q.j = cb.j AND q.p = cb.p
        WHERE q.vec_id < 5
        GROUP BY 1, 2, 3
    ),
    approx AS (  -- ADC score = sum over subspaces of lut[code]
        SELECT l.query_id, codes.vec_id AS corpus_id, {quantized_sql('SUM(l.dot)', 6)} AS approx
        FROM qlut l JOIN codes ON l.j = codes.j AND l.c = codes.code
        WHERE codes.vec_id <> l.query_id
        GROUP BY 1, 2
    ),
    cand AS (  -- global ADC top-50 under (approx desc, corpus_id asc)
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx DESC, corpus_id) AS rn
            FROM approx
        ) WHERE rn <= 50
    ),
    exact AS (  -- exact re-rank of the candidates only
        SELECT cand.query_id, cand.corpus_id, SUM(q.val * c.val) AS dot
        FROM cand
        JOIN long q ON q.vec_id = cand.query_id
        JOIN long c ON c.vec_id = cand.corpus_id AND c.pos = q.pos
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, corpus_id AS neighbor_id, {e4_sql('dot')} AS cosine_e4,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY {e4_sql('dot')} DESC, corpus_id) AS INT) AS rank
        FROM exact
    )
    SELECT query_id, neighbor_id, cosine_e4, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="Product-quantization ANN (billion-vector scale path): per-subspace "
    "codebooks compress each vector to m bytes; the ADC scan scores "
    "candidates from per-query lookup tables over the code table (reads "
    "D*4/m x less data than the raw vectors), and the exact dot re-ranks "
    "the global ADC top-C for the final top-k. This registry entry uses "
    "deterministic fixture codebooks (subvectors of vec_id 0..15) so the "
    "whole pipeline — encode, ADC scan, candidate cut, re-rank — is "
    "differentially verified against the SQL oracle; production training "
    "(seeded numpy Lloyd's over a bounded sample, operators/similarity."
    "pq_train) is recall-pinned in tests/test_dedup_similarity.py::"
    "TestProductQuantization.",
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import fixture_codebooks, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cb = fixture_codebooks(emb, m_subvectors=8, k_centroids=16)
    return pq_topk(emb, queries, cb, k=5, rerank=50, exact_dist=True).orderBy(
        "query_id", "rank"
    )


@register(
    "int8_quantize",
    f"""
    WITH {_LONG_CTE},
    mx AS (SELECT vec_id, MAX(ABS(val)) AS m FROM long GROUP BY vec_id),
    sc AS (SELECT vec_id, CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale FROM mx),
    c AS (
        SELECT l.vec_id, l.pos, l.val, sc.scale,
               CAST(FLOOR(l.val * sc.scale + 0.5) AS BIGINT) AS code
        FROM long l JOIN sc ON l.vec_id = sc.vec_id
    )
    SELECT vec_id,
           CAST(FLOOR(scale * 1000000 + 0.5) AS BIGINT) AS scale_micro,
           CAST(SUM(code * pos) AS BIGINT) AS code_moment,
           CAST(SUM(CASE WHEN ABS(code) >= 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
           CAST(SUM(CASE WHEN scale > 0
                         THEN CAST(FLOOR((val - code / scale) * (val - code / scale) * 1000000000 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS mse_nano
    FROM c
    GROUP BY vec_id, scale
    ORDER BY vec_id
    """,
    doc="int8 scalar quantization of the embedding column (symmetric "
    "max-abs, operators/similarity.quantize_int8 — pure JVM higher-order "
    "exprs, zero Python, zero shuffle beyond the per-vector report agg): "
    "per-vector scale, a position-weighted code checksum, saturation "
    "count, and reconstruction MSE quantized to integer nano-units "
    "before summing (order-independent, engine-exact). The 4x-storage "
    "scale path for the ANN suite: codes + one scale replace float32.",
)
def int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    # long-form report mirroring the oracle: posexplode is 0-based ->
    # pos+1 matches generate_subscripts
    long = q.select(
        "vec_id",
        "scale",
        F.posexplode(F.arrays_zip("codes", "vals")).alias("p0", "cv"),
    ).select(
        "vec_id",
        "scale",
        (F.col("p0") + 1).alias("pos"),
        F.col("cv.codes").cast("bigint").alias("code"),
        F.col("cv.vals").alias("val"),
    )
    err = F.col("val") - F.col("code") / F.col("scale")
    return (
        long.groupBy("vec_id", "scale")
        .agg(
            F.sum(F.col("code") * F.col("pos")).cast("bigint").alias("code_moment"),
            F.sum(F.when(F.abs("code") >= 127, 1).otherwise(0))
            .cast("bigint")
            .alias("n_saturated"),
            F.sum(
                F.when(
                    F.col("scale") > 0,
                    F.floor(err * err * 1e9 + F.lit(0.5)).cast("bigint"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("mse_nano"),
        )
        .select(
            "vec_id",
            F.floor(F.col("scale") * 1e6 + F.lit(0.5)).cast("bigint").alias("scale_micro"),
            "code_moment",
            "n_saturated",
            "mse_nano",
        )
        .orderBy("vec_id")
    )


@register(
    "hybrid_search_rrf",
    f"""
    WITH {_LONG_CTE},
    dots AS (
        SELECT c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND c.vec_id <> 0
        WHERE q.vec_id = 0
        GROUP BY c.vec_id
    ),
    vec_rank AS (
        SELECT corpus_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY {e4_sql('dot')} DESC, corpus_id) AS BIGINT) AS r
        FROM dots
        QUALIFY r <= 25
    ),
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
               len(regexp_split_to_array(trim(text), '\\s+')) AS dl
        FROM documents
    ),
    n_avg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(len(regexp_split_to_array(trim(text), '\\s+'))) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf, MAX(dl) AS dl
        FROM toks WHERE tok IN ('window', 'hash', 'stream')
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM toks WHERE tok IN ('window', 'hash', 'stream')
        GROUP BY tok
    ),
    bm AS (
        SELECT tf.doc_id,
               SUM(CAST(FLOOR(
                   ln(1.0 + (n_avg.n - df.df + 0.5) / (df.df + 0.5))
                   * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / n_avg.avgdl))))
                   * 1000000.0 + 0.5) AS BIGINT)) AS score_micro
        FROM tf JOIN df ON tf.tok = df.tok, n_avg
        GROUP BY tf.doc_id
    ),
    text_rank AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS r
        FROM bm
        QUALIFY r <= 25
    ),
    fused AS (
        SELECT COALESCE(v.doc_id, t.doc_id) AS doc_id,
               COALESCE(CAST(1000000000 // (60 + v.r) AS BIGINT), 0)
               + COALESCE(CAST(1000000000 // (60 + t.r) AS BIGINT), 0) AS rrf_nano,
               v.r AS vec_rank, t.r AS text_rank
        FROM vec_rank v FULL OUTER JOIN text_rank t ON v.doc_id = t.doc_id
    )
    SELECT doc_id, rrf_nano, vec_rank, text_rank
    FROM fused
    ORDER BY rrf_nano DESC, doc_id
    LIMIT 10
    """,
    doc="Hybrid retrieval: BM25 text ranks fused with brute-force cosine "
    "ranks via reciprocal-rank fusion (score = sum 1e9//(60+rank), "
    "integer division — engine-exact, no float fusion drift). The "
    "standard lexical+dense ensemble of a retrieval pipeline, composed "
    "entirely from the engine's own certified rankers; the oracle "
    "recomputes both rankings AND the fusion.",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vec_rank = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=25)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("bigint").alias("vec_rank"))
    )
    text_rank = (
        REGISTRY["bm25_search"].fn(spark, sf_dir)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score_micro").desc(), F.col("doc_id")))
            .cast("bigint")
            .alias("text_rank"),
        )
    )
    fused = vec_rank.join(text_rank, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.expr("1000000000 div (60 + vec_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 div (60 + text_rank)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_nano"),
        "vec_rank",
        "text_rank",
    )
    return fused.orderBy(F.col("rrf_nano").desc(), "doc_id").limit(10)


@register(
    "knn_classify",
    f"""
    WITH {_LONG_CTE},
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id >= 200 AND q.vec_id < 220
        GROUP BY 1, 2
    ),
    topk AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY {e4_sql('dot')} DESC, corpus_id) AS rank
            FROM dots
        ) WHERE rank <= 10
    ),
    votes AS (
        SELECT t.query_id, e.label, CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM topk t JOIN embeddings e ON e.vec_id = t.corpus_id
        GROUP BY 1, 2
    ),
    winner AS (
        SELECT query_id, label AS predicted_label, n_votes FROM (
            SELECT query_id, label, n_votes,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY n_votes DESC, label) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT w.query_id, q.label AS true_label, w.predicted_label, w.n_votes,
           w.predicted_label = q.label AS correct
    FROM winner w JOIN embeddings q ON q.vec_id = w.query_id
    ORDER BY w.query_id
    """,
    doc="kNN label-vote classifier over the certified brute-force ranker: "
    "top-10 cosine neighbors per query vector (rounded-cosine rank, id "
    "tiebreak — the same deterministic total order as ann_bruteforce), "
    "labels joined in, majority vote with (votes DESC, label ASC) "
    "tie-break. The embedding-based weak-labeling step of a training "
    "pipeline; at 100 TB the ranker is the cost (vectorized matmul "
    "path), the vote is a k*Q-row aggregate.",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_pandas

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 220))
    topk = topk_pandas(emb, queries, k=10)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels, topk.neighbor_id == labels.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    winner = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        winner.join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            "n_votes",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_outliers",
    f"""
    WITH {_LONG_CTE},
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 100
        GROUP BY 1, 2
    ),
    topk AS (
        SELECT query_id,
               {e4_sql('dot')} AS cos_e4
        FROM (
            SELECT query_id, dot,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY {e4_sql('dot')} DESC, corpus_id) AS rank
            FROM dots
        ) WHERE rank <= 10
    ),
    scored AS (
        SELECT query_id, CAST(SUM(cos_e4) AS BIGINT) AS density_e5
        FROM topk GROUP BY query_id
    )
    SELECT query_id, density_e5,
           CAST(ROW_NUMBER() OVER (ORDER BY density_e5, query_id) AS INT)
               AS isolation_rank
    FROM scored
    ORDER BY isolation_rank
    LIMIT 5
    """,
    doc="Embedding-space outlier detection: density score = sum of the "
    "top-10 cosines in integer 1e-4 units (density_e5 = 1e5 x the mean; "
    "bigint sums are exact and order-independent — a double sum of "
    "4dp-rounded cosines can land exactly on a .00005 rounding tie and "
    "flip with summation order); the 5 most isolated vectors surface "
    "first. The embedding-health screen of a curation "
    "pipeline — low-density vectors are OCR garbage, wrong-language "
    "spill, or genuine novelty, all worth a human look. Same ranker "
    "cost profile as ann_bruteforce at scale.",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_pandas

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    topk = topk_pandas(emb, queries, k=10)
    scored = topk.groupBy("query_id").agg(
        F.sum("cosine_e4").cast("long").alias("density_e5")
    )
    return (
        scored.select(
            "query_id",
            "density_e5",
            F.row_number()
            .over(Window.orderBy(F.col("density_e5").asc(), F.col("query_id").asc()))
            .cast("int")
            .alias("isolation_rank"),
        )
        .orderBy("isolation_rank")
        .limit(5)
    )


@register(
    "ann_topk_incremental",
    f"""
    WITH {_LONG_CTE},
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, SUM(q.val * c.val) AS dot
        FROM long q JOIN long c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 5
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, corpus_id AS neighbor_id, {e4_sql('dot')} AS cosine_e4,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY {e4_sql('dot')} DESC, corpus_id) AS INT) AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, cosine_e4, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    doc="Incremental exact top-k over a GROWING corpus "
    "(operators/similarity.merge_topk): the corpus arrives in 3 "
    "batches, each batch's brute-force top-10 folds into the running "
    "answer (top-k is a mergeable monoid under the deterministic "
    "(rounded cosine, id) order — keep-best-k of unions of "
    "keep-best-k partials == keep-best-k of the whole). The oracle is "
    "the ONE-SHOT brute force over the full corpus, so the "
    "differential check certifies fold == recompute: an ANN serving "
    "layer absorbs corpus appends at per-batch cost without ever "
    "rescanning. Same answer as ann_bruteforce by construction.",
)
def ann_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import merge_topk, topk_pandas

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    state = None
    for i in range(3):
        batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i)
        state = merge_topk(state, topk_pandas(batch, queries, k=10), k=10)
    return state.select("query_id", "neighbor_id", "cosine_e4", "rank").orderBy(
        "query_id", "rank"
    )


@register(
    "ann_ivf_persisted",
    REGISTRY["ann_ivf"].oracle,
    doc="IVF served from a PERSISTED index (build-once/query-many, the "
    "production ANN workflow): ivf_index_build writes corpus vectors "
    "partitioned by coarse bucket plus the pivot table; "
    "ivf_index_query assigns the query batch and joins candidates "
    "through partition-pruned file reads — at 100 TB a query batch "
    "touches ~nprobe/n_pivots of the data files instead of the corpus. "
    "Semantics identical to ann_ivf (same pivots, same tie-breaks), so "
    "it shares that query's oracle verbatim; equality with the direct "
    "one-pass ivf_topk is additionally pinned in "
    "tests/test_dedup_similarity.py::TestIvfIndexPersistence.",
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators.similarity import ivf_index_build, ivf_index_query

    emb = load_table(spark, sf_dir, "embeddings")
    pivots = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    # pid-scoped path: concurrent processes (driver sweep overlapping a
    # pytest run) must not overwrite an index another process' lazy
    # plan is still reading. Indexes left by DEAD pids are reaped here
    # so repeated sweeps don't accumulate embeddings copies in /tmp.
    import shutil

    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        if name.startswith(f"ivf_index_{sf_tag}_"):
            try:
                pid = int(name.rsplit("_", 1)[-1])
                os.kill(pid, 0)  # raises if the owning process is gone
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            except PermissionError:
                pass  # live process owned by someone else — leave it
    idx = os.path.join(tmp, f"ivf_index_{sf_tag}_{os.getpid()}")
    ivf_index_build(emb, pivots, idx)
    return ivf_index_query(spark, idx, queries, k=5).orderBy("query_id", "rank")


@register(
    "ann_topk_join_bulk",
    REGISTRY["ann_ivf"].oracle,
    doc="Bulk ANN with the query set staying a DATAFRAME end-to-end "
    "(operators/similarity.topk_join): the IVF bucket-keyed candidate "
    "join with no broadcast hint and no driver collect anywhere — the "
    "batch-inference path for query sets beyond the bounded-Q serving "
    "contract (kNN graph construction, corpus-vs-corpus retrieval). "
    "Semantics identical to ann_ivf (same pivots, same tie-breaks), so "
    "it shares that query's oracle verbatim; the no-collect property "
    "is pinned by tests/test_dedup_similarity.py (DataFrame.collect/"
    "count/take/first monkeypatched to fail during plan construction).",
)
def ann_topk_join_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_join

    emb = load_table(spark, sf_dir, "embeddings")
    pivots = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    return topk_join(emb, queries, pivots, k=5).orderBy("query_id", "rank")


@register(
    "ann_ivf_pq",
    f"""
    WITH {_LONG_CTE},
    vecsub AS (
        SELECT vec_id, (pos - 1) // 8 AS j, (pos - 1) % 8 AS p, val FROM long
    ),
    cb AS (  -- fixture codebooks: subvectors of vec_id 0..15
        SELECT vec_id AS c, j, p, val FROM vecsub WHERE vec_id < 16
    ),
    d2 AS (
        SELECT v.vec_id, v.j, cb.c,
               {quantized_sql('SUM((v.val - cb.val) * (v.val - cb.val))', 6)} AS d2
        FROM vecsub v JOIN cb ON v.j = cb.j AND v.p = cb.p
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    pivot_dots AS (  -- coarse quantizer: 8 pivot vectors
        SELECT v.vec_id AS id, pv.vec_id AS pivot_id, SUM(v.val * pv.val) AS dot
        FROM long v JOIN long pv ON v.pos = pv.pos
        WHERE pv.vec_id < 8
        GROUP BY 1, 2
    ),
    ranked_buckets AS (
        SELECT id, pivot_id AS bucket,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY {quantized_sql('dot', 6)} DESC, pivot_id) AS rn
        FROM pivot_dots
    ),
    cbuckets AS (SELECT id, bucket FROM ranked_buckets WHERE rn = 1),
    qbuckets AS (SELECT id, bucket FROM ranked_buckets WHERE rn <= 2),
    qlut AS (
        SELECT q.vec_id AS query_id, cb.j, cb.c, SUM(q.val * cb.val) AS dot
        FROM vecsub q JOIN cb ON q.j = cb.j AND q.p = cb.p
        WHERE q.vec_id < 5
        GROUP BY 1, 2, 3
    ),
    approx AS (  -- ADC score, restricted to the query's probed cells
        SELECT l.query_id, codes.vec_id AS corpus_id,
               {quantized_sql('SUM(l.dot)', 6)} AS approx
        FROM qlut l
        JOIN codes ON l.j = codes.j AND l.c = codes.code
        JOIN cbuckets cbk ON cbk.id = codes.vec_id
        JOIN qbuckets qbk ON qbk.id = l.query_id AND qbk.bucket = cbk.bucket
        WHERE codes.vec_id <> l.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx DESC, corpus_id) AS rn
            FROM approx
        ) WHERE rn <= 50
    ),
    exact AS (
        SELECT cand.query_id, cand.corpus_id, SUM(q.val * c.val) AS dot
        FROM cand
        JOIN long q ON q.vec_id = cand.query_id
        JOIN long c ON c.vec_id = cand.corpus_id AND c.pos = q.pos
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, corpus_id AS neighbor_id, {e4_sql('dot')} AS cosine_e4,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY {e4_sql('dot')} DESC, corpus_id) AS INT) AS rank
        FROM exact
    )
    SELECT query_id, neighbor_id, cosine_e4, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="IVF + PQ composite ANN (the FAISS IVFPQ architecture — the "
    "canonical billion-vector index): the coarse quantizer restricts "
    "each query to its 2 nearest cells AND within those cells the scan "
    "reads m-byte PQ codes instead of raw vectors, so cost shrinks "
    "multiplicatively (~nprobe/n_pivots of the corpus touched, at "
    "D*4/m less data per touched row); exact re-rank of the per-query "
    "ADC top-50 restores ranking quality. Fixture codebooks + "
    "quantized integer rank keys make the WHOLE composite — coarse "
    "assignment, PQ encode, bucket-restricted ADC scan, candidate cut, "
    "re-rank — differentially verified against the SQL oracle "
    "(operators/similarity.ivf_pq_topk).",
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import fixture_codebooks, ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    pivots = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter(F.col("vec_id") < 5)
    cbk = fixture_codebooks(emb, m_subvectors=8, k_centroids=16)
    return ivf_pq_topk(
        emb, queries, pivots, cbk, k=5, rerank=50, nprobe=2, exact_dist=True
    ).orderBy("query_id", "rank")
