"""Corpus-curation pipeline queries over ``documents``: duplicate-
cluster resolution (connected components), train/eval decontamination,
deterministic hash sampling with per-source mixing rates, and
stratified quality sampling.

These are the steps that turn near-dup PAIRS (queries_text.py) into an
actual curated corpus: pairs -> clusters -> keep one per cluster;
eval-overlap removal; reproducible sampling. The md5 hash domain is
shared with DuckDB so every query is oracle-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.quantize import e4, e4_sql, quantized, quantized_sql
from ..functions.text import (
    bpe_token_count,
    quality_features_sql,
    quality_logit_sql,
    word_shingles,
    ws_tokens,
)
from ..operators.dedup import (
    connected_components,
    jaccard_pairs,
    relative_doc_freq_cap_expr,
)
from ..operators.skew import grouped_topk_salted, stratified_fraction_cut
from .base import register
from .lsh_oracle import (
    cap_cte,
    capped_sig_cte_dyn,
    lsh_sig_cte_dyn,
    planes_cte,
    probed_cand_cte_dyn,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


from ..functions.text import quality_features_sql, quality_logit_sql


_CLUSTER_EDGE_ORACLE = """
        sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
                 LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
        ),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
        )
"""


@register(
    "dup_clusters",
    f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_ORACLE.strip()},
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
    labels AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labels
    ORDER BY doc_id
    """,
    doc="Duplicate-cluster resolution: 3-gram Jaccard>=0.5 pairs -> connected "
    "components (alternating large-star/small-star, Kiveris SoCC'14, "
    "O(log^2 n) rounds) -> (doc, cluster=min member, cluster size). The "
    "pairs->clusters->survivor step every dedup pipeline needs; oracle is a "
    "recursive-CTE reachability closure.",
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5,
        max_doc_freq=relative_doc_freq_cap_expr(docs),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        cc.select(F.col("id").alias("doc_id"), "cluster_id")
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    )


# Shared by decontaminate and decontaminate_bloom: the bloom variant is
# a lossless-reject PREFILTER + exact verify, so the answer — and the
# oracle — must be identical.
_DECONTAM_ORACLE = """
    WITH sh AS (
        SELECT DISTINCT doc_id, source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i)
    ),
    hits AS (
        SELECT a.doc_id, a.s, b.doc_id AS eval_id
        FROM sh a JOIN sh b ON a.s = b.s
        WHERE b.source = 'src0' AND a.source <> 'src0'
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shared_ngrams,
           CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs,
           CAST(MIN(eval_id) AS BIGINT) AS first_eval_id
    FROM hits
    GROUP BY doc_id
    ORDER BY doc_id
    """


@register(
    "decontaminate",
    _DECONTAM_ORACLE,
    doc="Train/eval decontamination: flag training docs sharing any 4-gram "
    "with the held-out eval source (src0). Eval shingle set is tiny vs the "
    "corpus -> broadcast join, no shuffle of the training side; the group-by "
    "is on the (small) contaminated subset only. Shingles are xxhash64'd "
    "before the join — 8-byte keys instead of 4-word strings, both for the "
    "broadcast table size and the probe-side equality (the distinct counts "
    "are over hashes; 64-bit collisions are negligible at any corpus size).",
    headline=True,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    hashed = F.array_distinct(
        F.transform(
            word_shingles(ws_tokens(F.col("text")), 4), lambda s: F.xxhash64(s)
        )
    )
    # one shingle table feeds BOTH join sides — persist so the regexp
    # tokenize + hash runs once (the multi-consumer persist pattern of
    # operators/dedup.py); at production scale this is a staged table
    from ..operators.cache import bounded_persist

    sh = bounded_persist(
        docs.select("doc_id", "source", F.explode(hashed).alias("s"))
    )
    train = sh.filter(F.col("source") != "src0").drop("source")
    holdout = sh.filter(F.col("source") == "src0").select(
        "s", F.col("doc_id").alias("eval_id")
    )
    return (
        train.join(F.broadcast(holdout), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
            F.min("eval_id").alias("first_eval_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "decontaminate_bloom",
    _DECONTAM_ORACLE,
    doc="Decontamination with a bloom-filter semi-join prefilter "
    "(operators/bloom.py): the holdout's shingle hashes compress into a "
    "fixed-size sparse bitmap (one MAP<block,bits> row, <=m/8 bytes "
    "REGARDLESS of holdout size) that cross-joins in as a 1-row "
    "broadcast; training shingles that cannot match die inside "
    "whole-stage codegen before any join. False positives then hit the "
    "exact verify join (AQE-sided, unhinted), false negatives are "
    "impossible — so the result, and the oracle, are identical to "
    "decontaminate. This is the scale path when eval suites outgrow a "
    "row broadcast: the bitmap stays ~32 KB while the exact join's "
    "probe side has already shrunk to the contaminated sliver.",
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_prefilter
    from ..operators.cache import bounded_persist

    docs = _docs(spark, sf_dir)
    hashed = F.array_distinct(
        F.transform(
            word_shingles(ws_tokens(F.col("text")), 4), lambda s: F.xxhash64(s)
        )
    )
    sh = bounded_persist(
        docs.select("doc_id", "source", F.explode(hashed).alias("s"))
    )
    train = sh.filter(F.col("source") != "src0").drop("source")
    holdout = sh.filter(F.col("source") == "src0").select(
        "s", F.col("doc_id").alias("eval_id")
    )
    candidates = bloom_prefilter(train, holdout, "s", "s", m_bits=1 << 18, k=3)
    # exact verify: unhinted — AQE broadcasts the holdout while it is
    # genuinely small and degrades to a shuffle join when it is not
    return (
        candidates.join(holdout, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
            F.min("eval_id").alias("first_eval_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "contamination_fraction",
    f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i)
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
    tr AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
    tot AS (SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_ngrams
            FROM tr GROUP BY doc_id),
    hit AS (SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.s) AS BIGINT) AS n_shared
            FROM tr JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id)
    SELECT tot.doc_id, n_ngrams,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
           {e4_sql('COALESCE(n_shared, 0) / n_ngrams')} AS contamination_e4,
           CASE WHEN {e4_sql('COALESCE(n_shared, 0) / n_ngrams')} >= 5000 THEN 'drop'
                WHEN {e4_sql('COALESCE(n_shared, 0) / n_ngrams')} >= 500 THEN 'review'
                ELSE 'keep' END AS verdict
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    ORDER BY tot.doc_id
    """,
    doc="Per-document contamination FRACTION: the share of a training "
    "doc's distinct 4-grams found in the held-out eval source, graded "
    "keep (<5%) / review / drop (>=50%) — partial-contamination "
    "grading where decontaminate is a binary flag (a doc quoting one "
    "eval sentence is review-and-trim material, not an automatic "
    "drop). Covers EVERY training doc, zero-filled via left join. "
    "Same machinery and scale shape as decontaminate: one persisted "
    "hashed-shingle table feeds both sides, the eval set broadcasts, "
    "and the added per-doc total is a map-side-combined count over "
    "already-distinct shingles.",
)
def contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist

    docs = _docs(spark, sf_dir)
    hashed = F.array_distinct(
        F.transform(
            word_shingles(ws_tokens(F.col("text")), 4), lambda s: F.xxhash64(s)
        )
    )
    sh = bounded_persist(
        docs.select("doc_id", "source", F.explode(hashed).alias("s"))
    )
    train = sh.filter(F.col("source") != "src0").drop("source")
    holdout = sh.filter(F.col("source") == "src0").select("s").distinct()
    tot = train.groupBy("doc_id").agg(F.countDistinct("s").alias("n_ngrams"))
    hit = (
        train.join(F.broadcast(holdout), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )
    frac = e4(F.col("n_shared") / F.col("n_ngrams"))
    return (
        tot.join(hit, "doc_id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
        .select(
            "doc_id",
            "n_ngrams",
            "n_shared",
            frac.alias("contamination_e4"),
            F.when(frac >= 5000, "drop")
            .when(frac >= 500, "review")
            .otherwise("keep")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


@register(
    "contamination_fraction_wide_eval",
    f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i)
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE source IN ('src0', 'src1')),
    tr AS (SELECT doc_id, s FROM sh WHERE source NOT IN ('src0', 'src1')),
    tot AS (SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_ngrams
            FROM tr GROUP BY doc_id),
    hit AS (SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.s) AS BIGINT) AS n_shared
            FROM tr JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id)
    SELECT tot.doc_id, n_ngrams,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
           {e4_sql('COALESCE(n_shared, 0) / n_ngrams')} AS contamination_e4,
           CASE WHEN {e4_sql('COALESCE(n_shared, 0) / n_ngrams')} >= 5000 THEN 'drop'
                WHEN {e4_sql('COALESCE(n_shared, 0) / n_ngrams')} >= 500 THEN 'review'
                ELSE 'keep' END AS verdict
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    ORDER BY tot.doc_id
    """,
    doc="contamination_fraction with a WIDE eval holdout (two sources "
    "instead of one — the regime where the eval suite outgrows a "
    "comfortable row broadcast at corpus scale): the hit join runs "
    "UNHINTED, so AQE broadcasts the holdout while it is genuinely "
    "small and degrades to a shuffle join when it is not, instead of "
    "OOMing on a forced broadcast (the dedup_survivors loser-set "
    "precedent). The scale_probe twin for the r6 verdict's "
    "contamination watch item; grading semantics identical to "
    "contamination_fraction.",
)
def contamination_fraction_wide_eval(
    spark: SparkSession, sf_dir: str, shuffle_holdout: bool = False
) -> DataFrame:
    from ..operators.cache import bounded_persist

    docs = _docs(spark, sf_dir)
    hashed = F.array_distinct(
        F.transform(
            word_shingles(ws_tokens(F.col("text")), 4), lambda s: F.xxhash64(s)
        )
    )
    sh = bounded_persist(
        docs.select("doc_id", "source", F.explode(hashed).alias("s"))
    )
    eval_srcs = ("src0", "src1")
    train = sh.filter(~F.col("source").isin(*eval_srcs)).drop("source")
    holdout = sh.filter(F.col("source").isin(*eval_srcs)).select("s").distinct()
    if shuffle_holdout:
        # probe-only regime pin (r8): certify the UNHINTED join's
        # shuffle branch — the physical strategy AQE takes once the
        # holdout outgrows autoBroadcastJoinThreshold — without waiting
        # for a fixture that large (scripts/scale_probe.py
        # contamination_wide_eval_shuffle)
        holdout = holdout.hint("shuffle_hash")
    tot = train.groupBy("doc_id").agg(F.countDistinct("s").alias("n_ngrams"))
    # unhinted: the wide holdout must not be FORCED into a broadcast
    hit = (
        train.join(holdout, "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )
    frac = e4(F.col("n_shared") / F.col("n_ngrams"))
    return (
        tot.join(hit, "doc_id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
        .select(
            "doc_id",
            "n_ngrams",
            "n_shared",
            frac.alias("contamination_e4"),
            F.when(frac >= 5000, "drop")
            .when(frac >= 500, "review")
            .otherwise("keep")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_sample_mix",
    """
    WITH s AS (
        SELECT source, n_chars,
               CASE source WHEN 'src0' THEN '0000'
                           WHEN 'src1' THEN 'g'
                           WHEN 'src2' THEN '4000'
                           ELSE '8000' END AS thr,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN h < thr THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM s
    GROUP BY source
    ORDER BY source
    """,
    doc="Deterministic dataset mixing: per-source Bernoulli sampling keyed on "
    "md5(doc_id) hex prefix (eval src0 excluded, src1 kept whole, src2 "
    "quartered, rest halved) + per-source kept-docs/kept-chars report. "
    "Hash-keyed sampling is reproducible across engines and re-runs — no "
    "RNG state — and is a pure map + partial agg: zero wide dependencies "
    "beyond the final tiny group-by.",
)
def corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    thr = (
        F.when(F.col("source") == "src0", "0000")
        .when(F.col("source") == "src1", "g")
        .when(F.col("source") == "src2", "4000")
        .otherwise("8000")
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    kept = F.col("h") < F.col("thr")
    return (
        docs.select("source", "n_chars", thr.alias("thr"), h.alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("chars_kept"),
        )
        .orderBy("source")
    )


#: the 40%-per-lang quality cut both members certify (same semantics,
#: independent algorithms — the differential pair certifies both)
_QUALITY_SAMPLE_ORACLE = """
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS quality
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, quality,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS cnt
        FROM scored
    )
    SELECT doc_id, lang, quality
    FROM ranked
    WHERE rn * 5 <= cnt * 2
    ORDER BY doc_id
    """


def _quality_sample(name: str, doc: str, cut) -> None:
    """Register one stratified quality sample: ``cut(scored)`` keeps the
    top 2/5 of each lang stratum of ``(doc_id, lang, quality)`` rows by
    quality, doc_id breaking ties."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        scored = _docs(spark, sf_dir).select(
            "doc_id", "lang", bpe_token_count(F.col("text")).alias("quality")
        )
        return cut(scored).select("doc_id", "lang", "quality").orderBy("doc_id")

    register(name, _QUALITY_SAMPLE_ORACLE, doc=doc)(build)


def _ranked_cut(scored: DataFrame) -> DataFrame:
    # languages-sized count table — always broadcastable
    cnt = scored.groupBy("lang").agg(F.count("*").alias("cnt"))
    return grouped_topk_salted(
        scored.join(F.broadcast(cnt), "lang"),
        ["lang"],
        [F.desc("quality"), F.asc("doc_id")],
        k=F.expr("(cnt * 2) div 5"),  # integer floor division — exact
    )


_quality_sample(
    "quality_stratified_sample",
    doc="Stratified quality sampling: keep the top 40% of docs per language "
    "stratum by BPE-ish token count, deterministic tie-break on doc_id, "
    "integer-exact 40% cut (rank <= floor(cnt*2/5), exactly rn*5 <= cnt*2 "
    "— no float threshold drift). Since r8 the fractional cut is a "
    "per-stratum score THRESHOLD, not a rank (operators/skew."
    "stratified_fraction_cut): the per-(lang, quality) histogram's "
    "cumulative count finds the boundary score q* per stratum, rows "
    "above q* pass a plain codegen'd filter, and only the q*-tie set "
    "takes the exact row_number tie-break by doc_id — no per-stratum "
    "sort of data rows anywhere. The r7 salted two-phase rank was "
    "structurally a no-op for a 40% cut (phase 1 keeps every row when "
    "k = 0.4*cnt >= cnt/16 — VERDICT r7), so the hot-stratum "
    "single-task sort it claimed to remove survived (8.97x at 30x "
    "data); the rank formulation is kept as the differential twin "
    "quality_stratified_sample_ranked.",
    cut=lambda scored: stratified_fraction_cut(
        scored, ["lang"], "quality", "doc_id", num=2, den=5
    ),
)

_quality_sample(
    "quality_stratified_sample_ranked",
    doc="DIFFERENTIAL TWIN of quality_stratified_sample: the same 40% "
    "cut as an explicit per-stratum RANK through the salted two-phase "
    "top-k (operators/skew.grouped_topk_salted) — the r7 formulation, "
    "kept oracle-pinned because it certifies the threshold path's "
    "boundary-tie semantics against an independent algorithm. NOT the "
    "scale path: for a fractional k the salted phase 1 keeps every row "
    "(k = 0.4*cnt >= cnt/16 for every cnt) and phase 2 still sorts the "
    "whole stratum in one task — measured 8.97x at 30x data (SCALE.md "
    "1c); the default query's histogram-threshold algorithm is the "
    "production shape.",
    cut=_ranked_cut,
)



@register(
    "dedup_survivors",
    f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_ORACLE.strip()},
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
    labels AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    losers AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY source
    ORDER BY source
    """,
    headline=True,
    doc="End-to-end near-dedup: Jaccard pairs -> connected components -> keep "
    "the minimum doc per cluster, pass singletons through untouched -> "
    "per-source kept report. The loser-set anti-join carries NO broadcast "
    "hint: web-corpus dup rates run 30-50%, so the loser set scales with "
    "the corpus, and a forced broadcast bypasses AQE's size check (OOM "
    "instead of degrading). Unhinted, AQE still broadcasts when the set "
    "is genuinely small and falls back to a shuffle anti-join when not. "
    "Candidate generation is df-capped (stop shingles can't island the "
    "prefix join).",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5,
        max_doc_freq=relative_doc_freq_cap_expr(docs),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


@register(
    "token_pack_bins",
    """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT source, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING) - n_tokens)
                          / 256.0) AS BIGINT) AS bin
        FROM t
    )
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM placed
    GROUP BY source, bin
    ORDER BY source, bin
    """,
    doc="Sequence packing for training batches: greedy assignment of docs to "
    "256-token bins by running token offset WITHIN each source shard. "
    "Since r7 the offset is a TWO-LEVEL prefix sum (operators/skew."
    "two_level_running_offsets): phase 1 runs per (source, sub-shard) in "
    "parallel, phase 2 prefixes only the tiny sub-shard totals — one "
    "giant source no longer serializes its whole offset scan through a "
    "single window task (output identical at any sub-shard width).",
)
def token_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import two_level_running_offsets

    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id", "source", F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    # sub_width=128 so the cross-shard offset arithmetic is exercised
    # under the driver gate at fixture scale, not only in unit tests
    placed = two_level_running_offsets(
        t, ["source"], "doc_id", "n_tokens", sub_width=128
    ).select(
        "source",
        "n_tokens",
        F.floor(F.col("tok_start") / 256.0).alias("bin"),
    )
    return (
        placed.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("source", "bin")
    )


@register(
    "training_chunks",
    """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    spans AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS tok_end
        FROM t WHERE n_tokens > 0
    ),
    contrib AS (
        SELECT source, doc_id, tok_start, tok_end, chunk,
               LEAST(tok_end, (chunk + 1) * 256) - GREATEST(tok_start, chunk * 256)
                   AS n_contrib
        FROM spans,
             LATERAL (SELECT UNNEST(range(CAST(FLOOR(tok_start / 256.0) AS BIGINT),
                                          CAST(FLOOR((tok_end - 1) / 256.0) AS BIGINT) + 1))
                      AS chunk)
    )
    SELECT source, CAST(chunk AS BIGINT) AS chunk,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_contrib) AS BIGINT) AS chunk_tokens,
           CAST(SUM(CASE WHEN tok_start < chunk * 256
                           OR tok_end > (chunk + 1) * 256
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
    FROM contrib
    GROUP BY source, chunk
    ORDER BY source, chunk
    """,
    doc="GPT-style training-sequence construction (concat-and-chunk): "
    "docs concatenate in deterministic order within each source shard "
    "and split into fixed 256-token chunks, docs CROSSING a boundary "
    "contributing to both sides — the step that actually feeds a "
    "pretraining dataloader, where token_pack_bins only assigns whole "
    "docs to bins. Emits per chunk its composition (contributing docs, "
    "token total — exactly 256 everywhere but each shard's tail — and "
    "boundary-split count). The running offset is the TWO-LEVEL prefix "
    "sum (operators/skew.two_level_running_offsets, r7): phase 1 is "
    "per-(source, sub-shard) parallel, phase 2 prefixes only sub-shard "
    "totals, so chunking parallelizes WITHIN a giant source too — no "
    "single-task offset scan anywhere; then one explode of (doc x "
    "spanned chunks).",
)
def training_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return _training_chunks_plan(docs)


def _training_chunks_plan(docs: DataFrame) -> DataFrame:
    """Shared chunking plan: the single-source twin reuses it verbatim
    with a constant source column."""
    from ..operators.skew import two_level_running_offsets

    L = 256
    t = docs.select(
        "doc_id",
        "source",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    # sub_width=128: multiple sub-shards per source at fixture scale so
    # the driver row certifies the cross-shard arithmetic end-to-end
    spans = two_level_running_offsets(
        t, ["source"], "doc_id", "n_tokens", sub_width=128
    )
    contrib = spans.select(
        "source",
        "tok_start",
        "tok_end",
        F.explode(
            F.sequence(
                F.floor(F.col("tok_start") / L),
                F.floor((F.col("tok_end") - 1) / L),
            )
        ).alias("chunk"),
    ).withColumn(
        "n_contrib",
        F.least(F.col("tok_end"), (F.col("chunk") + 1) * L)
        - F.greatest(F.col("tok_start"), F.col("chunk") * L),
    )
    return (
        contrib.groupBy("source", "chunk")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_contrib").alias("chunk_tokens"),
            F.sum(
                F.when(
                    (F.col("tok_start") < F.col("chunk") * L)
                    | (F.col("tok_end") > (F.col("chunk") + 1) * L),
                    1,
                ).otherwise(0)
            ).alias("n_boundary_docs"),
        )
        .orderBy("source", "chunk")
    )


@register(
    "training_chunks_single_source",
    """
    WITH t AS (
        SELECT doc_id, 'all' AS source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    spans AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS tok_end
        FROM t WHERE n_tokens > 0
    ),
    contrib AS (
        SELECT source, doc_id, tok_start, tok_end, chunk,
               LEAST(tok_end, (chunk + 1) * 256) - GREATEST(tok_start, chunk * 256)
                   AS n_contrib
        FROM spans,
             LATERAL (SELECT UNNEST(range(CAST(FLOOR(tok_start / 256.0) AS BIGINT),
                                          CAST(FLOOR((tok_end - 1) / 256.0) AS BIGINT) + 1))
                      AS chunk)
    )
    SELECT source, CAST(chunk AS BIGINT) AS chunk,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_contrib) AS BIGINT) AS chunk_tokens,
           CAST(SUM(CASE WHEN tok_start < chunk * 256
                           OR tok_end > (chunk + 1) * 256
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
    FROM contrib
    GROUP BY source, chunk
    ORDER BY source, chunk
    """,
    doc="training_chunks over ONE GIANT SOURCE (every doc re-labeled to "
    "a single shard) — the adversarial layout for sequence "
    "construction, where a per-source window would serialize the "
    "entire corpus through one task. Exercises the two-level prefix "
    "sum's scale claim directly: phase 1 stays parallel across "
    "sub-shards even with a single source, phase 2 prefixes only the "
    "sub-shard totals. The scale_probe twin for VERDICT r6 task 2; "
    "same plan as training_chunks (shared _training_chunks_plan), "
    "oracle = the single-window SQL over the constant source.",
)
def training_chunks_single_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("source", F.lit("all"))
    return _training_chunks_plan(docs)


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT doc_id, tok, tf, {quantized_sql('tf * ln(n / df)')} AS tfidf_e4
        FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, tok, tf, tfidf_e4,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_e4 DESC, tok) AS rnk
        FROM scored
    )
    SELECT doc_id, tok, tf, tfidf_e4, CAST(rnk AS INT) AS rnk
    FROM ranked
    WHERE rnk <= 3 AND doc_id < 40
    ORDER BY doc_id, rnk
    """,
    doc="Per-document top-3 terms by tf-idf: token explode -> tf groupBy "
    "(doc filter pushed below the window: row_number partitions by doc_id, "
    "so pre-filtering the ranked docs is semantics-preserving and the tf "
    "aggregation only touches the requested documents), document-frequency "
    "groupBy over the FULL corpus, plain join with NO broadcast hint — the "
    "vocabulary scales with the corpus (every distinct typo/URL/id at web "
    "scale), so AQE's size check decides the join strategy instead of a "
    "forced hint that OOMs at 100 TB. Corpus size N folds in as a scalar "
    "subquery (its own job at execution time, no eager count at plan "
    "build).",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    docs.createOrReplaceTempView("docs_tfidf")
    docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok")
    ).createOrReplaceTempView("toks_tfidf")
    return spark.sql(
        f"""
        WITH tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM toks_tfidf WHERE doc_id < 40 GROUP BY doc_id, tok
        ),
        df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks_tfidf GROUP BY tok),
        scored AS (
            SELECT doc_id, tok, tf,
                   {quantized_sql('tf * ln((SELECT COUNT(*) FROM docs_tfidf) / df)')}
                       AS tfidf_e4
            FROM tf JOIN df USING (tok)
        ),
        ranked AS (
            SELECT doc_id, tok, tf, tfidf_e4,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf_e4 DESC, tok) AS rnk
            FROM scored
        )
        SELECT doc_id, tok, tf, tfidf_e4, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 3
        ORDER BY doc_id, rnk
        """
    )


@register(
    "weighted_sample",
    f"""
    WITH k AS (
        SELECT doc_id, source,
               POW(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0,
                   1.0 / n_chars) AS key
        FROM documents
        WHERE n_chars > 0
    ),
    r AS (
        SELECT doc_id, source, key,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rnk
        FROM k
    )
    SELECT doc_id, source, {quantized_sql('key', 6)} AS weight_key_e6,
           CAST(rnk AS INT) AS rnk
    FROM r
    WHERE rnk <= 5
    ORDER BY source, rnk
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis A-ES): "
    "key = u^(1/w) with u a DETERMINISTIC md5-derived uniform and w = "
    "n_chars; top-5 keys per source = a 5-doc weighted sample per stratum. "
    "No RNG state, reproducible across engines/retries; the window "
    "partitions by source so there is no global single-partition sort.",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", key.alias("key"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "doc_id",
            "source",
            quantized(F.col("key"), 6).alias("weight_key_e6"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("source", "rnk")
    )


@register(
    "skyline_docs",
    """
    WITH scored AS (
        SELECT doc_id, n_chars,
               CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS vocab
        FROM documents
    )
    SELECT p.doc_id, p.n_chars, p.vocab
    FROM scored p
    WHERE NOT EXISTS (
        SELECT 1 FROM scored q
        WHERE q.n_chars <= p.n_chars AND q.vocab >= p.vocab
          AND (q.n_chars < p.n_chars OR q.vocab > p.vocab)
    )
    ORDER BY p.doc_id
    """,
    doc="Skyline / Pareto-front document selection (min n_chars, max "
    "distinct-token vocabulary): multi-criteria curation pick. The oracle "
    "is the textbook NOT-EXISTS dominance self-join; the Spark plan is the "
    "shuffle-light bucket + prefix-max + range-frame formulation "
    "(operators/skyline.py) — no nested-loop join at any scale.",
)
def skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_2d

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(ws_tokens(F.col("text")))).cast("long").alias("vocab"),
    )
    return skyline_2d(scored, minimize="n_chars", maximize="vocab").orderBy("doc_id")


@register(
    "repetition_score",
    f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE doc_id < 150
    ),
    sh AS (
        SELECT doc_id,
               len(toks) - 2 AS n_grams,
               len(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  FOR i IN range(1, len(toks) - 1)])) AS n_distinct
        FROM t
        WHERE len(toks) >= 3
    )
    SELECT doc_id,
           CAST(n_grams AS INT) AS n_grams,
           CAST(n_distinct AS INT) AS n_distinct,
           {e4_sql('1.0 - n_distinct / n_grams')} AS rep_ratio_e4
    FROM sh
    ORDER BY doc_id
    """,
    doc="Intra-document repetition score: 1 - distinct/total 3-grams per doc "
    "(the duplicate-n-gram-fraction family of quality rules, cf. Gopher "
    "repetition filters). Pure narrow array ops — shingle, distinct, size — "
    "zero shuffles before the presentation sort.",
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    grams = word_shingles(ws_tokens(F.col("text")), 3)
    scored = docs.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    ).filter(F.col("n_grams") >= 1)
    return scored.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        e4(1.0 - F.col("n_distinct") / F.col("n_grams")).alias("rep_ratio_e4"),
    ).orderBy("doc_id")


@register(
    "quality_rule_battery",
    """
    WITH t AS (
        SELECT doc_id, text, n_chars,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE doc_id < 150
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_word_len,
               (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                   / len(toks) AS symbol_word_ratio
        FROM t
    )
    SELECT doc_id,
           n_words >= 10 AND n_words <= 1000 AS ok_word_count,
           mean_word_len >= 2 AND mean_word_len <= 12 AS ok_mean_word_len,
           symbol_word_ratio <= 0.5 AS ok_symbol_ratio,
           (n_words >= 10 AND n_words <= 1000)
               AND (mean_word_len >= 2 AND mean_word_len <= 12)
               AND symbol_word_ratio <= 0.5 AS passes_all
    FROM m
    ORDER BY doc_id
    """,
    doc="Corpus quality-rule battery (Gopher-style bounds): word-count range, "
    "mean word length range, symbol-to-word ratio cap, plus the all-rules "
    "conjunction — the same per-row boolean-battery shape as the reference's "
    "trace checks (src/trace/validation/validation.py:208-376), as pure "
    "Column expressions.",
)
def quality_rule_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    toks = ws_tokens(F.col("text"))
    n_words = F.size(toks)
    mean_word_len = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ) / n_words
    symbols = F.length("text") - F.length(
        F.regexp_replace("text", r"[^A-Za-z0-9\s]", "")
    )
    symbol_word_ratio = symbols / n_words
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
    )
    ok_wc = (F.col("n_words") >= 10) & (F.col("n_words") <= 1000)
    ok_mwl = (F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12)
    ok_sym = F.col("symbol_word_ratio") <= 0.5
    return m.select(
        "doc_id",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        (ok_wc & ok_mwl & ok_sym).alias("passes_all"),
    ).orderBy("doc_id")


@register(
    "curation_funnel",
    f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_ORACLE.strip()},
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
    losers AS (
        SELECT src AS doc_id FROM reach GROUP BY src
        HAVING src <> MIN(node)
    ),
    sh4 AS (
        SELECT DISTINCT doc_id, source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i)
    ),
    contaminated AS (
        SELECT DISTINCT a.doc_id
        FROM sh4 a JOIN sh4 b ON a.s = b.s
        WHERE b.source = 'src0' AND a.source <> 'src0'
    ),
    flags AS (
        SELECT doc_id, source, n_chars,
               len(toks) >= 10 AND len(toks) <= 1000
                   AND list_sum(list_transform(toks, x -> length(x))) / len(toks) BETWEEN 2 AND 12
                   AS ok_quality,
               doc_id NOT IN (SELECT doc_id FROM losers) AS ok_dedup,
               source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM contaminated)
                   AS ok_decontam,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000' AS ok_sample
        FROM (SELECT *, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
    )
    SELECT stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(chars_total AS BIGINT) AS chars_total
    FROM (
        SELECT '0_raw' AS stage, COUNT(*) AS n_docs, SUM(n_chars) AS chars_total FROM flags
        UNION ALL
        SELECT '1_quality', COUNT(*), SUM(n_chars) FROM flags WHERE ok_quality
        UNION ALL
        SELECT '2_dedup', COUNT(*), SUM(n_chars) FROM flags WHERE ok_quality AND ok_dedup
        UNION ALL
        SELECT '3_decontam', COUNT(*), SUM(n_chars) FROM flags
        WHERE ok_quality AND ok_dedup AND ok_decontam
        UNION ALL
        SELECT '4_sampled', COUNT(*), SUM(n_chars) FROM flags
        WHERE ok_quality AND ok_dedup AND ok_decontam AND ok_sample
    )
    ORDER BY stage
    """,
    headline=True,
    doc="The full curation funnel as ONE plan: quality rules -> near-dedup "
    "survivors (Jaccard pairs -> connected components, keep min) -> "
    "eval-set decontamination -> deterministic 50% sample, reporting "
    "docs/chars surviving each stage. Every stage is a boolean Column on "
    "one frame — the funnel costs one pass over the corpus plus the "
    "(edge-set-sized) clustering and (eval-sized) contamination joins.",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    mean_wl = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)) / F.size(toks)
    ok_quality = (
        (F.size(toks) >= 10)
        & (F.size(toks) <= 1000)
        & (mean_wl >= 2)
        & (mean_wl <= 12)
    )

    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5,
        max_doc_freq=relative_doc_freq_cap_expr(docs),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("__loser")
    )

    hashed4 = F.array_distinct(
        F.transform(word_shingles(toks, 4), lambda s: F.xxhash64(s))
    )
    sh = docs.select("doc_id", "source", F.explode(hashed4).alias("s"))
    contaminated = (
        sh.filter(F.col("source") != "src0")
        .join(
            F.broadcast(sh.filter(F.col("source") == "src0").select("s")), "s"
        )
        .select("doc_id")
        .distinct()
        .withColumn("__contam", F.lit(True))
    )

    flags = (
        docs.select("doc_id", "source", "n_chars", ok_quality.alias("ok_quality"))
        # No broadcast hints: the loser set scales with corpus dup rate
        # and the contaminated set with eval x corpus overlap — neither
        # is boundedly small at 100x. AQE picks broadcast when actual
        # sizes allow and degrades to shuffle joins when they don't.
        .join(losers, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            "ok_quality",
            F.col("__loser").isNull().alias("ok_dedup"),
            ((F.col("source") != "src0") & F.col("__contam").isNull()).alias(
                "ok_decontam"
            ),
            (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "8000"
            ).alias("ok_sample"),
        )
    )
    stages = [
        ("0_raw", F.lit(True)),
        ("1_quality", F.col("ok_quality")),
        ("2_dedup", F.col("ok_quality") & F.col("ok_dedup")),
        ("3_decontam", F.col("ok_quality") & F.col("ok_dedup") & F.col("ok_decontam")),
        (
            "4_sampled",
            F.col("ok_quality")
            & F.col("ok_dedup")
            & F.col("ok_decontam")
            & F.col("ok_sample"),
        ),
    ]
    # ONE conditional-aggregation pass over the flags frame (a 5-way
    # filtered-agg union would recompute the whole flags subtree —
    # shingles, contamination join, quality rules — once per stage),
    # then stack the single row back to (stage, n_docs, chars_total).
    aggs = []
    for i, (_, cond) in enumerate(stages):
        aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"n{i}"))
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("n_chars"))), F.lit(0)).alias(f"c{i}")
        )
    stack_expr = (
        f"stack({len(stages)}, "
        + ", ".join(f"'{name}', n{i}, c{i}" for i, (name, _) in enumerate(stages))
        + ") AS (stage, n_docs, chars_total)"
    )
    out = flags.agg(*aggs).selectExpr(stack_expr)
    return out.orderBy("stage")


@register(
    "chunk_documents",
    """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(s / 24 AS INT) AS chunk_idx,
           CAST(LEAST(32, len(toks) - s) AS INT) AS n_tokens,
           md5(array_to_string(toks[s + 1 : s + 32], ' ')) AS chunk_md5
    FROM t, LATERAL (
        SELECT unnest(range(0, GREATEST(len(toks) - 8, 1), 24)) AS s
    )
    WHERE len(toks) > 0
    ORDER BY doc_id, chunk_idx
    """,
    doc="Document chunking into overlapping token windows (chunk=32, "
    "overlap=8 -> stride 24) — the context-window split every training "
    "pipeline runs before packing. Pure JVM: sequence() emits the chunk "
    "starts, slice()/concat_ws cut each window from the token array — a "
    "narrow per-row fan-out, no shuffle until a downstream consumer asks "
    "for one. Pairs with token_pack_bins (chunks -> fixed-token training "
    "bins).",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunk, overlap = 32, 8
    stride = chunk - overlap
    docs = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
    )
    exploded = docs.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("s")
    ).filter(F.size("toks") > 0)
    window_txt = F.concat_ws(" ", F.slice(F.col("toks"), F.col("s") + 1, chunk))
    from ..operators.cache import presented

    # presented(): shuffle-free chunking map — a bare orderBy runs it
    # twice via range-partition sampling (see operators/cache.py)
    return presented(
        exploded.select(
            "doc_id",
            (F.col("s") / stride).cast("int").alias("chunk_idx"),
            F.least(F.lit(chunk), F.size("toks") - F.col("s"))
            .cast("int")
            .alias("n_tokens"),
            F.md5(window_txt).alias("chunk_md5"),
        ),
        "doc_id",
        "chunk_idx",
    )


@register(
    "mixture_temperature",
    r"""
    WITH stats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1048576) AS BIGINT) AS q
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(SUM(q) AS BIGINT) AS zq
        FROM stats
    ),
    thr AS (
        SELECT source, n,
               CAST(FLOOR(((CAST(total AS DOUBLE) * q) / (CAST(zq AS DOUBLE) * n))
                          * 0.25 * 4294967296.0) AS BIGINT) AS thr
        FROM stats, tot
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(t.thr) AS thr,
           CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < t.thr
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < t.thr
                         THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM documents d JOIN thr t ON d.source = t.source
    GROUP BY d.source
    ORDER BY d.source
    """,
    doc="Temperature-based mixture reweighting (the pretraining 'alpha "
    "sampling' op: p(source) ~ n^alpha with alpha=0.5): per-source keep "
    "rates = target_frac * total * sqrt(n)/(Z * n), realized as "
    "deterministic md5-prefix Bernoulli sampling. Small sources are "
    "upweighted, big sources capped — the standard multilingual/"
    "multi-domain rebalance. Float discipline: sqrt quantized to 2^-20 "
    "units before the cross-source sum (order-independent integers), "
    "thresholds floored onto the 2^32 hash domain, identical expression "
    "shape on both engines — bit-equal keep decisions at any "
    "parallelism. Two tiny aggregates + one AQE-broadcastable join "
    "(never hinted: source cardinality is corpus-derived).",
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalar subquery for the cross-source totals (the quantile_bins
    # pattern, plans/queries_window.py): its 1-row result substitutes
    # into the plan as literals — a crossJoin against the aggregate
    # would plan a BroadcastNestedLoopJoin, which the plan gate forbids
    _docs(spark, sf_dir).createOrReplaceTempView("documents_mt")
    return spark.sql(
        """
        WITH stats AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1048576) AS BIGINT) AS q
            FROM documents_mt GROUP BY source
        ),
        thr AS (
            SELECT source, n,
                   CAST(FLOOR(((CAST((SELECT SUM(n) FROM stats) AS DOUBLE) * q)
                               / (CAST((SELECT SUM(q) FROM stats) AS DOUBLE) * n))
                              * 0.25 * 4294967296.0) AS BIGINT) AS thr
            FROM stats
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MAX(t.thr) AS thr,
               CAST(SUM(CASE WHEN CAST(conv(substr(md5(CAST(d.doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) < t.thr
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN CAST(conv(substr(md5(CAST(d.doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) < t.thr
                             THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
        FROM documents_mt d JOIN thr t ON d.source = t.source
        GROUP BY d.source
        ORDER BY d.source
        """
    )


def split_assign(id_col, train_pct: int = 80, val_pct: int = 10):
    """Deterministic split label for a stable id: md5-derived bucket in
    [0,100). Pure function of the id — adding/removing rows or changing
    partitioning can never reassign an existing id (a doc migrating
    from train to test poisons the eval set)."""
    bucket = (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register(
    "train_val_test_split",
    """
    WITH assigned AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    ),
    labeled AS (
        SELECT doc_id, lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS membership_md5
    FROM labeled
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    doc="Deterministic train/val/test split (the assignment every "
    "training-data pipeline must get right): membership is a pure "
    "function of the stable document id via an md5-derived bucket in "
    "[0,100) — no RNG state, no row order, no partition count in the "
    "outcome, so re-running on a differently-partitioned 100 TB corpus "
    "or adding documents NEVER reassigns an existing one (critical: a "
    "doc that migrates from train to test poisons the eval). The "
    "oracle certifies per-(split, lang) counts AND an order-canonical "
    "membership digest, so one swapped assignment hash-fails. md5 is "
    "the hash because both engines render BIGINT->string identically "
    "and implement the same digest; engine-native hash functions "
    "(xxhash64 vs DuckDB hash) differ and would not be portable.",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    labeled = docs.select("doc_id", "lang", split_assign(F.col("doc_id")).alias("split"))
    return (
        labeled.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("membership_md5"),
        )
        .orderBy("split", "lang")
    )


@register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_ORACLE.strip()},
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
    labels AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    keyed AS (
        SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS ckey
        FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    lab AS (
        SELECT doc_id, ckey,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS naive_split,
               CASE WHEN CAST(('0x' || substr(md5(CAST(ckey AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(ckey AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS safe_split
        FROM keyed
    ),
    per_cluster AS (
        SELECT ckey, COUNT(*) AS n,
               COUNT(DISTINCT naive_split) AS naive_s,
               COUNT(DISTINCT safe_split) AS safe_s,
               MIN(safe_split) AS safe_split
        FROM lab GROUP BY ckey
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_clusters,
           CAST(SUM(CASE WHEN n >= 2 AND naive_s > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS naive_straddling,
           CAST(SUM(CASE WHEN safe_s > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS safe_straddling,
           CAST(SUM(CASE WHEN safe_split = 'train' THEN n ELSE 0 END) AS BIGINT)
               AS n_train,
           CAST(SUM(CASE WHEN safe_split = 'val' THEN n ELSE 0 END) AS BIGINT)
               AS n_val,
           CAST(SUM(CASE WHEN safe_split = 'test' THEN n ELSE 0 END) AS BIGINT)
               AS n_test
    FROM per_cluster
    """,
    doc="LEAKAGE-SAFE train/val/test split — the dedup-aware "
    "assignment a training pipeline actually needs: near-duplicate "
    "CLUSTERS (3-gram Jaccard>=0.5 pairs -> connected components, the "
    "dup_clusters kernel) are the split unit, every member inheriting "
    "the md5-bucket split of its cluster representative, so a test "
    "document can never have a near-copy in train (eval leakage). The "
    "one-row report measures the payoff against the naive doc-keyed "
    "policy on the same corpus: naive_straddling counts multi-member "
    "clusters split across partitions under per-doc hashing (>0 on "
    "any corpus with enough dup clusters), safe_straddling is 0 BY "
    "CONSTRUCTION (and hash-verified by the oracle's independent "
    "recursive-CTE closure). Plan: the CC runs on candidate pairs "
    "only (banded, df-capped — never N^2); singleton docs skip the "
    "CC entirely via the left-join coalesce to their own id; the "
    "rollup is two narrow groupBys. Assignment stays a pure function "
    "of stable ids — re-running on re-partitioned data or appending "
    "documents never reassigns an existing cluster.",
)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5,
        max_doc_freq=relative_doc_freq_cap_expr(docs),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    keyed = (
        docs.select("doc_id")
        .join(
            cc.select(F.col("id").alias("doc_id"), "cluster_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("ckey")
        )
    )
    lab = keyed.select(
        "doc_id",
        "ckey",
        split_assign(F.col("doc_id")).alias("naive_split"),
        split_assign(F.col("ckey")).alias("safe_split"),
    )
    per_cluster = lab.groupBy("ckey").agg(
        F.count("*").alias("n"),
        F.countDistinct("naive_split").alias("naive_s"),
        F.countDistinct("safe_split").alias("safe_s"),
        F.min("safe_split").alias("safe_split"),
    )
    return per_cluster.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi_clusters"),
        F.sum(
            F.when((F.col("n") >= 2) & (F.col("naive_s") > 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("naive_straddling"),
        F.sum(F.when(F.col("safe_s") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("safe_straddling"),
        F.sum(F.when(F.col("safe_split") == "train", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("safe_split") == "val", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.sum(F.when(F.col("safe_split") == "test", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )


@register(
    "incremental_ingest_dedup",
    rf"""
    WITH newd AS (SELECT * FROM documents WHERE doc_id % 10 >= 8),
    oldd AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
    fpo AS (
        SELECT doc_id AS old_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM oldd
    ),
    fpn AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM newd
    ),
    exact AS (
        SELECT n.doc_id, MIN(o.old_id) AS exact_match_id
        FROM fpn n JOIN fpo o ON n.fp = o.fp
        GROUP BY 1
    ),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT n.doc_id AS new_id, o.doc_id AS old_id, COUNT(*) AS c
        FROM sh n JOIN sh o ON n.s = o.s
        WHERE n.doc_id % 10 >= 8 AND o.doc_id % 10 < 8
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT new_id, c / (a.sz + b.sz - c) AS j
        FROM inter
        JOIN sizes a ON a.doc_id = new_id
        JOIN sizes b ON b.doc_id = old_id
        WHERE c / (a.sz + b.sz - c) >= 0.5
    ),
    near AS (
        SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_near,
               {e4_sql('MAX(j)')} AS best_jaccard_e4
        FROM jac GROUP BY 1
    )
    SELECT d.doc_id,
           CASE WHEN e.exact_match_id IS NOT NULL THEN 'exact_dup'
                WHEN near.n_near IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS verdict,
           e.exact_match_id,
           COALESCE(near.n_near, 0) AS n_near_dups,
           near.best_jaccard_e4
    FROM newd d
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near ON near.new_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="Incremental ingest dedup — the daily-batch flow of a standing "
    "100 TB corpus: classify each NEW document (doc_id%10>=8 plays the "
    "ingest batch; the rest is the corpus) as exact_dup (normalized-md5 "
    "fingerprint seen before), near_dup (3-gram Jaccard >= 0.5 against "
    "some corpus doc via the asymmetric prefix-filtered join — "
    "operators/dedup.cross_jaccard_pairs), or novel. The batch side is "
    "ingest-sized, the corpus side is a staged shingle table, and the "
    "corpus is NEVER re-paired with itself — what makes continuous "
    "dedup affordable where a full-corpus jaccard_pairs re-run is not. "
    "Exact-dup fixtures exist from sf0.1 up (the generator plants no "
    "byte-identical pair at 0.01 or below); the exact tier's mechanics "
    "are unit-tested with constructed rows in tests/test_dedup_"
    "similarity.py.",
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import classify_against_corpus

    docs = _docs(spark, sf_dir)
    newd = docs.filter(F.col("doc_id") % 10 >= 8)
    oldd = docs.filter(F.col("doc_id") % 10 < 8)
    return classify_against_corpus(
        newd, oldd, "text", "doc_id", n=3, threshold=0.5
    ).orderBy("doc_id")


@register(
    "corpus_card",
    rf"""
    WITH t AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\s+') AS toks,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    feat AS (
        SELECT doc_id, source, fp, len(toks) AS n_toks,
               {quality_features_sql('toks')}
        FROM t
    ),
    f AS (
        SELECT doc_id, source, fp, n_toks,
               {quality_logit_sql()} AS z
        FROM feat
    ),
    g AS (
        SELECT doc_id, source, fp, n_toks,
               CAST(FLOOR(z * 10000 + 0.5) AS BIGINT) AS z_bp,
               CASE WHEN z >= 0.0 THEN 1 ELSE 0 END AS keep
        FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           {e4_sql('SUM(z_bp) / (10000.0 * COUNT(*))')} AS mean_score_e4
    FROM g GROUP BY source ORDER BY source
    """,
    doc="Per-source dataset card — the one-page summary a curation run "
    "publishes alongside the corpus: document and token counts, exact-"
    "unique fraction (normalized-md5 fingerprints), classifier keep "
    "count, and mean quality score. The mean is engine-exact by the "
    "repo's quantize-then-average rule: per-row scores floor to "
    "integer basis points FIRST, then SUM/COUNT divides two exact "
    "integers — no floating-point accumulation order anywhere. One "
    "pass over the corpus, one groupBy shuffle on source.",
)
def corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import fingerprint, quality_logit

    docs = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    z = quality_logit(toks)
    g = docs.select(
        "source",
        F.size(toks).alias("n_toks"),
        fingerprint(F.col("text")).alias("fp"),
        F.floor(z * 10000 + F.lit(0.5)).cast("bigint").alias("z_bp"),
        F.when(z >= F.lit(0.0), 1).otherwise(0).alias("keep"),
    )
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.countDistinct("fp").alias("n_unique"),
            F.sum("keep").alias("n_keep"),
            e4(
                F.sum("z_bp") / (F.lit(10000.0) * F.count("*"))
            ).alias("mean_score_e4"),
        )
        .orderBy("source")
    )


@register(
    "contrastive_pairs",
    r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    halves AS (
        SELECT doc_id,
               array_to_string(toks[1:len(toks)//2], ' ') AS front,
               array_to_string(toks[len(toks)//2+1:len(toks)], ' ') AS back
        FROM t WHERE len(toks) >= 8
    ),
    ranked AS (
        SELECT *, md5('7:' || doc_id) AS h,
               substr(md5('7:' || doc_id), 1, 1) AS bkt
        FROM halves
    ),
    neg AS (
        SELECT r.doc_id,
               COALESCE(LEAD(r.doc_id) OVER w,
                        FIRST_VALUE(r.doc_id) OVER wf) AS neg_id,
               COALESCE(LEAD(r.back) OVER w,
                        FIRST_VALUE(r.back) OVER wf) AS neg_back
        FROM ranked r
        WINDOW w AS (PARTITION BY bkt ORDER BY h, doc_id),
               wf AS (PARTITION BY bkt ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT h.doc_id AS anchor_id, 1 AS label, h.doc_id AS partner_id,
           md5(h.front || '|' || h.back) AS pair_md5
    FROM halves h
    UNION ALL
    SELECT n.doc_id, 0, n.neg_id, md5(h.front || '|' || n.neg_back)
    FROM neg n JOIN halves h ON h.doc_id = n.doc_id
    WHERE n.neg_id <> n.doc_id
    ORDER BY anchor_id, label DESC
    """,
    doc="Contrastive-pair dataset construction (SimCSE/CLIP-style "
    "training data, made deterministic): each document's front half "
    "anchors a positive (its own back half) and a negative (the back "
    "half of the NEXT document on a seeded md5 ring). The ring is "
    "per-hash-bucket — ROW_NUMBER/LEAD partition on the first hash "
    "hex digit, so pairing never needs a global sort: at 100 TB each "
    "bucket ring builds independently after one hash-partitioned "
    "shuffle. A singleton bucket would pair a doc with itself; such "
    "degenerate negatives are dropped identically on both sides "
    "(none exist at the fixture SFs). Pair content certified by md5 "
    "digests.",
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    half = F.floor(F.size("toks") / 2).cast("int")
    halves = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("toks", 1, half)).alias("front"),
            F.concat_ws(
                " ", F.slice("toks", half + 1, F.size("toks") - half)
            ).alias("back"),
        )
    )
    h = F.md5(F.concat(F.lit("7:"), F.col("doc_id").cast("string")))
    ranked = halves.select(
        "doc_id", "front", "back", h.alias("h"), F.substring(h, 1, 1).alias("bkt")
    )
    w = Window.partitionBy("bkt").orderBy("h", "doc_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    neg = ranked.select(
        "doc_id",
        "front",
        F.coalesce(
            F.lead("doc_id").over(w), F.first("doc_id").over(wf)
        ).alias("neg_id"),
        F.coalesce(F.lead("back").over(w), F.first("back").over(wf)).alias(
            "neg_back"
        ),
    )
    pos = halves.select(
        F.col("doc_id").alias("anchor_id"),
        F.lit(1).alias("label"),
        F.col("doc_id").alias("partner_id"),
        F.md5(F.concat_ws("|", "front", "back")).alias("pair_md5"),
    )
    negs = neg.filter(F.col("neg_id") != F.col("doc_id")).select(
        F.col("doc_id").alias("anchor_id"),
        F.lit(0).alias("label"),
        F.col("neg_id").alias("partner_id"),
        F.md5(F.concat_ws("|", "front", "neg_back")).alias("pair_md5"),
    )
    return pos.unionAll(negs).orderBy("anchor_id", F.desc("label"))


@register(
    "dedup_consensus",
    f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    tpairs AS (
        SELECT id_a, id_b, {e4_sql('n_common / (sa.sz + sb.sz - n_common)')} AS jaccard_e4
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8
    ),
    long AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    {planes_cte().strip()},
    {cap_cte().strip()},
    {lsh_sig_cte_dyn().strip()},
    {capped_sig_cte_dyn().strip()},
    {probed_cand_cte_dyn(src='sigc').strip()},
    epairs AS (
        SELECT id_a, id_b, cosine_e4 FROM (
            SELECT id_a, id_b,
                   {e4_sql('SUM(qa.val * qb.val)')} AS cosine_e4
            FROM cand
            JOIN long qa ON qa.vec_id = id_a
            JOIN long qb ON qb.vec_id = id_b AND qb.pos = qa.pos
            GROUP BY id_a, id_b
        ) WHERE cosine_e4 >= 3500
    )
    SELECT COALESCE(t.id_a, e.id_a) AS id_a,
           COALESCE(t.id_b, e.id_b) AS id_b,
           t.jaccard_e4,
           e.cosine_e4,
           CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL THEN 'both'
                WHEN t.id_a IS NOT NULL THEN 'text_only'
                ELSE 'embedding_only' END AS verdict
    FROM tpairs t
    FULL OUTER JOIN epairs e ON t.id_a = e.id_a AND t.id_b = e.id_b
    ORDER BY id_a, id_b
    """,
    doc="Cross-modal dedup consensus: the text-side 3-gram-Jaccard "
    "near-dup pairs (>= 0.8) full-outer-joined with the embedding-side "
    "LSH-cosine pairs (>= 0.35) over the paired doc_id/vec_id domain — "
    "each pair graded 'both' / 'text_only' / 'embedding_only'. The "
    "verification screen a curation run uses before destructive "
    "dedup: 'both' pairs are safe drops, single-modality pairs go to "
    "review (surface rewrites pass the embedding check but fail "
    "n-grams; template collisions do the reverse). Composes the two "
    "certified pair generators; each side stays candidate-bounded, "
    "and the consensus join is pair-keyed (output-sized, never N^2). "
    "Since r7 the embedding side is the Hamming<=1 PROBED kernel "
    "(operators/similarity.embedding_near_dup_probed — query-side "
    "signature probing, the measured-linear variant at 30x data; the "
    "fixed-signature block join it replaces measured quadratic, "
    "SCALE.md 1c) at the FULL production configuration: n_planes=None "
    "resolves recommended_n_planes(COUNT) and — since r9 — "
    "max_bucket='auto' resolves auto_max_bucket(COUNT, planes), the "
    "routed r8 bucket cap (uncapped candidates grew 870x at 30x data "
    "on the clustered fixture, PROBE_r8); the oracle computes both "
    "integer rules in SQL and caps both join sides, so the consensus "
    "inherits the scalable default at any corpus size. Pairs inside "
    "over-cap mass-dup cores are graded by the TEXT side alone here — "
    "run exact dedup upstream (exact_then_near_dup) to clear them.",
)
def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs
    from ..operators.similarity import embedding_near_dup_probed

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    t = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8).select(
        "id_a", "id_b", e4(F.col("jaccard")).alias("jaccard_e4")
    )
    e = embedding_near_dup_probed(
        emb, threshold=0.35, n_planes=None, max_bucket="auto"
    )
    return (
        t.join(e, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            "jaccard_e4",
            "cosine_e4",
            F.when(
                F.col("jaccard_e4").isNotNull() & F.col("cosine_e4").isNotNull(),
                "both",
            )
            .when(F.col("jaccard_e4").isNotNull(), "text_only")
            .otherwise("embedding_only")
            .alias("verdict"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "exact_then_near_dup",
    f"""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    surv AS (SELECT MIN(doc_id) AS vec_id FROM fp GROUP BY fp),
    embs AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e JOIN surv s ON e.vec_id = s.vec_id
    ),
    long AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embs
    ),
    {planes_cte(src='embs').strip()},
    {cap_cte(src='embs').strip()},
    {lsh_sig_cte_dyn().strip()},
    {capped_sig_cte_dyn().strip()},
    {probed_cand_cte_dyn(src='sigc').strip()},
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
    """,
    doc="THE production dedup composition for mass-duplicate corpora "
    "(r9 — pins in code what SCALE.md prescribed in prose): exact "
    "dedup FIRST (operators/dedup.exact_dedup — normalized-text md5 "
    "fingerprint groupBy, one skew-free shuffle on a uniform 32-hex "
    "key; min-id survivor per fingerprint), THEN the bucket-CAPPED "
    "probed near-dup kernel on the SURVIVORS' embeddings "
    "(doc_id == vec_id domain), width and cap auto-sized over the "
    "SURVIVOR count in both engines (plans/lsh_oracle planes_cte + "
    "cap_cte over the survivor CTE). Why this order is the 100 TB "
    "path: the cap drops candidate generation in over-cap LSH "
    "buckets, and on a raw corpus those are exactly the mass-"
    "duplicate cores — exact dedup collapses each verbatim-copy "
    "pile to one representative upstream, shrinking those buckets "
    "back under the cap so the capped kernel RECOVERS the true "
    "near-dup pairs among survivors (pinned by pytest on a "
    "constructed mass-dup corpus; the cap's only remaining losses "
    "are organic clustered-space cores, the SemDeDup regime). "
    "Fixture note: like incremental_ingest_dedup's exact tier, the "
    "exact stage drops ZERO docs at sf<=0.01 (the fixture has no "
    "exact dups below sf0.1 by construction) — the oracle still "
    "verifies the full composition SQL including the survivor join; "
    "the stage's bite is unit-tested with constructed duplicates.",
)
def exact_then_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.similarity import embedding_near_dup_probed

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    surv = exact_dedup(docs, "text", "doc_id").select(
        F.col("survivor_id").alias("vec_id")
    )
    # unhinted equi-join: survivors scale with the corpus, AQE picks
    # broadcast vs shuffle (the dedup_survivors loser-set precedent)
    emb_s = emb.join(surv, "vec_id")
    return embedding_near_dup_probed(
        emb_s, threshold=0.35, n_planes=None, max_hamming=1, max_bucket="auto"
    ).orderBy("id_a", "id_b")


@register(
    "domain_reweight",
    f"""
    WITH t AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    f AS (
        SELECT doc_id, source,
               {quality_features_sql('toks')}
        FROM t
    ),
    kept AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN {quality_logit_sql()} >= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keep
        FROM f GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
               CAST(SUM(n_keep) AS BIGINT) AS total_keep
        FROM kept
    )
    SELECT source, n_docs, n_keep,
           {e4_sql('CAST(n_keep AS DOUBLE) / total_keep')} AS weight_e4,
           {e4_sql('(CAST(n_keep AS DOUBLE) / total_keep)'
                   ' / (CAST(n_docs AS DOUBLE) / total_docs)')} AS resample_factor_e4
    FROM kept, tot
    ORDER BY source
    """,
    doc="Quality-weighted domain reweighting (the mixture-rebalancing "
    "step of a training run, DoReMi-flavored but deterministic): each "
    "source's new sampling weight is its share of QUALITY-SURVIVING "
    "documents (the fixed-weight classifier's keep set), and "
    "resample_factor = new weight / natural count share tells the "
    "sampler how far to up/down-sample each domain. Two exact integer "
    "ratios per source, emitted as e4 basis points — at 100 TB this is "
    "one pass over per-doc features plus a sources-sized aggregate.",
)
def domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_logit

    docs = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    kept = (
        docs.select(
            "source", (quality_logit(toks) >= F.lit(0.0)).cast("long").alias("keep")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("keep").alias("n_keep"))
    )
    # totals as an unpartitioned window over the SOURCES-sized
    # aggregate (bounded domain count — never data-scaled), not a
    # 1-row cross join: keeps the no-BNLJ plan gate strict
    wall = Window.partitionBy()
    tot = kept.withColumn("total_docs", F.sum("n_docs").over(wall)).withColumn(
        "total_keep", F.sum("n_keep").over(wall)
    )
    return (
        tot
        .select(
            "source",
            "n_docs",
            "n_keep",
            e4(F.col("n_keep").cast("double") / F.col("total_keep")).alias(
                "weight_e4"
            ),
            e4(
                (F.col("n_keep").cast("double") / F.col("total_keep"))
                / (F.col("n_docs").cast("double") / F.col("total_docs"))
            ).alias("resample_factor_e4"),
        )
        .orderBy("source")
    )


@register(
    "drift_psi",
    f"""
    WITH snap AS (
        SELECT source, doc_id % 2 AS snap,
               LEAST(n_chars // 200, 9) AS bin
        FROM documents
    ),
    cells AS (
        SELECT source, bin,
               CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
               CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        FROM snap GROUP BY source, bin
    ),
    tot AS (
        SELECT source,
               CAST(SUM(n_old) AS BIGINT) AS tot_old,
               CAST(SUM(n_new) AS BIGINT) AS tot_new,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM cells GROUP BY source
    ),
    terms AS (
        -- add-one smoothed shares so empty bins stay finite; each
        -- PSI term quantized to integer micro-units BEFORE the sum
        -- (bigint sums are exact and order-independent)
        SELECT c.source,
               {quantized_sql(
                   '((c.n_new + 1.0) / (t.tot_new + t.n_bins)'
                   ' - (c.n_old + 1.0) / (t.tot_old + t.n_bins))'
                   ' * ln(((c.n_new + 1.0) / (t.tot_new + t.n_bins))'
                   '      / ((c.n_old + 1.0) / (t.tot_old + t.n_bins)))', 6)}
                   AS term_e6
        FROM cells c JOIN tot t ON t.source = c.source
    )
    SELECT source, CAST(SUM(term_e6) AS BIGINT) AS psi_e6,
           CASE WHEN SUM(term_e6) >= 250000 THEN 'shifted'
                WHEN SUM(term_e6) >= 100000 THEN 'drifting'
                ELSE 'stable' END AS verdict
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    doc="Dataset drift monitor: per-source Population Stability Index "
    "between two corpus snapshots (doc_id parity stands in for "
    "yesterday/today) over banded document-length distributions, with "
    "add-one smoothing so sparse bins stay finite and the standard "
    "0.10/0.25 alert thresholds. Each PSI term is quantized to integer "
    "micro-units BEFORE summation (order-independent, engine-exact) — "
    "the continuous-ingestion health check that catches a source "
    "changing shape before it poisons the training mixture. At 100 TB "
    "this is one pass to banded counts plus a sources*bins-sized "
    "aggregate.",
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantize import quantized

    docs = load_table(spark, sf_dir, "documents")
    snap = docs.select(
        "source",
        (F.col("doc_id") % 2).alias("snap"),
        F.least(F.col("n_chars") / F.lit(200), F.lit(9))
        .cast("long")
        .alias("bin"),
    )
    cells = snap.groupBy("source", "bin").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).alias("n_new"),
    )
    w = Window.partitionBy("source")
    tot = (
        cells.withColumn("tot_old", F.sum("n_old").over(w))
        .withColumn("tot_new", F.sum("n_new").over(w))
        .withColumn("n_bins", F.count("*").over(w))
    )
    p_new = (F.col("n_new") + 1.0) / (F.col("tot_new") + F.col("n_bins"))
    p_old = (F.col("n_old") + 1.0) / (F.col("tot_old") + F.col("n_bins"))
    terms = tot.select(
        "source",
        quantized((p_new - p_old) * F.log(p_new / p_old), 6).alias("term_e6"),
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("term_e6").cast("long").alias("psi_e6"))
        .select(
            "source",
            "psi_e6",
            F.when(F.col("psi_e6") >= 250000, "shifted")
            .when(F.col("psi_e6") >= 100000, "drifting")
            .otherwise("stable")
            .alias("verdict"),
        )
        .orderBy("source")
    )


# --- DSIR importance resampling (operators/dsir.py) -----------------

_DSIR_PRED = "lang = 'en'"
_DSIR_B = 64

# coalesce mirrors the engine (NULL text = one empty-token occurrence;
# no-op on the non-null fixture column)
_DSIR_UNIGRAM_FEATS = r"""
            SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS feat
            FROM documents
"""

# Xie et al. 2023's actual feature space: hashed unigram + adjacent
# bigram counts. Bigrams re-derive from the token array positionally
# (1-based t[i] || ' ' || t[i+1] over i in 1..len-1), mirroring the
# engine's zip_with of the two shifted slice views; a 1-token doc has
# no bigrams but keeps its unigram, so no document vanishes.
_DSIR_BIGRAM_FEATS = rf"""
            {_DSIR_UNIGRAM_FEATS}
            UNION ALL
            SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS feat
            FROM (
                SELECT doc_id, lang,
                       regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t
                FROM documents
            ), LATERAL (SELECT unnest(range(1, len(t))) AS i)
"""


def _dsir_model_cte(feats_sql: str) -> str:
    """The shared fit CTE over a ``(doc_id, lang, feat)`` feature
    stream: md5-bucket each feature, corpus totals, add-one-smoothed
    e4 log-ratio per occupied bucket."""
    return rf"""
    occ AS (
        SELECT doc_id, ({_DSIR_PRED}) AS is_tgt,
               (('0x' || substr(md5(feat), 1, 4))::INT % {_DSIR_B}) AS bucket
        FROM ({feats_sql})
    ),
    tot AS (
        SELECT COUNT(*) AS st,
               SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tt
        FROM occ
    ),
    model AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
               CAST(COUNT(*) AS BIGINT) AS n_source,
               {quantized_sql(
                   "ln(((SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) + 1.0)"
                   f" * (ANY_VALUE(st) + {float(_DSIR_B)}))"
                   " / ((COUNT(*) + 1.0)"
                   f" * (ANY_VALUE(tt) + {float(_DSIR_B)})))"
               )} AS logratio_e4
        FROM occ, tot
        GROUP BY bucket
    )
"""


def _dsir_scored_df(spark: SparkSession, sf_dir: str, ngrams: int) -> DataFrame:
    """Fit + score sharing ONE tokenize/hash pass: the occurrences
    table (the dominant corpus-scan cost) is built once and persisted,
    feeding both the model aggregate and the scoring join (the
    decontaminate multi-consumer bounded_persist convention)."""
    from ..operators.cache import bounded_persist
    from ..operators.dsir import dsir_bucket_model, dsir_occurrences, dsir_scores

    docs = _docs(spark, sf_dir)
    occ = bounded_persist(
        dsir_occurrences(
            docs, F.col("lang") == "en", n_buckets=_DSIR_B, ngrams=ngrams
        )
    )
    model = dsir_bucket_model(docs, F.col("lang") == "en", n_buckets=_DSIR_B, occ=occ)
    return dsir_scores(docs, model, n_buckets=_DSIR_B, occ=occ)


_DSIR_GUMBEL_SQL = quantized_sql(
    "-ln(-ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)"
    " + 1.0) / 4294967297.0))"
)


def _dsir_oracle(ngrams: int, kind: str) -> str:
    """DuckDB twin of one DSIR query over hashed unigram (``ngrams=1``)
    or unigram + bigram (``ngrams=2``) features: the bucket
    ``"model"``, the per-doc ``"scores"`` or the Gumbel-top-k
    ``"resample"``."""
    feats = _DSIR_BIGRAM_FEATS if ngrams == 2 else _DSIR_UNIGRAM_FEATS
    if kind == "model":
        return f"""
    WITH {_dsir_model_cte(feats)}
    SELECT bucket, n_target, n_source, logratio_e4
    FROM model ORDER BY bucket
    """
    scored = f"""
    WITH {_dsir_model_cte(feats)},
    scores AS (
        SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(m.logratio_e4) AS BIGINT) AS score_e4
        FROM occ o JOIN model m USING (bucket)
        GROUP BY o.doc_id
    ),
    -- left join from the id set mirrors the engine's every-doc
    -- contract (no-op on this fixture: every doc tokenizes)
    alldocs AS (
        SELECT d.doc_id,
               COALESCE(s.n_tokens, 0) AS n_tokens,
               COALESCE(s.score_e4, 0) AS score_e4
        FROM documents d LEFT JOIN scores s USING (doc_id)
    )"""
    if kind == "scores":
        return scored + """
    SELECT doc_id, n_tokens, score_e4 FROM alldocs ORDER BY doc_id
    """
    return scored + f"""
    SELECT doc_id, n_tokens, score_e4,
           CAST(score_e4 + {_DSIR_GUMBEL_SQL} AS BIGINT) AS sample_key_e4
    FROM alldocs
    ORDER BY sample_key_e4 DESC, doc_id
    LIMIT 100
    """


def _dsir_family(
    ngrams: int, model_doc: str, scores_doc: str, resample_doc: str = ""
) -> None:
    """Register the DSIR bucket-model and importance-score queries over
    hashed ``ngrams``-gram features (1: unigrams; 2: unigrams + bigrams,
    names suffixed ``_bigram``), and the Gumbel-top-k resample when
    ``resample_doc`` is given."""
    from ..operators.dsir import dsir_bucket_model, dsir_resample

    sfx = "_bigram" if ngrams == 2 else ""

    def model(spark: SparkSession, sf_dir: str) -> DataFrame:
        return dsir_bucket_model(
            _docs(spark, sf_dir),
            F.col("lang") == "en",
            n_buckets=_DSIR_B,
            ngrams=ngrams,
        ).orderBy("bucket")

    def scores(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _dsir_scored_df(spark, sf_dir, ngrams).orderBy("doc_id")

    def resample(spark: SparkSession, sf_dir: str) -> DataFrame:
        return dsir_resample(_dsir_scored_df(spark, sf_dir, ngrams), k=100)

    members = [
        ("dsir_bucket_model", "model", model, model_doc),
        ("dsir_importance_scores", "scores", scores, scores_doc),
    ]
    if resample_doc:
        members.append(("dsir_resample_topk", "resample", resample, resample_doc))
    for name, kind, fn, doc in members:
        register(name + sfx, _dsir_oracle(ngrams, kind), doc=doc)(fn)


_dsir_family(
    1,
    model_doc="DSIR importance model (Xie et al. 2023, hashed-unigram "
    "variant): token occurrences hash into 64 md5-domain buckets; "
    "per-bucket add-one-smoothed log-ratio of the TARGET distribution "
    "(lang='en' docs) over the full SOURCE corpus, e4-quantized ONCE "
    "so downstream document scores are exact integer sums (ln is the "
    "only transcendental — the BM25/tf-idf oracle precedent). The "
    "model is n_buckets rows BY CONSTRUCTION regardless of corpus "
    "size — the 100 TB fit is one partial-agg'd groupBy plus a "
    "64-row broadcast.",
    scores_doc="Per-document DSIR importance score: exact integer sum of the "
    "64-bucket model's e4 log-ratios over the doc's token occurrences "
    "— positive means 'looks more like the target domain than the "
    "corpus average'. Plan: ONE tokenize+hash pass persisted and "
    "shared between fit and scoring (the dominant corpus-scan cost — "
    "decontaminate's multi-consumer convention) -> explicit "
    "F.broadcast join against the 64-row model (bounded by "
    "construction — the decontaminate fixed-bitmap precedent) -> one "
    "groupBy(doc_id) integer sum; a left join from the id set pins "
    "the every-doc contract, and buckets unseen by the fit corpus "
    "score the model's smoothed default instead of silently dropping "
    "(cross-corpus scoring). Order-independent and overflow-safe: "
    "the summands are e4 BIGINTs, never doubles.",
    resample_doc="DSIR Gumbel-top-k importance RESAMPLE — the selection DSIR "
    "actually ships (resampling under the tilted distribution, not a "
    "mode-collapsed plain top-k): sample key = score_e4 + e4(Gumbel) "
    "with the Gumbel draw derived deterministically from md5(doc_id) "
    "(u in (0,1) from the first 8 hex chars, g = -ln(-ln u)) so the "
    "'random' sample is reproducible in the oracle. Noise and score "
    "share the e4-nat scale, the Gumbel-max trick's requirement. "
    "orderBy+limit plans as TakeOrdered: per-partition heaps, never "
    "a full sort — top-k of 10B docs is safe.",
)

_dsir_family(
    2,
    model_doc="DSIR importance model over the paper's FULL feature space — "
    "hashed unigrams + adjacent bigrams (ngrams=2; Xie et al. 2023 "
    "§3: bigram features are what make the importance model sensitive "
    "to domain phrasing, not just vocabulary). The unigram-only "
    "dsir_bucket_model is retained as the differential twin. Plan "
    "cost over the twin: ONE extra per-row array transform (zip_with "
    "of two shifted slices) before the same single explode — a doc "
    "with n tokens emits 2n-1 occurrences, still shuffle-free into "
    "the same 64-row groupBy; the oracle re-derives bigrams "
    "positionally from the token array.",
    scores_doc="Per-document DSIR score under the unigram+bigram feature "
    "space (the paper's production configuration; "
    "dsir_importance_scores is the unigram differential twin). "
    "n_tokens counts FEATURE occurrences — 2n-1 for an n-token doc. "
    "Same exactness contract: integer sums of the model's e4 bucket "
    "log-ratios, one shared tokenize+hash pass persisted across fit "
    "and scoring, 64-row broadcast model join, every-doc left-join "
    "pin.",
)



# --- hashed bigram LM perplexity (operators/ngram_lm.py) -------------
#
# CCNet's quality tier beside DSIR's selection tier: fit an add-one-
# smoothed hashed-bigram LM on the TARGET subset (lang='en'), score
# EVERY document with the exact integer sum of its events' e4
# log-probs. Cross-corpus by construction — non-en docs hit unseen
# pairs/contexts and take the smoothed floors, so both default paths
# are exercised by the fixture.

from ..operators.ngram_lm import global_floor_e4 as _lm_floor  # noqa: E402

_LM_B1, _LM_B12 = 64, 1024

# --- the CCNet composition: line dedup -> LM scoring -> per-lang ----

from .queries_text import _LINE_CTE as _CC_LINE_CTE  # noqa: E402
from .queries_text import _lined_docs as _cc_lined_docs  # noqa: E402

# --- per-language LM models (r11 — CCNet's actual construction) ------
#
# Wenzek et al. fit ONE LM PER LANGUAGE on that language's target
# corpus (Wikipedia-lang) and score each shard under its own model;
# the r10 global en-target model ranks non-en shards by "how en-like",
# not by fluency (VERDICT r10 gap #1). The recast: a fixed slice of
# sources (src0-src3) plays Wikipedia's role as the per-lang target —
# fit is keyed by lang on the target subset, scoring is cross-corpus
# (src4+ docs hit unseen pairs/contexts, exercising both smoothed
# floors within their own language's model). The global-model queries
# (key=()) are retained as differential twins.

_LM_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
_LM_TARGET_SQL = "source IN ('src0', 'src1', 'src2', 'src3')"


def _lm_models(docs: DataFrame, key: tuple[str, ...]) -> tuple[DataFrame, DataFrame]:
    """Fit the pair/ctx models: ONE model on the lang='en' target
    (``key=()``), or one per language (``key=("lang",)``) on the
    target-source slice (src0-src3 playing Wikipedia-lang). Bounded BY
    CONSTRUCTION at n_lang * 64 * 1024 and n_lang * 64 rows — languages
    are an enum, not data-sized, so both stay honest broadcasts."""
    from ..operators.ngram_lm import bigram_events, ngram_lm_fit

    target = (
        F.col("source").isin(*_LM_TARGET_SOURCES) if key else F.col("lang") == "en"
    )
    fit_ev = bigram_events(docs.filter(target), extra_cols=list(key)).select(
        *key, "b1", "b12"
    )
    return ngram_lm_fit(fit_ev, key_cols=key)


def _lm_means(docs: DataFrame, key: tuple[str, ...]) -> DataFrame:
    """``(doc_id, lang, mean_lp_e4)``: each doc's mean per-event LM
    log-prob under the ``key`` models, e4-quantized from the exact
    integer sums — the only double is one division of identical
    integers, then re-quantized, so ordering and ties are
    engine-identical."""
    from ..operators.ngram_lm import ngram_lm_scores

    pair_model, ctx_model = _lm_models(docs, key)
    scores = ngram_lm_scores(docs, pair_model, ctx_model, key_cols=key)
    return scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.coalesce(
            quantized(
                F.col("logprob_sum_e4").cast("double") / F.col("n_bigrams"),
                0,
            ),
            F.lit(0),
        ).alias("mean_lp_e4"),
    )


def _lm_events_sql(src: str, text_col: str) -> str:
    """Hashed bigram events ``(doc_id, lang, source, b1, b12)`` of
    ``text_col`` over the rows of ``src``."""
    return rf"""
        SELECT doc_id, lang, source,
               (('0x' || substr(md5(w1), 1, 4))::INT % {_LM_B1}) AS b1,
               (('0x' || substr(md5(w1 || ' ' || w2), 1, 4))::INT % {_LM_B12}) AS b12
        FROM (
            SELECT doc_id, lang, source, t[i] AS w1, t[i+1] AS w2
            FROM (
                SELECT doc_id, lang, source,
                       regexp_split_to_array(trim(coalesce({text_col}, '')), '\s+') AS t
                FROM {src}
            ), LATERAL (SELECT unnest(range(1, len(t))) AS i)
        )"""


def _lm_oracle(key: tuple[str, ...], kind: str) -> str:
    """DuckDB twin of one LM/CCNet query under the ``key`` models (see
    :func:`_lm_models`): the context ``"model"`` table, per-doc
    ``"perplexity"`` sums, the NTILE(3) ``"buckets"`` report, or the
    line dedup -> LM scoring ``"funnel"`` rollup per lang."""
    k = "".join(f"{c}, " for c in key)
    target = _LM_TARGET_SQL if key else "lang = 'en'"
    floor = quantized_sql(f"ln(1.0 / (c1 + {float(_LM_B12)}))")

    def scored(events: str) -> str:
        on = "".join(f"m.{c} = e.{c} AND " for c in key)
        on_ctx = "".join(f"c.{c} = e.{c} AND " for c in key)
        return f"""
        SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(COALESCE(m.lp_e4, c.floor_e4, {_lm_floor(_LM_B12)}))
                    AS BIGINT) AS logprob_sum_e4
        FROM {events} e
        LEFT JOIN model m ON {on}m.b1 = e.b1 AND m.b12 = e.b12
        LEFT JOIN ctxd c ON {on_ctx}c.b1 = e.b1
        GROUP BY e.doc_id"""

    ctes = f"""
    ev AS ({_lm_events_sql("documents", "text")}
    ),
    fit AS (SELECT {k}b1, b12 FROM ev WHERE {target}),
    ctx AS (SELECT {k}b1, COUNT(*) AS c1 FROM fit GROUP BY {k}b1),
    pairs AS (SELECT {k}b1, b12, COUNT(*) AS c12 FROM fit GROUP BY {k}b1, b12),
    model AS (
        SELECT {k}b1, b12,
               {quantized_sql(f'ln((c12 + 1.0) / (c1 + {float(_LM_B12)}))')} AS lp_e4
        FROM pairs JOIN ctx USING ({k}b1)
    ),
    ctxd AS (SELECT {k}b1, {floor} AS floor_e4 FROM ctx),
    scored AS ({scored("ev")}
    )"""
    if kind == "model":
        return f"""
    WITH {ctes}
    SELECT {k}b1, CAST(c1 AS BIGINT) AS c1, {floor} AS floor_e4
    FROM ctx ORDER BY {k}b1
    """
    if kind == "perplexity":
        return f"""
    WITH {ctes}
    SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.logprob_sum_e4, 0) AS logprob_sum_e4
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
    """
    if kind == "buckets":
        return f"""
    WITH {ctes},
    means AS (
        SELECT d.doc_id, d.lang,
               COALESCE({quantized_sql(
                   'CAST(s.logprob_sum_e4 AS DOUBLE) / s.n_bigrams', 0
               )}, 0) AS mean_lp_e4
        FROM documents d LEFT JOIN scored s USING (doc_id)
    ),
    tiled AS (
        SELECT lang, mean_lp_e4,
               NTILE(3) OVER (
                   PARTITION BY lang ORDER BY mean_lp_e4 DESC, doc_id
               ) AS bucket
        FROM means
    )
    SELECT lang, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(mean_lp_e4) AS BIGINT) AS best_mean_lp_e4,
           CAST(MIN(mean_lp_e4) AS BIGINT) AS worst_mean_lp_e4
    FROM tiled GROUP BY lang, bucket ORDER BY lang, bucket
    """
    # kept lines take their doc's lang (and source) from the document table
    return f"""
    WITH {_CC_LINE_CTE},
    heavy AS (
        SELECT seg FROM lseg GROUP BY seg HAVING COUNT(*) >= 3
    ),
    kept AS (
        SELECT s.doc_id, s.seg_id, s.seg
        FROM lseg s LEFT JOIN heavy h ON s.seg = h.seg
        WHERE h.seg IS NULL
    ),{ctes},
    kev AS ({_lm_events_sql("kept JOIN documents USING (doc_id)", "seg")}
    ),
    lm AS ({scored("kev")}
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lseg GROUP BY doc_id),
    keptn AS (SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(t.n_lines - COALESCE(k.n_kept, 0)) AS BIGINT) AS n_lines_removed,
           CAST(SUM(COALESCE(l.n_bigrams, 0)) AS BIGINT) AS n_bigrams,
           CAST(SUM(COALESCE(l.logprob_sum_e4, 0)) AS BIGINT) AS logprob_sum_e4
    FROM documents d
    JOIN tot t USING (doc_id)
    LEFT JOIN keptn k USING (doc_id)
    LEFT JOIN lm l USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """


def _lm_family(
    key: tuple[str, ...],
    model_doc: str,
    perplexity_doc: str,
    buckets_doc: str,
    funnel_doc: str,
) -> None:
    """Register the LM context-model, perplexity, CCNet ppl-bucket and
    CCNet funnel queries under the global en-target model (``key=()``)
    or the per-language models (``key=("lang",)``, names marked
    ``perlang``)."""
    from ..operators.ngram_lm import bigram_events, ngram_lm_scores

    def model(spark: SparkSession, sf_dir: str) -> DataFrame:
        _, ctx_model = _lm_models(_docs(spark, sf_dir), key)
        return ctx_model.orderBy(*key, "b1")

    def perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        pair_model, ctx_model = _lm_models(docs, key)
        return ngram_lm_scores(docs, pair_model, ctx_model, key_cols=key).orderBy(
            "doc_id"
        )

    def buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
        tiled = _lm_means(_docs(spark, sf_dir), key).withColumn(
            "bucket",
            F.ntile(3).over(
                Window.partitionBy("lang").orderBy(
                    F.desc("mean_lp_e4"), F.asc("doc_id")
                )
            ),
        )
        return (
            tiled.groupBy("lang", "bucket")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.max("mean_lp_e4").cast("bigint").alias("best_mean_lp_e4"),
                F.min("mean_lp_e4").cast("bigint").alias("worst_mean_lp_e4"),
            )
            .select(
                "lang",
                F.col("bucket").cast("int").alias("bucket"),
                "n_docs",
                "best_mean_lp_e4",
                "worst_mean_lp_e4",
            )
            .orderBy("lang", "bucket")
        )

    def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.boilerplate import (
            _with_hashes,
            doc_segments,
            heavy_segment_hashes,
        )
        from ..operators.cache import bounded_persist

        docs = _docs(spark, sf_dir)
        segs = bounded_persist(
            _with_hashes(doc_segments(_cc_lined_docs(docs), unit="line"))
        )
        heavy = heavy_segment_hashes(segs, min_df=3)
        kept = segs.join(heavy, ["__h", "__h2"], "left_anti")

        pair_model, ctx_model = _lm_models(docs, key)
        floor = F.lit(_lm_floor(_LM_B12)).cast("bigint")
        kept_text = kept.select("doc_id", "seg")
        if key:
            kept_text = kept_text.join(docs.select("doc_id", *key), "doc_id")
        per_doc_lm = (
            bigram_events(kept_text, text_col="seg", extra_cols=list(key))
            .join(
                F.broadcast(pair_model.select(*key, "b1", "b12", "lp_e4")),
                [*key, "b1", "b12"],
                "left",
            )
            .join(
                F.broadcast(ctx_model.select(*key, "b1", "floor_e4")),
                [*key, "b1"],
                "left",
            )
            .select("doc_id", F.coalesce("lp_e4", "floor_e4", floor).alias("__lp"))
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_bigrams"),
                F.sum("__lp").alias("lp"),
            )
        )
        totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
        keptn = kept.groupBy("doc_id").agg(F.count("*").alias("n_kept"))
        return (
            docs.select("doc_id", "lang")
            .join(totals, "doc_id")
            .join(keptn, "doc_id", "left")
            .join(per_doc_lm, "doc_id", "left")
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_lines").cast("bigint").alias("n_lines"),
                F.sum(
                    F.col("n_lines") - F.coalesce("n_kept", F.lit(0))
                ).cast("bigint").alias("n_lines_removed"),
                F.sum(F.coalesce("n_bigrams", F.lit(0)))
                .cast("bigint")
                .alias("n_bigrams"),
                F.sum(F.coalesce("lp", F.lit(0)))
                .cast("bigint")
                .alias("logprob_sum_e4"),
            )
            .orderBy("lang")
        )

    names = (
        ("ngram_lm_perlang_model", "ngram_lm_perplexity_perlang",
         "ccnet_ppl_buckets_perlang", "ccnet_funnel_perlang")
        if key
        else ("ngram_lm_ctx_model", "ngram_lm_perplexity", "ccnet_ppl_buckets",
              "ccnet_funnel")
    )
    for name, kind, fn, doc in zip(
        names,
        ("model", "perplexity", "buckets", "funnel"),
        (model, perplexity, buckets, funnel),
        (model_doc, perplexity_doc, buckets_doc, funnel_doc),
    ):
        register(name, _lm_oracle(key, kind), doc=doc)(fn)


_lm_family(
    (),
    model_doc="Context table of the hashed bigram LM (CCNet's quality-tier "
    "model, operators/ngram_lm.py): per md5-domain context bucket, "
    "the fit-corpus event total and the smoothed unseen-pair floor "
    "ln(1/(c1+B12)). At most ctx_buckets=64 rows BY CONSTRUCTION at "
    "any corpus size — with the 65,536-row-bounded pair table these "
    "are the honest broadcasts the scoring join rides.",
    perplexity_doc="Hashed bigram LM document scoring — CCNet's (Wenzek et al. "
    "2020) perplexity quality gate recast oracle-exact: add-one-"
    "smoothed P(pair bucket | context bucket) fitted on the lang='en' "
    "target subset, every document scored with the EXACT INTEGER sum "
    "of its adjacent-pair e4 log-probs (more negative = less "
    "target-like; production keeps the low-perplexity head). Distinct "
    "from dsir_importance_scores by contract: DSIR ranks by the "
    "target/source RATIO (domain selection), this by absolute "
    "likelihood under one target model (fluency gating) — adjacent "
    "stages in a real crawl pipeline. Unseen pairs under a seen "
    "context take the context's smoothed floor, unseen contexts the "
    "global ln(1/B12) floor — both paths exercised by the non-en "
    "fixture docs. Plan: the event stream is the DSIR zip_with bigram "
    "construction (per-row, one explode, shuffle-free); the model is "
    "bounded at 64*1024 rows BY CONSTRUCTION and rides explicit "
    "broadcasts; per-doc scoring is one groupBy integer sum — "
    "order-independent at any parallelism.",
    buckets_doc="TWIN — at scale use ccnet_ppl_buckets_approx (approx-quantile "
    "thresholds + codegen filter; this exact NTILE form is the "
    "oracle-checked reference semantics, its sort per-lang over "
    "NARROW (lang, mean, id) rows). CCNet's head/middle/tail "
    "selection — the mechanism the paper is known for: per language "
    "shard, documents rank by mean per-event LM log-prob "
    "(e4-quantized from the exact integer sums — the only double is "
    "one division of identical integers, then re-quantized, so "
    "ordering and ties are engine-identical with doc_id as the "
    "deterministic tiebreak) and NTILE(3) splits the shard into head "
    "(bucket 1, most target-like), middle, tail; the report carries "
    "each bucket's size and boundary means — the thresholds a "
    "production run would publish. ccnet_ppl_buckets_perlang is the "
    "same mechanism under the per-language models.",
    funnel_doc="The CCNet pipeline composition in ONE plan (Wenzek et al. "
    "2020 stage order): per-language shard rollup of LINE dedup "
    "followed by LM quality scoring — every heavy line (min_df=3 on "
    "the multi-line corpus) drops whole, the KEPT lines' adjacent "
    "pairs are scored under the bigram LM fitted on the RAW en "
    "target docs, and the funnel reports per lang: docs, total/"
    "removed lines, scored events and the exact integer logprob sum. "
    "Cross-corpus by construction — non-en shards score through the "
    "smoothed floors. Plan: one segmentation pass feeds the "
    "frequency groupBy, the anti-join AND the reassembly stats "
    "(bounded_persist); LM events explode per kept line (per-row, "
    "shuffle-free); the model rides the same two bounded broadcasts; "
    "everything rolls up through two narrow groupBys (doc, then "
    "lang). The composition is the production argument for stage "
    "ordering: scoring BEFORE line dedup would let boilerplate "
    "n-grams dominate the perplexity head.",
)

_lm_family(
    ("lang",),
    model_doc="Per-LANGUAGE context tables of the hashed bigram LM — CCNet's "
    "actual construction (one LM per language, fit on that language's "
    "own target corpus; the src0-src3 slice plays Wikipedia-lang): per "
    "(lang, context bucket), the fit-corpus event total and the "
    "smoothed unseen-pair floor. At most n_lang*64 rows BY "
    "CONSTRUCTION — the language set is an enum, not data-sized, so "
    "the per-lang models stay honest broadcasts at any corpus size "
    "(with the n_lang*65,536-bounded pair tables).",
    perplexity_doc="Per-language LM document scoring — closes the CCNet-mechanism "
    "gap of the global twin (ngram_lm_perplexity, which fits ONE "
    "en-target model and ranks non-en shards by how en-like they "
    "read): every document scores under the model of its OWN "
    "language, fit on that language's target slice (src0-src3 = "
    "Wikipedia-lang), so each shard ranks by fluency under its own "
    "target. Cross-corpus within each language — src4+ docs hit "
    "unseen pairs/contexts and take that language's smoothed floors. "
    "Same exactness contract: integer sums of e4 log-probs, every-doc "
    "left-join pin. Plan: one zip_with event pass per side; the model "
    "joins gain lang as a key but stay bounded broadcasts "
    "(n_lang*65,536 rows); scoring is one groupBy integer sum.",
    buckets_doc="CCNet's head/middle/tail selection under the PER-LANGUAGE "
    "models — the paper's full mechanism (one LM per lang, each shard "
    "bucketed by perplexity under its OWN target): per language, "
    "documents rank by mean per-event e4 log-prob under their own "
    "lang's model and NTILE(3) splits the shard into head/middle/"
    "tail with bucket sizes and boundary means. The global-model "
    "ccnet_ppl_buckets is the differential twin (its ranking reads "
    "'how en-like'); ccnet_ppl_buckets_approx demonstrates the "
    "at-scale threshold route, which keys by lang identically. The "
    "exact NTILE sort here is per-lang over NARROW (lang, mean, id) "
    "rows — the oracle-checked reference semantics.",
    funnel_doc="The CCNet composition under the PER-LANGUAGE models — the "
    "paper's full pipeline (line dedup, then each language shard "
    "scored by the LM fit on ITS OWN target): heavy lines (min_df=3) "
    "drop whole, kept lines' adjacent pairs score under the doc's own "
    "lang model (fit on the raw src0-src3 target slice per lang), "
    "rollup per lang reports docs, total/removed lines, scored events "
    "and the exact integer logprob sum. ccnet_funnel (global en "
    "model) is the differential twin. Plan: one segmentation pass via "
    "bounded_persist feeds frequency, anti-join and stats; lang rides "
    "an equi-join from the document table onto kept lines (AQE-sided, "
    "at scale the lang column travels ON the document row so the join "
    "vanishes); the per-lang models stay bounded broadcasts; two "
    "narrow groupBys (doc, then lang).",
)


@register(
    "ccnet_ppl_buckets_approx",
    f"""
    WITH n AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang_docs
        FROM documents GROUP BY lang
    )
    SELECT lang, bucket, n_lang_docs, TRUE AS mass_within_rank_tol
    FROM n, UNNEST([1, 2, 3]) AS t(bucket)
    ORDER BY lang, bucket
    """,
    doc="The ccnet_ppl_buckets AT-SCALE regime, certified — the "
    "production path its twin's docstring promised: per-lang tercile "
    "THRESHOLDS from approx_percentile (Greenwald-Khanna sketch, "
    "mergeable map-side, one pass — no per-lang global sort) and a "
    "whole-stage-codegen'd CASE classifies every document against its "
    "language's broadcast thresholds (an n_lang-row table). Certified "
    "the approx_quantile_check way: never hash sketch-dependent "
    "values — the oracle pins the (lang, bucket) domain, each "
    "language's EXACT doc total, and a rank-mass certificate in exact "
    "integer arithmetic (|3*n_bucket - n| within 5% of n with a "
    "2-doc slack for boundary ties — threshold classification puts "
    "all tied docs on one side where NTILE splits them; the sketch's "
    "own rank error at the default accuracy is 1e-4, noise beside "
    "the tie term). Any broken sketch, threshold or classification "
    "turns a verdict false and hash-fails.",
)
def ccnet_ppl_buckets_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    means = _lm_means(_docs(spark, sf_dir), ())
    # per-lang tercile cuts in ONE sketch pass; the result is an
    # n_lang-row table — an honest broadcast. Ascending quantiles at
    # 2/3 and 1/3 are the DESC-rank boundaries head|middle and
    # middle|tail.

    thr = means.groupBy("lang").agg(
        F.percentile_approx(
            "mean_lp_e4", [2.0 / 3.0, 1.0 / 3.0], 10000
        ).alias("__t")
    )
    classified = means.join(F.broadcast(thr), "lang").select(
        "lang",
        F.when(F.col("mean_lp_e4") >= F.col("__t")[0], F.lit(1))
        .when(F.col("mean_lp_e4") >= F.col("__t")[1], F.lit(2))
        .otherwise(F.lit(3))
        .alias("bucket"),
    )
    per_bucket = classified.groupBy("lang", "bucket").agg(
        F.count("*").alias("__n_b")
    )
    totals = Window.partitionBy("lang")  # 15-row table — bounded window
    return (
        per_bucket.withColumn(
            "n_lang_docs", F.sum("__n_b").over(totals).cast("bigint")
        )
        .select(
            "lang",
            F.col("bucket").cast("int").alias("bucket"),
            "n_lang_docs",
            (
                F.abs(F.col("__n_b") * 3 - F.col("n_lang_docs")) * 20
                <= F.col("n_lang_docs") * 3 + 120
            ).alias("mass_within_rank_tol"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "leakage_split_manifest",
    f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_ORACLE.strip()},
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
    labels AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    lab AS (
        SELECT d.doc_id, d.lang,
               CASE WHEN CAST(('0x' || substr(md5(CAST(
                          COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(
                          COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d LEFT JOIN labels l USING (doc_id)
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS membership_md5
    FROM lab
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    doc="The leakage-safe split's PER-DOC FACE — the artifact a "
    "training pipeline actually consumes (leakage_safe_split, its "
    "one-row report twin, proves safe_straddling=0 but never emits "
    "the assignment): every document labeled with the md5-bucket "
    "split of its near-dup CLUSTER representative (3-gram Jaccard>="
    "0.5 pairs -> connected components; singletons key on their own "
    "id), rolled to (split, lang, n_docs, membership_md5) rows with "
    "the train_val_test_split digest shape — an order-canonical "
    "membership digest per cell, so ONE swapped assignment "
    "hash-fails, and the digests differ from the naive doc-keyed "
    "split's exactly on straddling clusters (pinned by pytest). "
    "Assignment is a pure function of stable ids: appending documents "
    "that don't bridge existing clusters never reassigns an existing "
    "doc (append-stability pinned by pytest; a bridging doc merges "
    "two clusters and re-keys the merged one to its min member — the "
    "correct behavior, those docs ARE now mutual leaks). The CLI "
    "export-splits face writes the per-doc rows as split-partitioned "
    "parquet plus this manifest. Plan: CC on banded candidate pairs "
    "only; the rollup is one groupBy; the digest is per-(split,lang) "
    "cell, never a global collect.",
)
def leakage_split_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    lab = leakage_safe_assignment(docs)
    return (
        lab.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("membership_md5"),
        )
        .orderBy("split", "lang")
    )


def leakage_safe_assignment(docs: DataFrame) -> DataFrame:
    """(doc_id, split) under the dedup-aware policy: each doc inherits
    the md5-bucket split of its near-dup cluster representative (min
    member id); singletons skip the CC via the left-join coalesce to
    their own id. Shared by leakage_split_manifest, the CLI
    export-splits sink, and the append-stability pytest."""
    from ..operators.dedup import connected_components

    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5,
        max_doc_freq=relative_doc_freq_cap_expr(docs),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        docs.select("doc_id")
        .join(
            cc.select(F.col("id").alias("doc_id"), "cluster_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            split_assign(
                F.coalesce("cluster_id", "doc_id")
            ).alias("split"),
        )
    )


@register(
    "shard_shuffle_manifest",
    """
    WITH assigned AS (
        SELECT doc_id, n_chars,
               md5(CAST(doc_id AS VARCHAR) || ':0') AS k
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, n_chars, k,
               CAST(('0x' || substr(k, 1, 8)) AS BIGINT) % 8 AS shard
        FROM assigned
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY k, doc_id))
               AS order_md5
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
    doc="Seeded deterministic global shuffle into training shards — "
    "the last step of every curation pipeline (a trainer must not see "
    "source-sorted batches; the order must replay bit-identically "
    "across reruns and cluster sizes). Shard membership AND in-shard "
    "order derive from md5('<doc_id>:<seed>') (sources/shard_export."
    "shuffle_key): pure function of (id, seed), so epoch 2 is seed+1 "
    "and no RNG state exists to checkpoint. The oracle certifies "
    "per-shard counts and an ORDER-canonical digest (ids concatenated "
    "in shuffle order, ties by id) — one transposed row hash-fails. "
    "At scale the sink face (export_shuffled, CLI export-shuffled) is "
    "one repartition(n, shard) + sortWithinPartitions: no global sort "
    "barrier, each shard lands as one file whose row order is the "
    "certified order. This report face's per-shard collect_list is "
    "corpus-sized only at report SF; the production digest streams "
    "per-shard during the write task.",
)
def shard_shuffle_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.shard_export import SHARD_COL, SHUFFLE_KEY_COL, assign_shuffled

    docs = _docs(spark, sf_dir)
    assigned = assign_shuffled(docs.select("doc_id", "n_chars"), "doc_id", 8, seed=0)
    return (
        assigned.groupBy(F.col(SHARD_COL).alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(SHUFFLE_KEY_COL, "doc_id"))
                        ),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                )
            ).alias("order_md5"),
        )
        .orderBy("shard")
    )
