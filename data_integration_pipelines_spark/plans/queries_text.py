"""Training-data text-curation queries over the ``documents`` table:
quality scoring, language-ID heuristic, fingerprinting, exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash.

These extend the reference's per-row validation pattern (quality
columns per document — cf. the trace/morphology check batteries,
SURVEY §2.9) to web-scale corpus curation. All Spark expressions are
built-ins; the md5-hex hash domain makes every sketch reproducible in
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import (
    STOPWORDS,
    avg_token_len,
    bpe_token_count,
    fingerprint,
    punct_ratio,
    stopword_ratio,
    ws_tokens,
)
from ..operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_bucket_pairs,
    simhash_hamming_pairs,
)
from .base import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


from ..functions.text import SW_SQL as _SW_SQL  # noqa: E402
from ..functions.text import quality_features_sql, quality_logit_sql  # noqa: E402
from ..functions.quantize import e4, e4_sql  # noqa: E402


@register(
    "text_quality",
    f"""
    WITH t AS (
        SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
           {e4_sql('''(length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g'))) / length(text)''')} AS punct_ratio_e4,
           {e4_sql(f'len(list_filter(toks, x -> x IN ({_SW_SQL}))) / len(toks)')} AS stopword_ratio_e4,
           {e4_sql('list_sum(list_transform(toks, x -> length(x))) / len(toks)')} AS avg_token_len_e4
    FROM t
    ORDER BY doc_id
    """,
    doc="Document quality scoring (length/punct/stopword ratios, token counts "
    "via whitespace + BPE-ish regex) — per-row check battery pattern of "
    "ref src/trace/validation/validation.py:208-376, vectorized as Columns. "
    "Ratios emit as basis-point BIGINTs (functions/quantize.py), not "
    "rounded doubles.",
    headline=True,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    toks = ws_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        e4(punct_ratio(F.col("text"))).alias("punct_ratio_e4"),
        e4(stopword_ratio(toks)).alias("stopword_ratio_e4"),
        e4(avg_token_len(toks)).alias("avg_token_len_e4"),
    ).orderBy("doc_id")


# Marker sets for the n-gram/stopword language-ID heuristic. The fixture
# corpus shares one synthetic vocabulary, so the profiles are drawn from
# it — the operator shape (per-profile hit scores + deterministic argmax)
# is what carries to real corpora.
_PROFILES = {
    "dataish": ("data", "table", "column", "row", "value"),
    "queryish": ("query", "join", "filter", "agg", "group"),
    "sparkish": ("spark", "batch", "stream", "window", "part"),
}


@register(
    "lang_id",
    """
    WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE doc_id < 200
    ), scored AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(toks, x -> x IN ('data','table','column','row','value'))) AS INT) AS s_dataish,
               CAST(len(list_filter(toks, x -> x IN ('query','join','filter','agg','group'))) AS INT) AS s_queryish,
               CAST(len(list_filter(toks, x -> x IN ('spark','batch','stream','window','part'))) AS INT) AS s_sparkish
        FROM t
    )
    SELECT doc_id, lang, s_dataish, s_queryish, s_sparkish,
           CASE WHEN s_dataish >= s_queryish AND s_dataish >= s_sparkish THEN 'dataish'
                WHEN s_queryish >= s_sparkish THEN 'queryish'
                ELSE 'sparkish' END AS predicted
    FROM scored
    ORDER BY doc_id
    """,
    doc="Language-ID heuristic: per-profile token-hit scores + deterministic "
    "argmax (alphabetical preference on ties) — the n-gram language "
    "classification stage of a curation pipeline.",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    toks = ws_tokens(F.col("text"))
    def hit_count(words: tuple[str, ...]):
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {name: hit_count(words) for name, words in _PROFILES.items()}
    scored = docs.select(
        "doc_id",
        "lang",
        *[c.alias(f"s_{name}") for name, c in scores.items()],
    )
    predicted = (
        F.when(
            (F.col("s_dataish") >= F.col("s_queryish"))
            & (F.col("s_dataish") >= F.col("s_sparkish")),
            "dataish",
        )
        .when(F.col("s_queryish") >= F.col("s_sparkish"), "queryish")
        .otherwise("sparkish")
    )
    return scored.withColumn("predicted", predicted).orderBy("doc_id")


@register(
    "exact_dedup",
    """
    WITH fp AS (
        SELECT doc_id, source,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dupes
    FROM fp
    GROUP BY source
    ORDER BY source
    """,
    doc="Exact deduplication by normalized-text md5 fingerprint (hash-groupBy; "
    "one shuffle on a uniform 32-hex key — skew-free at any scale).",
)
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select("source", fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            (F.count("*") - F.countDistinct("fp")).alias("n_dupes"),
        )
        .orderBy("source")
    )


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id
    """,
    doc="Deterministic per-document fingerprint column (rolling-hash stand-in).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


_JACCARD_ORACLE = f"""
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
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
    SELECT id_a, id_b,
           {e4_sql('n_common / (sa.sz + sb.sz - n_common)')} AS jaccard_e4
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8
    ORDER BY id_a, id_b
"""


@register(
    "ngram_jaccard_pairs",
    _JACCARD_ORACLE,
    doc="3-gram Jaccard near-duplicate pairs (threshold 0.8): distinct-shingle "
    "explode -> shingle equi-join -> |intersection| / |union|. At scale the "
    "shingle join is df-capped (max_doc_freq) + AQE skew-split; here the "
    "full join is exact and finds the generator's planted near-dup pairs. "
    "Jaccard emits as basis points (BIGINT), not a rounded double.",
    headline=True,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    return pairs.select(
        "id_a", "id_b", e4(F.col("jaccard")).alias("jaccard_e4")
    ).orderBy("id_a", "id_b")


def _minhash_oracle(num_hashes: int = 12, bands: int = 4) -> str:
    r = num_hashes // bands
    mins = ",\n               ".join(
        f"MIN(md5('{i}:' || s)) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n        UNION ALL\n".join(
        "        SELECT doc_id, {b} AS band, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
             LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


@register(
    "minhash_lsh_pairs",
    _minhash_oracle(12, 4),
    headline=True,
    doc="MinHash(12)+LSH(4 bands x 3 rows) candidate near-dup pairs: "
    "shingle -> per-hash-seed md5 min -> band hash -> bucket self-join. "
    "Never compares all N^2 docs — only bucket collisions join, which is "
    "what makes near-dedup tractable at 100 TB.",
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return minhash_lsh_candidates(
        docs, "text", "doc_id", n=3, num_hashes=12, bands=4
    ).orderBy("id_a", "id_b")


def _simhash_oracle(nbits: int = 16) -> str:
    high = "('8','9','a','b','c','d','e','f')"
    sums = ",\n               ".join(
        f"SUM(CASE WHEN substr(md5(tok), {i + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS v{i}"
        for i in range(nbits)
    )
    bits = " || ".join(f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(nbits))
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               {sums}
        FROM toks GROUP BY doc_id
    ),
    sk AS (SELECT doc_id, {bits} AS simhash FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
    FROM sk a JOIN sk b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


@register(
    "simhash_pairs",
    _simhash_oracle(16),
    doc="SimHash(16-bit) near-dup candidates: per-bit majority vote of token "
    "md5 nibble-high-bits, pairs sharing an identical sketch. One shuffle "
    "on the sketch; per-bucket self-joins are tiny.",
)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return simhash_bucket_pairs(docs, "text", "doc_id", nbits=16).orderBy("id_a", "id_b")


def _simhash_hamming_oracle(nbits: int = 16, max_hamming: int = 3) -> str:
    from ..operators.dedup import simhash_blocks

    high = "('8','9','a','b','c','d','e','f')"
    sums = ",\n               ".join(
        f"SUM(CASE WHEN substr(md5(tok), {i + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS v{i}"
        for i in range(nbits)
    )
    bits = " || ".join(f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(nbits))
    # MSB-first integer twin of the bit string (v0 = highest bit), so
    # exact Hamming is bit_count(xor(..)) on BIGINTs instead of a
    # 2x32-position list comprehension per candidate pair (~4x faster
    # oracle at sf0.01)
    sk_int = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << (nbits - 1 - i)} ELSE 0 END"
        for i in range(nbits)
    )
    probe_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, sk_int, {b} AS block,"
        f" substr(simhash, {start}, {length}) AS bits FROM sk"
        for b, (start, length) in enumerate(simhash_blocks(nbits, max_hamming + 1))
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               {sums}
        FROM toks GROUP BY doc_id
    ),
    sk AS MATERIALIZED (
        SELECT doc_id, {bits} AS simhash, CAST({sk_int} AS BIGINT) AS sk_int
        FROM votes
    ),
    probes AS (
{probe_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sk_int AS int_a, b.sk_int AS int_b
        FROM probes a JOIN probes b
          ON a.block = b.block AND a.bits = b.bits AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(int_a, int_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(int_a, int_b)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


@register(
    "simhash_hamming_pairs",
    _simhash_hamming_oracle(32, 3),
    doc="Hamming-tolerant SimHash near-dup pairs (Manku et al. WWW'07): "
    "32-bit sketches within Hamming distance 3 must agree exactly on one of "
    "4 contiguous bit blocks (pigeonhole), so candidates come from 4 bounded "
    "bucket self-joins; exact Hamming = bit_count(xor) verifies JVM-side.",
)
def simhash_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return simhash_hamming_pairs(
        docs, "text", "doc_id", nbits=32, max_hamming=3
    ).orderBy("id_a", "id_b")


# Char-trigram marker profiles (fixture corpus shares one vocabulary;
# the operator shape — char-level shingling + per-profile hit scores +
# deterministic argmax — is what carries to real corpora, where the
# profiles come from trained per-language frequency tables).
_CHAR_PROFILES = {
    "dataish": ("dat", "tab", "col", "row", "val"),
    "queryish": ("que", "joi", "fil", "agg", "gro"),
    "sparkish": ("spa", "bat", "str", "win", "par"),
}


def _char_profile_sql(name: str, tris: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{t}'" for t in tris)
    return (
        f"CAST(len(list_filter(tri, x -> x IN ({inlist}))) AS INT) AS s_{name}"
    )


@register(
    "char_ngram_lang_id",
    f"""
    WITH t AS (
        SELECT doc_id, lang,
               [substr(text, CAST(i AS INT), 3) FOR i IN range(1, length(text) - 1)] AS tri
        FROM documents WHERE doc_id < 200
    ),
    scored AS (
        SELECT doc_id, lang,
               {_char_profile_sql("dataish", _CHAR_PROFILES["dataish"])},
               {_char_profile_sql("queryish", _CHAR_PROFILES["queryish"])},
               {_char_profile_sql("sparkish", _CHAR_PROFILES["sparkish"])}
        FROM t
    )
    SELECT doc_id, lang, s_dataish, s_queryish, s_sparkish,
           CASE WHEN s_dataish >= s_queryish AND s_dataish >= s_sparkish THEN 'dataish'
                WHEN s_queryish >= s_sparkish THEN 'queryish'
                ELSE 'sparkish' END AS predicted
    FROM scored
    ORDER BY doc_id
    """,
    doc="Character-trigram language ID: char-level shingling (substring over "
    "a position sequence — no tokenizer dependency, robust to scripts "
    "without whitespace) + per-profile hit counts + deterministic argmax. "
    "Char n-grams are the standard langid features (cf. n-gram-based text "
    "categorization, Cavnar & Trenkle '94); all narrow JVM array ops.",
)
def char_ngram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    tri = F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(tri, lambda x: x.isin(*tris))).alias(f"s_{name}")
            for name, tris in _CHAR_PROFILES.items()
        ],
    )
    predicted = (
        F.when(
            (F.col("s_dataish") >= F.col("s_queryish"))
            & (F.col("s_dataish") >= F.col("s_sparkish")),
            "dataish",
        )
        .when(F.col("s_queryish") >= F.col("s_sparkish"), "queryish")
        .otherwise("sparkish")
    )
    from ..operators.cache import presented

    # presented(): shuffle-free trigram scoring — a bare orderBy runs
    # it twice via range-partition sampling (see operators/cache.py)
    return presented(scored.withColumn("predicted", predicted), "doc_id")


@register(
    "bm25_search",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
               len(regexp_split_to_array(trim(text), '\s+')) AS dl
        FROM documents
    ),
    n_avg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(len(regexp_split_to_array(trim(text), '\s+'))) / CAST(COUNT(*) AS DOUBLE) AS avgdl
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
    contrib AS (
        SELECT tf.doc_id,
               CAST(FLOOR(
                   ln(1.0 + (n_avg.n - df.df + 0.5) / (df.df + 0.5))
                   * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / n_avg.avgdl))))
                   * 1000000.0 + 0.5) AS BIGINT) AS c
        FROM tf JOIN df ON tf.tok = df.tok, n_avg
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM contrib
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 25
    """,
    doc="BM25 ranked retrieval (k1=1.2, b=0.75) for the query terms "
    "{window, hash, stream}: explode->tf, tiny per-term df table "
    "(query-derived, broadcastable), scalar avgdl, per-term "
    "contributions quantized to integer micro-units BEFORE the per-doc "
    "sum so scores are order-independent and engine-exact. The inverted-"
    "index shape: at 100 TB the tf table IS the posting list, "
    "partitioned by term; per-query work touches only the query terms' "
    "postings. Extends the engine's text-retrieval side (tfidf_top_terms "
    "is the corpus-stats twin).",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    terms = ["window", "hash", "stream"]
    toks = docs.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).alias("dl"),
        F.explode(ws_tokens(F.col("text"))).alias("tok"),
    )
    hits = toks.filter(F.col("tok").isin(terms))
    tf = hits.groupBy("doc_id", "tok").agg(
        F.count("*").cast("double").alias("tf"), F.max("dl").alias("dl")
    )
    df_t = hits.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    # corpus size / mean length as scalar subqueries (the quantile_bins
    # pattern): 1-row results substitute as literals, no join node — a
    # crossJoin against the aggregate would plan the
    # BroadcastNestedLoopJoin the plan gate forbids
    docs.select(
        F.count("*").cast("double").alias("n"),
        (F.sum(F.size(ws_tokens(F.col("text")))) / F.count("*")).alias("avgdl"),
    ).createOrReplaceTempView("bm25_scalars")
    n = F.expr("(SELECT n FROM bm25_scalars)")
    avgdl = F.expr("(SELECT avgdl FROM bm25_scalars)")
    # df_t is one row per QUERY term (bounded by the query, not the
    # corpus) -> broadcast is safe by construction
    contrib = tf.join(F.broadcast(df_t), "tok").select(
        "doc_id",
        F.floor(
            F.log(1.0 + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (
                (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / avgdl)))
            )
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("c"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("score_micro"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(25)
    )


@register(
    "pii_redaction",
    r"""
    WITH seeded AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 tel +41 21 693 ' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
        FROM documents WHERE doc_id < 300
    ),
    scrubbed AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                   '\b\+?\d[\d -]{7,14}\d\b', '<PHONE>', 'g') AS clean
        FROM seeded
    )
    SELECT doc_id,
           md5(clean) AS clean_md5,
           CAST(len(clean) - len(replace(clean, '<EMAIL>', ''))
                AS BIGINT) // 7 AS n_emails,
           CAST(len(clean) - len(replace(clean, '<IP>', '')) AS BIGINT) // 4 AS n_ips,
           CAST(len(clean) - len(replace(clean, '<PHONE>', '')) AS BIGINT) // 7 AS n_phones
    FROM scrubbed
    ORDER BY doc_id
    """,
    doc="PII redaction stage (the scrub every training-data pipeline "
    "runs before release): emails, IPv4s, phone-shaped digit runs -> "
    "typed placeholders via chained JVM regexp_replace "
    "(functions/text.redact_pii; patterns restricted to the Java/RE2 "
    "common subset so both engines substitute identically). Docs are "
    "seeded with synthetic PII so the oracle certifies actual "
    "replacements, not no-ops: the md5 of the scrubbed text plus "
    "per-kind placeholder counts must hash-match.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import redact_pii

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +41 21 693 "),
            (1000 + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    clean = seeded.select("doc_id", redact_pii(F.col("text")).alias("clean"))

    def count_token(tok: str):
        return (
            (F.length("clean") - F.length(F.replace(F.col("clean"), F.lit(tok))))
            / len(tok)
        ).cast("bigint")

    return clean.select(
        "doc_id",
        F.md5("clean").alias("clean_md5"),
        count_token("<EMAIL>").alias("n_emails"),
        count_token("<IP>").alias("n_ips"),
        count_token("<PHONE>").alias("n_phones"),
    ).orderBy("doc_id")


@register(
    "duplicated_span_fraction",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    win AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
               t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS w
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)
    ),
    df AS (
        SELECT w FROM win GROUP BY w HAVING COUNT(*) > 1
    ),
    per_doc AS (
        SELECT win.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(COUNT(df.w) AS BIGINT) AS n_shared
        FROM win LEFT JOIN df ON win.w = df.w
        GROUP BY win.doc_id
    )
    SELECT doc_id, n_windows, n_shared,
           CAST(FLOOR(CAST(n_shared AS DOUBLE) / n_windows * 10000 + 0.5) AS BIGINT) AS shared_bp
    FROM per_doc
    WHERE n_shared > 0
    ORDER BY doc_id
    """,
    doc="Exact-substring dedup signal (Lee et al. 'Deduplicating "
    "Training Data Makes Language Models Better'-family, window "
    "granularity): 8-token windows appearing in MORE THAN ONE document "
    "-> per-doc duplicated-window count and basis-point fraction. "
    "Distinct from pairwise near-dup (jaccard/minhash) and cross-source "
    "decontamination: this flags verbatim spans shared ANYWHERE in the "
    "corpus. Plan: windows hash to 8-byte keys before the df groupBy "
    "(one uniform shuffle), the >1 filter shrinks the join side to "
    "actual duplicates, fraction quantized to integer basis points.",
)
def duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    docs = _docs(spark, sf_dir)
    wins = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(ws_tokens(F.col("text")), 8))
        ).alias("w"),
    ).select("doc_id", F.xxhash64("w").alias("h"))
    from ..operators.cache import bounded_persist

    wins = bounded_persist(wins)
    dup = (
        wins.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("h")
    )
    per_doc = (
        wins.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    totals = wins.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    return (
        totals.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_windows",
            "n_shared",
            F.floor(
                F.col("n_shared").cast("double") / F.col("n_windows") * 10000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("shared_bp"),
        )
        .filter(F.col("n_shared") > 0)
        .orderBy("doc_id")
    )


@register(
    "cms_token_freq",
    r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    tc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM toks GROUP BY tok
    ),
    probes AS (SELECT * FROM tc ORDER BY true_cnt DESC, tok LIMIT 30),
    cells AS (
        SELECT r.d,
               CAST(('0x' || substr(md5(r.d || ':' || tok), 1, 8)) AS BIGINT)
                   % 64 AS bucket,
               COUNT(*) AS cnt
        FROM toks, LATERAL (SELECT unnest(range(0, 3)) AS d) r
        GROUP BY 1, 2
    ),
    pe AS (
        SELECT p.tok, r.d,
               CAST(('0x' || substr(md5(r.d || ':' || p.tok), 1, 8)) AS BIGINT)
                   % 64 AS bucket
        FROM probes p, LATERAL (SELECT unnest(range(0, 3)) AS d) r
    ),
    est AS (
        SELECT pe.tok, MIN(COALESCE(c.cnt, 0)) AS e
        FROM pe LEFT JOIN cells c ON c.d = pe.d AND c.bucket = pe.bucket
        GROUP BY 1
    )
    SELECT p.tok AS token, p.true_cnt,
           CAST(e.e AS BIGINT) AS cms_est,
           CAST(e.e - p.true_cnt AS BIGINT) AS overshoot
    FROM probes p JOIN est e ON e.tok = p.tok
    ORDER BY p.true_cnt DESC, p.tok
    """,
    doc="Count-min sketch frequency estimation (operators/sketches.py): "
    "the corpus token stream compresses to a 3x64 counter grid — ONE "
    "grid-sized shuffle to build, cell-wise mergeable across shards "
    "(the same mergeable-partials contract as the HLL distinct sketch) "
    "— then the 30 most frequent tokens probe it via a broadcast join. "
    "The oracle rebuilds the identical grid in the shared md5 hash "
    "domain and certifies the one-sided guarantee: cms_est >= true_cnt "
    "for every probe, with visible overshoot where the 64-bucket rows "
    "force collisions (width deliberately undersized for the fixture "
    "vocabulary so the error path is non-vacuous).",
)
def cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist
    from ..operators.sketches import cms_build, cms_estimate

    docs = _docs(spark, sf_dir)
    toks = bounded_persist(
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("tok"))
    )
    true_cnt = toks.groupBy("tok").agg(F.count("*").alias("true_cnt"))
    probes = true_cnt.orderBy(F.desc("true_cnt"), "tok").limit(30)
    grid = cms_build(toks, "tok", width=64, depth=3)
    est = cms_estimate(grid, probes.select("tok"), "tok", width=64, depth=3)
    return (
        probes.join(est, "tok")
        .select(
            F.col("tok").alias("token"),
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overshoot"),
        )
        .orderBy(F.desc("true_cnt"), "token")
    )


@register(
    "quality_classifier_score",
    rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               {quality_features_sql('toks')}
        FROM t
    ),
    s AS (
        SELECT doc_id, swr, atl, ttr,
               {quality_logit_sql()} AS z
        FROM f
    )
    SELECT doc_id, {e4_sql('swr')} AS stopword_ratio_e4,
           {e4_sql('atl')} AS avg_token_len_e4,
           {e4_sql('ttr')} AS type_token_ratio_e4,
           {e4_sql('z')} AS score_e4,
           z >= 0.0 AS keep
    FROM s
    ORDER BY doc_id
    """,
    doc="Model-based quality filtering (the fasttext-classifier stage of "
    "a curation pipeline, reduced to its distributed essence): a linear "
    "scorer with FIXED published weights over three engine-exact "
    "features — stopword ratio, mean token length, type-token ratio — "
    "applied row-wise in one codegen projection, no shuffle, no UDF. "
    "Every feature is a ratio of exact integers (one IEEE division), "
    "the weighted sum is a fixed left-associated expression tree, so "
    "score AND keep/drop decision are bit-identical across engines — "
    "no sigmoid (libm exp is not cross-engine reproducible; a monotone "
    "threshold on the logit decides identically). Splits the fixture "
    "corpus ~63/37 at every SF. Swapping in real learned weights "
    "changes only the literals. Features and score are emitted as "
    "basis-point BIGINTs (functions/quantize.py) — never as rounded "
    "doubles, whose driver-side hash proved environment-sensitive in "
    "round 4.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_features, quality_logit
    from ..operators.cache import presented

    docs = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    feats = quality_features(toks)
    z = quality_logit(toks)
    return (
        presented(
            docs.select(
                "doc_id",
                e4(feats["swr"]).alias("stopword_ratio_e4"),
                e4(feats["atl"]).alias("avg_token_len_e4"),
                e4(feats["ttr"]).alias("type_token_ratio_e4"),
                e4(z).alias("score_e4"),
                (z >= F.lit(0.0)).alias("keep"),
            ),
            "doc_id",
        )
    )


@register(
    "exact_substring_removal",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    occ AS (
        SELECT doc_id, i,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
               t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS w
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)
    ),
    sh AS (
        SELECT w FROM (SELECT DISTINCT doc_id, w FROM occ)
        GROUP BY w HAVING COUNT(*) > 1
    ),
    cov AS (
        SELECT DISTINCT o.doc_id, u.p
        FROM occ o JOIN sh USING (w),
             LATERAL (SELECT unnest(range(o.i, o.i + 8)) AS p) u
    ),
    tok_pos AS (
        SELECT doc_id, i AS p, t[i] AS tok
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
    ),
    kept AS (
        SELECT tp.doc_id, tp.p, tp.tok
        FROM tok_pos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
        WHERE cov.p IS NULL
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_md5
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.cleaned_md5, md5('')) AS cleaned_md5
    FROM toks t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """,
    doc="Exact-substring span REMOVAL — the transformation the Lee et "
    "al. dedup family actually applies, not just the detection signal "
    "(duplicated_span_fraction): every token covered by ANY 8-token "
    "window occurring in more than one document is deleted, and the "
    "oracle certifies the RESULT — per-doc removed-token count plus an "
    "md5 digest of the cleaned, order-preserved text (the digest "
    "hash-fails if even one token survives or drops wrongly). Plan: "
    "windows hash to 8-byte xxhash64 keys; one uniform groupBy finds "
    "cross-doc windows, covered positions come from an equi-join + "
    "position explode (never a per-pair scan), reassembly is one "
    "per-doc sort-by-position fold. 47 docs touched / 24 fully "
    "removed at sf0.01 — detection, partial and total removal all "
    "non-vacuous.",
)
def exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist

    docs = _docs(spark, sf_dir)
    toks = bounded_persist(
        docs.select("doc_id", ws_tokens(F.col("text")).alias("t"))
    )
    # 0-based window starts; window i covers positions i..i+7
    occ = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 8,
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 8),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.xxhash64(
                            F.concat_ws(" ", F.slice("t", i + 1, 8))
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:int,h:bigint>>"))
        ).alias("o"),
    ).select("doc_id", F.col("o.i").alias("i"), F.col("o.h").alias("h"))
    occ = bounded_persist(occ)
    shared = (
        occ.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h")
    )
    covered = (
        occ.join(shared, "h")
        .select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + 7)).alias("p"))
        .distinct()
    )
    tok_pos = toks.select("doc_id", F.posexplode("t").alias("p", "tok"))
    kept = tok_pos.join(covered, ["doc_id", "p"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    return (
        toks.select("doc_id", F.size("t").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "tokenizer_fertility",
    rf"""
    WITH t AS (
        SELECT lang, source,
               octet_length(encode(text)) AS n_bytes,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                   AS n_bpe
        FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_bpe) AS BIGINT) AS total_tokens,
           {e4_sql('SUM(n_bytes) / CAST(SUM(n_bpe) AS DOUBLE)')}
               AS bytes_per_token_e4
    FROM t
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="Tokenizer fertility report — bytes per BPE-ish token by "
    "(lang, source), the planning metric behind token-budget math "
    "(a corpus 'has 2T tokens' only relative to a tokenizer; fertility "
    "converts byte budgets to token budgets per slice). Exact by "
    "construction: integer byte and token SUMs (order-independent), "
    "one division of two exact integers. One partial-agg'd shuffle.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "lang",
            "source",
            F.octet_length("text").alias("n_bytes"),
            bpe_token_count(F.col("text")).alias("n_bpe"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_bpe").alias("total_tokens"),
            e4(
                F.sum("n_bytes") / F.sum("n_bpe").cast("double")
            ).alias("bytes_per_token_e4"),
        )
        .orderBy("lang", "source")
    )


@register(
    "rare_token_suppression",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    tok_pos AS (
        SELECT doc_id, i AS p, t[i] AS tok
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
    ),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS n_docs FROM tok_pos GROUP BY tok
    ),
    marked AS (
        SELECT tp.doc_id, tp.p,
               CASE WHEN d.n_docs * 100 < 6 * t.n_docs
                    THEN '<unk>' ELSE tp.tok END AS tok,
               CASE WHEN d.n_docs * 100 < 6 * t.n_docs THEN 1 ELSE 0 END
                   AS suppressed
        FROM tok_pos tp JOIN df d ON d.tok = tp.tok CROSS JOIN total t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(suppressed) AS BIGINT) AS n_suppressed,
           md5(string_agg(tok, ' ' ORDER BY p)) AS redacted_md5
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Rare-token suppression — the memorization/privacy mitigation "
    "and min-df vocabulary-pruning stage: any token whose document "
    "frequency is below 6% of the corpus is replaced by '<unk>' (rare "
    "strings are where verbatim memorization and residual identifiers "
    "live; min_df pruning is the same op under a modeling hat). The "
    "threshold compare is pure integer arithmetic (df*100 < 6*total), "
    "the df table is vocabulary-sized and broadcasts into the "
    "token-stream join, and the oracle certifies the REDACTED TEXT "
    "itself per document via an order-preserving md5 — one wrongly "
    "kept or suppressed token hash-fails.",
)
def rare_token_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok_pos = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("p", "tok")
    )
    total = docs.count()  # scalar: corpus size (one cheap count job)
    df_tbl = tok_pos.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    marked = tok_pos.join(F.broadcast(df_tbl), "tok").select(
        "doc_id",
        "p",
        F.when(F.col("n_docs") * 100 < 6 * total, "<unk>")
        .otherwise(F.col("tok"))
        .alias("tok2"),
        F.when(F.col("n_docs") * 100 < 6 * total, 1).otherwise(0).alias("sup"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("sup").alias("n_suppressed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("p", F.col("tok2").alias("tok")))
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                )
            ).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


def _bpe_golden() -> dict:
    import json
    from pathlib import Path

    return json.loads((Path(__file__).parent / "bpe_golden.json").read_text())


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bpe_train_oracle() -> str:
    """GOLDEN-TABLE oracle: the merge table the INDEPENDENT pure-Python
    reference trainer (tests/test_bpe.py) produced for this corpus,
    checked in as literal VALUES keyed by a corpus digest (BPE training
    is iterative — no direct SQL form exists). An unknown corpus joins
    to zero golden rows -> loud row-count red; regenerate with
    scripts/make_bpe_golden.py after a fixture refresh."""
    vals = ",\n        ".join(
        f"({_sq(h)}, {r}, {_sq(l)}, {_sq(rt)}, {_sq(m)}, {f})"
        for h, d in _bpe_golden().items()
        for r, l, rt, m, f in d["train24"]
    )
    return f"""
    WITH corpus AS (
        SELECT md5(string_agg(text, '|' ORDER BY doc_id)) AS h FROM documents
    ),
    g(h, rank, lft, rgt, merged, pair_freq) AS (VALUES
        {vals}
    )
    SELECT CAST(rank AS INT) AS rank, lft AS "left", rgt AS "right",
           merged, CAST(pair_freq AS BIGINT) AS pair_freq
    FROM g JOIN corpus USING (h)
    ORDER BY rank
    """


def _bpe_encode_oracle() -> str:
    """GOLDEN-TABLE oracle for the train->encode round trip: per-doc
    token counts + token-stream md5 from the pure-Python reference
    encoder over the reference-trained 16 merges (same digest-keyed
    VALUES scheme as _bpe_train_oracle)."""
    vals = ",\n        ".join(
        f"({_sq(h)}, {d_}, {nb}, {nw}, {_sq(md5)})"
        for h, d in _bpe_golden().items()
        for d_, nb, nw, md5 in d["encode16"]
    )
    return f"""
    WITH corpus AS (
        SELECT md5(string_agg(text, '|' ORDER BY doc_id)) AS h FROM documents
    ),
    g(h, doc_id, n_bpe_tokens, n_ws_tokens, tokens_md5) AS (VALUES
        {vals}
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_bpe_tokens AS INT) AS n_bpe_tokens,
           CAST(n_ws_tokens AS INT) AS n_ws_tokens,
           tokens_md5
    FROM g JOIN corpus USING (h)
    ORDER BY doc_id
    """


@register(
    "bpe_train_merges",
    _bpe_train_oracle,  # LAZY golden-table oracle (r7, deferred r8:
    # the 6352-line bpe_golden.json parse + ~1000-row VALUES literal
    # now build on first .oracle access, not at import): the iterative
    # trainer has no SQL form, so the driver row compares against the
    # checked-in output of the INDEPENDENT pure-Python reference
    # trainer — a real red on regression, not a rows-only count
    doc="Distributed BPE tokenizer training (operators/bpe.bpe_train; "
    "Sennrich et al. 2016): learn 24 merge rules from the documents "
    "corpus. The corpus is scanned ONCE into a distinct-word frequency "
    "table; each merge is one vocab-sized pair-count shuffle plus a "
    "single-row argmax action (k-means driver-loop contract). "
    "Deterministic tie-break (freq DESC, left, right) so the merge "
    "table is engine- and partitioning-independent. Extends "
    "tokenizer_fertility (APPLIES a fixed tokenizer) with the step "
    "that LEARNS one — the 100 TB tokenizer-training design. Oracle = "
    "corpus-digest-keyed GOLDEN merge table from the independent "
    "pure-Python trainer (tests/test_bpe.py; VERDICT r6 task 6).",
    time_build=True,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=24)


@register(
    "bpe_encode_tokens",
    _bpe_encode_oracle,  # LAZY golden-table oracle (r7) — digest-keyed
    # per-doc counts + token-stream md5 from the pure-Python reference;
    # built on first .oracle access (ADVICE r7), not at import
    doc="BPE train -> encode round trip: learn 16 merges on the corpus, "
    "then tokenize every document with them (operators/bpe.bpe_encode "
    "— sequential rank-order application, the literal trainer "
    "semantics, memoized per word, Arrow-batched). Emits per-doc BPE "
    "token count, whitespace token count and the md5 of the joined "
    "token stream — the compression-ratio evidence a tokenizer "
    "handoff ships.",
    time_build=True,
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=16).collect()
    ]
    from ..operators.cache import presented

    enc = bpe_encode(docs, merges)
    # presented(): the encode pandas UDF is shuffle-free — a bare
    # orderBy would run it twice (range-partition sampling)
    return presented(
        enc.select(
            "doc_id",
            F.size("bpe_tokens").alias("n_bpe_tokens"),
            F.size(ws_tokens(F.col("text"))).alias("n_ws_tokens"),
            F.md5(F.array_join("bpe_tokens", " ")).alias("tokens_md5"),
        ),
        "doc_id",
    )


_SEG_CTE = r"""
    toks AS (
        -- coalesce mirrors the engine: NULL text = empty doc, which
        -- still earns its one removal-report row (no-op on the
        -- non-null fixture column; the quantile 'null'-branch
        -- alignment precedent)
        SELECT doc_id,
               regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t
        FROM documents
    ),
    seg AS (
        SELECT doc_id, (i-1)//6 AS seg_id,
               string_agg(t[i], ' ' ORDER BY i) AS seg
        FROM toks, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i)
        GROUP BY doc_id, (i-1)//6
    )
"""


# --- line-mode boilerplate (the CCNet production unit) --------------
#
# The fixture documents are single-line, so the line unit needs a
# MULTI-LINE corpus: a deterministic derivation that mirrors what web
# extraction actually yields — a cookie banner on some pages, the
# page's own content, a language-targeted subscribe banner, and a
# templated copyright footer. Built from the same fixture columns with
# identical expression trees on both engines, so the oracle re-derives
# the corpus rather than trusting the engine's segmentation.

_LINE_CTE = r"""
    lined AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0
                     THEN 'accept cookies to continue' || chr(10)
                     ELSE '' END)
               || coalesce(text, '')
               || (CASE WHEN lang = 'en'
                        THEN chr(10) || 'subscribe to our newsletter'
                        ELSE '' END)
               || chr(10) || 'copyright ' || CAST(doc_id % 5 AS VARCHAR)
               || ' footer' AS text
        FROM documents
    ),
    lseg AS (
        SELECT doc_id, (i-1) AS seg_id, l[i] AS seg
        FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM lined),
             LATERAL (SELECT unnest(range(1, len(l)+1)) AS i)
    )
"""


def _lined_docs(docs: DataFrame) -> DataFrame:
    """The derived multi-line corpus (see ``_LINE_CTE``): 2-4 lines per
    document — optional cookie banner (even doc_ids), the original
    text as the body line, optional subscribe banner (lang='en'),
    always a templated footer (doc_id % 5 variants)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("accept cookies to continue\n"),
            ).otherwise(F.lit("")),
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("lang") == "en",
                F.lit("\nsubscribe to our newsletter"),
            ).otherwise(F.lit("")),
            F.lit("\ncopyright "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(" footer"),
        ).alias("text"),
    )


def _boilerplate_oracle(unit: str, kind: str) -> str:
    """DuckDB twin of one boilerplate query over ``unit``: the frequency
    ``"report"``, the ``"removal"`` over every doc, or the
    ``"incremental"`` removal — the one-shot recount restricted to the
    batch docs (doc_id % 10 >= 8)."""
    cte, seg, sep = {
        "segment": (_SEG_CTE, "seg", "' '"),
        "line": (_LINE_CTE, "lseg", "chr(10)"),
    }[unit]
    if kind == "report":
        return f"""
    WITH {cte}
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM {seg} GROUP BY seg HAVING COUNT(*) >= 3
    ORDER BY n_occurrences DESC, seg
    """
    scope = "doc_id % 10 >= 8" if kind == "incremental" else "TRUE"
    return f"""
    WITH {cte},
    heavy AS (
        SELECT seg FROM {seg} GROUP BY seg HAVING COUNT(*) >= 3
    ),
    scoped AS (
        SELECT * FROM {seg} WHERE {scope}
    ),
    kept AS (
        SELECT s.doc_id, s.seg_id, s.seg
        FROM scoped s LEFT JOIN heavy h ON s.seg = h.seg
        WHERE h.seg IS NULL
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(seg, {sep} ORDER BY seg_id)) AS cleaned_md5
        FROM kept GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, COUNT(*) AS n_segments FROM scoped GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n_segments AS BIGINT) AS n_segments,
           CAST(t.n_segments - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.cleaned_md5, md5('')) AS cleaned_md5
    FROM tot t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """


def _boilerplate_family(
    unit: str, report_doc: str, removal_doc: str, incremental_doc: str
) -> None:
    """Register the boilerplate report, removal and incremental-removal
    queries for one removal unit (min_df=3): 6-token ``"segment"``s of
    the fixture text, or ``"line"``s of the derived multi-line corpus
    (``_lined_docs``)."""
    from ..operators import boilerplate as bp

    lines = unit == "line"
    sfx = "_lines" if lines else ""
    report_name = "boilerplate_lines" if lines else "boilerplate_segments"

    def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        return _lined_docs(docs) if lines else docs

    def report(spark: SparkSession, sf_dir: str) -> DataFrame:
        segs = bp.doc_segments(corpus(spark, sf_dir), seg_tokens=6, unit=unit)
        return bp.segment_frequency_table(segs, min_df=3).orderBy(
            F.desc("n_occurrences"), "seg"
        )

    def removal(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bp.remove_boilerplate_segments(
            corpus(spark, sf_dir), seg_tokens=6, unit=unit, min_df=3
        ).orderBy("doc_id")

    def incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = corpus(spark, sf_dir)
        corpus_state = bp.segment_frequency_state(
            docs.filter(F.col("doc_id") % 10 < 8), seg_tokens=6, unit=unit
        )
        return bp.remove_boilerplate_incremental(
            docs.filter(F.col("doc_id") % 10 >= 8),
            corpus_state,
            seg_tokens=6,
            unit=unit,
            min_df=3,
        ).orderBy("doc_id")

    for name, kind, fn, doc in (
        (report_name, "report", report, report_doc),
        (f"boilerplate_removal{sfx}", "removal", removal, removal_doc),
        (f"incremental_boilerplate{sfx}", "incremental", incremental, incremental_doc),
    ):
        register(name, _boilerplate_oracle(unit, kind), doc=doc)(fn)


_boilerplate_family(
    "segment",
    report_doc="Corpus-frequency boilerplate REPORT (CCNet-style line dedup, "
    "detection half): documents split into non-overlapping 6-token "
    "segments (the line surrogate on the single-line fixture — the "
    "segmenter is one split('\\n') swap on real multi-line corpora), "
    "total-occurrence counts over the whole corpus, every segment at "
    "or above min_df=3 reported with its occurrence and distinct-doc "
    "counts. Plan: per-row transform segmentation (no shuffle), one "
    "groupBy keyed on xxhash64(seg) — collision-proofed by grouping "
    "(hash, text) — with map-side partial agg; output bounded by "
    "total_segments/min_df. 28 segments / 105 occurrences at sf0.01.",
    removal_doc="Corpus-frequency boilerplate REMOVAL (CCNet-style line dedup, "
    "the applied transformation): every 6-token segment whose corpus "
    "occurrence count reaches min_df=3 is dropped WHOLE — the "
    "line-level decision web pipelines apply to nav bars and cookie "
    "banners, distinct from the span-level Lee-et-al. removal "
    "(exact_substring_removal: any df>1 window, partial-token cover). "
    "The oracle certifies the RESULT: per-doc segment/removed counts "
    "plus an md5 of the cleaned order-preserved text. Plan: the heavy "
    "set is bounded by total_segments/min_df, so the decision join is "
    "an unhinted left_anti AQE sides at runtime (never a corpus-sized "
    "broadcast hint); reassembly is one per-doc sort-by-position fold. "
    "68 docs touched at sf0.01 — detection and removal non-vacuous.",
    incremental_doc="Incremental boilerplate removal — the daily-batch flow of the "
    "line-dedup stage: the standing corpus (doc_id%10<8) is touched "
    "only through its PERSISTED hash-keyed segment-frequency state "
    "(operators/boilerplate.segment_frequency_state), the ingest batch "
    "(doc_id%10>=8) folds its own delta in (additive integer counts — "
    "folded == one-shot exactly, the incremental-tier invariant), and "
    "removal decisions are emitted for the NEW docs only. The oracle "
    "is the ONE-SHOT recount over the union restricted to batch docs, "
    "so the green row certifies fold==recount end-to-end. Corpus cost "
    "per batch is state-sized (distinct segments), never a re-scan — "
    "what makes continuous line-dedup affordable on a 100 TB corpus.",
)

_boilerplate_family(
    "line",
    report_doc="LINE-mode boilerplate REPORT — the production unit of "
    "CCNet/RefinedWeb line dedup (unit='line' in "
    "operators/boilerplate.doc_segments: split('\\n'), whole-line "
    "decisions), run on a derived multi-line corpus (cookie banner on "
    "even doc_ids, original text as body, subscribe banner on en docs, "
    "doc_id%5 footer variants — re-derived independently in the "
    "oracle). Plan identical to the segment twin: per-row split (no "
    "shuffle), frequency groupBy keyed (hash, text) for the audit "
    "table; heavy set bounded by total_lines/min_df. 7 heavy lines at "
    "sf0.01 (banner 250, newsletter |en|, five footers ~100 each).",
    removal_doc="LINE-mode boilerplate REMOVAL — the stage CCNet actually "
    "ships: every line whose corpus frequency reaches min_df=3 drops "
    "WHOLE, kept lines re-join with '\\n', and the oracle certifies "
    "the cleaned text digest per document. On the derived corpus "
    "every doc sheds its footer, even docs the cookie banner, en docs "
    "the subscribe banner — n_removed varies 1-3 while every body "
    "line survives, so the md5s pin that exactly the injected "
    "boilerplate (and nothing else) was removed. Decisions key on the "
    "128-bit (xxhash64, salted-xxhash64) pair — at 10^13 lines a "
    "single 64-bit key expects ~10^6 collisions, each silently "
    "deleting an innocent line; the pair drives that to ~never while "
    "the shuffle still carries 16 bytes + count, not line text.",
    incremental_doc="Incremental LINE-mode boilerplate removal — the daily-batch "
    "flow of the production unit: the standing corpus (doc_id%10<8) "
    "is touched only through its persisted 128-bit-hash-keyed LINE "
    "frequency state, the ingest batch folds its own delta in, and "
    "decisions are emitted for the new docs only. The oracle is the "
    "one-shot line recount over the union restricted to batch docs — "
    "the green row certifies fold==recount for the unit CCNet "
    "actually dedups, closing the loop the segment-mode "
    "incremental_boilerplate opened.",
)


# --- corpus frequency diagnostics (Zipf fit, frequency spectrum) ----

from ..functions.quantize import quantized, quantized_sql  # noqa: E402

_FREQ_CTE = r"""
    toks AS (
        SELECT unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
    )
"""


def _token_freq(docs: DataFrame) -> DataFrame:
    """Token -> total-occurrence-count table (the shared first stage
    of both corpus diagnostics)."""
    return (
        docs.select(
            F.explode(
                ws_tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )


@register(
    "token_freq_spectrum",
    f"""
    WITH {_FREQ_CTE}
    SELECT CAST(freq AS BIGINT) AS freq,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM freq GROUP BY freq ORDER BY freq
    """,
    doc="Frequency-of-frequencies spectrum (the Good-Turing input "
    "table): how many distinct token types occur exactly k times, for "
    "every observed k. Two narrow groupBys — token then count — both "
    "map-side combined; output is bounded by the number of DISTINCT "
    "frequencies (<= vocab, typically O(hundreds) even at corpus "
    "scale because high frequencies collapse).",
)
def token_freq_spectrum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _token_freq(_docs(spark, sf_dir))
        .groupBy("freq")
        .agg(F.count("*").cast("bigint").alias("n_types"))
        .select(F.col("freq").cast("bigint").alias("freq"), "n_types")
        .orderBy("freq")
    )


# identical double expression trees on both engines: the OLS terms are
# built from e4-quantized ln(rank)/ln(freq) BIGINTs, so the sums are
# exact integers and the only doubles are the two final divisions.
# NULLIF mirrors the degenerate one-type vocabulary on both engines
# (ADVICE r9): n=1 makes the variance denominator exactly 0, where
# Spark division yields NULL but DuckDB yields IEEE inf/nan — guarding
# both sides pins the slope/intercept to NULL identically.
_ZIPF_SLOPE_SQL = "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)"
_ZIPF_INTERCEPT_SQL = f"(sy - ({_ZIPF_SLOPE_SQL}) * sx) / n"


@register(
    "zipf_fit",
    f"""
    WITH {_FREQ_CTE},
    ranked AS (
        SELECT tok, freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank
        FROM freq
    ),
    terms AS (
        SELECT {quantized_sql('ln(CAST(rank AS DOUBLE))')} AS x_e4,
               {quantized_sql('ln(CAST(freq AS DOUBLE))')} AS y_e4,
               freq
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(freq) AS BIGINT) AS n_tokens,
               CAST(SUM(x_e4) AS BIGINT) AS sx,
               CAST(SUM(y_e4) AS BIGINT) AS sy,
               CAST(SUM(x_e4 * y_e4) AS BIGINT) AS sxy,
               CAST(SUM(x_e4 * x_e4) AS BIGINT) AS sxx
        FROM terms
    )
    SELECT n AS n_types, n_tokens,
           {quantized_sql(_ZIPF_SLOPE_SQL)} AS slope_e4,
           {quantized_sql(_ZIPF_INTERCEPT_SQL, 0)} AS intercept_e4
    FROM s
    """,
    doc="Zipf-law fit over the token frequency table: OLS of "
    "ln(freq) on ln(rank) (rank = row_number by freq desc, token asc "
    "— deterministic under ties on both engines). slope_e4 near "
    "-10000 (i.e. -1.0) is the classic Zipf signature on natural "
    "corpora; the flat 31-type synthetic fixture reads -0.18, itself "
    "a diagnostic (a corpus whose spectrum is this flat is not "
    "natural text). Exactness: per-type ln terms "
    "are e4-quantized BIGINTs, the OLS sums are exact integer "
    "aggregates (order-independent at any parallelism — the "
    "quantized_sum convention), and the slope is scale-invariant "
    "under the uniform e4 scaling (the 1e4 factors cancel in "
    "cov/var), so the only doubles are two final divisions of "
    "identical integers. The rank window sorts the VOCAB table "
    "(types, not tokens — bounded far below corpus size), but it IS a "
    "single-partition global row_number: at a 100 TB vocabulary "
    "(billions of types) swap it for a range-partitioned rank — "
    "repartitionByRange(freq desc, tok) + partition-local row_number "
    "+ cumulative per-partition offsets (the paginated_scan "
    "scale-note's construction); probe-flat here because the "
    "diagnostic's input is the distinct-token table. Guards "
    "(ADVICE r9): a degenerate one-type vocabulary zeroes the "
    "variance denominator — NULLIF on BOTH engines pins slope and "
    "intercept to NULL identically instead of Spark-NULL vs DuckDB-"
    "inf; and the engine raises loudly when n_types*max|e4 term| > "
    "3e9 (the provable LONG-exactness bound — Spark would otherwise "
    "wrap silently where DuckDB errors; swap the products to DECIMAL "
    "past ~1e9 types). One-row output.",
)
def zipf_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    freq = _token_freq(_docs(spark, sf_dir))
    ranked = freq.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("tok"))),
    )
    terms = ranked.select(
        quantized(F.log(F.col("rank").cast("double"))).alias("x_e4"),
        quantized(F.log(F.col("freq").cast("double"))).alias("y_e4"),
        "freq",
    )
    s = terms.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.sum("x_e4").cast("bigint").alias("sx"),
        F.sum("y_e4").cast("bigint").alias("sy"),
        F.sum(F.col("x_e4") * F.col("y_e4")).cast("bigint").alias("sxy"),
        F.sum(F.col("x_e4") * F.col("x_e4")).cast("bigint").alias("sxx"),
        F.greatest(
            F.max(F.abs(F.col("x_e4"))), F.max(F.abs(F.col("y_e4")))
        ).cast("bigint").alias("__mx"),
    )
    # overflow guard (ADVICE r9): the OLS products n*sxy and sx*sy are
    # bounded by (n*mx)^2 — requiring n*mx <= 3e9 keeps them under
    # 9e18 < 2^63, so LONG arithmetic is provably exact. Past that
    # Spark's long multiply would WRAP silently (DuckDB errors loudly
    # on its own: BIGINT products overflow-check and SUM goes HUGEINT)
    # — the raise makes the engine side fail loudly too. Headroom in
    # practice: mx ~ ln(n_types)*1e4, so the bound trips around
    # n_types ~ 1e4-vocabularies of 10^9+ types — the docstring's
    # DECIMAL-swap territory.
    n_g = F.when(
        F.col("n") * F.col("__mx") > F.lit(3_000_000_000),
        F.raise_error(
            F.concat(
                F.lit("zipf_fit: n_types * max|e4 term| = "),
                (F.col("n") * F.col("__mx")).cast("string"),
                F.lit(
                    " > 3e9 — the OLS LONG products could overflow; "
                    "swap the e8 products to DECIMAL for this corpus"
                ),
            )
        ),
    ).otherwise(F.col("n"))
    slope = (n_g * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        n_g * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0).cast("bigint")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n_g
    return s.select(
        F.col("n").alias("n_types"),
        "n_tokens",
        quantized(slope).alias("slope_e4"),
        # intercept is ALREADY in e4 y-units (the terms were quantized
        # before summing) — round to integer, don't rescale
        quantized(intercept, 0).alias("intercept_e4"),
    )


@register(
    "boilerplate_then_exact_dedup",
    f"""
    WITH {_SEG_CTE},
    heavy AS (
        SELECT seg FROM seg GROUP BY seg HAVING COUNT(*) >= 3
    ),
    kept AS (
        SELECT s.doc_id, s.seg_id, s.seg
        FROM seg s LEFT JOIN heavy h ON s.seg = h.seg
        WHERE h.seg IS NULL
    ),
    cleaned AS (
        -- BOTH fingerprints share one canonicalization (tokens joined
        -- by single space, case preserved) so segment removal is the
        -- ONLY difference between them — a case-folded raw side would
        -- let n_exposed go negative on case-variant duplicates
        SELECT d.doc_id,
               md5(array_to_string(
                   regexp_split_to_array(trim(coalesce(d.text, '')), '\\s+'),
                   ' ')) AS raw_fp,
               md5(COALESCE(k.txt, '')) AS clean_fp
        FROM documents d LEFT JOIN (
            SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_id) AS txt
            FROM kept GROUP BY doc_id
        ) k USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT raw_fp) AS BIGINT) AS dupes_raw,
           CAST(COUNT(*) - COUNT(DISTINCT clean_fp) AS BIGINT) AS dupes_cleaned,
           CAST((COUNT(*) - COUNT(DISTINCT clean_fp))
                - (COUNT(*) - COUNT(DISTINCT raw_fp)) AS BIGINT) AS n_exposed
    FROM cleaned
    """,
    doc="Boilerplate-THEN-exact-dedup production composition (the "
    "CCNet ordering: line dedup runs BEFORE document dedup, because "
    "boilerplate noise masks true duplicates): CORPUS-level exact-dup "
    "counts on the RAW normalized fingerprint vs on the CLEANED text "
    "digest from the removal stage — corpus-level deliberately, the "
    "masked duplicates cross source boundaries (a per-source cut "
    "reads 0/0 on this fixture). At sf0.01: 0 raw exact dupes but 5 "
    "AFTER cleaning — documents differing only in removed segments "
    "collapse, the measurable reason the ordering matters. Plan: "
    "reuses the removal stage's per-doc cleaned_md5 as the dedup "
    "fingerprint (one segmentation pass feeds both), then one global "
    "distinct-count aggregate (partial-agg'd on the 32-hex "
    "fingerprint — the exact_dedup shuffle shape, minus the source "
    "key). One-row output.",
)
def boilerplate_then_exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.boilerplate import remove_boilerplate_segments

    docs = _docs(spark, sf_dir)
    dec = remove_boilerplate_segments(docs, seg_tokens=6, min_df=3)
    joined = docs.select(
        "doc_id",
        # raw fingerprint uses the SAME canonical form as the cleaned
        # digest (ws tokens joined by single space, case preserved, NULL
        # coalesced) — removal is then the only difference between the
        # two fingerprints, so n_exposed is a true like-for-like delta
        F.md5(
            F.array_join(
                ws_tokens(F.coalesce(F.col("text"), F.lit(""))), " "
            )
        ).alias("raw_fp"),
    ).join(dec.select("doc_id", "cleaned_md5"), "doc_id")
    dupes_raw = F.count("*") - F.countDistinct("raw_fp")
    dupes_cleaned = F.count("*") - F.countDistinct("cleaned_md5")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dupes_raw.cast("bigint").alias("dupes_raw"),
        dupes_cleaned.cast("bigint").alias("dupes_cleaned"),
        (dupes_cleaned - dupes_raw).cast("bigint").alias("n_exposed"),
    )


@register(
    "corpus_distinct_ngrams",
    r"""
    WITH t AS (
        SELECT lang, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
        FROM documents
    ),
    uni AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_unigrams
        FROM (SELECT lang, unnest(toks) AS tok FROM t)
        GROUP BY lang
    ),
    big AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(COUNT(DISTINCT bg) AS BIGINT) AS n_distinct_bigrams
        FROM (
            SELECT lang, t.toks[i] || ' ' || t.toks[i + 1] AS bg
            FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        )
        GROUP BY lang
    )
    SELECT u.lang, u.n_tokens, u.n_distinct_unigrams,
           b.n_bigrams, b.n_distinct_bigrams,
           CAST(FLOOR(1000000.0 * u.n_distinct_unigrams / u.n_tokens) AS BIGINT)
               AS distinct1_e6,
           CAST(FLOOR(1000000.0 * b.n_distinct_bigrams / b.n_bigrams) AS BIGINT)
               AS distinct2_e6
    FROM uni u JOIN big b ON u.lang = b.lang
    ORDER BY u.lang
    """,
    doc="Corpus-level distinct-n diversity per language shard (Li et "
    "al. 2016's distinct-1/distinct-2, the standard lexical-diversity "
    "gate a curation pipeline reports next to the per-document "
    "repetition_score): distinct/total unigram and bigram ratios as "
    "e6-scaled BIGINTs plus the raw counts. Bigrams re-derive "
    "positionally in the oracle (1-based t[i] || ' ' || t[i+1]), "
    "mirroring the engine's zip_with shifted-slice build (functions/"
    "text.word_shingles — the DSIR bigram convention). Plan: two "
    "explode->groupBy passes, each ONE shuffle on (lang, gram); "
    "exact COUNT(DISTINCT) rewrites to a two-stage partial aggregate "
    "under whole-stage codegen. TWIN — at 100 TB use "
    "corpus_distinct_ngrams_approx: the ratio needs ~3 significant "
    "digits, an HLL answers with fixed-size mergeable state instead "
    "of the distinct-key shuffle.",
)
def corpus_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "lang", ws_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("t")
    )
    uni = (
        base.select("lang", F.explode("t").alias("tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct_unigrams"),
        )
    )
    big = (
        base.select("lang", F.explode(word_shingles(F.col("t"), 2)).alias("bg"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.countDistinct("bg").alias("n_distinct_bigrams"),
        )
    )
    return (
        uni.join(big, "lang")
        .select(
            "lang",
            "n_tokens",
            "n_distinct_unigrams",
            "n_bigrams",
            "n_distinct_bigrams",
            F.floor(
                1000000.0 * F.col("n_distinct_unigrams") / F.col("n_tokens")
            ).alias("distinct1_e6"),
            F.floor(
                1000000.0 * F.col("n_distinct_bigrams") / F.col("n_bigrams")
            ).alias("distinct2_e6"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_distinct_ngrams_approx",
    r"""
    WITH t AS (
        SELECT lang, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
        FROM documents
    ),
    uni AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct_unigrams
        FROM (SELECT lang, unnest(toks) AS tok FROM t)
        GROUP BY lang
    ),
    big AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(COUNT(DISTINCT bg) AS BIGINT) AS exact_distinct_bigrams
        FROM (
            SELECT lang, t.toks[i] || ' ' || t.toks[i + 1] AS bg
            FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        )
        GROUP BY lang
    )
    SELECT u.lang, u.n_tokens, u.exact_distinct_unigrams,
           b.n_bigrams, b.exact_distinct_bigrams,
           TRUE AS d1_within_5pct, TRUE AS d2_within_5pct
    FROM uni u JOIN big b ON u.lang = b.lang
    ORDER BY u.lang
    """,
    doc="At-scale route for corpus_distinct_ngrams: the distinct "
    "unigram/bigram counts come from approx_count_distinct (HLL++, "
    "rsd=0.02) — fixed-size mergeable sketch state per (lang, n) "
    "group, NO shuffle keyed on the gram domain (at 100 TB the "
    "distinct-bigram key space is corpus-sized; the exact twin's "
    "shuffle is the cost ceiling this removes). Certified the "
    "approx_distinct_check way: the oracle pins the exact counts and "
    "the Spark side asserts the sketch lands within 5% relative "
    "error (2.5x the configured rsd), so a sketch regression "
    "hash-fails rather than drifting silently.",
)
def corpus_distinct_ngrams_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "lang", ws_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("t")
    )
    uni = (
        base.select("lang", F.explode("t").alias("tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("exact_distinct_unigrams"),
            F.approx_count_distinct("tok", rsd=0.02).alias("a1"),
        )
    )
    big = (
        base.select("lang", F.explode(word_shingles(F.col("t"), 2)).alias("bg"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.countDistinct("bg").alias("exact_distinct_bigrams"),
            F.approx_count_distinct("bg", rsd=0.02).alias("a2"),
        )
    )

    def within(approx: str, exact: str):
        return F.abs(F.col(approx) - F.col(exact)) <= 0.05 * F.col(exact)

    return (
        uni.join(big, "lang")
        .select(
            "lang",
            "n_tokens",
            "exact_distinct_unigrams",
            "n_bigrams",
            "exact_distinct_bigrams",
            within("a1", "exact_distinct_unigrams").alias("d1_within_5pct"),
            within("a2", "exact_distinct_bigrams").alias("d2_within_5pct"),
        )
        .orderBy("lang")
    )


# --- batch-perceptron quality-classifier training (r11) ---------------
# Shared oracle CTE prefix: labeled e4-integer feature frame + the
# three unrolled training iterations. Scalar subqueries carry the
# previous iteration's weights (the mixture_temperature convention) so
# an iteration with zero misclassifications still yields its row.
from ..operators.perceptron import BIAS_E4 as _P_BIAS  # noqa: E402
from ..operators.perceptron import POSITIVE_SOURCES as _P_POS  # noqa: E402

_P_POS_SQL = ", ".join(f"'{s}'" for s in _P_POS)


def _perceptron_oracle_prefix() -> str:
    def itn(name: str, prev: str) -> str:
        margin = (
            f"((SELECT w0 FROM {prev}) * f0 + (SELECT w1 FROM {prev}) * f1"
            f" + (SELECT w2 FROM {prev}) * f2 + (SELECT w3 FROM {prev}) * f3)"
        )
        return f"""
    {name} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_miss,
               CAST((SELECT w0 FROM {prev}) + COALESCE(SUM(y * f0), 0) AS BIGINT) AS w0,
               CAST((SELECT w1 FROM {prev}) + COALESCE(SUM(y * f1), 0) AS BIGINT) AS w1,
               CAST((SELECT w2 FROM {prev}) + COALESCE(SUM(y * f2), 0) AS BIGINT) AS w2,
               CAST((SELECT w3 FROM {prev}) + COALESCE(SUM(y * f3), 0) AS BIGINT) AS w3
        FROM f
        WHERE y * {margin} <= 0
    )"""

    return rf"""
    t AS (
        SELECT doc_id,
               CASE WHEN source IN ({_P_POS_SQL}) THEN CAST(1 AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS y,
               regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
        FROM documents
    ),
    fr AS (
        SELECT doc_id, y, {quality_features_sql('toks')}
        FROM t
    ),
    f AS (
        SELECT doc_id, y,
               CAST({_P_BIAS} AS BIGINT) AS f0,
               {e4_sql('swr')} AS f1,
               {e4_sql('atl')} AS f2,
               {e4_sql('ttr')} AS f3
        FROM fr
    ),
    it1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_miss,
               CAST(COALESCE(SUM(y * f0), 0) AS BIGINT) AS w0,
               CAST(COALESCE(SUM(y * f1), 0) AS BIGINT) AS w1,
               CAST(COALESCE(SUM(y * f2), 0) AS BIGINT) AS w2,
               CAST(COALESCE(SUM(y * f3), 0) AS BIGINT) AS w3
        FROM f
    ),{itn('it2', 'it1')},{itn('it3', 'it2')}"""


@register(
    "quality_perceptron_train",
    f"""
    WITH {_perceptron_oracle_prefix()}
    SELECT CAST(1 AS BIGINT) AS iter, n_miss,
           w0 AS w_bias, w1 AS w_swr, w2 AS w_atl, w3 AS w_ttr FROM it1
    UNION ALL
    SELECT CAST(2 AS BIGINT), n_miss, w0, w1, w2, w3 FROM it2
    UNION ALL
    SELECT CAST(3 AS BIGINT), n_miss, w0, w1, w2, w3 FROM it3
    ORDER BY iter
    """,
    doc="TRAINING face of the fasttext-style quality filter (the "
    "GPT-3/LLaMA curation recipe: learn reference-vs-crawl, then "
    "filter): a distributed batch perceptron over the quality-scorer "
    "features as e4 BIGINTs, labels +1 for the reference-quality "
    "sources (src0-src3, the per-language LM family's Wikipedia "
    "stand-ins) and -1 for the crawl rest. INTEGER-EXACT end to end — "
    "no sigmoid (libm exp is not cross-engine reproducible, the "
    "quality_classifier_score precedent), misclassification test and "
    "update are order-independent BIGINT sums — so the oracle's "
    "unrolled CTEs certify the ENTIRE 3-iteration trajectory (miss "
    "counts + weights per iteration), bit-identical across engines "
    "and partitionings. Plan (operators/perceptron.py): per iteration "
    "ONE codegen scan — filter on the literal-substituted margin + "
    "5-value reduce; driver state is 4 ints (the k-means driver-loop "
    "convention). time_build: the iterations ARE the query.",
    time_build=True,
)
def quality_perceptron_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.perceptron import (
        perceptron_features,
        perceptron_history_df,
        perceptron_train,
    )

    feats = perceptron_features(_docs(spark, sf_dir))
    return perceptron_history_df(spark, perceptron_train(feats, n_iters=3))


@register(
    "quality_perceptron_scores",
    f"""
    WITH {_perceptron_oracle_prefix()}
    SELECT doc_id, y, margin,
           CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS predicted,
           y * margin > 0 AS correct
    FROM (
        SELECT f.doc_id, f.y,
               CAST(f.f0 * (SELECT w0 FROM it3) + f.f1 * (SELECT w1 FROM it3)
                  + f.f2 * (SELECT w2 FROM it3) + f.f3 * (SELECT w3 FROM it3)
                    AS BIGINT) AS margin
        FROM f
        WHERE f.doc_id < 200
    )
    ORDER BY doc_id
    """,
    doc="Scoring face of the trained perceptron: the doc_id<200 slice "
    "under the iteration-3 weights — exact integer margin, predicted "
    "label (ties predict -1, the training rule's convention), and "
    "correctness flag, all certified against the oracle's re-derived "
    "trajectory. Production shape: training emits 4 ints; scoring is "
    "a pure codegen projection over the corpus — the same "
    "shuffle-free row-wise filter quality_classifier_score runs with "
    "published weights. time_build: scoring embeds the 3-pass fit.",
    time_build=True,
)
def quality_perceptron_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.perceptron import (
        perceptron_features,
        perceptron_scores,
        perceptron_train,
    )

    feats = perceptron_features(_docs(spark, sf_dir))
    hist = perceptron_train(feats, n_iters=3)
    w = [hist[-1][k] for k in ("w_bias", "w_swr", "w_atl", "w_ttr")]
    from ..operators.cache import presented

    return presented(
        perceptron_scores(feats.filter(F.col("doc_id") < 200), w), "doc_id"
    )


# --- Gopher repetition quality rules (Rae et al. 2021) --------------
#
# The repetition gate of Gopher's MassiveText quality heuristics
# (arXiv:2112.11446 Table A1): documents dominated by repeated lines
# or repeated n-grams are extraction failures (menus, SEO spam,
# crawler traps), and the published filter removes them with simple
# per-document fractions. Like the CCNet tier, the mechanism is
# public and exactly recomputable, so every signal emits as an
# oracle-checked e4 integer.
#
# The fixture documents are single-line with no internal repetition
# structure, so the family runs on a derived corpus that injects the
# failure modes the rules exist to catch: every doc_id%3==0 doc has
# its body line duplicated (boilerplate extraction glitch), every
# even doc carries a doubled cookie banner, and every doc a templated
# footer. Both engines re-derive the corpus with identical expression
# trees — the oracle never trusts the engine's segmentation.
#
# Signal definitions + the Spark frames live in operators/gopher.py;
# this section owns the derived corpus and the DuckDB oracles.

from ..operators.gopher import (  # noqa: E402
    _GOPHER_DUP_NS,
    _GOPHER_TOP_NS,
    GOPHER_RULES,
    _gopher_sig_col,
    gopher_filter_frame,
    gopher_signals_frame,
)

_REP_CTE = r"""
    rep AS (
        SELECT doc_id,
               coalesce(text, '')
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || coalesce(text, '') ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'accept cookies to continue'
                         || chr(10) || 'accept cookies to continue'
                       ELSE '' END
               || chr(10) || 'copyright ' || CAST(doc_id % 5 AS VARCHAR)
               || ' footer' AS text
        FROM documents
    )
"""

def _gopher_signals_sql(corpus_cte: str = _REP_CTE) -> str:
    """Oracle body for the signal battery: WITH-chain ending in a
    ``sig`` CTE (callers append their own final SELECT). The corpus
    CTE must bind the name ``rep``; the full-filter oracle passes the
    gdoc derivation bound to that name."""
    gram_ctes = ",\n".join(
        "    g{n} AS (\n"
        "        SELECT doc_id, {n} AS n, {expr} AS gram\n"
        "        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {hi})) AS i)\n"
        "    )".format(
            n=n,
            hi=n - 2,
            expr=" || ' ' || ".join(f"t[i+{k}]" for k in range(n)),
        )
        for n in _GOPHER_TOP_NS + _GOPHER_DUP_NS
    )
    allg = "\n        UNION ALL\n".join(
        f"        SELECT * FROM g{n}" for n in _GOPHER_TOP_NS + _GOPHER_DUP_NS
    )
    piv_cols = ",\n               ".join(
        f"MAX(CASE WHEN n = {n} THEN mass END) AS m{n}"
        for n in _GOPHER_TOP_NS + _GOPHER_DUP_NS
    )
    frac_cols = ",\n           ".join(
        e4_sql(f"COALESCE(p.m{n}, 0) / b.total_chars")
        + f" AS {_gopher_sig_col(n)}"
        for n in _GOPHER_TOP_NS + _GOPHER_DUP_NS
    )
    return f"""
    WITH {corpus_cte},
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM rep
    ),
{gram_ctes},
    allg AS (
{allg}
    ),
    gc AS (
        SELECT doc_id, n, gram, COUNT(*) AS c FROM allg GROUP BY doc_id, n, gram
    ),
    topg AS (
        SELECT doc_id, n, c * length(gram) AS mass
        FROM (SELECT doc_id, n, c, gram,
                     ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                        ORDER BY c DESC, gram DESC) AS r
              FROM gc WHERE n <= 4)
        WHERE r = 1
    ),
    dupg AS (
        SELECT doc_id, n, SUM((c - 1) * length(gram)) AS mass
        FROM gc WHERE n >= 5 AND c > 1 GROUP BY doc_id, n
    ),
    masses AS (SELECT * FROM topg UNION ALL SELECT * FROM dupg),
    piv AS (
        SELECT doc_id,
               {piv_cols}
        FROM masses GROUP BY doc_id
    ),
    lns AS (
        SELECT doc_id, l[i] AS line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM rep),
             LATERAL (SELECT unnest(range(1, len(l)+1)) AS i)
    ),
    lstat AS (
        SELECT doc_id, COUNT(*) AS n_lines, SUM(length(line)) AS line_chars,
               COUNT(DISTINCT line) AS n_distinct_lines
        FROM lns GROUP BY doc_id
    ),
    ldist AS (
        SELECT doc_id, SUM(len) AS distinct_line_chars
        FROM (SELECT DISTINCT doc_id, line, length(line) AS len FROM lns)
        GROUP BY doc_id
    ),
    base AS (SELECT doc_id, length(text) AS total_chars FROM rep),
    sig AS (
        SELECT b.doc_id,
           CAST(l.n_lines AS BIGINT) AS n_lines,
           CAST(b.total_chars AS BIGINT) AS total_chars,
           {e4_sql('(l.n_lines - l.n_distinct_lines) / l.n_lines')} AS dup_line_frac_e4,
           {e4_sql('(l.line_chars - d.distinct_line_chars) / l.line_chars')} AS dup_line_char_frac_e4,
           {frac_cols}
        FROM base b
        JOIN lstat l USING (doc_id)
        JOIN ldist d USING (doc_id)
        LEFT JOIN piv p USING (doc_id)
    )
"""


def _rep_text_col():
    """The derived repetition text as a Column (see ``_REP_CTE``):
    body line (duplicated for doc_id%3==0), doubled cookie banner on
    even doc_ids, templated doc_id%5 footer."""
    return F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("\n"), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("\naccept cookies to continue"
                  "\naccept cookies to continue"),
        ).otherwise(F.lit("")),
        F.lit("\ncopyright "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(" footer"),
    )


def _rep_docs(docs: DataFrame) -> DataFrame:
    """The derived repetition corpus (see ``_REP_CTE``)."""
    return docs.select("doc_id", _rep_text_col().alias("text"))


def _gopher_filter_sql() -> str:
    fail_sum = "\n             + ".join(
        f"CASE WHEN {col} > {thr} THEN 1 ELSE 0 END"
        for _, col, thr in GOPHER_RULES
    )
    fail_names = ",\n               ".join(
        f"CASE WHEN {col} > {thr} THEN '{name}' END"
        for name, col, thr in GOPHER_RULES
    )
    sig_cols = ", ".join(col for _, col, _ in GOPHER_RULES)
    return f"""
    {_gopher_signals_sql()}
    SELECT doc_id, {sig_cols},
           CAST({fail_sum} AS BIGINT) AS n_fails,
           ({fail_sum}) = 0 AS keep,
           COALESCE(concat_ws(',',
               {fail_names}), '') AS fail_rules
    FROM sig
    ORDER BY doc_id
    """


@register(
    "gopher_repetition_signals",
    lambda: _gopher_signals_sql() + "\n    SELECT * FROM sig ORDER BY doc_id",
    doc="Gopher/MassiveText repetition signal battery (Rae et al. 2021, "
    "arXiv:2112.11446 Table A1) over the derived repetition corpus "
    "(doc_id%3 duplicated body, even-doc doubled cookie banner, "
    "doc_id%5 footer — re-derived independently in the oracle): "
    "duplicate-line fraction + duplicate-line CHAR fraction (per-row "
    "array expressions, shuffle-free), top-{2,3,4}-gram char fraction "
    "(count*chars of the most frequent gram, ties to greatest gram "
    "text) and dup-{5..10}-gram char fraction (occurrence-mass form — "
    "the RedPajama-v2/NeMo-Curator variant of Gopher's span coverage). "
    "All nine gram streams build array-side and explode ONCE into one "
    "combiner-friendly (doc_id,n,gram) groupBy — ~9T occurrence rows "
    "for a T-token corpus, partial counts collapse map-side — then "
    "doc-keyed max-struct/sum reductions and one join back to the "
    "per-row stats. Fractions emit as e4 BIGINTs (exact integer "
    "numerators, one IEEE division).",
)
def gopher_repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist

    # persist before the presentation sort: the signal battery is a
    # SHUFFLE-FREE heavy map, so a bare orderBy would execute it twice
    # (the range partitioner's sampling job re-runs the whole child
    # when there is no shuffle to reuse, r11 guide §2.4); persisted,
    # the map runs once and only the small signal rows sort
    sig = bounded_persist(gopher_signals_frame(_rep_docs(_docs(spark, sf_dir))))
    return sig.orderBy("doc_id")


@register(
    "gopher_repetition_filter",
    lambda: _gopher_filter_sql(),
    doc="The Gopher repetition GATE: every signal compared against the "
    "published Table-A1 cutoff (dup-line 0.30, dup-line-char 0.20, "
    "top-2/3/4-gram 0.20/0.18/0.16, dup-5..10-gram 0.15 down to 0.10) "
    "in exact e4 integer space — keep flag, fail count, and the "
    "comma-joined failing rules in fixed order. The gate itself is a "
    "pure codegen projection over the signal frame (zero added "
    "shuffle); the derived corpus exercises every branch: %6==0 docs "
    "fail both line rules and the whole dup-gram tier, clean docs "
    "keep, and a minority trip ONLY the top-gram rules on natural "
    "vocab repetition. Composition face of the curation funnel: the "
    "document-level reject stage CCNet's line dedup does not cover.",
)
def gopher_repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist

    # persist before the sort — see gopher_repetition_signals_q
    gate = bounded_persist(
        gopher_filter_frame(
            gopher_signals_frame(_rep_docs(_docs(spark, sf_dir)))
        )
    )
    return gate.orderBy("doc_id")


# --- Gopher document-level rules + the complete Table-A1 filter -----
#
# The non-repetition half of Gopher's quality heuristics needs a
# corpus that exercises the failure modes: bullet-dominated docs
# (doc_id%11 — a nav menu), ellipsis-teaser tails (doc_id%7 — "read
# more..." links), symbol spam (doc_id%13 — '#' runs), and a prose
# line carrying the required stop words on odd doc_ids (so the
# stop-word rule discriminates on a synthetic-vocabulary fixture
# whose only natural Table-A1 stop word is 'the'). The %11 branch
# REPLACES the rep layering (a menu page is a menu page); everything
# else layers onto the repetition derivation.

_BULLET_LINES = [f"- item {i}" for i in range(10)]
_ELLIPSIS_TAIL = "\nread more...\nsee details...\nclick to expand..."
_HASH_LINE = "\n" + " ".join(["#"] * 12)
_PROSE_LINE = "\nnote that the results have to be of use with care"

_REP_EXPR_SQL = r"""coalesce(text, '')
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || coalesce(text, '') ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'accept cookies to continue'
                         || chr(10) || 'accept cookies to continue'
                       ELSE '' END
               || chr(10) || 'copyright ' || CAST(doc_id % 5 AS VARCHAR)
               || ' footer'"""

_GDOC_EXPR_SQL = (
    "CASE WHEN doc_id % 11 = 0 THEN "
    + " || chr(10) || ".join(f"'{l}'" for l in _BULLET_LINES)
    + " || chr(10) || coalesce(text, '')\n"
    "               ELSE " + _REP_EXPR_SQL + "\n"
    "               || CASE WHEN doc_id % 7 = 0 THEN "
    + " || ".join(
        f"chr(10) || '{l}'" for l in _ELLIPSIS_TAIL.strip("\n").split("\n")
    )
    + " ELSE '' END\n"
    "               || CASE WHEN doc_id % 13 = 0 THEN chr(10) || "
    f"'{_HASH_LINE[1:]}' ELSE '' END\n"
    "               || CASE WHEN doc_id % 2 = 1 THEN chr(10) || "
    f"'{_PROSE_LINE[1:]}' ELSE '' END\n"
    "               END"
)

_GDOC_CTE = f"""
    gdoc AS (
        SELECT doc_id, {_GDOC_EXPR_SQL} AS text
        FROM documents
    )
"""

#: (rule name, SQL reject predicate over the doc-signal columns) —
#: mirrors operators/gopher.GOPHER_DOC_RULES exactly.
_DOC_RULES_SQL = (
    ("word_count", "(n_words < 50 OR n_words > 100000)"),
    ("mean_word_len",
     "(mean_word_len_e4 < 30000 OR mean_word_len_e4 > 100000)"),
    ("symbol_ratio", "(hash_ratio_e4 > 1000 OR ellipsis_ratio_e4 > 1000)"),
    ("bullet_lines", "bullet_line_frac_e4 > 9000"),
    ("ellipsis_lines", "ellipsis_line_frac_e4 > 3000"),
    ("alpha_words", "alpha_word_frac_e4 < 8000"),
    ("stop_words", "n_stop_hits < 2"),
)

#: repetition rules as SQL predicates (same thresholds as the gate)
_REP_RULES_SQL = tuple(
    (name, f"{col} > {thr}") for name, col, thr in GOPHER_RULES
)


def _fail_sum_sql(rules) -> str:
    return "\n             + ".join(
        f"CASE WHEN {p} THEN 1 ELSE 0 END" for _, p in rules
    )


def _fail_names_sql(rules) -> str:
    return ",\n               ".join(
        f"CASE WHEN {p} THEN '{n}' END" for n, p in rules
    )


def _doc_sig_sql(corpus: str) -> str:
    """The ``dsig`` CTE chain: per-row doc-rule signals FROM a
    (doc_id, text) corpus CTE."""
    stop_list = ", ".join(f"'{s}'" for s in
                          ("the", "be", "to", "of", "and", "that",
                           "have", "with"))
    return f"""
    dt AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\\s+') AS t,
               string_split(text, chr(10)) AS l
        FROM {corpus}
    ),
    dsig AS (
        SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           {e4_sql('list_sum(list_transform(t, x -> length(x))) / len(t)')} AS mean_word_len_e4,
           {e4_sql("(length(text) - length(replace(text, '#', ''))) / len(t)")} AS hash_ratio_e4,
           {e4_sql("((length(text) - length(replace(text, '...', ''))) / 3) / len(t)")} AS ellipsis_ratio_e4,
           {e4_sql("len(list_filter(l, x -> substr(x, 1, 2) IN ('- ', '• ', '* '))) / len(l)")} AS bullet_line_frac_e4,
           {e4_sql("len(list_filter(l, x -> x LIKE '%...')) / len(l)")} AS ellipsis_line_frac_e4,
           {e4_sql("len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) / len(t)")} AS alpha_word_frac_e4,
           CAST(len(list_filter([{stop_list}], s -> list_contains(t, s))) AS BIGINT) AS n_stop_hits
        FROM dt
    )
"""


def _gdoc_docs(docs: DataFrame) -> DataFrame:
    """The derived document-rules corpus (see ``_GDOC_CTE``)."""
    bullets = F.lit("\n".join(_BULLET_LINES) + "\n")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(bullets, F.coalesce(F.col("text"), F.lit(""))),
        )
        .otherwise(
            F.concat(
                _rep_text_col(),
                F.when(F.col("doc_id") % 7 == 0, F.lit(_ELLIPSIS_TAIL))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 13 == 0, F.lit(_HASH_LINE))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 2 == 1, F.lit(_PROSE_LINE))
                .otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )


@register(
    "gopher_document_rules",
    lambda: f"""
    WITH {_GDOC_CTE},
    {_doc_sig_sql('gdoc')}
    SELECT doc_id, n_words, mean_word_len_e4, hash_ratio_e4,
           ellipsis_ratio_e4, bullet_line_frac_e4, ellipsis_line_frac_e4,
           alpha_word_frac_e4, n_stop_hits,
           CAST({_fail_sum_sql(_DOC_RULES_SQL)} AS BIGINT) AS n_fails,
           ({_fail_sum_sql(_DOC_RULES_SQL)}) = 0 AS keep,
           COALESCE(concat_ws(',',
               {_fail_names_sql(_DOC_RULES_SQL)}), '') AS fail_rules
    FROM dsig
    ORDER BY doc_id
    """,
    doc="Gopher DOCUMENT-level rules (Rae et al. 2021 Table A1, the "
    "non-repetition half): word-count bounds [50,100k], mean word "
    "length [3,10], '#'/'...'-to-word symbol ratio <=0.1, <=90% "
    "bullet-started lines, <=30% ellipsis-ended lines, >=80% words "
    "with an alphabetic char, >=2 required stop words — each signal "
    "an exact integer or one-division e4, gate in integer space. "
    "Pure per-row string/array expressions: ZERO shuffle at any "
    "corpus size (a codegen map over the scan — the strongest scale "
    "shape in the registry). Derived corpus injects each failure "
    "mode: %11 menu pages (bullet rule), %7 teaser tails (ellipsis "
    "rule), %13 symbol spam (symbol + alpha rules), odd-doc prose "
    "line (stop-word rule discriminates despite the synthetic "
    "vocabulary).",
)
def gopher_document_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist
    from ..operators.gopher import gopher_doc_rules_frame

    # persist before the sort — see gopher_repetition_signals_q
    rules = bounded_persist(
        gopher_doc_rules_frame(_gdoc_docs(_docs(spark, sf_dir)))
    )
    return rules.orderBy("doc_id")


@register(
    "gopher_full_filter",
    lambda: f"""
    {_gopher_signals_sql(_GDOC_CTE.replace('gdoc AS', 'rep AS'))},
    {_doc_sig_sql('rep')},
    rgate AS (
        SELECT doc_id,
               CAST({_fail_sum_sql(_REP_RULES_SQL)} AS BIGINT) AS rep_n_fails,
               COALESCE(concat_ws(',',
                   {_fail_names_sql(_REP_RULES_SQL)}), '') AS rep_fail_rules
        FROM sig
    ),
    dgate AS (
        SELECT doc_id,
               CAST({_fail_sum_sql(_DOC_RULES_SQL)} AS BIGINT) AS doc_n_fails,
               COALESCE(concat_ws(',',
                   {_fail_names_sql(_DOC_RULES_SQL)}), '') AS doc_fail_rules
        FROM dsig
    )
    SELECT r.doc_id, r.rep_n_fails, d.doc_n_fails,
           r.rep_n_fails + d.doc_n_fails AS n_fails,
           (r.rep_n_fails + d.doc_n_fails) = 0 AS keep,
           CASE WHEN r.rep_fail_rules = '' THEN d.doc_fail_rules
                WHEN d.doc_fail_rules = '' THEN r.rep_fail_rules
                ELSE r.rep_fail_rules || ',' || d.doc_fail_rules END
               AS fail_rules
    FROM rgate r JOIN dgate d USING (doc_id)
    ORDER BY doc_id
    """,
    doc="The COMPLETE Gopher Table-A1 quality filter: all 11 "
    "repetition rules + all 7 document rules over ONE derived corpus "
    "(the gdoc derivation: repetition layering + menu/teaser/symbol/"
    "prose injections), one verdict per document with fail_rules "
    "listing repetition rules first then document rules. Plan: the "
    "doc-rule half is a shuffle-free per-row map; the repetition half "
    "is the single-explode gram battery; one doc_id-keyed join "
    "combines the verdicts. This is the full published filter a "
    "MassiveText-style pipeline runs between extraction and dedup.",
)
def gopher_full_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import bounded_persist
    from ..operators.gopher import gopher_full_filter_frame

    # persist before the sort — see gopher_repetition_signals_q
    full = bounded_persist(
        gopher_full_filter_frame(_gdoc_docs(_docs(spark, sf_dir)))
    )
    return full.orderBy("doc_id")
