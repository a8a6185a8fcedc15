"""Distributed BPE tokenizer training (byte-pair-encoding merge-rule
learning) and encoding — the "train a tokenizer on your corpus" step of
an LLM data pipeline, complementing the fixed-vocabulary fertility
query (plans/queries_text.tokenizer_fertility) which only APPLIES a
tokenizer.

Reference parity: the reference pipelines tokenize/segment text inside
their curation scripts (whitespace + punctuation heuristics, e.g.
src/kg_construction/text_processing.py) but never LEARN a vocabulary;
this module adds the standard algorithm (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") in the
shape every production tokenizer trainer uses: learn merges on the
DISTINCT-WORD frequency table, not the raw corpus.

Scale design (the reason this is Spark-first rather than a port of the
reference's single-process text loops):

- **The corpus is touched exactly once** — one explode + groupBy(word)
  shuffle produces the word-frequency table. Everything after is
  vocab-sized (distinct words: ~10M rows at 100 TB web text, ~10^3 at
  fixture scale), so per-merge iteration cost is independent of corpus
  size — the property that makes 100 TB tokenizer training feasible.
- **One bounded shuffle + one 1-row action per merge**: pair counts are
  a groupBy over the vocab-sized table with map-side partial
  aggregation; the argmax is an orderBy(...).limit(1) — only a single
  row ever reaches the driver per iteration (the k-means
  driver-loop contract, operators/clustering.py).
- **Lineage truncation**: the token column is rewritten per merge;
  every ``checkpoint_every`` merges the vocab table materializes via
  ``localCheckpoint`` (graph_rank.py / dedup.py convention) so the
  plan does not grow linearly with merge count.
- **Pure JVM merge application**: the greedy left-to-right merge fold
  is a higher-order ``aggregate`` over the token array — no Python in
  the training loop.

Determinism: pair argmax ties break on (pair_freq DESC, left ASC,
right ASC) — lexicographic, engine-independent, and pinned by test
against a pure-Python reference implementation. (Published trainers
break ties by first-seen order, which is input-partitioning-dependent;
a distributed trainer needs a total order.)
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import routing
from .dedup import spread

# End-of-word sentinel (Sennrich et al. convention): lets a merge
# distinguish word-final subwords ("est</w>") from word-internal ones
# ("est" in "establish"). Chosen to be impossible in whitespace-split
# tokens (contains no whitespace, but words cannot contain '<'?  they
# can — so the sentinel is appended as its OWN token, never substring-
# matched, which keeps it collision-safe even for words containing the
# literal characters).
EOW = "</w>"


def _char_tokens(word: Column) -> Column:
    """word -> array of single-character tokens + the EOW sentinel."""
    chars = F.filter(F.split(word, ""), lambda x: x != "")
    return F.concat(chars, F.array(F.lit(EOW)))


def apply_merge(tokens: Column, left: str, right: str) -> Column:
    """Greedy left-to-right, non-overlapping application of ONE merge
    rule (left, right) -> left+right over a token array: the exact
    semantics of BPE training's merge step ("aaaa" under ("a","a")
    becomes ["aa","aa"], never ["aa","a","a"]).

    Implemented as a higher-order ``aggregate`` fold — JVM-side, no
    Python. ``F.get`` (not element_at) reads the accumulator tail so an
    empty accumulator yields NULL instead of an ANSI-mode index error;
    NULL equality folds to false, which is the correct "no previous
    token" behavior. A merged token never re-merges within the same
    pass because left+right is strictly longer than left, so the
    string equality with ``left`` cannot match it.
    """
    a, b, ab = F.lit(left), F.lit(right), F.lit(left + right)

    def step(acc: Column, t: Column) -> Column:
        prev = F.get(acc, F.size(acc) - 1)
        hit = (prev == a) & (t == b)
        return F.when(
            hit, F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ab))
        ).otherwise(F.concat(acc, F.array(t)))

    init = F.array().cast("array<string>")
    return F.aggregate(tokens, init, step)


def word_frequency_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq) over whitespace-split text — the single corpus-scale
    pass of BPE training. One shuffle (groupBy word), map-side combined."""
    return (
        # spread: the split+explode map side otherwise serializes on an
        # unsplittable single-row-group scan (no-op at real scale)
        spread(docs.select(text_col))
        .select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


#: Driver-route guard for :func:`bpe_train`: total CHAR-TOKEN CELLS
#: (sum over distinct words of len(word)+1) the driver loop may hold.
#: Below it, the per-merge pair count is a sub-second Python fold and
#: the 3-jobs-per-merge distributed loop is pure scheduler latency;
#: above it (real corpora: ~10M distinct words at web scale), the
#: vocab-sized distributed loop runs exactly as before. 2^18 cells is
#: a few MB of driver tuples and <= ~0.3 s/merge of Counter work.
#: Fetched with this as a ROW cap (a word costs >= 1 cell): over it at
#: most MAX_DRIVER_VOCAB_CELLS + 1 (word, freq) rows move and are dropped.
MAX_DRIVER_VOCAB_CELLS = 262_144


def _driver_train(
    rows: list, n_merges: int, min_freq: int
) -> list[tuple]:
    """The merge loop of :func:`bpe_train` on a collected (word, freq)
    list — bit-identical semantics to the distributed loop (same
    greedy left-to-right merge, same (pair_freq DESC, left ASC,
    right ASC) argmax; the parity of both against this exact algorithm
    is pinned by tests/test_bpe.ref_bpe_train)."""
    vocab = [(tuple(w) + (EOW,), f) for w, f in rows]
    merges: list[tuple] = []
    for rank in range(n_merges):
        pc: Counter = Counter()
        for toks, f in vocab:
            for p in zip(toks, toks[1:]):
                pc[p] += f
        if not pc:
            break
        (a, b), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_freq:
            break
        merges.append((rank, a, b, a + b, int(freq)))
        new_vocab = []
        for toks, f in vocab:
            out: list[str] = []
            i = 0
            n = len(toks)
            while i < n:
                if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_vocab.append((tuple(out), f))
        vocab = new_vocab
    return merges


MERGE_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_freq", T.LongType(), False),
    ]
)


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 32,
    min_freq: int = 2,
    checkpoint_every: int = 6,
) -> DataFrame:
    """Learn up to ``n_merges`` BPE merge rules from a document corpus.

    Returns the merge table (rank, left, right, merged, pair_freq)
    ordered by rank — the artifact a tokenizer ships. Stops early when
    the best remaining pair's corpus frequency drops below
    ``min_freq`` (merging hapax pairs memorizes noise).

    The merge table is n_merges rows — bounded and driver-sized by
    construction, like k-means' k x D centroid update. The vocab table
    the loop iterates on is DISTINCT words, not documents: corpus
    growth changes only the one word_frequency_table shuffle.
    """
    spark = docs.sparkSession
    wf = word_frequency_table(docs, text_col)
    # Route on vocab size (the kmeans_fit auto-switch convention): when
    # the DISTINCT-WORD table's char-token cells fit the driver guard,
    # folding the merges in Python replaces ~3 scheduler round-trips
    # per merge with zero; the corpus is still read once, by the
    # word_frequency_table shuffle above. Real corpora take the
    # distributed loop below, unchanged.
    wf = wf.localCheckpoint(eager=False)
    rows = routing.bounded_fetch(wf, MAX_DRIVER_VOCAB_CELLS)  # (word, freq)
    if rows is not None and sum(len(w) + 1 for w, _ in rows) <= MAX_DRIVER_VOCAB_CELLS:
        return spark.createDataFrame(
            _driver_train(rows, n_merges, min_freq), MERGE_SCHEMA
        )
    vocab = (
        wf.select(_char_tokens(F.col("word")).alias("tokens"), "freq")
        # corpus-scale lineage ends here; the loop below must not
        # re-trigger the corpus scan per merge
        .localCheckpoint(eager=False)
    )
    merges: list[tuple] = []
    for rank in range(n_merges):
        n_tok = F.size("tokens")
        pairs = (
            vocab.filter(n_tok >= 2)
            .select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice("tokens", 1, n_tok - 1).alias("left"),
                        F.slice("tokens", 2, n_tok - 1).alias("right"),
                    )
                ).alias("p"),
            )
            .groupBy(
                F.col("p.left").alias("left"), F.col("p.right").alias("right")
            )
            .agg(F.sum("freq").alias("pair_freq"))
        )
        best = pairs.orderBy(
            F.desc("pair_freq"), F.asc("left"), F.asc("right")
        ).first()
        if best is None or best["pair_freq"] < min_freq:
            break
        left, right = best["left"], best["right"]
        merges.append((rank, left, right, left + right, int(best["pair_freq"])))
        vocab = vocab.select(
            apply_merge(F.col("tokens"), left, right).alias("tokens"), "freq"
        )
        if (rank + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=False)
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a LEARNED merge list: whitespace-split,
    char-split + EOW per word, then every merge applied in rank order.

    Semantics: merges apply SEQUENTIALLY in rank order, each greedy
    left-to-right non-overlapping — the literal operation sequence
    ``bpe_train`` performed, so encoding a training word reproduces its
    final training tokenization exactly (pinned by test). This differs
    from the GPT-2-style "repeatedly merge the lowest-rank pair
    present" encoder, which can re-apply an early rule to symbols a
    later rule created; sequential application is the one that is
    provably parity-consistent with the trainer.

    Arrow-batched Python kernel (scalar pandas UDF; rows independent)
    rather than n_merges chained JVM folds — with production merge
    counts (10k-50k rules) a chained Column expression tree is
    unanalyzable. Per-word results are memoized across the batch (web
    text repeats words heavily). Encoding is embarrassingly parallel:
    no shuffle, scales with executors.
    """
    rules = [(left, right, left + right) for left, right, *_ in merges]

    def _encode_batch(texts):
        # per-batch word memo (an lru_cache wrapper would not pickle);
        # web text repeats words heavily, so most lookups hit
        cache: dict = {}

        def encode_word(word):
            hit = cache.get(word)
            if hit is not None:
                return hit
            toks = list(word) + [EOW]
            for a, b, ab in rules:
                if len(toks) < 2:
                    break
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(ab)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            cache[word] = toks
            return toks

        return texts.map(
            lambda t: [
                tok
                for w in (t or "").split()
                for tok in encode_word(w)
            ]
        )

    encode = F.pandas_udf(_encode_batch, T.ArrayType(T.StringType()))
    return df.withColumn(out_col, encode(F.col(text_col)))
