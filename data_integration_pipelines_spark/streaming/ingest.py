"""Streaming ingest dedup: classify a document feed against the
standing corpus, micro-batch by micro-batch.

The batch operator (``operators/dedup.classify_against_corpus``) is
already delta-shaped — each document's verdict depends only on
(document, corpus), never on its batchmates — so the streaming face is
just ``foreachBatch`` over the same function with verdicts appended to
a result log. Any partitioning of the feed yields byte-identical
verdicts to one big batch (pinned by the stream==batch test), which is
what makes at-least-once redelivery safe: a redelivered document gets
the same verdict row again and downstream consumers dedup on doc_id.

At 100 TB the corpus side is a staged shingle/fingerprint table; each
micro-batch pays cost proportional to the INCREMENT (the asymmetric
prefix join), which is the whole point of continuous ingest dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.dedup import classify_against_corpus

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_staged_docs_stream(spark, path: str, max_files_per_trigger: int | None = None):
    """Streaming scan of a staged directory of document parquet files."""
    from .staged import read_staged_stream

    return read_staged_stream(spark, path, DOCS_SCHEMA, max_files_per_trigger)


def _versioned_drain(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    classify_fn,
    release_fn,
):
    """Shared foreachBatch runner for ingest classifiers (r9 — factored
    from streaming_ingest_verdicts so the embedding tier reuses the
    exact lineage/idempotence contract): drains ``stream_df`` with
    availableNow, writing ``classify_fn(batch_df)`` to the versioned
    parquet result log — per-batch ``batch_id=<id>`` partitions,
    complete (``_SUCCESS``) partitions skipped on redelivery,
    incomplete ones overwritten, the log lineage-bound to the
    checkpoint (sketch_fold._lineage_identities) so a recreated
    checkpoint cannot mix batch-id spaces. ``release_fn()`` runs once
    the drain terminates (or fails) — the caller's staged corpus
    caches."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import json
        import os

        from .sketch_fold import _lineage_identities

        # Accept ANY identity of the current lineage and upgrade the
        # marker to the preferred one (mirrors fold_into_store): a log
        # first written via a direct foreachBatch-body call is nonce-
        # bound; when a real StreamingQuery later drives the same
        # still-live checkpoint, the query-id identity must not be
        # spuriously refused.
        identities = _lineage_identities(checkpoint_path)
        lineage = identities[0]
        marker = os.path.join(out_path, "_lineage.json")
        if os.path.exists(marker):
            bound = json.load(open(marker))["lineage"]
            if bound not in identities:
                raise ValueError(
                    f"verdict log at {out_path!r} is bound to checkpoint "
                    f"lineage {bound!r}; writing batches from {lineage!r} "
                    "would mix batch-id spaces and leave stale/missing "
                    "rows — use a fresh log"
                )
            if bound != lineage:
                with open(marker, "w") as fh:
                    json.dump(
                        {"lineage": lineage, "checkpoint": checkpoint_path}, fh
                    )
        else:
            os.makedirs(out_path, exist_ok=True)
            with open(marker, "w") as fh:
                json.dump({"lineage": lineage, "checkpoint": checkpoint_path}, fh)
        if not batch_df.take(1):
            return
        part_dir = os.path.join(out_path, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(part_dir, "_SUCCESS")):
            return  # redelivered batch: its partition is already complete
        classify_fn(batch_df).write.mode("overwrite").parquet(part_dir)

    query = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )

    class _Drain:
        """awaitTermination wrapper that releases the staged corpus
        caches once the drain has actually TERMINATED — a timed-out
        poll (awaitTermination(t) -> False) must leave them pinned or
        every remaining micro-batch re-pays the corpus staging; a
        failed drain (exception) releases too. ``release()`` is public
        for callers that stop the query through other paths."""

        def __init__(self, q):
            self._q = q
            self._released = False

        def release(self) -> None:
            if not self._released:
                self._released = True
                release_fn()

        def awaitTermination(self, timeout=None):
            try:
                result = self._q.awaitTermination(timeout)
            except Exception:
                self.release()
                raise
            # None-timeout blocks until termination; a timed call only
            # terminated if it returned True
            if timeout is None or result:
                self.release()
            return result

        def __getattr__(self, name):
            return getattr(self._q, name)

    return _Drain(query)


def streaming_ingest_verdicts(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    out_path: str,
    checkpoint_path: str,
    n: int = 3,
    threshold: float = 0.5,
):
    """Drain ``stream_docs`` with availableNow, writing each
    micro-batch's verdicts (doc_id, verdict, exact_match_id,
    n_near_dups, best_jaccard_e4) to the parquet result log. Returns the
    StreamingQuery.

    The log uses the versioned-write convention (same as
    sketch_fold's store): each batch lands in its own
    ``batch_id=<id>`` partition — a batch whose partition is already
    complete (``_SUCCESS`` present) is skipped, and an incomplete one
    is OVERWRITTEN, so a crash between the write and the checkpoint
    commit cannot duplicate verdict rows on redelivery. A bare
    ``append`` would rely entirely on downstream doc_id dedup; the
    log itself is now equal to the one-big-batch answer.

    Batch-id idempotence is only sound WITHIN one checkpoint lineage
    (a recreated checkpoint re-batches the staging dir from 0 with a
    possibly different file mix, so skipping "complete" partitions
    would leave stale/missing rows): the log records its lineage
    identity (sketch_fold._lineage_identities — StreamingQuery id or
    creation nonce, not the path string) on first write and REFUSES a
    different one — use a fresh log for a fresh lineage."""

    from pyspark.sql import functions as F

    from ..functions.text import fingerprint
    from ..operators.dedup import shingle_table

    # Stage the corpus side ONCE, pinned outside the FIFO persist pool
    # (per-batch operators would otherwise evict it and every batch
    # would re-pay a full corpus scan + shingle + sort — O(batches)
    # corpus passes). The stream owns these handles; they are released
    # when the drain completes.
    corpus_fp = corpus_docs.select(
        fingerprint(F.col("text")).alias("fp"),
        F.col("doc_id").alias("old_id"),
    ).persist()
    corpus_sh = shingle_table(
        corpus_docs, "text", "doc_id", n, out_id="old_id", persist=False
    ).persist()

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return classify_against_corpus(
            batch_df,
            corpus_docs,
            "text",
            "doc_id",
            n,
            threshold,
            corpus_fp=corpus_fp,
            corpus_shingles=corpus_sh,
        )

    def release_fn() -> None:
        corpus_fp.unpersist(blocking=False)
        corpus_sh.unpersist(blocking=False)

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def read_staged_embeddings_stream(
    spark, path: str, max_files_per_trigger: int | None = None
):
    """Streaming scan of a staged directory of embedding parquet files."""
    from .staged import read_staged_stream

    return read_staged_stream(spark, path, EMB_SCHEMA, max_files_per_trigger)


def streaming_embedding_verdicts(
    stream_emb: DataFrame,
    corpus_emb: DataFrame,
    out_path: str,
    checkpoint_path: str,
    threshold: float = 0.35,
):
    """The EMBEDDING tier of streaming ingest dedup (r9): drain a
    vector feed with availableNow, classifying each micro-batch against
    the standing corpus via the capped probed kernel
    (operators/similarity.classify_embeddings_against_corpus) into the
    same versioned verdict log as the text tier. Delta-shaped like the
    text classifier — a vector's verdict depends only on (vector,
    corpus), never on batchmates — so any feed partitioning is
    byte-identical to one big batch (stream==batch pytest).

    The corpus-side CAPPED signature table — the persisted index — is
    staged ONCE and pinned outside the FIFO persist pool: width and cap
    resolve from the CORPUS count exactly as the batch registry query
    (incremental_embedding_dedup), and every micro-batch probes the
    pinned index instead of re-signaturing the corpus (O(batches)
    corpus passes otherwise)."""
    from ..operators.similarity import (
        _cap_buckets,
        auto_max_bucket,
        classify_embeddings_against_corpus,
        hyperplane_signatures,
        recommended_n_planes,
    )

    # pin BOTH staged corpus sides across micro-batches (the text
    # tier's corpus_fp/corpus_sh precedent): the signature table feeds
    # the candidate join, and the raw vectors feed the per-batch cosine
    # verify — unpinned, every batch re-pays a full corpus scan + cast
    corpus_pinned = corpus_emb.persist()
    n = corpus_pinned.count()
    planes = recommended_n_planes(n)
    cap = auto_max_bucket(n, planes)
    corp_sig = _cap_buckets(
        hyperplane_signatures(corpus_pinned, n_planes=planes), ["signature"], cap
    ).persist()

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return classify_embeddings_against_corpus(
            batch_df,
            corpus_pinned,
            threshold=threshold,
            n_planes=planes,
            corpus_sig=corp_sig,
        )

    def release_fn() -> None:
        corp_sig.unpersist(blocking=False)
        corpus_pinned.unpersist(blocking=False)

    return _versioned_drain(
        stream_emb, out_path, checkpoint_path, classify_fn, release_fn
    )


def streaming_dsir_scores(
    stream_docs: DataFrame,
    model: DataFrame,
    out_path: str,
    checkpoint_path: str,
    n_buckets: int = 64,
):
    """Streaming DSIR scoring — the production deployment of the
    importance model (operators/dsir.py): fit ONCE on the standing
    corpus, then score the incoming document feed micro-batch by
    micro-batch against the PINNED model, draining with availableNow
    into the same versioned score log as the ingest verdict tiers.

    Delta-shaped by construction: a document's (n_tokens, score_e4)
    depends only on (document, model) — integer sums of the model's
    frozen e4 bucket log-ratios — never on batchmates, so any feed
    partitioning is byte-identical to one big batch (stream==batch
    pytest) and at-least-once redelivery is safe under the versioned
    log's batch_id idempotence.

    The model is n_buckets rows BY CONSTRUCTION — pinning it costs one
    64-row materialization, and each micro-batch pays only its own
    tokenize + broadcast-join + per-doc sum (the per-batch model
    completion in dsir_scores is an O(n_buckets) spark.range join,
    noise next to the batch scan)."""
    from ..operators.dsir import dsir_scores

    # snapshot a PRIVATE copy (ADVICE r9): persisting the caller's
    # DataFrame directly would let release evict cache state the
    # caller shares with other consumers (a no-op .select() doesn't
    # help — it canonicalizes to the SAME cache entry). The model is
    # n_buckets rows BY CONSTRUCTION, so a driver-side collect +
    # local re-create is the honest pin: it decouples the drain from
    # the caller's lineage and cache entirely, and a LocalRelation
    # can never be recomputed against a changed corpus mid-drain.
    model_pinned = model.sparkSession.createDataFrame(
        model.collect(), model.schema
    )

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return dsir_scores(batch_df, model_pinned, n_buckets=n_buckets)

    def release_fn() -> None:
        pass  # nothing drain-owned to release: the snapshot is local

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


def streaming_ngram_lm_scores(
    stream_docs: DataFrame,
    pair_model: DataFrame,
    ctx_model: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key_cols: tuple[str, ...] = (),
):
    """Streaming face of the bigram-LM quality gate
    (operators/ngram_lm.py) — CCNet's production shape: the LM is
    fitted ONCE on the target corpus, then the crawl feed is scored
    micro-batch by micro-batch against the PINNED model into the
    versioned score log. ``key_cols=("lang",)`` pins the PER-LANGUAGE
    models (CCNet's actual construction): the snapshot grows to
    n_lang * the per-model bound — still bounded by construction, the
    language set being an enum — and each fed document scores under
    its own language's model.

    Delta-shaped by construction: a document's (n_bigrams,
    logprob_sum_e4) depends only on (document, model) — integer sums
    of the model's frozen e4 log-probs — never on batchmates, so any
    feed partitioning is byte-identical to one big batch
    (stream==batch pytest) and redelivery is safe under the versioned
    log's batch_id idempotence.

    Both model sides are BOUNDED by construction (ctx_buckets *
    pair_buckets and ctx_buckets rows), so the pin is the same
    driver-side snapshot the DSIR face uses (ADVICE r9): collect +
    local re-create decouples the drain from the caller's lineage and
    cache entirely — release can never evict shared state, and a
    LocalRelation can't be recomputed against a moved corpus
    mid-drain."""
    from ..operators.ngram_lm import ngram_lm_scores

    spark = pair_model.sparkSession
    pm = spark.createDataFrame(pair_model.collect(), pair_model.schema)
    cm = spark.createDataFrame(ctx_model.collect(), ctx_model.schema)

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return ngram_lm_scores(batch_df, pm, cm, key_cols=key_cols)

    def release_fn() -> None:
        pass  # nothing drain-owned to release: the snapshots are local

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


def streaming_perceptron_scores(
    stream_docs: DataFrame,
    weights: list[int],
    out_path: str,
    checkpoint_path: str,
):
    """Streaming face of the trained quality filter
    (operators/perceptron.py): the perceptron is fitted ONCE on the
    standing corpus, then the crawl feed is scored micro-batch by
    micro-batch against the PINNED weights into the versioned score
    log — the production deployment of the learned
    reference-vs-crawl gate, same shape as the DSIR and ngram-LM
    scoring faces.

    The cheapest pin in the module: the model is FOUR INTEGERS, passed
    by value and substituted into the margin expression as literals —
    no snapshot materialization, no broadcast, nothing to release. A
    document's (margin, predicted) is an exact integer dot product of
    (document, weights) only — never batchmates — so stream==batch is
    bit-exact under any feed partitioning and redelivery is safe under
    the versioned log's batch_id idempotence."""
    from ..operators.perceptron import perceptron_features, perceptron_scores

    w = [int(x) for x in weights]

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return perceptron_scores(perceptron_features(batch_df), w)

    def release_fn() -> None:
        pass  # weights are plain ints: nothing staged, nothing owned

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


def streaming_shard_assign(
    stream_docs: DataFrame,
    out_path: str,
    checkpoint_path: str,
    n_shards: int = 8,
    seed: int = 0,
):
    """Streaming face of the seeded global-shuffle shard assignment
    (sources/shard_export.assign_shuffled): the document feed drains
    into the versioned log already carrying its (__shard,
    __shuffle_key) training-order coordinates, so the downstream
    export_shuffled write is a pure re-sort of the landed log — no
    re-hash, no second corpus scan.

    The strongest delta shape in the module: STATELESS map-only. A
    document's (shard, key) is md5('<id>:<seed>') — a pure function of
    (id, seed), never of batchmates, arrival order, or feed
    partitioning — so stream==batch is exact by construction and a
    late-arriving document lands at the same deterministic position in
    the same shard it would have occupied in a one-shot batch deal.
    No model to pin, no state to fold: per-batch cost is the batch's
    own scan, flat in corpus size."""
    from ..sources.shard_export import assign_shuffled

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return assign_shuffled(batch_df, "doc_id", n_shards, seed)

    def release_fn() -> None:
        pass  # stateless: nothing staged, nothing drain-owned

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


def streaming_gopher_gate(
    stream_docs: DataFrame,
    out_path: str,
    checkpoint_path: str,
    full: bool = False,
):
    """Streaming face of the Gopher quality gate (operators/gopher.py):
    the crawl feed drains through the published-threshold filter
    micro-batch by micro-batch into the versioned verdict log — the
    document-level reject stage running at ingest time, before anything
    downstream pays for a doc that Table A1 would drop. ``full=True``
    runs the COMPLETE filter (repetition + document rules);
    the default runs the repetition gate alone.

    Stateless by construction: every signal (dup-line fractions,
    top/dup n-gram char fractions, the per-row document rules) is a
    pure function of the single document — the within-batch groupBys
    are all doc_id-keyed, so a document's verdict never depends on
    batchmates, feed partitioning, or arrival order, and stream==batch
    is exact. No model to pin, no state to fold, nothing to release:
    per-batch cost is the batch's own ~9T-occurrence gram scan, flat
    in corpus size."""
    from ..operators.gopher import (
        gopher_filter_frame,
        gopher_full_filter_frame,
        gopher_signals_frame,
    )

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        if full:
            return gopher_full_filter_frame(batch_df)
        return gopher_filter_frame(gopher_signals_frame(batch_df))

    def release_fn() -> None:
        pass  # stateless: nothing staged, nothing drain-owned

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


def streaming_segment_frequency(
    stream_docs: DataFrame,
    out_path: str,
    checkpoint_path: str,
    seg_tokens: int = 6,
    unit: str = "segment",
):
    """Streaming face of the boilerplate frequency state
    (operators/boilerplate.segment_frequency_state): drain the document
    feed with availableNow, writing each micro-batch's (hash, count)
    DELTA to the versioned log. The live corpus state is the log's
    re-sum (``folded_segment_frequency``) — additive integer partials,
    so folded == one-shot EXACTLY whatever the feed partitioning, and
    the versioned batch_id log makes redelivery fold-once (a doubled
    delta would silently promote near-threshold segments to heavy —
    counts have no row identity to dedup on downstream, the CMS store's
    argument).

    Unlike the verdict tiers, the DECISION is deliberately not taken
    per batch here: a segment's heaviness depends on the WHOLE corpus
    so far, not on (doc, state) — boilerplate removal against a
    still-growing state is the incremental tier's
    remove_boilerplate_incremental, run against the folded state at
    any point (decision-parity pytest). ``unit="line"`` drains the
    production line-dedup state; the folded log must be consumed with
    the same unit.

    STATE-FORMAT BREAK (r10): the delta log schema is the 128-bit
    pair-key ``(__h, __h2, n)``; a log written by the pre-r10
    single-hash drain cannot be folded with post-r10 deltas — restart
    the drain from a fresh out_path/checkpoint (the second hash needs
    the segment text, which the log never stored)."""
    from ..operators.boilerplate import segment_frequency_state

    def classify_fn(batch_df: DataFrame) -> DataFrame:
        return segment_frequency_state(
            batch_df, seg_tokens=seg_tokens, unit=unit
        )

    def release_fn() -> None:
        pass

    return _versioned_drain(
        stream_docs, out_path, checkpoint_path, classify_fn, release_fn
    )


def folded_segment_frequency(spark, out_path: str) -> DataFrame:
    """The live frequency state: re-sum the delta log (additive
    partials; one narrow groupBy on the 16-byte hash pair). A log with no
    batch partitions yet (feed not started, or every batch empty —
    the drain writes only the lineage marker then) is a legitimate
    EMPTY state, not an error."""
    import glob
    import os

    from pyspark.sql import functions as F

    if not glob.glob(os.path.join(out_path, "batch_id=*")):
        return spark.createDataFrame([], "__h bigint, __h2 bigint, n bigint")
    return (
        spark.read.parquet(out_path)
        .groupBy("__h", "__h2")
        .agg(F.sum("n").alias("n"))
    )
