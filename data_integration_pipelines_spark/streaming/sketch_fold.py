"""Streaming count-min sketch: fold each micro-batch's partial grid
into a versioned store — frequency monitoring of an unbounded feed in
bounded state.

This is the streaming face of the mergeable-partials contract
(operators/sketches.py): CMS grids add cell-wise, so ``foreachBatch``
only ever builds the BATCH's grid (one grid-sized shuffle over the
increment) and merges it with the stored grid (depth*width rows). The
state the stream carries is O(depth*width) forever, no matter how many
events flow through — the property that lets a 1000-executor feed
monitor token/key frequencies without a corpus-sized stateful
operator.

Store layout reuses the versioned-parquet convention of
``streaming/upsert.py`` (write ``v=K+1``, never read-and-overwrite the
same files; every complete version remains readable — time travel for
free)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.sketches import cms_build, cms_merge
from .upsert import _versions, read_store


def fold_cms_batch(
    existing: DataFrame | None,
    batch: DataFrame,
    value_col: str,
    width: int = 64,
    depth: int = 3,
) -> DataFrame:
    """One fold step: the batch's partial grid, merged with the store's
    grid when there is one. Pure function of its inputs — the streaming
    query and the batch recompute use the same code path."""
    partial = cms_build(batch.select(value_col), value_col, width, depth)
    return partial if existing is None else cms_merge(existing, partial)


def _lineage_identities(checkpoint_path: str) -> list[str]:
    """All identities that denote the CURRENT lineage at this path,
    preferred first: the StreamingQuery id from ``<ckpt>/metadata``
    (Spark mints a fresh id when the dir is recreated), else a uuid nonce
    stamped once into the dir. Binding to the PATH alone would let
    delete-and-recreate at the same path pass the guard and silently
    double-fold. More than one exists when a checkpoint was first
    used via a direct foreachBatch-body call (nonce stamped) and later
    driven by a real StreamingQuery (Spark writes ``metadata`` with a
    query id into the SAME still-live dir): both ids then name one
    lineage, and a store bound under either must keep folding. A
    recreated dir loses both the old metadata and the old nonce, so
    every stale identity still mismatches."""
    import json
    import uuid

    ids: list[str] = []
    meta = os.path.join(checkpoint_path, "metadata")
    try:
        with open(meta) as fh:
            qid = json.load(fh).get("id")
        if qid:
            ids.append(f"query:{qid}")
    except (OSError, ValueError):
        pass
    nonce_path = os.path.join(checkpoint_path, "_lineage_nonce")
    try:
        with open(nonce_path) as fh:
            ids.append(f"nonce:{fh.read().strip()}")
    except OSError:
        if not ids:
            os.makedirs(checkpoint_path, exist_ok=True)
            nonce = uuid.uuid4().hex
            with open(nonce_path, "w") as fh:
                fh.write(nonce)
            ids.append(f"nonce:{nonce}")
    return ids


def fold_into_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    checkpoint_path: str,
    value_col: str,
    width: int = 64,
    depth: int = 3,
) -> None:
    """One micro-batch fold against the versioned store (the
    foreachBatch body, module-level so replay semantics are directly
    testable).

    Two safety layers:
    - **lineage binding**: batch-id idempotence is only sound WITHIN
      one checkpoint lineage — a fresh checkpoint re-batches the
      staging dir from batch 0 with a possibly different file mix, so
      skipping "already seen" ids against an old store would silently
      drop some events and double-fold others. The store records its
      checkpoint LINEAGE IDENTITY on first write and REFUSES a
      different one. The identity is the StreamingQuery id from the
      checkpoint's own ``metadata`` file (Spark writes it at query
      start and mints a NEW id when a checkpoint is deleted and
      recreated at the same path), falling back to a creation nonce
      this module stamps into the checkpoint dir — so same-path
      recreation is caught, not just a different path.
    - **replay idempotence**: the version IS the micro-batch id; if
      the query died after writing v=K but before committing the
      checkpoint, the redelivered batch K finds its version complete
      and skips — counts fold exactly once (grid cells have no row
      identity to dedup on downstream)."""
    versioned_fold(
        batch_df,
        batch_id,
        store_path,
        checkpoint_path,
        lambda existing, batch: fold_cms_batch(
            existing, batch, value_col, width, depth
        ),
    )


def versioned_fold(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    checkpoint_path: str,
    fold_fn,
) -> None:
    """Lineage binding + batch-id idempotence + versioned write around
    an arbitrary mergeable fold ``fold_fn(existing_or_None, batch_df)
    -> DataFrame`` — the exactly-once monoid-store contract shared by
    every foreachBatch fold in this package (CMS grids, drift band
    counts, ANN top-k partials). See ``fold_into_store`` for the two
    safety layers' rationale; this is its generic core, factored so a
    new folded state type cannot re-implement the guards subtly wrong."""
    import json

    spark = batch_df.sparkSession
    identities = _lineage_identities(checkpoint_path)
    lineage = identities[0]
    marker = os.path.join(store_path, "_checkpoint.json")
    if os.path.exists(marker):
        bound = json.load(open(marker))
        bound_id = bound.get("lineage")
        if bound_id is None:
            # pre-lineage marker (path-bound): accept a matching path
            # ONCE and upgrade in place — refusing would strand every
            # store written before the identity guard existed
            accept = bound.get("checkpoint") == checkpoint_path
        else:
            # any identity of the current lineage matches (a nonce-
            # bound store stays valid after Spark later writes the
            # query-id metadata into the same still-live checkpoint)
            accept = bound_id in identities
        if not accept:
            raise ValueError(
                f"folded store at {store_path!r} is bound to checkpoint "
                f"lineage {bound_id or bound.get('checkpoint')!r}; "
                f"folding from {lineage!r} (checkpoint "
                f"{checkpoint_path!r}) would mix lineages and corrupt "
                "counts — use a fresh store"
            )
        if bound_id != lineage:
            with open(marker, "w") as fh:
                json.dump({"checkpoint": checkpoint_path, "lineage": lineage}, fh)
    else:
        os.makedirs(store_path, exist_ok=True)
        with open(marker, "w") as fh:
            json.dump({"checkpoint": checkpoint_path, "lineage": lineage}, fh)
    if batch_id in _versions(store_path):
        return
    prior = [v for v in _versions(store_path) if v < batch_id]
    existing = (
        read_store(spark, store_path, version=prior[-1]) if prior else None
    )
    merged = fold_fn(existing, batch_df)
    # folded state is bounded by contract (grid cells / band counts /
    # top-k rows) — one file is the right layout
    merged.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(store_path, f"v={batch_id}")
    )


def streaming_cms(
    stream_df: DataFrame,
    value_col: str,
    store_path: str,
    checkpoint_path: str,
    width: int = 64,
    depth: int = 3,
):
    """Drain ``stream_df`` with availableNow, folding each micro-batch
    into the CMS store. Returns the StreamingQuery."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_into_store(
            batch_df, batch_id, store_path, checkpoint_path,
            value_col, width, depth,
        )

    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_distinct(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    store_path: str,
    checkpoint_path: str,
):
    """Streaming per-group distinct counting in bounded state: fold
    each micro-batch's HLL sketches (operators/incremental.
    partial_distinct_sketch — Datasketches HLL, a few KB per group)
    into the versioned store through ``versioned_fold``. Exact
    count(DISTINCT) cannot fold incrementally (it needs the full value
    set); the sketch union is associative and its estimate is
    deterministic for a given algorithm/seed, so the drained estimate
    equals the one-shot batch estimate EXACTLY (pinned by test), in
    O(groups x sketch) state forever. Read the answer with
    ``incremental.finalize_distinct(read_store(...), keys)``."""
    from ..operators.incremental import (
        merge_distinct_sketches,
        partial_distinct_sketch,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        versioned_fold(
            batch_df,
            batch_id,
            store_path,
            checkpoint_path,
            lambda state, batch: merge_distinct_sketches(
                state, partial_distinct_sketch(batch, keys, value_col), keys
            ),
        )

    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
