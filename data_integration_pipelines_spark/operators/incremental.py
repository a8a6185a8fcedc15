"""Incremental aggregate maintenance: mergeable partial aggregates.

The batch-recompute model (the reference recomputes every report from a
full scan each run) stops working when the base table is 100 TB and a
day adds 0.1%. The standard fix is keeping a per-group STATE table of
mergeable partials — count, sum, min, max are all associative — and
folding each new batch in with one groupBy + one full-outer merge:
cost proportional to the BATCH, not the corpus. Finalizing (avg =
sum/count) happens only at read time.

The merge is expressed as union + groupBy rather than a join: a single
hash aggregation over (state ∪ partial(batch)), which AQE sizes by the
batch side. State stays partitioned by the group key, so repeated
folds reuse the same partitioning (bucket the state table on the key
at real scale and the shuffle disappears — ``sources/bucketing``).

Differential correctness: folding any split of the data batch-by-batch
must equal the one-shot aggregate — that is what the
``incremental_agg`` query's oracle certifies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE_COLS = ("cnt", "total", "mn", "mx")


def partial_state(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """One batch -> per-group mergeable partials."""
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("cnt"),
        F.sum(value_col).alias("total"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    )


def merge_states(state: DataFrame | None, batch_state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Fold a batch's partials into the running state (associative
    merge; state=None bootstraps). union + one hash agg — no join."""
    if state is None:
        return batch_state
    both = state.select(*keys, *STATE_COLS).unionByName(
        batch_state.select(*keys, *STATE_COLS)
    )
    return both.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("total").alias("total"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


def finalize(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Read-time finalization: derived aggregates from the partials."""
    return state.select(
        *keys,
        F.col("cnt"),
        F.col("total"),
        F.col("mn"),
        F.col("mx"),
        (F.col("total") / F.col("cnt")).alias("avg"),
    )


def partial_distinct_sketch(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Per-group HLL sketch of distinct values (Datasketches HLL via
    Spark's ``hll_sketch_agg``) — the MERGEABLE distinct-count partial.
    Exact ``count(DISTINCT)`` cannot fold incrementally (it needs the
    full value set); the sketch is a few KB per group, merges
    associatively, and the estimate is deterministic for a given
    algorithm/seed — so batch-folded == one-shot EXACTLY, not just
    approximately (property-tested)."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(value_col).alias("nd_sketch"))


def merge_distinct_sketches(
    state: DataFrame | None, batch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a batch's sketches into the running state (union agg)."""
    if state is None:
        return batch
    both = state.select(*keys, "nd_sketch").unionByName(
        batch.select(*keys, "nd_sketch")
    )
    return both.groupBy(*keys).agg(
        F.hll_union_agg("nd_sketch").alias("nd_sketch")
    )


def finalize_distinct(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Read-time estimate from the sketch state."""
    return state.select(
        *keys, F.hll_sketch_estimate("nd_sketch").alias("n_distinct_est")
    )


def delta_join(
    a_state: DataFrame | None,
    b_state: DataFrame | None,
    delta_a: DataFrame | None,
    delta_b: DataFrame | None,
    on: Sequence[str],
) -> DataFrame | None:
    """Increment of the materialized view A ⨝ B when batches append.

    The classic incremental-view-maintenance delta rule:
    Δ(A ⨝ B) = (ΔA ⨝ B) ∪ (A ⨝ ΔB) ∪ (ΔA ⨝ ΔB) — each term joins a
    DELTA against accumulated state, so per-fold cost is proportional
    to the batch (AQE broadcasts the delta side), never a recompute of
    the full view. States of None bootstrap empty; returns None when
    nothing joins (first fold with one empty side)."""
    parts: list[DataFrame] = []
    if delta_a is not None and b_state is not None:
        parts.append(delta_a.join(b_state, list(on)))
    if a_state is not None and delta_b is not None:
        parts.append(a_state.join(delta_b, list(on)))
    if delta_a is not None and delta_b is not None:
        parts.append(delta_a.join(delta_b, list(on)))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fold_join_batches(
    a_batches: Sequence[DataFrame],
    b_batches: Sequence[DataFrame],
    on: Sequence[str],
) -> DataFrame | None:
    """Maintain A ⨝ B across paired append batches; returns the final
    view. Matching rows may arrive in DIFFERENT batches on each side —
    the delta rule catches every combination exactly once, which is
    what the ``incremental_join`` oracle (a plain one-shot join)
    certifies. The fold only builds a plan: states stay unions of their
    batches, as nothing reads a state before the view's one action."""
    if len(a_batches) != len(b_batches):
        raise ValueError(
            f"paired folds require equal batch counts, got "
            f"{len(a_batches)} vs {len(b_batches)} (pad with empty frames)"
        )
    a_state: DataFrame | None = None
    b_state: DataFrame | None = None
    view: DataFrame | None = None
    for da, db in zip(a_batches, b_batches):
        inc = delta_join(a_state, b_state, da, db, on)
        if inc is not None:
            view = inc if view is None else view.unionByName(inc)
        a_state = da if a_state is None else a_state.unionByName(da)
        b_state = db if b_state is None else b_state.unionByName(db)
    return view


MULT_COL = "__mult"


def with_mult(df: DataFrame, mult: int = 1) -> DataFrame:
    """Tag a batch as inserts (+1) or retractions (-1)."""
    return df.withColumn(MULT_COL, F.lit(int(mult)))


def normalize_mult(df: DataFrame) -> DataFrame:
    """Collapse a multiplicity-tagged relation to its net rows: sum
    multiplicities per distinct row, keep non-zero. An insert followed
    by its retraction cancels to nothing; double inserts carry mult 2
    (bag semantics, exactly what repeated joins need)."""
    value_cols = [c for c in df.columns if c != MULT_COL]
    return (
        df.groupBy(*value_cols)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)
    )


def delta_join_mult(
    a_state: DataFrame | None,
    b_state: DataFrame | None,
    delta_a: DataFrame | None,
    delta_b: DataFrame | None,
    on: Sequence[str],
) -> DataFrame | None:
    """Delta rule over multiplicity-tagged relations (the bilinear
    property joins share with DBSP/differential dataflow): output
    multiplicity = product of input multiplicities, so a retraction
    (-1) joining existing rows (+1) emits -1 rows that cancel the
    earlier join output in ``normalize_mult``. Deletion support costs
    nothing beyond the multiply."""
    a_m = "__a_mult"
    b_m = "__b_mult"

    def prep(df: DataFrame, alias: str) -> DataFrame:
        return df.withColumnRenamed(MULT_COL, alias)

    parts: list[DataFrame] = []
    if delta_a is not None and b_state is not None:
        parts.append(prep(delta_a, a_m).join(prep(b_state, b_m), list(on)))
    if a_state is not None and delta_b is not None:
        parts.append(prep(a_state, a_m).join(prep(delta_b, b_m), list(on)))
    if delta_a is not None and delta_b is not None:
        parts.append(prep(delta_a, a_m).join(prep(delta_b, b_m), list(on)))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(MULT_COL, F.col(a_m) * F.col(b_m)).drop(a_m, b_m)


def fold_join_batches_mult(
    a_batches: Sequence[DataFrame],
    b_batches: Sequence[DataFrame],
    on: Sequence[str],
) -> DataFrame | None:
    """Maintain A ⨝ B under INSERTS AND DELETES: every batch is a
    multiplicity-tagged delta (``with_mult``). Returns the normalized
    net view — identical to recomputing the join over the net input
    relations, which is what the ``incremental_join_retract`` oracle
    certifies. States accumulate as unnormalized delta unions
    (normalization is only needed at read time; the join is bilinear,
    so it distributes over the un-collapsed form too)."""
    if len(a_batches) != len(b_batches):
        raise ValueError(
            f"paired folds require equal batch counts, got "
            f"{len(a_batches)} vs {len(b_batches)} (pad with empty frames)"
        )
    a_state: DataFrame | None = None
    b_state: DataFrame | None = None
    view: DataFrame | None = None
    for da, db in zip(a_batches, b_batches):
        inc = delta_join_mult(a_state, b_state, da, db, on)
        if inc is not None:
            view = inc if view is None else view.unionByName(inc)
        a_state = da if a_state is None else a_state.unionByName(da)
        b_state = db if b_state is None else b_state.unionByName(db)
    return None if view is None else normalize_mult(view)


RETRACT_STATE_COLS = ("cnt", "total")


def partial_state_mult(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Multiplicity-weighted partials: count and sum are GROUPS (every
    element has an inverse), so retractions fold in as negative
    contributions — no rescan. min/max are deliberately absent: they
    are only monoids (no inverse), so a retraction of the current
    extremum forces a per-group rescan; a pipeline needing retractable
    extrema keeps a per-group value-count table instead (documented
    limitation, same one every IVM system has)."""
    m = F.col(MULT_COL) if MULT_COL in df.columns else F.lit(1)
    return df.groupBy(*keys).agg(
        F.sum(m).alias("cnt"),
        F.sum(F.col(value_col) * m).alias("total"),
    )


def merge_states_mult(
    state: DataFrame | None, batch_state: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold retractable partials. A group vanishes only when BOTH
    partials net to zero: a correction batch (retract v_old, insert
    v_new) legally passes through cnt=0 with total!=0, and dropping
    that state would corrupt every later fold — cnt=0 does not imply
    fully-retracted."""
    if state is None:
        merged = batch_state
    else:
        both = state.select(*keys, *RETRACT_STATE_COLS).unionByName(
            batch_state.select(*keys, *RETRACT_STATE_COLS)
        )
        merged = both.groupBy(*keys).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("total").alias("total"),
        )
    return merged.filter((F.col("cnt") != 0) | (F.col("total") != 0))
