"""Transitive closure over parent-pointer hierarchies (J7/J8).

The reference walks brain-region trees and ``rdfs:subClassOf+`` /
``hasPart*`` property paths (ref src/neuron_morphology/validation/
region_comparison.py:108-131, src/trace/stimulus_type_ontology_querying.py:22-27).
Here: semi-naive iterative DataFrame self-join to fixpoint.

Scale notes: ontology/hierarchy tables are small (<= thousands of
nodes), so the closure is computed once and **broadcast** when joined
against fact tables — the fact side never shuffles. The iteration
count is bounded by tree depth (log n for balanced trees); each step
localCheckpoints to cut lineage so plans don't grow exponentially.
For genuinely large graphs the same loop works with shuffle joins on
(node) — semi-naive evaluation only ever joins the newest frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import routing

#: Hop tables above the driver cap but at or under this row count are
#: broadcast into the distributed loop's per-hop join; larger graphs
#: keep the planner-chosen shuffle join.
BROADCAST_HOP_ROWS = 1_000_000

#: Self-augmented closures at or under this row count are rebuilt as a
#: driver-LOCAL relation inside :func:`first_common_ancestor`, which
#: stops the closure being built and shipped in full twice (r12, guide
#: §3.1). Two mechanisms, both requiring a LocalRelation leaf (an RDD
#: scan — localCheckpoint — never canonicalizes equal, and filters on
#: it run per task):
#:
#: - when the pair side carries inferable join-key constraints, the
#:   optimizer FOLDS them into each side's LocalRelation at plan time
#:   (ConvertToLocalRelation), so each broadcast ships only the rows
#:   its probe can match — measured 579 + 1353 rows shipped vs
#:   2 x 2307 on the region_agreement fixture shape;
#: - otherwise the two exchanges canonicalize identically and the
#:   second join plans a ReusedExchange (one build, one send).
#:
#: The cap is ONTOLOGY-sized (the operator's documented regime), not
#: broadcast-sized: the local relation is re-optimized per execution
#: (the constraint fold walks its rows on the driver at plan time), so
#: a degenerate closure far above ontology scale — region_agreement's
#: 280k-row binary-heap fixture — measured ~1 s/run of planning cost
#: against a ~0.1 s broadcast saving and keeps the checkpoint leaf.
#: Routed by one :func:`routing.bounded_fetch` of the lazily checkpointed
#: closure: over the cap it moves and drops at most FCA_LOCAL_ROWS + 1
#: rows, and the large route reads the same checkpoint. The shared
#: exchange needs Catalyst to keep the ``<=`` / ``>=`` ancestor pair of
#: the second join a residual condition; a Spark upgrade that folds it
#: into an equi-key brings the second exchange back (caught by
#: ``test_fca_local_route_parity_and_single_broadcast_build``).
FCA_LOCAL_ROWS = 65_536


def _driver_closure(up: DataFrame, hops: list, max_iterations: int) -> DataFrame:
    """Driver-side semi-naive closure over ``hops``, the fetched rows of
    the hop table ``up`` — bit-identical semantics to the distributed
    loop (multiset row semantics of the iterated join, same depth
    numbering, same non-convergence error)."""
    from collections import defaultdict

    import pandas as pd
    from pyspark.sql import types as T

    up_map: dict = defaultdict(list)
    direct_rows: list[tuple] = []
    for r in hops:
        c, p = r["_c"], r["_p"]
        up_map[c].append(p)
        direct_rows.append((c, p, 1))
    rows = list(direct_rows)
    frontier = direct_rows
    for _ in range(max_iterations):
        nxt = [
            (n, p, d + 1)
            for (n, a, d) in frontier
            for p in up_map.get(a, ())
        ]
        if not nxt:
            break
        rows.extend(nxt)
        frontier = nxt
    else:
        raise RuntimeError(
            f"closure did not converge in {max_iterations} iterations (cycle?)"
        )
    schema = T.StructType(
        [
            T.StructField("node", up.schema["_c"].dataType, True),
            T.StructField("ancestor", up.schema["_p"].dataType, True),
            T.StructField("depth", T.IntegerType(), False),
        ]
    )
    node_c, anc_c, dep_c = zip(*rows) if rows else ((), (), ())
    # columnar build: pd.DataFrame over three sequences is ~an order of
    # magnitude cheaper than row-tuple ingestion at closure sizes
    pdf = pd.DataFrame(
        {"node": node_c, "ancestor": anc_c, "depth": dep_c}
    )
    return up.sparkSession.createDataFrame(pdf, schema)


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iterations: int = 64,
) -> DataFrame:
    """All (node, ancestor, depth) pairs reachable via parent pointers.

    ``edges`` holds direct links (depth 1). Output columns:
    ``node``, ``ancestor``, ``depth`` (>=1; direct parents have depth 1,
    so direct-vs-transitive reachability stays distinguishable).

    Loop cost (r11, guide §1.2/§3.1): the static hop table is
    checkpointed ONCE (the loop must not re-scan the source per hop)
    and — when it is ontology-sized — broadcast, so each hop is a
    single shuffle-free job: map over the cached frontier, broadcast
    hash join, lazy checkpoint whose ``count()`` both materializes it
    and answers the fixpoint test.
    """
    direct = edges.select(
        F.col(child_col).alias("node"),
        F.col(parent_col).alias("ancestor"),
        F.lit(1).alias("depth"),
    ).filter(F.col("ancestor").isNotNull())

    up = direct.select(
        F.col("node").alias("_c"), F.col("ancestor").alias("_p")
    ).localCheckpoint(eager=False)  # static hop table, materialized once
    hops = routing.bounded_fetch(up, routing.DRIVER_EDGE_ROWS)
    if hops is not None:
        # Driver route: the hop table IS the ontology-sized working
        # set, so ~tree-depth sequential Spark jobs are pure latency.
        # Run the identical semi-naive extension in Python (one output
        # row per (frontier row x matching hop edge), same cycle guard)
        # and hand back ONE Arrow-built DataFrame.
        return _driver_closure(up, hops, max_iterations)
    hop = F.broadcast(up) if up.count() <= BROADCAST_HOP_ROWS else up
    closure = direct
    frontier = direct
    for _ in range(max_iterations):
        # extend the newest paths by one hop (semi-naive: only frontier joins)
        nxt = (
            frontier.join(hop, frontier.ancestor == up._c)
            .select(frontier.node, up._p.alias("ancestor"), (frontier.depth + 1).alias("depth"))
        )
        # one action: materializes the lazy checkpoint AND tests fixpoint
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    else:
        raise RuntimeError(f"closure did not converge in {max_iterations} iterations (cycle?)")
    return closure


def first_common_ancestor(
    closure: DataFrame,
    pairs: DataFrame,
    left_col: str = "a",
    right_col: str = "b",
) -> DataFrame:
    """First (lowest) common ancestor for each (left, right) node pair.

    Mirrors ref src/neuron_morphology/validation/region_comparison.py:
    321-331 — ``common_ancestors[0]`` of the observed node's
    self-to-root ascendant list intersected with the reference node's
    list. Self is an ancestor at depth 0 (``with_ascendants=True``
    includes the node itself), so:

    * ``depth_a == 0 and depth_b == 0``  -> same node
    * ``depth_a == 0``                   -> left is ancestor of right
    * ``depth_b == 0``                   -> left is descendant of right
    * ``depth_a == 1 and depth_b == 1``  -> siblings (same direct parent)

    Output: the pair columns plus ``fca``, ``depth_a``, ``depth_b`` —
    one row per DISTINCT pair (duplicate input pairs collapse; grade
    first, then join multiplicity back if it matters). Pairs whose
    nodes share no ancestor (disconnected forest) are dropped, matching
    the reference's "No common ancestor!" error path. On multi-parent
    DAGs, equal-depth common ancestors tie-break by lowest ancestor
    id, deterministically.

    Scale: the closure is ontology-sized (thousands of rows after the
    self-augmentation), so both ancestor sides broadcast — the pair
    side streams through two broadcast hash joins and one hash
    aggregate on the pair key with no full shuffle of the closure, and
    below FCA_LOCAL_ROWS the two joins share ONE BroadcastExchange
    (built and shipped once, ReusedExchange on the second join — r12).
    """
    nodes = (
        closure.select("node")
        .unionByName(closure.select(F.col("ancestor").alias("node")))
        .distinct()
    )
    self_rows = nodes.select(
        "node", F.col("node").alias("ancestor"), F.lit(0).alias("depth")
    )
    # Materialize once: the closure arrives as a union of per-iteration
    # checkpoints; without this the double broadcast below replicates
    # that whole lineage into every task binary. The fetch fills the
    # lazy checkpoint, so the union and its node distinct run once on
    # either route. Ontology-sized closures rebuild as ONE driver-local
    # relation so both broadcast joins share a single BroadcastExchange
    # (see FCA_LOCAL_ROWS); bigger closures keep the checkpoint leaf
    # (two sends, one build).
    full_plan = closure.select("node", "ancestor", "depth").unionByName(
        self_rows
    )
    full = full_plan.localCheckpoint(eager=False)
    local = routing.bounded_fetch(full, FCA_LOCAL_ROWS)
    if local is not None:
        import pandas as pd

        # nothing reads the filled checkpoint past the fetch: drop its
        # blocks now rather than when the JVM collects the plan
        full._jdf.queryExecution().logical().rdd().unpersist(False)
        full = closure.sparkSession.createDataFrame(
            pd.DataFrame.from_records(local, columns=full_plan.columns),
            schema=full_plan.schema,
        )
    la = full.alias("__fca_l")
    rb = full.alias("__fca_r")
    # Join 2 keys ONLY on the node: the ancestor match is expressed as
    # the <=/>= pair so the planner keeps it a residual condition
    # instead of folding it into the build keys — both joins then hash
    # the SAME relation on the SAME key list and the exchange is
    # reusable. The residual scans the probed node's ancestor list
    # (bounded by tree depth) instead of a direct (node, ancestor)
    # lookup — the price of building/shipping the closure once.
    joined = pairs.join(
        F.broadcast(la), pairs[left_col] == F.col("__fca_l.node")
    ).join(
        F.broadcast(rb),
        (pairs[right_col] == F.col("__fca_r.node"))
        & (F.col("__fca_l.ancestor") <= F.col("__fca_r.ancestor"))
        & (F.col("__fca_l.ancestor") >= F.col("__fca_r.ancestor")),
    )
    other_cols = [c for c in pairs.columns if c not in (left_col, right_col)]
    # single min over (depth_a, depth_b, ancestor): on a tree the depth
    # pair is unique per common ancestor, and on a multi-parent DAG
    # (rdfs:subClassOf can be) the ancestor id breaks the tie
    # DETERMINISTICALLY — min_by would pick an arbitrary, run-varying
    # winner. Duplicate (left, right) input pairs collapse to one
    # output row (set semantics).
    return (
        joined.groupBy(left_col, right_col, *other_cols)
        .agg(
            F.min(
                F.struct(
                    F.col("__fca_l.depth").alias("_da"),
                    F.col("__fca_r.depth").alias("_db"),
                    F.col("__fca_l.ancestor").alias("_anc"),
                )
            ).alias("_best")
        )
        .select(
            left_col,
            right_col,
            *other_cols,
            F.col("_best._anc").alias("fca"),
            F.col("_best._da").alias("depth_a"),
            F.col("_best._db").alias("depth_b"),
        )
    )


def agreement_class(depth_a, depth_b):
    """Classify a pair from its FCA depths; ref region_comparison.py:
    305-318 (same region / ancestor / descendant / sibling) with the
    'disjoint' fallback reported via the FCA (ref :321-331)."""
    return (
        F.when((depth_a == 0) & (depth_b == 0), F.lit("same"))
        .when(depth_a == 0, F.lit("ancestor"))
        .when(depth_b == 0, F.lit("descendant"))
        .when((depth_a == 1) & (depth_b == 1), F.lit("sibling"))
        .otherwise(F.lit("disjoint"))
    )


def siblings(edges: DataFrame, child_col: str = "child", parent_col: str = "parent") -> DataFrame:
    """Sibling pairs = self-join on parent (a < b to emit each pair once);
    ref region_comparison.py:296-299 (same-isPartOf sibling rule)."""
    a = edges.select(F.col(child_col).alias("a"), F.col(parent_col).alias("p"))
    b = edges.select(F.col(child_col).alias("b"), F.col(parent_col).alias("p2"))
    return (
        a.join(b, (a.p == b.p2) & (a.a < b.b))
        .select("a", "b", F.col("p").alias("parent"))
    )
