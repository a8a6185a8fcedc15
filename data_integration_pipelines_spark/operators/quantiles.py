"""Equi-depth (quantile) binning with a scale-aware cut strategy.

Mirrors the z-order auto-method precedent (sources/zorder.py): exact
``percentile`` below a row threshold — a full per-column sort, the
right answer while it is cheap and the oracle-pinnable one — and
``approx_percentile`` (Greenwald-Khanna epsilon-sketch: fixed-size,
mergeable map-side, one pass) above it, where the exact percentile's
sort is the job's cost ceiling. One metadata-cheap count decides.

The cut points fold in as a LATERAL scalar subquery, never a join
node: a 1-row broadcast crossJoin would plan a
BroadcastNestedLoopJoin, which the plan gate forbids
(tests/test_plan_quality.py).

The approx path ships with a RANK-ERROR CERTIFICATE
(``quartile_mass_certificate``): each bin's mass must sit within 1%
rank of the ideal quarter — checked with exact integer arithmetic
(|100*n - 25*total| <= total), 100x looser than the sketch's
configured eps=1e-4, the approx_quantile_check pattern.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: above this row count ``method='auto'`` switches the cuts to the
#: one-pass mergeable sketch (the exact path is a full sort per call)
EXACT_QUANTILE_THRESHOLD = 10_000_000


def with_quartile_bin(
    spark: SparkSession,
    view: str,
    value_col: str,
    method: str = "auto",
    accuracy: int = 10000,
    threshold: int = EXACT_QUANTILE_THRESHOLD,
) -> DataFrame:
    """All rows of ``view`` with a ``bin`` column in
    {p00_25, p25_50, p50_75, p75_100} from quartile cuts of
    ``value_col``. ``method``: exact | approx | auto (count decides).

    NULL ``value_col`` rows get bin='null' (ADVICE r7): both
    ``percentile`` and ``approx_percentile`` EXCLUDE NULLs from the
    cuts, so letting NULLs fall through the ``<`` comparisons into the
    ELSE branch would silently inflate p75_100 on NULL-heavy columns
    and falsify the rank-mass certificate. The certificate checks the
    four quartile bins against the NON-NULL total.

    Routing cost (r12, guide §1.2): ``auto`` still routes on the TRUE
    row count vs ``threshold`` (identical cuts to the r7-r11 form in
    every case), but no longer pays a dedicated count job when the
    plan's zero-job size estimate says the table is big: the count
    then RIDES the approx sketch aggregate, so the at-scale regime
    makes ONE corpus pass total (sketch + count fused) instead of a
    count wave followed by a sketch wave. A wrong estimate only costs
    an extra pass, never a different route: estimate-small but truly
    big -> the cheap count probe routes to the sketch pass (two
    passes, exactly the old behavior); estimate-big but truly small ->
    the sketch is discarded and the exact cuts run (affordable by
    definition of the small regime)."""
    if method not in ("auto", "exact", "approx"):
        raise ValueError(f"unknown quantile method {method!r}")
    vcol = f"`{value_col}`"
    if method == "auto":
        # zero-job estimate: optimizer plan statistics (file bytes for
        # a parquet-backed view). 8 bytes/row at the threshold is a
        # deliberately generous bytes floor — tables under it are
        # near-certainly in the exact regime, so they keep the cheap
        # count probe and skip the sketch work entirely.
        est_bytes = int(
            spark.table(view)
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        if est_bytes <= threshold * 8:
            method = (
                "exact" if spark.table(view).count() <= threshold else "approx"
            )
        else:
            probe_df = spark.sql(
                f"SELECT approx_percentile({vcol}, array(0.25, 0.50, 0.75), "
                f"{accuracy}) AS qa, count(*) AS n FROM {view}"
            )
            probe = probe_df.first()
            if int(probe["n"]) > threshold:
                # at-scale route, cuts already in hand: rebuild them as
                # a one-row LOCAL relation carrying the probe's exact
                # values AND column type (no literal round-trip), read
                # by the shared tail as a scalar subquery — same cut
                # values the approx branch's subquery would produce,
                # zero additional corpus passes.
                from pyspark.sql import types as T

                # a per-call name, so concurrent calls on one view never
                # read each other's cuts
                cuts_view = f"{view}__qcuts_{uuid.uuid4().hex}"
                spark.createDataFrame(
                    [(probe["qa"],)],
                    schema=T.StructType(
                        [T.StructField("qa", probe_df.schema["qa"].dataType)]
                    ),
                ).createOrReplaceTempView(cuts_view)
                try:
                    return _binned(
                        spark, view, vcol, f"SELECT qa FROM {cuts_view}"
                    )
                finally:
                    # spark.sql analyses eagerly: the cuts are resolved
                    # into the returned plan, so the view can go now
                    spark.catalog.dropTempView(cuts_view)
            method = "exact"
    # ONE aggregate call with the percentage ARRAY: three separate
    # percentile(col, p) calls each buffer (and, exact-path, sort) the
    # full non-null column independently — 3x the aggregation state and
    # 3x the sort for byte-identical cut values (r11, guide §1.3:
    # percentile(col, array(..)) returns all cuts from a single
    # buffer/sketch). Same SQL semantics, same IEEE interpolation, so
    # the oracle comparison is unchanged.
    if method == "exact":
        # frequency form: pre-aggregate to (value, count) with the
        # codegen'd hash aggregate, then feed percentile its frequency
        # argument — the UDAF builds the identical value->count map
        # and interpolates identically (verified bit-equal), but the
        # heavy per-row accumulation runs map-side partial-agg'd
        # instead of inside the single-reducer UDAF buffer, and the
        # exchange carries one row per DISTINCT value (r11, guide
        # §2.3 "aggregate before you shuffle"). Measured 3.8 -> 3.0 s
        # on a 600k-row near-all-distinct column; the win grows with
        # duplicate mass at any scale.
        q = (
            f"SELECT percentile(__v, array(0.25, 0.50, 0.75), __n) "
            f"FROM (SELECT {vcol} AS __v, count(*) AS __n "
            f"FROM {view} WHERE {vcol} IS NOT NULL "
            f"GROUP BY {vcol})"
        )
    else:
        q = (
            f"SELECT approx_percentile({vcol}, "
            f"array(0.25, 0.50, 0.75), {accuracy}) FROM {view}"
        )
    return _binned(spark, view, vcol, q)


def _binned(spark: SparkSession, view: str, vcol: str, q: str) -> DataFrame:
    """Shared tail: every row of ``view`` binned against the cut array
    produced by the scalar subquery ``q`` — folded in as a LATERAL
    scalar subquery, never a join node (a 1-row broadcast crossJoin
    would plan a BroadcastNestedLoopJoin, which the plan gate forbids).
    ``vcol`` arrives backtick-quoted (ADVICE r11: identifiers needing
    quoting broke the handwritten SQL)."""
    return spark.sql(
        f"""
        SELECT *, CASE WHEN {vcol} IS NULL THEN 'null'
                       WHEN {vcol} < qa[0] THEN 'p00_25'
                       WHEN {vcol} < qa[1] THEN 'p25_50'
                       WHEN {vcol} < qa[2] THEN 'p50_75'
                       ELSE 'p75_100' END AS bin
        FROM {view},
             LATERAL (SELECT ({q}) AS qa)
        """
    )


def quartile_mass_certificate(binned: DataFrame) -> DataFrame:
    """Per-bin rank-error certificate over a ``with_quartile_bin``
    result: mass_within_1pct_rank = |100*n - 25*total| <= total,
    exact integer arithmetic (no float share drift). The GK sketch
    guarantees each CUT within eps rank, so each bin's mass is within
    2*eps of a quarter — at the configured eps=1e-4 the 1% assertion
    has 50x headroom, yet any broken sketch/binning turns it false.
    The 'null' bin (NULL value_col rows) is excluded: the cuts are
    computed over non-null values only, so the quartile-mass contract
    is against the non-null total."""
    from pyspark.sql.window import Window

    per_bin = binned.filter(F.col("bin") != "null").groupBy("bin").agg(
        F.count("*").alias("n")
    )
    # bins-sized table (4 rows) — the unpartitioned window is bounded
    total = F.sum("n").over(Window.partitionBy())
    return per_bin.select(
        "bin",
        total.cast("bigint").alias("n_total"),
        (F.abs(F.col("n") * 100 - total * 25) <= total).alias(
            "mass_within_1pct_rank"
        ),
    )
