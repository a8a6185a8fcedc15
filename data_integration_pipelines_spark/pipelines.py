"""End-to-end pipeline compositions — one per reference entry point
(SURVEY §3, §7 Phase 4). Each is a pure composition of the operator
library: no new physics, just the reference's CLI jobs re-expressed as
single declarative plans.

EP1  trace_audit              ref src/trace/validation/validation.py
EP2  morphology_quality       ref src/neuron_morphology/validation/
                                  quality_metric_resource.py
EP3  schema_audit             ref src/schemas/check_schema_validation.py
EP4  registration_mapping     ref src/neuron_morphology/
                                  morphology_registration.py:92-250
EP5  emodel_completeness      ref src/e_model/expected_fields.py:95-165
EP6  index_discrepancy        ref src/search_index/
                                  search_index_discrepancy.py:161-239

Where the reference fans out with multiprocessing pools + async HTTP
(SURVEY §3 EP1 steps 4-5), these plans fan out with executor
parallelism; where it LRU-caches point lookups, these broadcast-join.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.filter_dsl import Filter, compile_filter
from .operators.merge import keep_latest, merge_classify
from .operators.morphology import morphology_flags
from .operators.voxel import lookup_regions


def trace_audit(resources: DataFrame, curated: bool | None = None) -> DataFrame:
    """EP1: per-resource quality-check battery -> one row per resource
    with named boolean check columns + an ``errors`` array of failed
    check names (the reference's per-bucket error report reduces off
    this with groupBy(bucket).collect_list).

    ``curated``: True -> only curated resources, False -> only
    uncurated, None -> all (the reference's curated/uncurated/both CLI
    switch, compiled to FILTER [NOT] EXISTS — validation.py:405-411).
    """
    df = resources.filter(~F.col("_deprecated"))
    if curated is True:
        df = df.filter(compile_filter(df, Filter("eq", ["annotation", "hasBody", "label"], "Curated")))
    elif curated is False:
        df = df.filter(compile_filter(df, Filter("ne", ["annotation", "hasBody", "label"], "Curated")))

    checks = {
        # MINDS completeness (validation.py:90-91): required top fields
        "has_description": F.col("description").isNotNull()
        & (F.length("description") > 0),
        "has_subject": F.col("subject").isNotNull(),
        "has_distribution": F.size(F.coalesce(F.col("distribution"), F.array()))
        > 0,
        # distribution selection (validation.py:103-125): an .nwb asset
        "has_nwb": F.exists(
            F.coalesce(F.col("distribution"), F.array()),
            lambda d: F.element_at(F.split(d["name"], r"\."), -1) == "nwb",
        ),
        # every distribution row carries a retrievable contentUrl
        "urls_ok": F.forall(
            F.coalesce(F.col("distribution"), F.array()),
            lambda d: d["contentUrl"].isNotNull(),
        ),
    }
    out = df.select("id", "bucket", *[c.alias(n) for n, c in checks.items()])
    failed = F.filter(
        F.array(
            *[
                F.when(~F.col(n), F.lit(n)).otherwise(F.lit(None))
                for n in checks
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return out.withColumn("errors", failed).withColumn(
        "passed", F.size("errors") == 0
    )


def bucket_error_report(audit: DataFrame) -> DataFrame:
    """EP1 reduce: per-bucket failure rollup (validation.py:424-441)."""
    return (
        audit.select("bucket", F.explode_outer("errors").alias("error"))
        .groupBy("bucket")
        .agg(
            F.count(F.col("error")).alias("n_errors"),
            F.sort_array(F.collect_set("error")).alias("distinct_errors"),
        )
    )


def morphology_quality(
    points: DataFrame,
    existing_annotations: DataFrame | None = None,
    volume: np.ndarray | None = None,
    affine: np.ndarray | None = None,
    declared_regions: DataFrame | None = None,
    region_edges: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """EP2: per-file quality metrics (+ optional soma-region voxel
    lookup), then classify the computed annotation rows against the
    existing ones (keep-latest + full-outer merge -> create/update/
    keep/deprecate) for the upsert sink.

    With ``declared_regions`` (file, declared_region_id) AND
    ``region_edges`` (child, parent hierarchy) alongside the volume,
    the observed soma region is graded against the declared one via
    the ancestor-closure FCA (ref region_comparison.py:286-331 —
    same/ancestor/descendant/sibling/disjoint), appending
    ``region_agreement`` and ``region_fca`` columns. The closure is
    ontology-sized and broadcasts; the report side never reshuffles.

    Returns (report, merge_plan) — merge_plan is None when no existing
    annotations are supplied."""
    report = morphology_flags(points)
    if volume is not None and affine is not None:
        soma = points.filter((F.col("parent") < 0)).select("file", "x", "y", "z")
        regions = lookup_regions(soma, volume, affine).select(
            "file", F.col("region_id").alias("soma_region_id")
        )
        report = report.join(regions, "file", "left")
        if declared_regions is not None and region_edges is not None:
            from .operators.closure import (
                agreement_class,
                first_common_ancestor,
                transitive_closure,
            )

            pairs = (
                report.select("file", "soma_region_id")
                .join(declared_regions, "file")
                .filter(
                    F.col("soma_region_id").isNotNull()
                    & F.col("declared_region_id").isNotNull()
                )
                .select(
                    "file",
                    F.col("soma_region_id").alias("observed"),
                    F.col("declared_region_id").alias("declared"),
                )
            )
            closure = transitive_closure(region_edges)
            graded = first_common_ancestor(closure, pairs, "observed", "declared")
            grades = graded.select(
                "file",
                F.col("fca").alias("region_fca"),
                agreement_class(F.col("depth_a"), F.col("depth_b")).alias(
                    "region_agreement"
                ),
            )
            report = report.join(grades, "file", "left")

    if existing_annotations is None:
        return report, None
    computed = report.select(
        F.col("file").alias("target_id"),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("total_length"),
    )
    latest = keep_latest(existing_annotations, ["target_id"], "_createdAt")
    plan = merge_classify(
        latest, computed, ["target_id"], ["n_points", "total_length"]
    )
    return report, plan


def schema_audit(resources: DataFrame, schema_map: DataFrame) -> DataFrame:
    """EP3: per-(bucket, type) census with constraint accounting —
    total, deprecated, unconstrained, and constrained-by-the-wrong-
    schema counts (getters.py:64-112 + check_schema_validation.py).
    ``schema_map``: (type, schema) expected binding, broadcast."""
    joined = resources.join(F.broadcast(schema_map), "type", "left")
    return (
        joined.groupBy("bucket", "type")
        .agg(
            F.count("*").alias("n_resources"),
            F.count(F.when(F.col("_deprecated"), 1)).alias("n_deprecated"),
            F.count(
                F.when(
                    F.col("_constrainedBy").isNull()
                    | (F.col("_constrainedBy") == "unconstrained"),
                    1,
                )
            ).alias("n_unconstrained"),
            F.count(
                F.when(
                    F.col("schema").isNotNull()
                    & F.col("_constrainedBy").isNotNull()
                    & (F.col("_constrainedBy") != "unconstrained")
                    & (F.col("_constrainedBy") != F.col("schema")),
                    1,
                )
            ).alias("n_wrong_schema"),
        )
        .orderBy("bucket", "type")
    )


def registration_mapping(
    metadata: DataFrame,
    files: DataFrame,
    species_map: DataFrame,
    sex_map: DataFrame,
) -> DataFrame:
    """EP4: metadata-sheet registration — Excel rows + staged SWC files
    -> nested resource rows ready for the upsert sink
    (ref src/neuron_morphology/morphology_registration.py:92-250).

    - inner join on ``name`` (J1; morphology_registration.py:51-76) —
      callers assert 1:1 coverage with ``registration_coverage``
    - resolver joins: species/strain label -> ontology id (F12,
      common_metadata.py:84-134) as broadcast dims (the reference's
      LRU-cached ``forge.resolve`` point lookups)
    - sex label -> PATO id when-chain; "PN14"-style age code ->
      {period, unitCode, value} struct (common_metadata.py:98-126)
    - "%B %Y" generation date -> date + one-day shift sentinel
      (morphology_registration.py:149-153)
    - nested ``brainLocation``/``subject`` structs built with struct()
      — the inverse of flatten_dotted (SURVEY §1.2)
    """
    m = metadata.join(files, "name")
    m = m.join(F.broadcast(species_map), m["species_label"] == species_map["label"], "left").drop(
        species_map["label"]
    )
    m = m.join(F.broadcast(sex_map), m["sex_label"] == sex_map["label"], "left").drop(
        sex_map["label"]
    )
    age_value = F.regexp_extract(F.col("age_code"), r"^PN(\d+)$", 1)
    return m.select(
        "name",
        "path",
        F.struct(
            F.struct(
                F.col("region_id").alias("id"), F.col("region_label").alias("label")
            ).alias("brainRegion"),
            F.struct(
                F.col("x").cast("double").alias("valueX"),
                F.col("y").cast("double").alias("valueY"),
                F.col("z").cast("double").alias("valueZ"),
            ).alias("coordinatesInBrainAtlas"),
        ).alias("brainLocation"),
        F.struct(
            F.struct(
                F.col("species_id").alias("id"), F.col("species_label").alias("label")
            ).alias("species"),
            F.struct(
                F.col("sex_id").alias("id"), F.col("sex_label").alias("label")
            ).alias("sex"),
            F.when(
                age_value != "",
                F.struct(
                    F.lit("Post-natal").alias("period"),
                    F.lit("days").alias("unitCode"),
                    age_value.cast("int").alias("value"),
                ),
            ).alias("age"),
        ).alias("subject"),
        F.date_add(F.to_date(F.col("capture_month"), "MMMM yyyy"), 1).alias(
            "generation_date"
        ),
    )


def registration_coverage(metadata: DataFrame, files: DataFrame) -> tuple[int, int]:
    """The reference's 1:1 assertion (morphology_registration.py:347):
    returns (metadata rows without a file, files without metadata) —
    both must be 0 before registration proceeds."""
    meta_only = metadata.join(files, "name", "left_anti").count()
    file_only = files.join(metadata, "name", "left_anti").count()
    return meta_only, file_only


def emodel_completeness(
    emodels: DataFrame,
    workflows: DataFrame,
    expected_part_types: list[str],
) -> DataFrame:
    """EP5: e-model expected-fields report (ref
    src/e_model/expected_fields.py:95-165, querying.py:102-176).

    Follows generation.activity.followedWorkflow (two-hop J10), explodes
    the workflow's hasPart, and reports one row per e-model with a
    boolean column per expected part type plus the full found-type set.
    Workflows are a small dimension -> broadcast; the explode keeps the
    fan-out on the workflow side only."""
    wf = workflows.select(
        F.col("id").alias("workflow_id"),
        F.explode_outer("hasPart").alias("part"),
    ).select("workflow_id", F.col("part.type").alias("part_type"))
    linked = emodels.select(
        F.col("id").alias("emodel_id"),
        F.col("generation.activity.followedWorkflow").alias("workflow_id"),
    )
    found = (
        linked.join(F.broadcast(wf), "workflow_id", "left")
        .groupBy("emodel_id")
        .agg(F.collect_set("part_type").alias("found_types"))
    )
    flags = [
        F.array_contains(F.col("found_types"), t).alias(
            f"has_{t.lower()}"
        )
        for t in expected_part_types
    ]
    complete = F.lit(True)
    for t in expected_part_types:
        complete = complete & F.array_contains(F.col("found_types"), t)
    return found.select(
        "emodel_id", *flags, complete.alias("complete"), "found_types"
    ).orderBy("emodel_id")


def index_discrepancy(indices: dict[str, DataFrame]) -> DataFrame:
    """EP6: cross-index id-set audit (SO1, ref
    src/search_index/search_index_discrepancy.py:161-239).

    ``indices``: name -> single-column id DataFrame (the same scan
    through different indices). Returns one row per ordered pair with
    the count and a bounded sample of ids present in ``a`` but not
    ``b`` — the reference's both-direction set-difference diagnostics."""
    out = None
    for name_a, df_a in indices.items():
        for name_b, df_b in indices.items():
            if name_a == name_b:
                continue
            only_a = df_a.join(df_b, "id", "left_anti")
            row = only_a.agg(
                F.lit(name_a).alias("index_a"),
                F.lit(name_b).alias("index_b"),
                F.count("*").alias("only_in_a"),
                F.slice(F.sort_array(F.collect_list("id")), 1, 5).alias("sample_ids"),
            )
            out = row if out is None else out.unionByName(row)
    return out
