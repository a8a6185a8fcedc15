"""CLI entry points — the reference's batch-job UX, Spark-backed.

Every reference pipeline is an argparse CLI run as ``python -m
src.<pipeline>`` (arg surface: ref src/arguments.py:12-52 — limit
default 10000, output dir; per-pipeline mains e.g. ref
src/trace/validation/validation.py:463-476, src/schemas/
check_schema_validation.py:37-51). This module gives the engine the
same front door::

    python -m data_integration_pipelines_spark trace-audit \\
        --sf-dir /root/testdata/sf0.01 --output-dir out/

Commands map 1:1 onto the pipeline compositions (``pipelines.py``) and
the sink writers (``sources/sinks.py``); results land as the
reference's report formats (CSV/TSV/JSON + sheet-per-bucket XLSX).

Deliberately absent: the reference's auth surface (--token, Keycloak
user/password grants — src/helpers.py:232-288). Those authenticate
HTTP access to the remote store; this engine reads its tables from
storage the cluster is already authorized for, so auth is the
platform's concern, not a query-engine flag.

``--limit`` mirrors the reference's scan cap (default 10,000,
src/arguments.py:38-40): applied AFTER the pipeline's own transforms,
purely a report-size bound — Spark needs no pagination to bound
memory (partitioning does that), so the limit is about output files a
human opens, not about the scan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_trace_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace-resources-like nested table synthesized from the star
    schema (the established fixture mapping: orders play resources,
    lineitems their distributions — cf. plans/queries_domain.py
    ``_nested_orders``). Deterministic, so audits are reproducible."""
    from .catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    dists = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.concat(
                    F.lit("line-"),
                    F.col("l_linenumber").cast("string"),
                    F.when(F.col("l_returnflag") == "N", ".nwb").otherwise(".abf"),
                ).alias("name"),
                F.lit("application/x-nwb").alias("encodingFormat"),
                F.when(
                    F.col("l_linestatus") == "F",
                    F.concat(F.lit("s3://store/"), F.col("l_orderkey").cast("string")),
                ).alias("contentUrl"),
            )
        ).alias("distribution")
    )
    return (
        orders.join(dists, orders.o_orderkey == dists.l_orderkey, "left")
        .join(
            F.broadcast(cust.select("c_custkey", "c_name", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.concat(F.lit("order-"), F.col("o_orderkey").cast("string")).alias("id"),
            F.concat(F.lit("org/"), F.lower("c_mktsegment")).alias("bucket"),
            (F.col("o_orderkey") % 50 == 0).alias("_deprecated"),
            F.col("c_name").alias("description"),
            F.array(
                F.struct(
                    F.struct(
                        F.when(
                            F.col("o_orderpriority") == "1-URGENT", "Curated"
                        )
                        .otherwise("Unassessed")
                        .alias("label")
                    ).alias("hasBody")
                )
            ).alias("annotation"),
            F.struct(F.col("c_mktsegment").alias("species")).alias("subject"),
            F.coalesce(F.col("distribution"), F.array()).alias("distribution"),
            F.col("o_orderstatus").alias("type"),
            F.when(F.col("o_orderstatus") == "O", "schema/open")
            .otherwise("unconstrained")
            .alias("_constrainedBy"),
        )
    )


def _session(args) -> SparkSession:
    from .session import get_spark

    if args.cpus:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    return get_spark("dip-spark-cli")


def _out(args, name: str) -> str:
    os.makedirs(args.output_dir, exist_ok=True)
    return os.path.join(args.output_dir, name)


def cmd_list_queries(args) -> int:
    from .plans import REGISTRY

    for name, q in REGISTRY.items():
        flag = "*" if q.headline else " "
        print(f"{flag} {name:32s} {(q.doc or '').split('.')[0][:90]}")
    print(f"\n{len(REGISTRY)} queries (* = bench headline)")
    return 0


def cmd_query(args) -> int:
    from .plans import REGISTRY
    from .sources.sinks import write_csv, write_json

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    spark = _session(args)
    df = REGISTRY[args.name].fn(spark, args.sf_dir).limit(args.limit)
    if args.output_dir:
        path = _out(args, args.name + (".json" if args.format == "json" else ".csv"))
        (write_json if args.format == "json" else write_csv)(df, path, single_file=True)
        print(path)
    else:
        for row in df.collect():
            # recursive: struct columns must become nested JSON objects,
            # not Row reprs
            print(json.dumps(row.asDict(recursive=True), default=str))
    return 0


def cmd_trace_audit(args) -> int:
    from .pipelines import bucket_error_report, trace_audit
    from .sources.sinks import write_csv, write_json_report, write_xlsx

    from .operators.cache import bounded_persist

    spark = _session(args)
    curated = {"yes": True, "no": False, "both": None}[args.curated]
    # persist: the audit feeds the CSV, the error rollup, and one
    # collect per workbook sheet — without it the multi-join pipeline
    # re-executes per consumer
    full = bounded_persist(
        trace_audit(build_trace_resources(spark, args.sf_dir), curated=curated)
    )
    # --limit bounds the ROW-LEVEL report files only; the per-bucket
    # error rollup is one row per bucket regardless, so it aggregates
    # the FULL audit (limiting its input would change semantics, not
    # size — the docstring's report-size-bound contract)
    # persist the limited frame too: the CSV write plus count()+
    # collect per workbook sheet would otherwise re-run the global
    # sort+limit once per consumer
    audit = bounded_persist(full.orderBy("id").limit(args.limit))
    write_csv(audit.drop("errors"), _out(args, "trace_audit.csv"), single_file=True)
    errors = bucket_error_report(full).collect()
    write_json_report(
        {r["bucket"]: {"n_errors": r["n_errors"], "errors": r["distinct_errors"]} for r in errors},
        _out(args, "bucket_errors.json"),
    )
    # sheet-per-bucket workbook (ref validation.py:426-457)
    sheets = {
        b: audit.filter(F.col("bucket") == b).drop("errors")
        for b in sorted({r["bucket"] for r in errors})
    }
    write_xlsx(sheets, _out(args, "trace_audit.xlsx"))
    print(args.output_dir)
    return 0


def cmd_schema_audit(args) -> int:
    from .pipelines import schema_audit
    from .sources.sinks import write_csv

    spark = _session(args)
    resources = build_trace_resources(spark, args.sf_dir)
    schema_map = spark.createDataFrame(
        [("O", "schema/open"), ("F", "schema/final"), ("P", "schema/pending")],
        "type string, schema string",
    )
    out = schema_audit(resources, schema_map).limit(args.limit)
    write_csv(out, _out(args, "schema_audit.csv"), single_file=True)
    print(args.output_dir)
    return 0


def cmd_morphology_quality(args) -> int:
    from .pipelines import morphology_quality
    from .sources.sinks import write_tsv

    spark = _session(args)
    if args.swc_dir:
        from .sources.swc import read_swc_points

        points = read_swc_points(spark, args.swc_dir, glob_filter="*.swc")
    else:
        from .plans.queries_morphology import synth_points

        points = synth_points(spark, args.sf_dir)
    report, _ = morphology_quality(points)
    write_tsv(report.orderBy("file").limit(args.limit), _out(args, "morphology_report.tsv"))
    print(args.output_dir)
    return 0


def cmd_annotate(args) -> int:
    """EP2 write-back: upsert computed quality annotations into a
    versioned parquet store (S17 semantics — ref src/neuron_morphology/
    validation/quality_metric_resource.py:107-135,358-370): new target
    -> create with _rev=1; changed metrics -> update, _rev+1; identical
    -> keep, _rev untouched; target gone from this run -> deprecate
    (tombstone row, _deprecated=true). Each run lands as v=N+1; the
    store is append-only versions, so a bad run never destroys state."""
    from .operators.cache import bounded_persist
    from .operators.merge import merge_classify
    from .pipelines import morphology_quality
    from .sources.sinks import write_json_report
    from .streaming.upsert import _versions, read_store, upsert_batch

    spark = _session(args)
    if args.swc_dir:
        from .sources.swc import read_swc_points

        points = read_swc_points(spark, args.swc_dir, glob_filter="*.swc")
    else:
        from .plans.queries_morphology import synth_points

        points = synth_points(spark, args.sf_dir)
    report, _ = morphology_quality(points)
    next_ver = (_versions(args.store) or [0])[-1] + 1
    # persist: computed feeds both semi-join branches of to_write AND
    # the action rollup — unpersisted, the whole SWC-parse/quality
    # pipeline re-executes per consumer
    computed = bounded_persist(report.select(
        # key on the file's basename, not its URI: the reference keys
        # annotations by morphology NAME (quality_metric_resource.py),
        # and the same file re-audited from a different staging dir
        # must hit the same store row
        F.element_at(F.split(F.col("file"), "/"), -1).alias("target_id"),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("total_length"),
        F.lit(next_ver).cast("long").alias("run"),
        F.lit(False).alias("_deprecated"),
    ))
    existing = read_store(spark, args.store)
    if existing is None:
        actions = computed.select("target_id", F.lit("create").alias("action"))
        to_write = computed
    else:
        live = existing.filter(~F.col("_deprecated"))
        actions = bounded_persist(merge_classify(
            live, computed, ["target_id"], ["n_points", "total_length"]
        ))
        # keep == identical metrics: do NOT rewrite (no _rev bump);
        # deprecate == vanished target: tombstone with this run's ts
        to_write = computed.join(
            actions.filter(F.col("action").isin("create", "update")),
            "target_id",
            "left_semi",
        ).unionByName(
            live.join(
                actions.filter(F.col("action") == "deprecate"),
                "target_id",
                "left_semi",
            ).select(
                "target_id",
                "n_points",
                "total_length",
                F.lit(next_ver).cast("long").alias("run"),
                F.lit(True).alias("_deprecated"),
            )
        )
    merged = upsert_batch(existing, to_write, ["target_id"], "run")
    dest = os.path.join(args.store, f"v={next_ver}")
    tmp = dest + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, dest)
    counts = {r["action"]: r["n"] for r in actions.groupBy("action").agg(F.count("*").alias("n")).collect()}
    out = {"version": next_ver, "actions": counts}
    if args.output_dir:
        write_json_report(out, _out(args, "annotate_result.json"))
    print(json.dumps(out))
    return 0


def cmd_index_discrepancy(args) -> int:
    from .catalog import load_table
    from .pipelines import index_discrepancy
    from .sources.sinks import write_csv

    spark = _session(args)
    orders = load_table(spark, args.sf_dir, "orders")
    # the same scan through three "indices" (ref search_index_
    # discrepancy.py:161-239): full, non-deprecated, recent
    full = orders.select(F.col("o_orderkey").alias("id"))
    alive = orders.filter(F.col("o_orderkey") % 50 != 0).select(
        F.col("o_orderkey").alias("id")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select(F.col("o_orderkey").alias("id"))
    out = index_discrepancy({"sparql": full, "es": alive, "search": recent})
    write_csv(
        out.withColumn("sample_ids", F.to_json("sample_ids")).orderBy(
            "index_a", "index_b"
        ),
        _out(args, "index_discrepancy.csv"),
        single_file=True,
    )
    print(args.output_dir)
    return 0


def cmd_explain(args) -> int:
    """Print a registered query's formatted physical plan — the
    ".explain and iterate" loop as a first-class command (the plans
    behind PLANS.md / the SCALE.md shuffle inventory, on demand)."""
    from .plans import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    spark = _session(args)
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    if args.run:
        # collect() executes THIS DataFrame's QueryExecution, so its
        # AdaptiveSparkPlan is the finalized one (a noop write would
        # execute a separate QueryExecution and leave df's unfinalized)
        df.collect()
        print(df._jdf.queryExecution().executedPlan().toString())
    else:
        df.explain("formatted")
    return 0


def cmd_curate(args) -> int:
    """Training-data curation as one batch job: the per-stage funnel
    report (quality -> near-dedup -> decontamination -> deterministic
    sample) plus the row-level artifacts a downstream trainer consumes
    — the dedup survivor list and the contaminated-doc report. All
    three are registered, oracle-checked queries; this command is the
    operational wrapper that lands them as files."""
    from .plans import REGISTRY
    from .sources.sinks import write_csv

    spark = _session(args)
    for qname, fname in (
        ("curation_funnel", "funnel_report.csv"),
        ("dedup_survivors", "survivors.csv"),
        ("decontaminate", "contaminated.csv"),
    ):
        df = REGISTRY[qname].fn(spark, args.sf_dir).limit(args.limit)
        write_csv(df, _out(args, fname), single_file=True)
    print(args.output_dir)
    return 0


def cmd_monitor(args) -> int:
    """Corpus-health monitoring as one batch job: the per-source drift
    report (PSI between snapshots), the quality-weighted mixture
    reweighting table, and the cross-modal dedup-consensus pair
    grades — the three reports an ingestion owner reads before
    promoting a new snapshot into the training mixture. All are
    registered, oracle-checked queries; this command lands them as
    files."""
    from .plans import REGISTRY
    from .sources.sinks import write_csv

    spark = _session(args)
    for qname, fname in (
        ("drift_psi", "drift_report.csv"),
        ("domain_reweight", "mixture_weights.csv"),
        ("dedup_consensus", "dedup_consensus.csv"),
    ):
        df = REGISTRY[qname].fn(spark, args.sf_dir).limit(args.limit)
        write_csv(df, _out(args, fname), single_file=True)
    print(args.output_dir)
    return 0


def cmd_profile(args) -> int:
    """ANALYZE-style profile of any catalog table: per-column
    null/distinct/min-max in ONE pass (sources/sinks.profile_table) —
    the post-ingest data-quality scan."""
    from .catalog import TABLES, load_table
    from .sources.sinks import profile_table, write_csv

    if args.table not in TABLES:
        print(f"unknown table {args.table!r}; one of {TABLES}", file=sys.stderr)
        return 2
    spark = _session(args)
    prof = profile_table(load_table(spark, args.sf_dir, args.table))
    if args.output_dir:
        write_csv(prof, _out(args, f"profile_{args.table}.csv"), single_file=True)
        print(args.output_dir)
    else:
        for row in prof.collect():
            print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_export_shards(args) -> int:
    """Trainer-facing dataset export: the curated document set written
    as N deterministic shards (hash of doc_id -> shard), each
    internally sorted by token count (length bucketing for packing),
    plus _manifest.json. With ``--tokenize M`` the export is
    training-ready: a BPE tokenizer is trained on the corpus (M
    merges), every document carries its real token array, shards sort
    by TRUE token count, and the merge table ships beside the shards —
    the handoff a pretraining job consumes directly.
    sources/shard_export.py + operators/bpe.py."""
    from .catalog import load_table
    from .sources.shard_export import export_sharded

    spark = _session(args)
    from .functions.text import ws_tokens

    docs = load_table(spark, args.sf_dir, "documents")
    tokenizer_out = None
    if args.tokenize:
        from .operators.bpe import bpe_encode, bpe_train

        merges_df = bpe_train(docs, n_merges=args.tokenize)
        tokenizer_out = _out(args, "bpe_merges")
        merges_df.write.mode("overwrite").parquet(tokenizer_out)
        merge_list = [(r["left"], r["right"]) for r in merges_df.collect()]
        docs = bpe_encode(docs, merge_list).withColumn(
            "n_tokens", F.size("bpe_tokens")
        )
    else:
        docs = docs.withColumn("n_tokens", F.size(ws_tokens(F.col("text"))))
    manifest = export_sharded(
        docs,
        _out(args, "shards"),
        key_col="doc_id",
        sort_col="n_tokens",
        n_shards=args.shards,
    )
    print(
        json.dumps(
            {
                "n_shards": manifest["n_shards"],
                "rows": sum(v["n_rows"] for v in manifest["shards"].values()),
                "tokenizer": tokenizer_out,
            }
        )
    )
    return 0


def cmd_quality_train(args) -> int:
    """Train the quality classifier and ship the trainer's handoff —
    the batch-job face of quality_perceptron_train: per-iteration
    training history as CSV (miss counts + integer weights, the
    oracle-certified trajectory), the final weights as JSON (what a
    production scorer substitutes for quality_classifier_score's
    published literals), and the whole corpus scored under them as
    parquet (exact margins, predictions, correctness)."""
    from .catalog import load_table
    from .operators.perceptron import (
        perceptron_features,
        perceptron_history_df,
        perceptron_scores,
        perceptron_train,
    )
    from .sources.sinks import write_csv

    spark = _session(args)
    feats = perceptron_features(load_table(spark, args.sf_dir, "documents"))
    hist = perceptron_train(feats, n_iters=args.iters)
    write_csv(
        perceptron_history_df(spark, hist),
        _out(args, "quality_train_history.csv"),
        single_file=True,
    )
    w = [hist[-1][k] for k in ("w_bias", "w_swr", "w_atl", "w_ttr")]
    with open(_out(args, "quality_weights.json"), "w") as fh:
        json.dump(
            {
                "features": ["bias", "swr_e4", "atl_e4", "ttr_e4"],
                "weights": w,
                "iters": args.iters,
                "final_n_miss": hist[-1]["n_miss"],
            },
            fh,
            indent=2,
        )
    scored = perceptron_scores(feats, w)
    scored.write.mode("overwrite").parquet(_out(args, "quality_scored"))
    n_correct = scored.filter(F.col("correct")).count()
    print(
        json.dumps(
            {
                "weights": w,
                "final_n_miss": hist[-1]["n_miss"],
                "n_correct": n_correct,
            }
        )
    )
    return 0


def cmd_gopher_filter(args) -> int:
    """Gopher quality gate as a batch job (operators/gopher.py —
    Rae et al. 2021 Table A1): score every document's signals, apply
    the published cutoffs, write the full verdict table as parquet
    plus a summary JSON line (kept/rejected counts and the per-rule
    failure histogram). ``--full`` runs the COMPLETE filter
    (repetition + document rules); default is the repetition gate.
    The registered queries certify the same signals/verdicts against
    DuckDB on the derived corpora; this face runs the gate over the
    raw documents table as-is."""
    from .catalog import load_table
    from .operators.gopher import (
        gopher_filter_frame,
        gopher_full_filter_frame,
        gopher_signals_frame,
    )

    spark = _session(args)
    docs = load_table(spark, args.sf_dir, "documents").select("doc_id", "text")
    if getattr(args, "full", False):
        verdicts = gopher_full_filter_frame(docs)
    else:
        verdicts = gopher_filter_frame(gopher_signals_frame(docs))
    verdicts.write.mode("overwrite").parquet(_out(args, "gopher_verdicts"))
    # summarize the table just written: a filter on ``keep`` over the
    # layered verdict frame would substitute every signal alias back
    # through the layers and re-evaluate the whole per-row plan
    verdicts = spark.read.parquet(_out(args, "gopher_verdicts"))
    agg = verdicts.groupBy("keep").count().collect()
    counts = {("kept" if r.keep else "rejected"): r["count"] for r in agg}
    hist = {
        r.rule: r["count"]
        for r in (
            verdicts.filter(~F.col("keep"))
            .select(F.explode(F.split("fail_rules", ",")).alias("rule"))
            .groupBy("rule")
            .count()
            .collect()
        )
    }
    print(
        json.dumps(
            {
                "kept": counts.get("kept", 0),
                "rejected": counts.get("rejected", 0),
                "fail_rule_histogram": dict(sorted(hist.items())),
            }
        )
    )
    return 0


def cmd_export_shuffled(args) -> int:
    """Seeded global-shuffle export — the training-order face of
    shard_shuffle_manifest: the corpus written as N shards whose
    membership AND in-file row order derive from md5('<doc_id>:<seed>')
    (sources/shard_export.export_shuffled), plus _manifest.json with
    per-shard order-canonical digests. A new epoch order is --seed+1;
    the registered query certifies the same digests against DuckDB."""
    from .catalog import load_table
    from .sources.shard_export import export_shuffled

    spark = _session(args)
    docs = load_table(spark, args.sf_dir, "documents")
    manifest = export_shuffled(
        docs,
        _out(args, "shuffled_shards"),
        key_col="doc_id",
        n_shards=args.shards,
        seed=args.seed,
    )
    print(
        json.dumps(
            {
                "n_shards": manifest["n_shards"],
                "seed": manifest["seed"],
                "rows": sum(v["n_rows"] for v in manifest["shards"].values()),
            }
        )
    )
    return 0


def cmd_index(args) -> int:
    """Persisted-ANN jobs: ``index build`` writes the bucket-partitioned
    IVF index; ``index query`` serves a top-k batch from it
    (operators/similarity.ivf_index_build/_query)."""
    from .catalog import load_table
    from .operators.similarity import ivf_index_build, ivf_index_query

    spark = _session(args)
    emb = load_table(spark, args.sf_dir, "embeddings")
    idx = _out(args, "ivf_index")
    if args.action == "build":
        pivots = emb.filter(F.col("vec_id") < args.pivots)
        manifest = ivf_index_build(emb, pivots, idx)
        print(json.dumps(manifest))
        return 0
    queries = emb.filter(F.col("vec_id").isin(args.query_ids))
    out = ivf_index_query(
        spark, idx, queries, k=args.k, nprobe=args.nprobe
    ).orderBy("query_id", "rank")
    for row in out.collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_cluster(args) -> int:
    """Embedding clustering job: fit the fixed-point k-means
    (operators/clustering.py), write per-vector assignments, print
    per-cluster sizes and scaled inertia."""
    from .catalog import load_table
    from .operators.clustering import kmeans_fit

    spark = _session(args)
    emb = load_table(spark, args.sf_dir, "embeddings")
    assigned, _ = kmeans_fit(emb, k=args.k, iters=args.iters)
    out = _out(args, "cluster_assignments")
    assigned.select("id", "cluster", "dist").write.mode("overwrite").parquet(out)
    sizes = {
        int(r["cluster"]): int(r["n"])
        for r in assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    inertia = assigned.agg(F.sum("dist").alias("i")).collect()[0]["i"]
    print(json.dumps({"out": out, "sizes": sizes, "inertia_scaled": int(inertia)}))
    return 0


def cmd_tokenizer(args) -> int:
    """Tokenizer jobs (operators/bpe.py): ``train`` learns a BPE merge
    table from the documents corpus (one corpus pass, vocab-sized merge
    iterations) and writes it as parquet; ``encode`` tokenizes every
    document with a merge table (training one first when --merges-dir
    is not given) and writes (doc_id, bpe_tokens), printing the corpus
    fertility (BPE tokens per whitespace token)."""
    from .catalog import load_table
    from .operators.bpe import bpe_encode, bpe_train

    spark = _session(args)
    docs = load_table(spark, args.sf_dir, "documents")
    if args.action == "train":
        merges = bpe_train(docs, n_merges=args.merges)
        out = _out(args, "bpe_merges")
        merges.write.mode("overwrite").parquet(out)
        rows = merges.collect()
        print(
            json.dumps(
                {
                    "out": out,
                    "n_merges": len(rows),
                    "top": [
                        [r["left"], r["right"], r["pair_freq"]] for r in rows[:5]
                    ],
                }
            )
        )
        return 0
    if args.merges_dir:
        mdf = spark.read.parquet(args.merges_dir).orderBy("rank")
    else:
        mdf = bpe_train(docs, n_merges=args.merges)
    merge_list = [(r["left"], r["right"]) for r in mdf.collect()]
    enc = bpe_encode(docs, merge_list)
    out = _out(args, "bpe_tokens")
    enc.select("doc_id", "bpe_tokens").write.mode("overwrite").parquet(out)
    stats = enc.agg(
        F.sum(F.size("bpe_tokens")).alias("bpe"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("ws"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "out": out,
                "n_merges": len(merge_list),
                "bpe_tokens": int(stats["bpe"]),
                "ws_tokens": int(stats["ws"]),
                "fertility_e4": int(round(stats["bpe"] / stats["ws"] * 10000)),
            }
        )
    )
    return 0


def cmd_compact(args) -> int:
    """Small-file compaction job: rewrite a table into ~target-size
    parquet files (sources/zorder.compact) and print the before/after
    file counts."""
    from .catalog import TABLES
    from .sources.zorder import compact

    if args.table not in TABLES:
        print(f"unknown table {args.table!r}; one of {sorted(TABLES)}", file=sys.stderr)
        return 2
    spark = _session(args)
    # compact whatever layout the source dir has; the table arg names a
    # catalog table under sf_dir
    src = f"{args.sf_dir}/{args.table}.parquet"
    out = _out(args, f"compact_{args.table}")
    report = compact(
        spark,
        src,
        out,
        target_file_bytes=args.target_mb * 1024 * 1024,
        sort_cols=args.sort_by.split(",") if args.sort_by else None,
    )
    print(json.dumps(report))
    return 0


def cmd_ingest(args) -> int:
    """Delta-ingest dedup job: classify the incoming batch against the
    standing corpus (exact_dup / near_dup / novel via
    operators/dedup.cross_jaccard_pairs) and write the verdict table
    plus the novel-only slice a downstream pipeline would admit."""
    from .plans import REGISTRY

    spark = _session(args)
    verdicts = REGISTRY["incremental_ingest_dedup"].fn(spark, args.sf_dir)
    out = _out(args, "ingest_verdicts")
    verdicts.write.mode("overwrite").parquet(out)
    # count from the parquet just written — re-aggregating the lazy
    # plan would re-run the whole classification pipeline a second time
    counts = {
        r["verdict"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("verdict")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(json.dumps({"out": out, "counts": counts}))
    return 0


def cmd_zorder(args) -> int:
    """Rewrite a table Z-order-clustered on two keys (multi-dimensional
    data skipping; sources/zorder.py) and print the per-file footer
    coverage fractions the layout buys."""
    from .catalog import load_table
    from .sources.zorder import write_zordered, zorder_stats

    spark = _session(args)
    df = load_table(spark, args.sf_dir, args.table)
    out = _out(args, f"zorder_{args.table}")
    write_zordered(df, out, args.col_a, args.col_b, n_files=args.files)
    stats = zorder_stats(out, args.col_a, args.col_b)
    fracs = {
        c: round(sum(r[f"{c}_frac"] for r in stats) / len(stats), 3)
        for c in (args.col_a, args.col_b)
    }
    print(json.dumps({"files": len(stats), "mean_span_frac": fracs}))
    return 0


def cmd_split(args) -> int:
    """Assign the deterministic train/val/test split and write one
    parquet dataset per split (plans/queries_curation.split_assign)."""
    from .catalog import load_table
    from .plans.queries_curation import split_assign

    spark = _session(args)
    docs = load_table(spark, args.sf_dir, "documents")
    labeled = docs.withColumn("split", split_assign(F.col("doc_id")))
    out = _out(args, "splits")
    labeled.write.mode("overwrite").partitionBy("split").parquet(out)
    counts = {
        r["split"]: r["n"]
        for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({"out": out, "counts": counts}))
    return 0


def cmd_export_splits(args) -> int:
    """Leakage-safe split export — the trainer-facing sink face of
    leakage_split_manifest: every document labeled with its near-dup
    CLUSTER representative's split (plans/queries_curation.
    leakage_safe_assignment — near-copies can never straddle
    train/test), written as one parquet dataset per split plus
    ``_manifest.json`` carrying per-(split, lang) counts and the
    order-canonical membership digests — the same rows the registered
    query certifies against DuckDB, so the written artifact is
    byte-auditable against the oracle-checked report."""
    from .catalog import load_table
    from .operators.cache import bounded_persist
    from .plans.queries_curation import leakage_safe_assignment

    spark = _session(args)
    docs = load_table(spark, args.sf_dir, "documents")
    # one materialization feeds both the writer and the manifest agg
    # (the export_sharded precedent — no recompute, no drift window)
    labeled = bounded_persist(docs.join(leakage_safe_assignment(docs), "doc_id"))
    out = _out(args, "safe_splits")
    labeled.write.mode("overwrite").partitionBy("split").parquet(out)
    rows = (
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
        .collect()
    )
    manifest = {
        "policy": "near-dup-cluster-keyed md5-bucket 80/10/10",
        "splits": [r.asDict() for r in rows],
    }
    # leading underscore: parquet readers globbing the dataset skip it
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, default=str)
    labeled.unpersist()
    print(json.dumps({"out": out, "n_cells": len(rows)}))
    return 0


def cmd_stream_windows(args) -> int:
    """Structured-Streaming front door: drain the events backlog with an
    availableNow trigger through the watermarked windowed-count
    topology and land the result as CSV. One command covers the
    engine's streaming extension the way trace-audit covers EP1: same
    topology a 24/7 ingest would run, bounded here by the trigger —
    rerunning on a growing directory is the deployment story."""
    from .sources.sinks import write_csv
    from .streaming.events import run_stream_once

    spark = _session(args)
    out_df = run_stream_once(spark, args.sf_dir, window=args.window)
    result = out_df.orderBy("window_start", "event_type").limit(args.limit)
    write_csv(result, _out(args, "stream_windows.csv"), single_file=True)
    print(args.output_dir)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="data_integration_pipelines_spark",
        description=__doc__.split("\n\n")[0],
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument(
            "--sf-dir",
            default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
            help="data root holding the parquet tables",
        )
        sp.add_argument("--output-dir", default=None, help="report directory")
        sp.add_argument(
            "--limit",
            type=int,
            default=10_000,
            help="report row cap (reference default, src/arguments.py:38-40)",
        )
        sp.add_argument("--cpus", type=int, default=None, help="local[N] cores")

    sp = sub.add_parser("list-queries", help="list the query registry")
    sp.set_defaults(fn=cmd_list_queries)

    sp = sub.add_parser("query", help="run one registered query")
    sp.add_argument("name")
    sp.add_argument("--format", choices=("csv", "json"), default="csv")
    common(sp)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("trace-audit", help="EP1 quality audit + reports")
    sp.add_argument(
        "--curated",
        choices=("yes", "no", "both"),
        default="both",
        help="curated-only / uncurated-only / all (ref validation.py:405-411)",
    )
    common(sp)
    sp.set_defaults(fn=cmd_trace_audit)

    sp = sub.add_parser("schema-audit", help="EP3 per-(bucket,type) census")
    common(sp)
    sp.set_defaults(fn=cmd_schema_audit)

    sp = sub.add_parser("morphology-quality", help="EP2 per-file metric battery")
    sp.add_argument("--swc-dir", default=None, help="directory of .swc files")
    common(sp)
    sp.set_defaults(fn=cmd_morphology_quality)

    sp = sub.add_parser("index-discrepancy", help="EP6 cross-index id audit")
    common(sp)
    sp.set_defaults(fn=cmd_index_discrepancy)

    sp = sub.add_parser("profile", help="one-pass per-column table profile")
    sp.add_argument("table")
    common(sp)
    sp.set_defaults(fn=cmd_profile)

    sp = sub.add_parser(
        "export-shards", help="write the corpus as N sorted shards + manifest"
    )
    sp.add_argument("--shards", type=int, default=8)
    sp.add_argument(
        "--tokenize",
        type=int,
        default=0,
        metavar="M",
        help="train an M-merge BPE tokenizer, export real token arrays "
        "sorted by true token count, ship the merge table beside the shards",
    )
    common(sp)
    sp.set_defaults(fn=cmd_export_shards)

    sp = sub.add_parser(
        "quality-train",
        help="train the perceptron quality classifier; write history, "
        "weights and the scored corpus",
    )
    sp.add_argument("--iters", type=int, default=3)
    common(sp)
    sp.set_defaults(fn=cmd_quality_train)

    sp = sub.add_parser(
        "gopher-filter",
        help="apply the Gopher repetition gate; write verdicts + summary",
    )
    sp.add_argument(
        "--full",
        action="store_true",
        help="run the complete Table-A1 filter (repetition + document rules)",
    )
    common(sp)
    sp.set_defaults(fn=cmd_gopher_filter)

    sp = sub.add_parser(
        "export-shuffled",
        help="write the corpus as N shards in seeded md5 shuffle order",
    )
    sp.add_argument("--shards", type=int, default=8)
    sp.add_argument(
        "--seed",
        type=int,
        default=0,
        help="shuffle seed; a new epoch order is seed+1 (no RNG state)",
    )
    common(sp)
    sp.set_defaults(fn=cmd_export_shuffled)

    sp = sub.add_parser(
        "curate", help="curation funnel report + survivor/contaminated lists"
    )
    common(sp)
    sp.set_defaults(fn=cmd_curate)

    sp = sub.add_parser(
        "monitor",
        help="drift (PSI) + mixture-reweight + dedup-consensus reports",
    )
    common(sp)
    sp.set_defaults(fn=cmd_monitor)

    sp = sub.add_parser("explain", help="show a query's physical plan")
    sp.add_argument("name")
    sp.add_argument(
        "--run",
        action="store_true",
        help="execute first and print the AQE-finalized plan",
    )
    common(sp)
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser(
        "stream-windows", help="streaming windowed counts (availableNow drain)"
    )
    sp.add_argument("--window", default="1 hour", help="tumbling window width")
    common(sp)
    sp.set_defaults(fn=cmd_stream_windows)

    sp = sub.add_parser(
        "ingest", help="classify a batch vs the corpus: exact/near dup or novel"
    )
    common(sp)
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser(
        "index", help="persisted ANN: build the IVF index / query top-k from it"
    )
    sp.add_argument("action", choices=("build", "query"))
    sp.add_argument("--pivots", type=int, default=8)
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--nprobe", type=int, default=1)
    sp.add_argument("--query-ids", type=int, nargs="*", default=[100, 101, 102])
    common(sp)
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser(
        "cluster", help="k-means the embeddings table; write assignments"
    )
    sp.add_argument("--k", type=int, default=8)
    sp.add_argument("--iters", type=int, default=3)
    common(sp)
    sp.set_defaults(fn=cmd_cluster)

    sp = sub.add_parser(
        "tokenizer", help="BPE tokenizer: train a merge table / encode the corpus"
    )
    sp.add_argument("action", choices=("train", "encode"))
    sp.add_argument("--merges", type=int, default=32, help="merge rules to learn")
    sp.add_argument(
        "--merges-dir",
        default=None,
        help="encode with a previously trained merge table (parquet dir)",
    )
    common(sp)
    sp.set_defaults(fn=cmd_tokenizer)

    sp = sub.add_parser(
        "compact", help="rewrite a table into ~target-size parquet files"
    )
    sp.add_argument("table")
    sp.add_argument("--target-mb", type=int, default=128)
    sp.add_argument("--sort-by", default=None, help="comma-separated sort keys")
    common(sp)
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser(
        "zorder", help="rewrite a table Z-order-clustered on two keys"
    )
    sp.add_argument("table")
    sp.add_argument("col_a")
    sp.add_argument("col_b")
    sp.add_argument("--files", type=int, default=16)
    common(sp)
    sp.set_defaults(fn=cmd_zorder)

    sp = sub.add_parser(
        "split", help="deterministic train/val/test split -> parquet per split"
    )
    common(sp)
    sp.set_defaults(fn=cmd_split)

    sp = sub.add_parser(
        "export-splits",
        help="leakage-safe train/val/test export: near-dup-cluster-keyed "
        "splits -> parquet per split + digest manifest",
    )
    common(sp)
    sp.set_defaults(fn=cmd_export_splits)

    sp = sub.add_parser(
        "annotate", help="EP2 write-back: upsert metrics into a versioned store"
    )
    sp.add_argument("--store", required=True, help="annotation store directory")
    sp.add_argument("--swc-dir", default=None, help="directory of .swc files")
    common(sp)
    sp.set_defaults(fn=cmd_annotate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    needs_out = args.command in (
        "trace-audit",
        "schema-audit",
        "morphology-quality",
        "index-discrepancy",
        "stream-windows",
        "curate",
        "export-shards",
        "export-shuffled",
        "quality-train",
        "gopher-filter",
        "zorder",
        "split",
        "ingest",
        "compact",
        "cluster",
        "index",
        "tokenizer",
    )
    if needs_out and not args.output_dir:
        args.output_dir = "out"
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
