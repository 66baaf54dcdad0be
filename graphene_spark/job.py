"""spark-submit entrypoint: the whole-run driver (LoadGrameneGraphDb.main analog).

    spark-submit --py-files graphene_spark.zip -m graphene_spark.job \
        --transcripts <path-or-"synthetic:N"> --dictionary <parquet|synthetic> \
        --out /data/kg --buckets 64 [--resume]

Stages (each a DataFrame DAG, scheduled together — the reference's fixed
loader ordering, Importer.groovy:21-24, becomes data dependencies):
  1. extraction + linking (pipeline.run_pipeline); each bucket's extraction
     runs once and is persisted, and its counters, triples, nodes and edges
     all read that one frame
  2. materialization with per-bucket lineage (resumable, insert-if-absent);
     the bucket's extraction is released once its lineage row is written,
     or when the bucket raises
  3. post-process rewrites with regression counters (postprocess.*,
     with --postprocess)

The run is idempotent: re-invoking with --resume skips completed buckets
(the 'refuses to touch an existing store' guard of LoadGrameneGraphDb.groovy:40-42
becomes 'continue where the lineage table says we stopped')."""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def collect_aliases(dictionary, max_aliases: int = 2_000_000) -> list:
    """Collect the entity dictionary's aliases to the driver for the
    broadcast gazetteer, guarded by an explicit size cap.

    The gazetteer design point is a DICTIONARY-sized broadcast (the alias
    list is compiled into one regex automaton and shipped to every
    executor) — it is bounded by the number of known entities, never by
    corpus size.  A dictionary 100x larger than designed would silently
    turn this collect into a driver-memory and task-serialization hazard,
    so the cap fails fast with the design context instead."""
    # narrow agg, not explode+count: same number without materializing one
    # row per alias across the cluster just to produce a scalar
    n = dictionary.agg(
        F.coalesce(F.sum(F.size("aliases")), F.lit(0)).alias("n")
    ).collect()[0]["n"]
    if n > max_aliases:
        raise ValueError(
            f"entity dictionary has {n:,} aliases, above the "
            f"{max_aliases:,} broadcast-gazetteer design point. The alias "
            "list is collected to the driver and compiled into a single "
            "broadcast automaton; beyond this size, partition the "
            "dictionary (e.g. by entity_type) and run one linking pass per "
            "partition, or raise --max-dictionary-aliases explicitly if "
            "driver memory allows."
        )
    return [a for (al,) in dictionary.select("aliases").collect() for a in al]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="graphene-spark KG construction job")
    ap.add_argument("--transcripts", required=True,
                    help="parquet path, or 'synthetic:<n_turns>' for generated input")
    ap.add_argument("--dictionary", default="synthetic",
                    help="parquet path of entity dictionary, or 'synthetic'")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--resume", action="store_true",
                    help="keep existing output; skip buckets marked done in lineage")
    ap.add_argument("--link-strategy", default="auto",
                    choices=["auto", "broadcast", "salted"],
                    help="'auto' (default) broadcasts when the alias-map size "
                         "estimate fits spark.sql.autoBroadcastJoinThreshold, "
                         "else salts (linking.resolve_link_strategy)")
    ap.add_argument("--fuzzy-threshold", type=float, default=None,
                    help="enable LSH second-chance linking at this Jaccard threshold")
    ap.add_argument("--postprocess", action="store_true",
                    help="run graph rewrites after materialization (the post-import-cypher phase)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--merge-backend", default="parquet",
                    help="'parquet' (default: bucketed-parquet MERGE emulation under "
                         "--out) or 'iceberg:<catalog.namespace>' (real MERGE INTO; "
                         "requires the Iceberg runtime jar and catalog confs)")
    ap.add_argument("--max-dictionary-aliases", type=int, default=2_000_000,
                    help="hard cap on the alias count collected to the driver "
                         "for the broadcast gazetteer (design-point guard)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from graphene_spark import datagen, datagen_spark, materialize, pipeline
    from graphene_spark.session import get_spark

    # only stop the session on exit if this invocation created it (embedding
    # callers — tests, notebooks — keep theirs)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("graphene-kg-job", master=args.master)

    if args.dictionary == "synthetic":
        dic_pdf = datagen.make_entity_dictionary(n_entities=500, n_hot=10, seed=42)
        dictionary = pipeline.dictionary_to_spark(spark, dic_pdf)
        aliases = pipeline.all_aliases(dic_pdf)
    else:
        dictionary = spark.read.parquet(args.dictionary)
        aliases = collect_aliases(dictionary, max_aliases=args.max_dictionary_aliases)

    if args.transcripts.startswith("synthetic:"):
        n_turns = int(args.transcripts.split(":", 1)[1])
        transcripts = datagen_spark.make_transcripts_df(
            spark, n_convs=max(n_turns // 20, 1), turns_per_conv=20
        )
    else:
        transcripts = spark.read.parquet(args.transcripts)

    if args.merge_backend.startswith("iceberg:"):
        namespace = args.merge_backend.split(":", 1)[1]
        parts = namespace.split(".", 1)
        # BOTH halves must be non-empty: 'iceberg:lake' (no namespace part)
        # and 'iceberg:lake.' / 'iceberg:.kg' (empty half) all resolve to
        # malformed table names that fail later with a confusing catalog
        # error instead of this parse-time message
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise SystemExit(
                f"--merge-backend {args.merge_backend!r}: expected "
                "iceberg:<catalog.namespace> (e.g. iceberg:lake.kg)"
            )
        catalog = parts[0]
        if not materialize.IcebergMergeSink.available(spark, catalog):
            raise SystemExit(
                f"--merge-backend iceberg:{namespace} requires catalog "
                f"'{catalog}' to be configured on the session "
                f"(spark.sql.catalog.{catalog}=... plus the iceberg-spark-runtime jar)"
            )
        sink = materialize.IcebergMergeSink(spark, namespace)
    elif args.merge_backend == "parquet":
        sink = materialize.ParquetMergeSink(spark, args.out)
    else:
        # an unrecognized value must not silently fall back to parquet — the
        # operator would believe the lakehouse tables were updated
        raise SystemExit(
            f"--merge-backend {args.merge_backend!r}: expected 'parquet' or "
            "'iceberg:<catalog.namespace>'"
        )

    tables = ["triples", "nodes", "edges"]
    if not args.resume:
        materialize.reset_output(args.out)
        # the catalog tables too: insert-if-absent never deletes, so without
        # this a non-resume Iceberg run keeps every stale row of prior runs
        sink.reset(tables)

    def process_bucket(bucket_df):
        res = pipeline.run_pipeline(
            spark, bucket_df, dictionary, aliases,
            link_strategy=args.link_strategy,
            fuzzy_threshold=args.fuzzy_threshold,
        )
        # every output below and every merge of this bucket reads this one
        # frame; persisted before anything forces it, released by
        # run_with_lineage ("cached"), or here if the counters raise
        extracted = res["extracted"].persist()
        try:
            counters = {
                r["k"]: r["v"]
                for r in res["metrics"]
                .agg(
                    # a bucket no conversation hashes to sums to NULL: it
                    # ran, and it recorded 0 turns
                    F.coalesce(F.sum("n_turns"), F.lit(0)).alias("n_turns"),
                    F.coalesce(F.sum("n_error_turns"), F.lit(0)).alias("n_errors"),
                )
                .selectExpr("stack(2, 'n_turns', n_turns, 'n_errors', n_errors) as (k, v)")
                .collect()
            }
            counters["n_dangling"] = res["dangling"].count()
        except BaseException:
            extracted.unpersist(blocking=True)
            raise
        return {
            "triples": res["triples"],
            "nodes": res["nodes"],
            "edges": res["edges"],
            "counters": counters,
            "cached": extracted,
        }

    # each parquet table's `_kb` bucket count, and whether this run chooses
    # it (a new table) or reads it back from the table's footers ("recorded",
    # or "legacy" for a table written before counts were recorded)
    layout = {}
    if args.merge_backend == "parquet":
        for t in tables:
            n, source = materialize.key_buckets(spark, sink.target(t))
            layout[t] = {"key_buckets": n, "source": source}

    totals = materialize.run_with_lineage(
        spark, transcripts, args.out, process_bucket, n_buckets=args.buckets, sink=sink
    )

    # The table counts are read from the tables, not summed from lineage:
    # when a bucket's merges committed but its lineage row was lost, the
    # resumed run replays it and records 0 inserts for it, so a lineage sum
    # would undercount exactly that state.  The parquet sink and lineage
    # are counted from their footers, so on parquet the summary runs no
    # Spark job; Iceberg answers its count from snapshot metadata.
    summary = {
        "buckets": totals,
        **{t: sink.rows(t) for t in tables},
        "lineage_rows": materialize.table_rows(os.path.join(args.out, "lineage")),
        "layout": layout,
    }

    if args.postprocess:
        # the post-import-cypher phase: densifying rewrites over the
        # materialized graph, each with its return-count regression counter
        from graphene_spark import postprocess as pp

        nodes = sink.read("nodes")
        edges = sink.read("edges").select("src", "dst", "rel_type")
        # hot entities are the 'common' exclusion set (post-import-cypher.txt:6-10)
        hot = nodes.join(
            dictionary.filter("is_hot").select(F.col("canonical_name").alias("name")),
            "name",
            "left_semi",
        ).select("node_id")
        # SAME_AS: entities sharing a synonym name node (2-hop through the
        # flipped SYNONYM edge), excluding hot entities
        flipped = edges.unionByName(
            edges.filter("rel_type = 'SYNONYM'").select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.lit("SYNONYM_OF").alias("rel_type"),
            )
        )
        same_as, n_same = pp.two_hop_edges(
            flipped, "SYNONYM", "SYNONYM_OF", "SAME_AS", excluded_ends=hot
        )
        # ANCESTOR: bounded <=3-hop closure over hierarchy predicates (J9)
        anc, n_anc = pp.bounded_path_edges(
            edges, ["IS_A", "PART_OF"], 3, "ANCESTOR"
        )
        pp_edges = same_as.unionByName(anc).withColumn(
            "props", F.create_map().cast("map<string,string>")
        )
        n_inserted = sink.merge_insert_absent(pp_edges, "edges", ["src", "rel_type", "dst"])
        summary["postprocess"] = {
            "same_as": n_same,
            "ancestor": n_anc,
            "edges_inserted": n_inserted,
        }
    print(json.dumps(summary))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
