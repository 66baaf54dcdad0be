"""Generate PLANS.md: formatted physical plans of the scale-critical stages,
with the properties each plan must exhibit.  Run: python scripts/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from graphene_spark import datagen, extract, linking, pipeline
    from graphene_spark.session import get_spark

    spark = get_spark("plan-dump", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    dic = datagen.make_entity_dictionary(n_entities=100, n_hot=5, seed=42)
    tx = datagen.make_transcripts(n_convs=20, turns_per_conv=10, seed=42)
    tdf = spark.createDataFrame(tx)
    ddf = pipeline.dictionary_to_spark(spark, dic)
    aliases = pipeline.all_aliases(dic)

    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of the scale-critical stages\n\n"
        "Auto-generated by `scripts/dump_plans.py`.  Each section states the\n"
        "property the plan must exhibit at 100 TB and shows the plan proving it\n"
        "(these properties are also pinned by tests/test_plans.py).\n\n"
    )

    rows = extract.extract_rows_arrow(tdf, aliases)
    out.write(
        "## 1. Extraction — one narrow stage, no shuffle\n\n"
        "Property: scan -> MapInArrow only (the pipeline's one extraction\n"
        "stage — no pandas materialization on either end of a batch).  No\n"
        "Exchange appears before linking; Arrow transfer uses flat columns.\n\n"
        "```\n" + fmt(rows) + "\n```\n\n"
    )

    mentions = extract.mentions_from_rows(rows)
    linked, _ = linking.link_mentions(mentions, ddf, strategy="broadcast")
    out.write(
        "## 2. Linking — broadcast hash join, mention stream never shuffled\n\n"
        "Property: the dictionary side goes through BroadcastExchange; the\n"
        "big (mention) side has no hashpartitioning Exchange.\n\n"
        "Strategy selection is AUTOMATIC (round 5): ``link_mentions`` defaults to\n"
        "``strategy='auto'``, which broadcasts when\n"
        "``linking.estimate_alias_map_bytes(dictionary)`` — one tiny aggregate over\n"
        "the dimension side, x2-conservative on string bytes plus ~64 B/row hash-map\n"
        "overhead — fits ``spark.sql.autoBroadcastJoinThreshold``, and otherwise\n"
        "switches to the salted shuffle join (hot keys exploded xS on the build\n"
        "side, probe side salted, so the Zipf head fans out across reducers).  A\n"
        "negative threshold (broadcast disabled) always salts.  The caller can still\n"
        "pin either strategy explicitly; equivalence of the three paths is tested\n"
        "end-to-end (test_link_strategy_auto_end_to_end_equivalence).  At 100 TB\n"
        "this means a dictionary that outgrows executor memory degrades to the\n"
        "skew-safe shuffle plan by itself instead of OOMing the broadcast build.\n\n"
        "Round 7: for DRIVER-LOCAL dictionaries with provable normalization\n"
        "parity (``linking.local_alias_map``), the alias map is served as a\n"
        "local relation — the broadcast build side below is a bare\n"
        "LocalTableScan with no aggregation job; parquet-backed dictionaries\n"
        "keep the distributed aggregation + salted-join options unchanged.\n\n```\n"
        + fmt(linked)
        + "\n```\n\n"
    )

    raw = extract.triples_from_rows(rows)
    triples, _ = linking.link_triples(raw, ddf)
    out.write(
        "## 3. Triple dedup — single shuffle with partial aggregation\n\n"
        "Property: exactly one Exchange (the groupBy on subj/pred/obj), with\n"
        "partial_min pushed below it (map-side combine shrinks the shuffle to\n"
        "distinct triples per partition); AQE coalesces the reduce side.\n\n```\n"
        + fmt(triples)
        + "\n```\n\n"
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_orderkey") == 1)
        .select("l_orderkey", "l_quantity")
    )
    out.write(
        "## 4. Parquet scan — pushdown + pruning\n\n"
        "Property: PushedFilters carries the predicate; ReadSchema lists only\n"
        "the projected columns.\n\n```\n" + fmt(li) + "\n```\n\n"
    )

    from graphene_spark.tdp import dedup as tdp_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh = tdp_dedup.minhash_duplicates(docs, threshold=0.7)
    out.write(
        "## 5. MinHash-LSH dedup — band shuffle carries ids + signatures only\n\n"
        "Property: every Exchange keyed on (band_idx, band_sig) lists only\n"
        "_id/_sig columns — the text-sized shingle arrays appear ONLY in the\n"
        "post-pair verify join (pinned by tests/test_plans.py::\n"
        "test_minhash_band_shuffle_carries_no_shingles); band buckets above\n"
        "the cap are pruned by a window count BEFORE the self-join.\n"
        "Round 3: the signature frame is ONE shared (lazily checkpointed)\n"
        "scan — Catalyst cannot reuse exchanges whose child contains a\n"
        "Python UDF stage, so without it the ArrowEvalPython signature stage\n"
        "appeared 10x in this plan; the verify side semi-join-reduces the\n"
        "corpus to surviving pair ids BEFORE recomputing shingles; the cap\n"
        "window's explicit core-width repartition doubles as the self-join\n"
        "co-partitioning (no second exchange on the band keys).\n\n```\n"
        + fmt(mh)
        + "\n```\n\n"
    )

    from graphene_spark.tdp import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = similarity.brute_force_topk(emb, q, k=5)
    out.write(
        "## 6. ANN scoring — broadcast queries, Arrow-batched numpy cosine\n\n"
        "Property: the query side goes through BroadcastExchange (corpus\n"
        "scanned once, never shuffled before scoring); the cosine is ONE\n"
        "ArrowEvalPython stage (vectorized numpy), not interpreted\n"
        "higher-order expressions.\n\n```\n" + fmt(topk) + "\n```\n\n"
    )

    out.write(
        "## 7. Streaming dedup band-index probe — partition-pruned scan (round 5)\n\n"
        "Property: the per-batch probe of the persisted band index reads ONLY the\n"
        "`_kb=` partitions the batch's band keys hash into.  The index is laid out\n"
        "by the probe key (`merge_insert_absent(layout_keys=[\"band_idx\",\n"
        "\"band_sig\"])`, identity `(doc_id, band_idx, band_sig)` — layout ⊆ identity\n"
        "keeps equal identity keys in one `_kb`, which the merge's anti-join matches\n"
        "on and this probe reads by), and `read_merged_pruned` recomputes\n"
        "the writer's exact layout hash (`materialize.layout_bucket`,\n"
        "with the index's own bucket count from its footers, `materialize.key_buckets`)\n"
        "over the batch's distinct band keys and filters the scan on the resulting\n"
        "`_kb` set.  The filter lands in `PartitionFilters` — the hive-partition\n"
        "level, so untouched directories are never opened — with `DataFilters`\n"
        "EMPTY (nothing is filtered post-read):\n\n"
        "```\n"
        "*(1) Project [doc_id, _sig, band_idx, band_sig]\n"
        "+- *(1) ColumnarToRow\n"
        "   +- FileScan parquet [doc_id,_sig,band_idx,band_sig,_kb]\n"
        "        Batched: true,\n"
        "        DataFilters: [],\n"
        "        PartitionFilters: [isnotnull(_kb#2614), (_kb#2614 = 53)],\n"
        "        ...\n"
        "```\n\n"
        "(Probe with one band key -> exactly one `_kb` partition in the filter; a\n"
        "b-key batch reads min(b, n)/n of the index, where n is the index's\n"
        "recorded bucket count: min(shuffle partitions, KEY_BUCKETS) when the index\n"
        "was created, KEY_BUCKETS for an index that records none.  The excerpt\n"
        "above is from a 64-bucket index.)  Pinned\n"
        "behaviorally by `test_band_index_probe_is_partition_pruned`: a poison row\n"
        "planted inside an untouched partition directory must stay invisible to the\n"
        "pruned scan — `DataFrame.inputFiles()` can NOT pin this (it lists the\n"
        "relation's full file index without applying partition filters).\n"
        "`compact_dedup_state` folds per-batch appended small files back to one per\n"
        "bucket (Iceberg `rewrite_data_files` analog, atomic directory swap) so the\n"
        "pruned scan's file-listing cost stays bounded over a long-running stream.\n"
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
