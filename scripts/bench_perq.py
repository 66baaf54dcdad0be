"""Per-query cold/warm instrumentation (guide §1): replicates bench.py's
session + warmup, then times each headline query THREE times (cold = first
run, includes codegen/planning; warm = steady execution) and optionally dumps
.explain("formatted") per query.  Never used for official numbers — bench.py
is the artifact of record; this isolates where each row's seconds go.

Usage: python scripts/bench_perq.py [--plans DIR] [--only name,name]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    plans_dir = None
    only = None
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--plans":
            plans_dir = args.pop(0)
        elif a == "--only":
            only = set(args.pop(0).split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from graphene_spark.session import get_spark

    spark = get_spark("graphene-bench-perq", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) * 2 if cpus.isdigit() else 64)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    headline = [
        "j1_broadcast_equi", "j7_two_hop", "a4_a6_key_stats",
        "a8_sorted_set_name", "w1_w2_chain_rank", "s2_split_explode",
        "tdp_exact_dedup", "tdp_cosine_topk", "tdp_textstats",
    ]
    if only:
        headline = [h for h in headline if h in only]
    _force(queries["a4_a6_key_stats"](spark, sf_dir))
    n_cores = int(cpus) if cpus.isdigit() else 32
    warm = spark.range(n_cores * 4).repartition(n_cores)
    warm.mapInPandas(lambda it: it, "id long").count()

    out: dict[str, list[float]] = {}
    for name in headline:
        runs = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            t0 = time.perf_counter()
            _force(queries[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = runs
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(queries[name](spark, sf_dir)._sc is None and "" or "")
        spark.sparkContext.setJobDescription(None)

    if only is None or "tdp_minhash_dedup" in only:
        from graphene_spark.tdp import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        runs = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"minhash run{i}")
            t0 = time.perf_counter()
            _force(dedup.minhash_duplicates(docs, threshold=0.7))
            runs.append(round(time.perf_counter() - t0, 3))
        out["tdp_minhash_dedup"] = runs

    if only is None or "kg_extract_link" in only:
        from graphene_spark import datagen, datagen_spark, pipeline

        n_convs = 30_000
        dic = datagen.make_entity_dictionary(n_entities=500, n_hot=10, seed=42)
        tdf = datagen_spark.make_transcripts_df(
            spark, n_convs=n_convs, turns_per_conv=20,
            n_entities=500, n_hot=10, seed=42, partitions=n_cores * 2,
        )
        tdf.persist().count()
        ddf = pipeline.dictionary_to_spark(spark, dic)
        aliases = pipeline.all_aliases(dic)
        runs = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"kg run{i}")
            t0 = time.perf_counter()
            res = pipeline.run_pipeline(spark, tdf, ddf, aliases)
            _force(res["triples"])
            runs.append(round(time.perf_counter() - t0, 3))
        out["kg_extract_link"] = runs

    print(json.dumps(out))


if __name__ == "__main__":
    main()
