"""Physical-plan assertions: the plans we want at 100 TB, not just correct ones.

These tests pin the scale-critical plan properties: dictionary joins must
broadcast (no shuffle of the mention stream), extraction must be a single
narrow stage (no Exchange before linking), and parquet scans must receive
pushed filters + pruned schemas.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from graphene_spark import datagen, extract, linking, pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_linking_uses_broadcast_join(spark, transcripts_df, dictionary_df, dictionary_pdf):
    aliases = pipeline.all_aliases(dictionary_pdf)
    mentions = extract.mentions_from_rows(
        extract.extract_rows_arrow(transcripts_df, aliases, kinds=("mention",))
    )
    linked, _ = linking.link_mentions(mentions, dictionary_df, strategy="broadcast")
    plan = _plan(linked)
    assert "BroadcastHashJoin" in plan
    # the big (mention) side must NOT be exchanged for the join
    before_join = plan.split("BroadcastHashJoin")[-1]
    assert "Exchange hashpartitioning" not in before_join.split("BroadcastExchange")[0]


def test_parquet_scan_pushdown(spark):
    """Filter + projection must reach the parquet scan (PushedFilters/ReadSchema)."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_orderkey") == 1)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]" in plan
    # column pruning: only the two selected columns in the read schema
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_salted_join_explodes_only_hot_keys(spark, dictionary_df):
    """The salted dictionary must contain salt fan-out ONLY for hot keys."""
    mentions = spark.createDataFrame(
        [("c", 0, "x", "ent 00000")] * 50 + [("c", 1, "x", "ent 00042")],
        "conv_id string, turn_idx int, surface string, norm string",
    )
    linked, unlinked = linking.link_mentions(mentions, dictionary_df, strategy="salted", salt=4)
    # every hot mention still links exactly once (no dup join results)
    assert linked.count() == 51
    assert unlinked.count() == 0


def test_two_hop_filters_before_join(spark):
    """The common-exclusion must appear below the join in the optimized plan
    (filter-then-join, not join-then-filter) — the O(hot^2) guard."""
    from graphene_spark import postprocess as pp

    edges = spark.createDataFrame(
        [(1, 2, "INPUT"), (2, 3, "OUTPUT")], "src long, dst long, rel_type string"
    )
    common = spark.createDataFrame([(9,)], "node_id long")
    out, _ = pp.two_hop_edges(edges, "INPUT", "OUTPUT", "TO", excluded_ends=common)
    opt = _optimized(out)
    join_pos = opt.find("Join Inner")
    anti_pos = opt.find("Join LeftAnti")
    assert join_pos != -1 and anti_pos != -1
    assert anti_pos > join_pos  # anti-joins sit BELOW (after in text) the inner join


def test_minhash_band_shuffle_carries_no_shingles(spark):
    """The MinHash band self-join must shuffle ids + signatures only — the
    shingle arrays (the text-sized payload) may appear in the plan only in
    the post-pair verify join (the round-2 scale fix; VERDICT r1 item #3)."""
    from graphene_spark.tdp import dedup

    docs = spark.createDataFrame(
        [(i, f"word{i} common text tail one two three") for i in range(8)],
        "doc_id long, text string",
    )
    out = dedup.minhash_duplicates(docs, threshold=0.7)
    plan = _plan(out)
    # every Exchange on the band keys must not carry a shingle column
    for block in plan.split("Exchange hashpartitioning")[1:]:
        keys = block.split("\n")[0]
        if "band_idx" in keys or "band_sig" in keys:
            assert "_sh" not in keys, f"band shuffle carries shingles: {keys}"


def test_pipeline_default_extraction_is_narrow_arrow(spark, transcripts_df, dictionary_pdf):
    """The pipeline DEFAULT (round 4) is the mapInArrow path: the extraction
    stage must be a single narrow PythonMapInArrow with no Exchange."""
    aliases = pipeline.all_aliases(dictionary_pdf)
    res = pipeline.run_pipeline(spark, transcripts_df,
                                spark.createDataFrame(dictionary_pdf,
                                                      schema="entity_id long, canonical_name string, aliases array<string>, entity_type string, is_hot boolean"),
                                aliases)
    plan = _plan(res["extracted"])
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan[:800]
    assert "Exchange" not in plan
