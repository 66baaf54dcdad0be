"""End-to-end: distributed pipeline vs frozen oracle walker (P/R >= 0.95)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from graphene_spark import oracle, pipeline
from graphene_spark.pipeline import all_aliases


@pytest.fixture(scope="module")
def result(spark, transcripts_df, dictionary_df, dictionary_pdf):
    return pipeline.run_pipeline(
        spark, transcripts_df, dictionary_df, all_aliases(dictionary_pdf)
    )


@pytest.fixture(scope="module")
def oracle_result(transcripts_pdf, dictionary_pdf):
    return oracle.run_oracle(transcripts_pdf, dictionary_pdf)


def test_triple_precision_recall(result, oracle_result):
    emitted = result["triples"].select("subj", "pred", "obj").toPandas()
    p, r = oracle.precision_recall(emitted, oracle_result.triples)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"
    # with identical frozen rules both sides should in fact agree exactly
    assert p == 1.0 and r == 1.0


def test_dangling_counts_match_oracle(result, oracle_result):
    n_dangling = result["dangling"].count()
    assert n_dangling == oracle_result.n_dangling_triples


def test_error_turn_counts_match_oracle(result, oracle_result):
    n_err = result["metrics"].agg(F.sum("n_error_turns").alias("e")).collect()[0]["e"]
    assert n_err == oracle_result.n_error_turns


def test_node_name_unique_per_label(result):
    """Importer.groovy:61-66 unique-name constraint analog."""
    nodes = result["nodes"]
    dup = (
        nodes.groupBy(F.element_at("labels", 1).alias("l"), "name")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    dup_id = nodes.groupBy("node_id").count().filter(F.col("count") > 1).count()
    assert dup_id == 0


def test_edges_deduped_and_resolved(result):
    edges = result["edges"]
    dup = (
        edges.groupBy("src", "rel_type", "dst").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    # every endpoint resolves to a node (J2: join after all nodes exist)
    nodes = result["nodes"].select("node_id")
    missing_src = edges.join(nodes, edges.src == nodes.node_id, "left_anti").count()
    assert missing_src == 0


def test_broadcast_and_salted_linking_agree(
    spark, transcripts_df, dictionary_df, dictionary_pdf
):
    aliases = all_aliases(dictionary_pdf)
    r_b = pipeline.run_pipeline(
        spark, transcripts_df, dictionary_df, aliases, link_strategy="broadcast"
    )
    r_s = pipeline.run_pipeline(
        spark, transcripts_df, dictionary_df, aliases, link_strategy="salted"
    )
    tb = set(map(tuple, r_b["triples"].select("subj", "pred", "obj").collect()))
    ts = set(map(tuple, r_s["triples"].select("subj", "pred", "obj").collect()))
    assert tb == ts


def test_link_strategy_auto_resolution(spark, dictionary_df):
    """'auto' derives broadcast-vs-salted from the alias-map size estimate
    against spark.sql.autoBroadcastJoinThreshold (round-4 VERDICT task #7:
    the scale-safe path must not be a caller obligation)."""
    from graphene_spark import linking

    est = linking.estimate_alias_map_bytes(dictionary_df)
    assert est > 0
    # fixture dictionary is tiny -> fits the default 10 MiB threshold
    assert linking.resolve_link_strategy(dictionary_df) == "broadcast"
    # an explicit threshold below the estimate must flip to salted
    assert linking.resolve_link_strategy(dictionary_df, threshold_bytes=est - 1) == "salted"
    assert linking.resolve_link_strategy(dictionary_df, threshold_bytes=est) == "broadcast"
    # broadcasting disabled on the session (-1) always means salted
    assert linking.resolve_link_strategy(dictionary_df, threshold_bytes=-1) == "salted"
    # conf-driven path: shrink the session threshold, auto must salt
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
        assert linking.resolve_link_strategy(dictionary_df) == "salted"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # size-suffix parsing covers the spellings Spark accepts
    assert linking._parse_size_bytes("10485760") == 10 * 1024 * 1024
    assert linking._parse_size_bytes("10485760b") == 10 * 1024 * 1024
    assert linking._parse_size_bytes("10m") == 10 * 1024 * 1024
    assert linking._parse_size_bytes("10MB") == 10 * 1024 * 1024
    assert linking._parse_size_bytes("1g") == 1024 ** 3
    assert linking._parse_size_bytes("-1") == -1


def test_link_strategy_auto_end_to_end_equivalence(
    spark, transcripts_df, dictionary_df, dictionary_pdf
):
    """Pipeline under strategy='auto' (resolving to each side of the
    threshold) produces the same triples as the explicitly-chosen
    strategies."""
    aliases = pipeline.all_aliases(dictionary_pdf)

    def triples(strategy):
        res = pipeline.run_pipeline(
            spark, transcripts_df, dictionary_df, aliases, link_strategy=strategy
        )
        return {tuple(r) for r in res["triples"].select("subj", "pred", "obj").collect()}

    base = triples("broadcast")
    assert triples("auto") == base  # tiny dictionary -> auto is broadcast
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
        assert triples("auto") == base  # auto -> salted, same answers
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_parse_size_bytes_full_suffix_set():
    """Every size spelling Spark's JavaUtils.byteStringAsBytes accepts must
    parse — a valid session threshold conf must never crash 'auto'."""
    from graphene_spark import linking

    assert linking._parse_size_bytes("1t") == 1024 ** 4
    assert linking._parse_size_bytes("2TB") == 2 * 1024 ** 4
    assert linking._parse_size_bytes("1p") == 1024 ** 5


def test_estimate_alias_map_bytes_null_hardened(spark):
    """NULL alias arrays / names must not shrink the estimate (size(NULL) is
    -1; NULL lengths drop out of sums) — an under-estimate broadcasts an
    oversized map, the exact OOM 'auto' exists to prevent."""
    from graphene_spark import linking

    d = spark.createDataFrame(
        [(1, "Alpha", ["alpha", "al"], "T", False),
         (2, None, None, None, False),
         (3, "Gamma", None, "T", False)],
        "entity_id long, canonical_name string, aliases array<string>, "
        "entity_type string, is_hot boolean",
    )
    est = linking.estimate_alias_map_bytes(d)
    only_good = linking.estimate_alias_map_bytes(d.filter("entity_id = 1"))
    assert est == only_good  # null rows contribute zero, never negative
    assert est > 0


def test_dictionary_to_spark_stamps_exact_estimate(spark):
    """dictionary_to_spark pre-computes the broadcast-size estimate from the
    driver-side pandas frame (the data is already local — running a Spark
    job to re-derive it was one whole job in every timed pipeline run).
    The stamped value must EQUAL linking.estimate_alias_map_bytes on the
    same rows, including the null-hardening cases (null alias arrays, null
    elements inside arrays, null names/types)."""
    import pandas as pd

    from graphene_spark import linking, pipeline

    pdf = pd.DataFrame(
        {
            "entity_id": [1, 2, 3, 4],
            "canonical_name": ["Alpha", None, "Gamma", "Δelta"],
            "aliases": [["alpha", "al"], None, ["g", None, "γάμμα"], []],
            "entity_type": ["T", None, None, "U"],
            "is_hot": [False, False, True, False],
        }
    )
    df = pipeline.dictionary_to_spark(spark, pdf)
    stamped = getattr(df, "_gs_alias_map_bytes", None)
    assert stamped is not None
    # a non-ASCII alias and NULL names make the alias-map rows unprovable;
    # the same pass still stamps the estimate
    assert getattr(df, "_gs_alias_map_rows", None) is None
    # the distributed estimator on a frame WITHOUT the stamp must agree
    fresh = pipeline.dictionary_to_spark(spark, pdf)
    del fresh._gs_alias_map_bytes
    assert stamped == linking.estimate_alias_map_bytes(fresh)
    # and the resolver uses the stamp (no job): broadcast for this tiny dict
    assert linking.resolve_link_strategy(df) == "broadcast"


def test_dictionary_to_spark_stamps_local_alias_map(spark):
    """dictionary_to_spark pre-computes alias_map()'s rows driver-side when
    parity is provable (ASCII aliases, non-null fields) and linking.alias_map
    serves them as a local relation.  The precomputed rows must EQUAL the
    Spark aggregation on the same frame — including first-writer-wins
    tie-breaks across entities AND across duplicate entity_id rows, the gap
    normalization ('_'/'-'/whitespace runs -> one space), identity-free
    aliases dropping out, and NULL elements inside alias arrays."""
    import pandas as pd

    from graphene_spark import linking, pipeline

    pdf = pd.DataFrame(
        {
            # 7 shares an alias_norm with 2 (case/underscore variants) and
            # must lose the min-struct to the lower id; two id-5 rows share
            # 'twin' so the tie-break runs past entity_id to the name
            "entity_id": [2, 7, 5, 5, 9],
            "canonical_name": ["Beta", "Eta", "Zed", "Ann", "Iota"],
            "aliases": [
                ["Foo_Bar", "beta"],
                ["foo-bar", "  foo  bar ", "eta"],
                ["twin", "-", "_", "   "],
                ["twin", None, "ann"],
                None,
            ],
            "entity_type": ["T", "T", "T", "T", "U"],
            "is_hot": [False, True, False, False, False],
        }
    )
    df = pipeline.dictionary_to_spark(spark, pdf)
    assert getattr(df, "_gs_alias_map_rows", None) is not None
    got = {tuple(r) for r in linking.alias_map(df).collect()}
    fresh = pipeline.dictionary_to_spark(spark, pdf)
    del fresh._gs_alias_map_rows  # force the Spark aggregation path
    expect = {tuple(r) for r in linking.alias_map(fresh).collect()}
    assert got == expect
    # the tricky rows explicitly: variants folded, lower id won, '-'/'_'
    # aliases never became keys, and the id-5 tie broke on the name
    by_key = {r[0]: r for r in got}
    assert by_key["foo bar"][1] == 2
    assert by_key["twin"][1:3] == (5, "Ann")
    assert "" not in by_key
    # memoized: the second call reuses the same local DataFrame object
    assert linking.alias_map(df) is linking.alias_map(df)


def test_local_alias_map_empty_keeps_spark_path(spark):
    """A dictionary whose aliases all normalize to '' gets no precomputed
    map (the Spark path stays in place) and links exactly as a frame
    stamped with the empty map would: nothing links, everything is
    unlinked."""
    import pandas as pd

    from graphene_spark import linking

    pdf = pd.DataFrame(
        {
            "entity_id": [1, 2],
            "canonical_name": ["A", "B"],
            "aliases": [["-", "  "], ["_", ""]],
            "entity_type": ["T", "T"],
            "is_hot": [False, True],
        }
    )
    est, rows = linking.local_alias_map(pdf)
    assert rows is None and est is not None
    plain = pipeline.dictionary_to_spark(spark, pdf)
    assert getattr(plain, "_gs_alias_map_rows", None) is None
    stamped = pipeline.dictionary_to_spark(spark, pdf)
    stamped._gs_alias_map_rows = []
    mentions = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (2, 0, "")], "conv_id int, turn_idx int, norm string"
    )

    def link(dic):
        linked, unlinked = linking.link_mentions(mentions, dic, strategy="broadcast")
        return sorted(map(tuple, linked.collect())), sorted(map(tuple, unlinked.collect()))

    assert link(plain) == link(stamped) == ([], sorted(map(tuple, mentions.collect())))


def test_local_alias_map_unprovable_inputs_fall_back():
    """Any input where byte-parity with the SQL path is not PROVEN must
    give no rows (the caller then keeps the Spark aggregation): non-ASCII
    aliases (lower/regex dialect parity unproven), NULL/NaN payload fields
    (struct-min NULL ordering not mirrored), bool entity_id, non-str
    aliases.  The size estimate from the same pass survives every one of
    these aborts."""
    import numpy as np
    import pandas as pd

    from graphene_spark import linking

    def pdf(**over):
        base = {
            "entity_id": [1],
            "canonical_name": ["A"],
            "aliases": [["a"]],
            "entity_type": ["T"],
            "is_hot": [False],
        }
        base.update(over)
        return pd.DataFrame(base)

    def rows(frame):
        return linking.local_alias_map(frame)[1]

    assert rows(pdf()) == [("a", 1, "A", "T", False)]
    # numpy scalar types are fine (the pandas default)
    assert rows(
        pdf(entity_id=[np.int64(1)], is_hot=[np.bool_(True)])
    ) == [("a", 1, "A", "T", True)]
    assert rows(pdf(aliases=[["Straße"]])) is None
    assert rows(pdf(aliases=[["ıa"]])) is None
    assert rows(pdf(aliases=[[b"a"]])) is None
    assert rows(pdf(canonical_name=[None])) is None
    assert rows(pdf(canonical_name=[float("nan")])) is None
    assert rows(pdf(entity_type=[None])) is None
    assert rows(pdf(is_hot=[None])) is None
    assert rows(pdf(entity_id=[True])) is None
    # non-ASCII payload strings are allowed (only compared, and Python's
    # code-point order == UTF8String byte order)
    assert rows(pdf(canonical_name=["Δelta"])) == [
        ("a", 1, "Δelta", "T", False)
    ]
    # the estimate survives the row aborts: 2 * (7 alias bytes + 2 payload
    # bytes) + 64 per alias
    assert linking.local_alias_map(pdf(aliases=[["Straße"]]))[0] == 82
    for over in ({"canonical_name": [None]}, {"is_hot": [None]}, {"entity_id": [True]}):
        assert linking.local_alias_map(pdf(**over))[0] is not None, over
