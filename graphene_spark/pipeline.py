"""End-to-end KG construction pipeline (the Importer.go analog).

transcripts -> Arrow-vectorized extraction (extract.extract_rows_arrow,
mapInArrow) -> linking (J3) -> node/edge build (A1-A3, A7, J2).  job.py adds
the merge sink with lineage on top.

The reference runs ten loaders sequentially (Importer.groovy:21-24,38-44);
here every stage is a DataFrame, so the DAG scheduler parallelizes whatever
is independent.  One extraction frame (``extracted``, every row kind) feeds
every output: triples, mentions and metrics are kind filters over it.
run_pipeline caches nothing; a caller that forces several outputs persists
``extracted`` for as long as it forces them (job.py per bucket, streaming.py
per micro-batch), so each turn crosses the Python boundary once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import extract, graph, linking


def dictionary_to_spark(spark: SparkSession, dictionary_pdf) -> DataFrame:
    df = spark.createDataFrame(
        dictionary_pdf,
        schema="entity_id long, canonical_name string, aliases array<string>, entity_type string, is_hot boolean",
    )
    # The full dictionary is ALREADY on the driver here, so one local pass
    # (linking.local_alias_map) gives what linking would otherwise run Spark
    # jobs for: the broadcast-size estimate that strategy='auto' needs, and
    # — when byte-parity with the SQL normalization/dedup is provable (ASCII
    # aliases, no NULL fields) — the alias map's rows, which
    # linking.alias_map then serves as a local relation instead of an
    # aggregation job + broadcast build.  Whatever the pass cannot give is
    # left unstamped and linking computes it in Spark as before;
    # dictionaries too large to pass through a driver-side pandas frame
    # never come this way.
    est, rows = linking.local_alias_map(dictionary_pdf)
    if est is not None:
        df._gs_alias_map_bytes = est
    if rows is not None:
        df._gs_alias_map_rows = rows
    return df


def all_aliases(dictionary_pdf) -> list[str]:
    return [a for al in dictionary_pdf["aliases"] for a in al]


class _LazyOutputs(dict):
    """run_pipeline's result mapping with on-demand construction.

    Building every output DataFrame eagerly cost ~2,800 py4j round-trips
    (~0.9-2.3 s of pure driver latency, profiled) even when the caller
    forces only one output — the common case (the bench forces ``triples``;
    job.py forces a selected subset).  Entries are built on first access and
    memoized; builders may read other entries through the mapping itself, so
    dependency order is automatic (``edges`` pulls ``nodes`` pulls
    ``linked_mentions`` ...).  Assigning a key (the fuzzy-recovery rewrite
    does) replaces the pending builder, and everything built AFTER the
    assignment composes against the assigned value — exactly the dataflow
    the former eager body expressed top to bottom.

    The guide's framing (§5): the driver should do almost no work; plan
    construction for five never-forced outputs was measurable driver work on
    every pipeline invocation."""

    def __init__(self, builders: dict) -> None:
        super().__init__()
        self._builders = builders

    def __missing__(self, key):
        build = self._builders.get(key)
        if build is None:
            raise KeyError(key)
        build(self)  # stores key (and possibly siblings) via __setitem__
        return dict.__getitem__(self, key)

    # the mapping must LOOK complete (len/iter/contains cover unbuilt keys);
    # materializing views (items/values) force construction
    def __contains__(self, key) -> bool:
        return dict.__contains__(self, key) or key in self._builders

    def __iter__(self):
        return iter(self.keys())

    def __len__(self) -> int:
        return len(self.keys())

    def keys(self):
        ks = list(self._builders)
        ks.extend(k for k in dict.keys(self) if k not in self._builders)
        return ks

    def items(self):
        return [(k, self[k]) for k in self.keys()]

    def values(self):
        return [self[k] for k in self.keys()]

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    aliases: list[str],
    *,
    link_strategy: str = "auto",
    fuzzy_threshold: float | None = None,
    canonicalize_dictionary: bool = False,
) -> dict:
    """Run extraction+linking+graph build; returns dict of DataFrames + counters.

    Plan shape (the one we want at 100 TB):
      scan -> [narrow] mapInArrow extract                  (no shuffle)
      -> broadcast join vs alias map                        (no shuffle)
      -> groupBy(subj,pred,obj) dedup                       (1 shuffle, AQE-coalesced)
      -> node/edge groupBy + broadcast id joins             (1 shuffle each)
    """
    # the extraction stage runs a mapInArrow UDF that unpickles this package on
    # executor workers — ship it for ANY session (idempotent; get_spark does
    # this too, but run_pipeline is public API and must work on a session the
    # caller built with a plain SparkSession.builder)
    from .session import ensure_shipped

    ensure_shipped(spark)
    # Nothing is persisted here: a caller that forces one output (the
    # bench's triples) recomputes the narrow extraction faster than it
    # could cache it, while a caller that forces several persists
    # out["extracted"] before forcing any, and releases it afterwards.
    if canonicalize_dictionary:
        # collapse entities connected through shared aliases onto one
        # canonical id/name (connected components over the alias graph —
        # NodeCache augmentOrCreate at scale, Importer.groovy:97-123)
        from . import canonicalize

        cmap = canonicalize.canonical_entities(dictionary)
        canon_names = dictionary.select(
            F.col("entity_id").alias("canonical_id"), F.col("canonical_name").alias("_cn")
        )
        dictionary = (
            dictionary.join(cmap, "entity_id")
            .join(F.broadcast(canon_names), "canonical_id")
            .select(
                F.col("canonical_id").alias("entity_id"),
                F.col("_cn").alias("canonical_name"),
                "aliases",
                "entity_type",
                "is_hot",
            )
            .groupBy("entity_id", "canonical_name")
            .agg(
                F.array_distinct(F.flatten(F.collect_list("aliases"))).alias("aliases"),
                F.min("entity_type").alias("entity_type"),
                F.max("is_hot").alias("is_hot"),
            )
        )

    # resolve 'auto' ONCE for both link calls (the resolution is a small
    # Spark job; linking.resolve_link_strategy memoizes the size estimate
    # per dictionary frame, this keeps even the conf lookup single)
    if link_strategy == "auto":
        link_strategy = linking.resolve_link_strategy(dictionary)

    # ONE extraction frame with every row kind; raw_triples, mentions and
    # metrics are kind filters over that same DataFrame object, so a caller
    # that persists out["extracted"] serves all of them from one pass.
    # extract.extract_rows_arrow is looked up on the module at call time, so
    # a wrapper installed there (perfbench's tracing) sees every extraction.
    def b_extracted(o):
        o["extracted"] = extract.extract_rows_arrow(transcripts, aliases)

    def b_raw_triples(o):
        o["raw_triples"] = extract.triples_from_rows(o["extracted"])

    def b_mentions(o):
        o["mentions"] = extract.mentions_from_rows(o["extracted"])

    def b_link_triples(o):
        o["triples"], o["dangling"] = linking.link_triples(
            o["raw_triples"], dictionary, strategy=link_strategy
        )

    def b_link_mentions(o):
        o["linked_mentions"], o["unlinked_mentions"] = linking.link_mentions(
            o["mentions"], dictionary, strategy=link_strategy
        )

    def b_nodes(o):
        o["nodes"] = _build_node_set(o["linked_mentions"], o["triples"])

    def b_edges(o):
        o["edges"], o["dangling_edges"] = graph.build_edges(
            _edge_candidates(o["triples"]), o["nodes"]
        )

    def b_metrics(o):
        o["metrics"] = extract.metrics_from_rows(o["extracted"])

    out = _LazyOutputs(
        {
            "extracted": b_extracted,
            "raw_triples": b_raw_triples,
            "mentions": b_mentions,
            "triples": b_link_triples,
            "dangling": b_link_triples,
            "linked_mentions": b_link_mentions,
            "unlinked_mentions": b_link_mentions,
            "nodes": b_nodes,
            "edges": b_edges,
            "dangling_edges": b_edges,
            "metrics": b_metrics,
        }
    )

    if fuzzy_threshold is not None:
        # the fuzzy rewrite needs the base link results NOW; accessing them
        # through the mapping builds exactly those, and re-assigning the
        # keys below makes every later builder (nodes/edges) compose against
        # the recovered frames — same dataflow as the former eager body
        triples, dangling = out["triples"], out["dangling"]
        linked_mentions, unlinked = out["linked_mentions"], out["unlinked_mentions"]
        # second-chance LSH linking for exact-miss mentions and triple
        # subjects (MinHash blocking + Jaccard verify, north_star).  ONE
        # fuzzy pass over the union of unmatched norms: building the
        # dictionary band table (shingle + minhash + band-explode over every
        # alias) twice was pure duplicated compute; best-match-per-norm over
        # the union equals the two per-set results exactly.
        from . import blocking

        etypes = dictionary.select("entity_id", "entity_type")
        dang_subj = dangling.filter(F.col("subj").isNotNull())
        all_norms = (
            unlinked.select("norm")
            .unionByName(dang_subj.select(F.col("subj").alias("norm")))
            .distinct()
        )
        matches = blocking.fuzzy_link_unmatched(
            all_norms, dictionary, threshold=fuzzy_threshold
        ).select("norm", "entity_id", "canonical_name")
        recovered = unlinked.join(matches, "norm").join(F.broadcast(etypes), "entity_id")
        linked_mentions = linked_mentions.unionByName(
            recovered.select(*linked_mentions.columns)
        )
        unlinked = unlinked.join(
            recovered.select("conv_id", "turn_idx", "norm"),
            ["conv_id", "turn_idx", "norm"],
            "left_anti",
        )
        # dangling triples whose subject fuzzy-resolves get recovered too
        rec_t = dang_subj.withColumnRenamed("subj", "norm").join(matches, "norm")
        recovered_triples = linking.dedup_triples(
            rec_t.select(
                F.col("canonical_name").alias("subj"), "pred", "obj", "conv_id", "turn_idx"
            )
        )
        triples = linking.dedup_triples(triples.unionByName(recovered_triples))
        dangling = dang_subj.join(
            rec_t.select("conv_id", "turn_idx", "pred", "obj"),
            ["conv_id", "turn_idx", "pred", "obj"],
            "left_anti",
        ).unionByName(dangling.filter(F.col("subj").isNull()))
        out["triples"] = triples
        out["dangling"] = dangling
        out["linked_mentions"] = linked_mentions
        out["unlinked_mentions"] = unlinked

    return out


def _build_node_set(linked_mentions: DataFrame, triples: DataFrame) -> DataFrame:
    """Node candidates -> deduped node set (A1-A3)."""
    # entity nodes (canonical dictionary entries that were actually seen)
    entity_nodes = (
        linked_mentions.select(
            F.col("entity_type").alias("label"),
            F.col("canonical_name").alias("name"),
        )
        .distinct()
        .withColumns({"props": F.create_map().cast("map<string,string>"), "seq": F.lit(0).cast("long")})
    )
    # object nodes: ontology terms (NS:id), xref targets (KEY:VAL), rank/synonym values
    obj_nodes = (
        triples.select(
            F.when(F.col("pred") == "XREF", F.split(F.col("obj"), ":", 2).getItem(0))
            .when(F.col("pred") == "HAS_RANK", F.lit("Rank"))
            .when(F.col("pred") == "SYNONYM", F.lit("Name"))
            .otherwise(F.split(F.col("obj"), ":", 2).getItem(0))
            .alias("label"),
            F.col("obj").alias("name"),
        )
        .distinct()
        .withColumns({"props": F.create_map().cast("map<string,string>"), "seq": F.lit(1).cast("long")})
    )
    return graph.build_nodes(entity_nodes.unionByName(obj_nodes))


def _edge_candidates(triples: DataFrame) -> DataFrame:
    return triples.select(
        F.col("subj").alias("src_name"),
        F.col("obj").alias("dst_name"),
        F.col("pred").alias("rel_type"),
        F.create_map(
            F.lit("conv_id"), F.col("conv_id"), F.lit("turn_idx"), F.col("turn_idx").cast("string")
        ).alias("props"),
    )
