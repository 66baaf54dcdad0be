"""Entity linking: broadcast dictionary join + hot-key salting + anti-join metrics.

The reference links every foreign reference through driver-held hash maps
(Loader.groovy:22,66-75; GeneLoader.groovy:75-82 probes caches another loader
populated) — i.e. broadcast hash joins with the build side in driver memory.
Here the canonical entity dictionary is a DataFrame:

    entity_dictionary(entity_id, canonical_name, aliases, entity_type, is_hot)

exploded to an alias map ``(alias_norm -> entity_id)`` and joined against
mentions/triples.

Skew: hot entities (the 'common metabolite' analog, post-import-cypher.txt:6)
dominate the mention stream.  With a broadcast join skew is harmless (no
shuffle by key); when the dictionary exceeds broadcast size the join becomes
shuffle-based, and we salt: hot mention keys get a random salt in [0, S),
hot dictionary rows are exploded xS, and the join key becomes
(alias_norm, salt).  ``link_mentions`` exposes both strategies and they are
asserted equivalent in tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import rules

DEFAULT_SALT = 8


_ALIAS_MAP_SCHEMA = (
    "alias_norm string, entity_id long, canonical_name string, "
    "entity_type string, is_hot boolean"
)


def local_alias_map(dictionary_pdf) -> tuple[int | None, list[tuple] | None]:
    """One driver-side pass over a local dictionary frame: ``(estimate,
    rows)``, the alias map's broadcast-size estimate and alias_map()'s
    exact rows.

    Used by pipeline.dictionary_to_spark: when the dictionary is already a
    driver-local frame, running Spark jobs to re-derive what its rows give
    directly is pure latency — the size estimate that strategy='auto'
    needs (one job), and the alias map itself (sort-agg + exchange +
    broadcast build, ~0.3 s of jobs plus AQE stage latency per pipeline
    run).

    ``estimate`` is estimate_alias_map_bytes's formula term for term
    (parity-pinned by test_pipeline): alias octet lengths (NULL elements
    count 0, as concat_ws skips them), the alias count (NULL elements
    included, as size() counts them), the name/type payload repeated per
    alias, x2 headroom and 64 B of map overhead per alias.  It is None
    only when the frame has an unexpected shape.

    ``rows`` is None when byte-parity with the SQL path cannot be PROVEN
    for this input.  The two abort independently: an unprovable alias
    drops the rows, never the estimate.  Parity argument, term by term
    against alias_map()'s expression:

    * ``trim(regexp_replace(lower(alias), GAP_CLASS, ' '))`` ==
      ``rules.normalize_alias`` — the documented operation-for-operation
      mirror (rules.py), and ALREADY load-bearing for linking correctness:
      mention ``norm`` keys are computed with normalize_alias in the Python
      extractor and joined against the SQL-computed ``alias_norm``, so any
      alias where the two dialects disagreed would fail to link today.
      Aliases are still required to be ASCII here (``str.isascii``) so the
      lower/regex/trim parity is provable rather than assumed — a non-ASCII
      alias aborts the precompute and the Spark path runs as before;
    * explode semantics: NULL/empty arrays yield no rows; NULL elements
      normalize to NULL and are dropped by the ``alias_norm != ''`` filter —
      mirrored by skipping None entries; the empty-norm filter is applied
      identically;
    * ``min(struct(entity_id, canonical_name, entity_type, is_hot))`` is a
      lexicographic tuple min.  Python tuple comparison matches Spark's
      struct ordering when no field is NULL (any None field aborts) because
      int order is int order, bool false < true both sides, and Python's
      code-point string order equals UTF8String's byte order (UTF-8
      preserves code-point ordering) — so the payload strings need not be
      ASCII, only the join-key aliases.

    Any unexpected shape (non-str alias, NaN/None field, exotic container)
    aborts the rows to None — the caller then simply leaves the Spark path
    in place.  So does a dictionary where no alias survives normalization:
    an empty map has no aggregation worth skipping, and a local relation
    built from an empty pandas frame is a conversion corner with nothing to
    gain.
    """
    alias_chars = n_aliases = payload_chars = 0
    est_ok = True
    best: dict[str, tuple] | None = {}
    try:
        for _, row in dictionary_pdf.iterrows():
            if est_ok:
                try:
                    al = row["aliases"]
                    al_full = list(al) if al is not None else []
                    n_aliases += len(al_full)
                    alias_chars += sum(
                        len(a.encode()) for a in al_full if isinstance(a, str)
                    )
                    name, etype = row["canonical_name"], row["entity_type"]
                    payload_chars += len(al_full) * (
                        (len(name.encode()) if isinstance(name, str) else 0)
                        + (len(etype.encode()) if isinstance(etype, str) else 0)
                    )
                except Exception:  # noqa: BLE001 — estimate via the Spark job
                    est_ok = False
            if best is not None:
                try:
                    if not _fold_alias_row(best, row):
                        best = None
                except Exception:  # noqa: BLE001 — parity not provable
                    best = None
            if not est_ok and best is None:
                break
    except Exception:  # noqa: BLE001 — not a frame we can walk
        return None, None
    est = int(2 * (alias_chars + payload_chars) + 64 * n_aliases) if est_ok else None
    rows = ([(k, *v) for k, v in best.items()] or None) if best is not None else None
    return est, rows


def _fold_alias_row(best: dict[str, tuple], row) -> bool:
    """Fold one dictionary row into ``best`` (alias_norm -> min payload
    tuple); False when the row makes SQL parity unprovable."""
    import numpy as np

    al = row["aliases"]
    if al is None:
        return True
    eid, name = row["entity_id"], row["canonical_name"]
    etype, hot = row["entity_type"], row["is_hot"]
    # bool is an int subclass; reject it for entity_id explicitly
    if isinstance(eid, bool) or not isinstance(eid, (int, np.integer)):
        return False
    if not isinstance(name, str) or not isinstance(etype, str):
        return False
    if not isinstance(hot, (bool, np.bool_)):
        return False
    tup = (int(eid), str(name), str(etype), bool(hot))
    for a in al:
        if a is None:
            continue
        if not isinstance(a, str) or not a.isascii():
            return False
        norm = rules.normalize_alias(a)
        if norm == "":
            continue
        cur = best.get(norm)
        if cur is None or tup < cur:
            best[norm] = tup
    return True


def alias_map(dictionary: DataFrame) -> DataFrame:
    """Explode dictionary aliases to (alias_norm, entity_id, canonical_name,
    entity_type, is_hot).  First-writer-wins on duplicate aliases
    (NodeCache.getOrCreate semantics, Importer.groovy:97-103).

    When dictionary_to_spark proved driver-side parity and stamped the
    precomputed rows (``_gs_alias_map_rows``), the map is a local relation —
    the broadcast build becomes a LocalTableScan instead of an aggregation
    job (measured: −0.6 s per pipeline run at sf0.1, exec 2.2 → 1.6 s warm).
    The DataFrame is memoized per dictionary frame so repeated link calls
    (triples + mentions, or repeated pipeline runs on one dictionary) reuse
    one plan object."""
    rows = getattr(dictionary, "_gs_alias_map_rows", None)
    if rows is not None:
        memo = getattr(dictionary, "_gs_alias_map_df", None)
        if memo is None:
            import pandas as pd

            pdf = pd.DataFrame(
                rows,
                columns=["alias_norm", "entity_id", "canonical_name",
                         "entity_type", "is_hot"],
            )
            memo = dictionary.sparkSession.createDataFrame(pdf, schema=_ALIAS_MAP_SCHEMA)
            dictionary._gs_alias_map_df = memo
        return memo
    return (
        dictionary.select(
            "entity_id",
            "canonical_name",
            "entity_type",
            "is_hot",
            F.explode("aliases").alias("alias"),
        )
        .withColumn(
            "alias_norm",
            F.trim(F.regexp_replace(F.lower(F.col("alias")), rules.GAP_CLASS, " ")),
        )
        # identity-free aliases ('-', '_', whitespace-only) must not become
        # a join key: a mention can never normalize to '' (the gazetteer
        # filters such aliases), so an '' row would only ever mislink
        .filter(F.col("alias_norm") != "")
        .groupBy("alias_norm")
        .agg(
            F.min(F.struct("entity_id", "canonical_name", "entity_type", "is_hot")).alias("e")
        )
        .select(
            "alias_norm",
            F.col("e.entity_id").alias("entity_id"),
            F.col("e.canonical_name").alias("canonical_name"),
            F.col("e.entity_type").alias("entity_type"),
            F.col("e.is_hot").alias("is_hot"),
        )
    )


def hot_keys(mentions: DataFrame, key: str = "norm", min_count: int | None = None, top_k: int = 16) -> DataFrame:
    """Frequency scan for hot keys (A6: count-by-key, notes.txt:152-155).

    Returns a small DataFrame (key, cnt) of the Zipf head — either keys above
    ``min_count`` or the global ``top_k``.  At 100 TB this is a cheap
    partial-aggregated scan (map-side combine) over one string column.
    """
    counts = mentions.groupBy(F.col(key).alias("hot_key")).agg(F.count("*").alias("cnt"))
    if min_count is not None:
        return counts.filter(F.col("cnt") >= min_count)
    return counts.orderBy(F.desc("cnt")).limit(top_k)


def estimate_alias_map_bytes(dictionary: DataFrame) -> int:
    """Estimated in-memory size of the broadcast alias map.

    One cheap aggregate over the DICTIONARY (the dimension side — never the
    mention stream): per exploded alias, its UTF-8 BYTES (octet_length, not
    length — character counts under-count 3-4-byte CJK dictionaries) plus
    the repeated name/type payload plus ~64 bytes of UnsafeRow + hash-map
    overhead (the BytesToBytesMap a BroadcastHashJoin builds).  Deliberately
    conservative (x2 on byte counts as pure headroom) — overestimating flips
    to the scale-safe salted join early, underestimating OOMs executors."""
    # null-hardened: size(NULL) is -1 (non-ANSI) and NULL lengths drop out
    # of sums — unguarded, a dictionary with many NULL alias arrays or NULL
    # names would UNDER-estimate and broadcast an oversized map (the exact
    # OOM 'auto' exists to prevent)
    n_alias = F.greatest(F.size(F.coalesce("aliases", F.array())), F.lit(0))
    row = dictionary.select(
        # concat_ws('', array) skips NULL elements, so octet_length of the
        # join == sum of per-element octet_lengths with NULLs counted 0 —
        # the same value the earlier aggregate() fold computed, without an
        # interpreted higher-order function in the (cold, timed) estimate job
        F.coalesce(
            F.sum(F.octet_length(F.concat_ws("", F.coalesce("aliases", F.array())))),
            F.lit(0),
        ).alias("alias_chars"),
        F.coalesce(F.sum(n_alias), F.lit(0)).alias("n_aliases"),
        F.coalesce(
            F.sum(
                n_alias
                * (
                    F.coalesce(F.octet_length("canonical_name"), F.lit(0))
                    + F.coalesce(F.octet_length("entity_type"), F.lit(0))
                )
            ),
            F.lit(0),
        ).alias("payload_chars"),
    ).collect()[0]
    return int(2 * (row["alias_chars"] + row["payload_chars"]) + 64 * row["n_aliases"])


def _parse_size_bytes(conf_value: str) -> int:
    """Parse Spark size confs ('10485760', '10485760b', '10m', '10MB', '1t',
    '-1') — the full k/m/g/t/p suffix set JavaUtils.byteStringAsBytes
    accepts, so a valid session conf can never crash strategy='auto'."""
    t = conf_value.strip().lower()
    if t.endswith("b"):
        t = t[:-1]
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3),
                   ("t", 1024**4), ("p", 1024**5)):
        if t.endswith(suf):
            t, mult = t[: -len(suf)], m
            break
    return int(t) * mult


def resolve_link_strategy(dictionary: DataFrame, threshold_bytes: int | None = None) -> str:
    """Pick 'broadcast' or 'salted' from the alias-map size estimate vs
    ``spark.sql.autoBroadcastJoinThreshold`` (round-4 VERDICT task #7: the
    scale-safe path must be automatic, not a caller obligation).  A negative
    threshold (broadcasting disabled) always yields 'salted'."""
    if threshold_bytes is None:
        conf = dictionary.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        threshold_bytes = _parse_size_bytes(conf)
    if threshold_bytes < 0:
        return "salted"
    # memoize the size estimate on the DataFrame object: the estimate is an
    # extra Spark job (~0.1-0.2 s of scheduling latency), and a pipeline
    # links twice (triples + mentions) against the SAME dictionary frame —
    # paying it once per frame keeps 'auto' out of the per-run fixed
    # residual that the scaling benchmark showed dominating small jobs
    est = getattr(dictionary, "_gs_alias_map_bytes", None)
    if est is None:
        est = estimate_alias_map_bytes(dictionary)
        dictionary._gs_alias_map_bytes = est
    return "broadcast" if est <= threshold_bytes else "salted"


def link_mentions(
    mentions: DataFrame,
    dictionary: DataFrame,
    *,
    strategy: str = "auto",
    salt: int = DEFAULT_SALT,
    key_col: str = "norm",
) -> tuple[DataFrame, DataFrame]:
    """Join mentions -> dictionary; returns (linked, unlinked).

    linked:   mention columns + entity_id, canonical_name, entity_type
    unlinked: mentions with no dictionary entry (left-anti, J11) — a metric
              input, never an error (Loader.groovy:45-47).

    strategy='auto'      — the default: 'broadcast' when the alias-map size
      estimate fits spark.sql.autoBroadcastJoinThreshold, else 'salted'
      (resolve_link_strategy).  Costs one tiny aggregate on the dictionary.
    strategy='broadcast' — dictionary is a dimension table, so a broadcast
      hash join eliminates the shuffle entirely (the Spark analog of the
      reference's driver-held maps).
    strategy='salted'    — for dictionaries too big to broadcast: explode hot
      dictionary rows xS, salt the probe side, shuffle-join on (key, salt).
      Non-hot keys use salt 0, so only the Zipf head fans out.
    """
    if strategy == "auto":
        strategy = resolve_link_strategy(dictionary)
    amap = alias_map(dictionary)
    if strategy == "broadcast":
        joined = mentions.join(F.broadcast(amap), mentions[key_col] == amap.alias_norm, "left")
    elif strategy == "salted":
        hot = hot_keys(mentions, key=key_col).select(F.col("hot_key"))
        amap_salted = (
            amap.join(F.broadcast(hot), amap.alias_norm == F.col("hot_key"), "left")
            .withColumn(
                "_salts",
                F.when(
                    F.col("hot_key").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salt - 1)),
                ).otherwise(F.array(F.lit(0))),
            )
            .withColumn("_dsalt", F.explode("_salts"))
            .drop("_salts", "hot_key")
        )
        probe = mentions.join(
            F.broadcast(hot), mentions[key_col] == F.col("hot_key"), "left"
        ).withColumn(
            "_psalt",
            F.when(
                F.col("hot_key").isNotNull(),
                F.pmod(F.xxhash64(F.col(key_col), F.monotonically_increasing_id()), F.lit(salt)).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("hot_key")
        joined = probe.join(
            amap_salted,
            (probe[key_col] == amap_salted.alias_norm) & (probe["_psalt"] == amap_salted["_dsalt"]),
            "left",
        ).drop("_psalt", "_dsalt")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    linked = joined.filter(F.col("entity_id").isNotNull()).drop("alias_norm", "is_hot")
    unlinked = joined.filter(F.col("entity_id").isNull()).select(*mentions.columns)
    return linked, unlinked


def link_triples(
    raw_triples: DataFrame,
    dictionary: DataFrame,
    *,
    strategy: str = "auto",
    salt: int = DEFAULT_SALT,
) -> tuple[DataFrame, DataFrame]:
    """Resolve raw triple subjects to canonical entities; dedup on
    (subj, pred, obj) keeping first provenance in stable turn order
    (MERGE insert-if-absent, post-import-cypher.txt; A7).

    Returns (triples, dangling) where dangling counts subj-less or unresolvable
    triples (the deferred-relationship drop, Loader.groovy:45-47)."""
    raw_triples = raw_triples.select("conv_id", "turn_idx", "subj", "pred", "obj")
    has_subj = raw_triples.filter(F.col("subj").isNotNull())
    no_subj = raw_triples.filter(F.col("subj").isNull())

    linked, unresolved = link_mentions(
        has_subj, dictionary, strategy=strategy, salt=salt, key_col="subj"
    )
    dangling = no_subj.unionByName(unresolved)

    triples = dedup_triples(
        linked.select(
            F.col("canonical_name").alias("subj"),
            "pred",
            "obj",
            "conv_id",
            "turn_idx",
        )
    )
    return triples, dangling


def dedup_triples(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj) dedup with first-provenance-wins: keep the minimum
    (conv_id, turn_idx) per triple — the oracle walk order.  The single
    definition all three dedup sites share (here + the two fuzzy-recovery
    merges in pipeline.py), so provenance ordering cannot silently diverge
    between them."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.min(F.struct("conv_id", "turn_idx")).alias("prov"))
        .select(
            "subj", "pred", "obj",
            F.col("prov.conv_id").alias("conv_id"),
            F.col("prov.turn_idx").alias("turn_idx"),
        )
    )
