"""Incremental ingestion via Structured Streaming.

The reference is a one-shot batch load that refuses to touch an existing
store (LoadGrameneGraphDb.groovy:40-42).  Our engine's incremental story has
two layers:

1. bucket-level resume over a static table (materialize.run_with_lineage);
2. THIS module: continuous/incremental ingestion of newly-arriving transcript
   files with Structured Streaming — readStream over the input directory,
   ``foreachBatch`` running the SAME batch pipeline per micro-batch, and the
   idempotent insert-if-absent merge as the sink.  Because extraction is
   stateless per turn and the merge is keyed, replays of a micro-batch after
   a crash converge to the same tables (exactly-once effect on the output).

``Trigger.AvailableNow`` drains everything currently present and stops —
the cron-style incremental top-up a production pipeline runs; omit it for a
continuous micro-batch stream.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import materialize, pipeline

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    dictionary: DataFrame,
    aliases: list[str],
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the incremental KG ingest; returns the StreamingQuery.

    Each micro-batch: extraction -> linking -> node/edge build -> keyed
    insert-if-absent merge into the same tables the batch job writes.
    The stream checkpoint (offsets) lives under ``out_dir/_stream_checkpoint``
    so a restarted stream resumes from unprocessed files only.
    """
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = pipeline.run_pipeline(spark, batch_df, dictionary, aliases)
        # the three merges all read the micro-batch's one extraction pass
        extracted = res["extracted"].persist()
        try:
            n_t = materialize.merge_insert_absent(
                spark, res["triples"], os.path.join(out_dir, "triples"), ["subj", "pred", "obj"]
            )
            n_n = materialize.merge_insert_absent(
                spark, res["nodes"], os.path.join(out_dir, "nodes"), ["node_id"]
            )
            n_e = materialize.merge_insert_absent(
                spark, res["edges"], os.path.join(out_dir, "edges"), ["src", "rel_type", "dst"]
            )
            materialize.write_lineage_row(
                spark,
                os.path.join(out_dir, "lineage"),
                bucket=int(batch_id),
                status="done",
                counters={
                    "n_turns": batch_df.count(),
                    "n_triples": n_t,
                    "n_nodes": n_n,
                    "n_edges": n_e,
                },
                run_id=f"stream-{batch_id}",
            )
        finally:
            extracted.unpersist(blocking=True)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# incremental near-dup dedup at ingest: new documents vs a persisted index
# ---------------------------------------------------------------------------

DOCUMENTS_SCHEMA = "doc_id long, text string, source string"


def dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    ngram_words: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 64,
) -> dict:
    """One micro-batch of incremental dedup: reject arriving docs that
    near-duplicate (Jaccard >= threshold) anything already ACCEPTED, then
    append the survivors and their band signatures to the persisted state.

    The 100 TB shape: the index lookup is an equi-join on (band_idx,
    band_sig) — the arriving batch's banded signatures (small) against the
    band index (big, but hash-partitioned by the merge layout); candidate
    pairs are estimate-filtered on signature agreement, exact-verified by
    re-shingling ONLY the touched accepted docs (semi-join on id, same
    shape as minhash_duplicates' verify), and the accepted corpus's text is
    never scanned in full (each batch's keyed merge reads only its key
    column).  State layout under ``out_dir``:

    * ``accepted``   — the curated corpus (insert-if-absent on doc_id);
    * ``band_index`` — (_id, band_idx, band_sig, _sig) rows; identity key
      (doc_id, band_idx, band_sig), LAID OUT by the probe key
      (band_idx, band_sig) — ``merge_insert_absent(layout_keys=...)`` — so
      the per-batch probe partition-prunes to the touched ``_kb`` buckets
      instead of scanning the index (layout ⊆ identity keeps equal
      identity keys in one ``_kb``, which the merge's anti-join matches on
      and the probe reads by).  ``compact_dedup_state`` is the maintenance
      entry point: re-merge the per-batch small files to one per bucket.

    Exactly-once under replays: both appends are keyed merges, and the
    batch's OWN ids are anti-joined out of the index view before anything
    else — including the hot-band cap counts — so a batch re-run after a
    partial failure sees the index exactly as the first attempt did and
    re-derives the same accept/reject decisions (its half-written rows
    neither match as duplicates nor push a band bucket over the cap).
    A consequence: a NEW document re-using an already-accepted doc_id is
    never compared or re-inserted (doc_id is the identity key); it is
    counted as ``already_present`` rather than silently vanishing.

    The LSH parameters are part of the persisted state: the first batch
    freezes (ngram_words, num_hashes, bands) into ``_dedup_params.json``
    and later calls must match, because bands built with different
    parameters hash different signature slices and would silently match
    near-nothing.

    Index-scan cost: the index read is partition-pruned to the ``_kb``
    buckets of the batch's distinct band keys (the layout hashes the probe
    key, so untouched partitions are never opened), then semi-joined to the
    exact touched band keys (whole buckets survive, so per-bucket cap counts
    are unchanged) — the cap window sorts a batch-sized slice of the index,
    and at 100 TB of history a batch touching b band keys reads
    ``min(b, n)/n`` of the index, not all of it, where n is the index's
    recorded bucket count (``materialize.key_buckets``).
    Amortize per-batch overhead with availableNow batching and run
    ``compact_dedup_state`` periodically to fold the per-batch appended
    files back to one per bucket.

    Returns counters {"arrived", "in_batch_dups", "index_dups",
    "already_present", "accepted"}.
    """
    import json

    from pyspark.sql import Window

    from .tdp import dedup as dd

    # index_layout 2 = band_index laid out by (band_idx, band_sig) with
    # identity (doc_id, band_idx, band_sig).  Frozen with the LSH params: a
    # layout-1 index (keyed/laid out on (doc_id, band_idx)) would be pruned
    # with the wrong hash and silently probe empty.
    params = {
        "ngram_words": ngram_words,
        "num_hashes": num_hashes,
        "bands": bands,
        "index_layout": 2,
    }
    params_path = os.path.join(out_dir, "_dedup_params.json")
    if os.path.exists(params_path):
        with open(params_path) as f:
            stored = json.load(f)
        if stored != params:
            lsh_keys = ("ngram_words", "num_hashes", "bands")
            if {k: stored.get(k) for k in lsh_keys} == {k: params[k] for k in lsh_keys}:
                # same LSH parameters, different index layout: a pre-upgrade
                # state dir.  The mismatch is NOT the LSH params, so say so —
                # and the corpus is intact, only the index needs rebuilding.
                raise ValueError(
                    f"dedup state at {out_dir} uses band-index layout "
                    f"{stored.get('index_layout', 1)} but this version writes "
                    f"layout {params['index_layout']}: run "
                    "streaming.rebuild_band_index(spark, out_dir) to migrate "
                    "(rebuilds the index from the accepted corpus in place; "
                    "the corpus and its dedup history are untouched)"
                )
            raise ValueError(
                f"dedup_batch params {params} do not match the persisted index's "
                f"{stored} ({params_path}) — bands from different parameters hash "
                "different signature slices and would silently match nothing"
            )
    else:
        # freeze the params BEFORE any state merge (atomic rename): if the
        # params file only landed after the first batch's index write, a
        # crash between the two would leave persisted LSH state with no
        # parameter guard, and a restart with different (ngram_words,
        # num_hashes, bands) would silently build a mismatched index —
        # exactly the failure the guard above exists to prevent
        os.makedirs(out_dir, exist_ok=True)
        tmp = params_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(params, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, params_path)

    # one row per doc id: the corpus is keyed on doc_id, so same-id
    # re-deliveries within a batch are not distinct documents and would
    # otherwise skew every counter.  The representative row is picked
    # DETERMINISTICALLY (min over the struct of the remaining columns) —
    # dropDuplicates keeps an arbitrary partition-dependent row, so a crash
    # replay could pick a different text for the same id and derive
    # different accept/reject decisions for OTHER docs in the batch,
    # breaking the replay-invariance contract below.
    other_cols = [c for c in batch_df.columns if c != id_col]
    if other_cols:
        batch_df = (
            batch_df.groupBy(id_col)
            .agg(F.min(F.struct(*other_cols)).alias("_rep"))
            .select(id_col, *[F.col(f"_rep.{c}").alias(c) for c in other_cols])
            .persist()
        )
    else:
        # id-only frame: F.struct() of zero columns fails analysis, and the
        # id IS the whole row, so plain distinct is already deterministic
        batch_df = batch_df.dropDuplicates([id_col]).persist()
    arrived = batch_df.count()
    # 1. in-batch dedup: for every candidate pair the greater id is dropped
    # (pairwise smaller-id-wins).  NOTE this is deliberately NOT the
    # transitive-closure grouping curate_corpus uses: for pairs (A,C),(B,C)
    # with A<B<C this keeps A AND B (B is not a near-dup of A), while
    # curate's connected-components keep-min would keep only A.
    pairs = dd.minhash_duplicates(
        batch_df, id_col=id_col, text_col=text_col, threshold=threshold,
        ngram_words=ngram_words, num_hashes=num_hashes, bands=bands,
        max_bucket=max_bucket,
    )
    losers = (
        pairs.select(F.greatest("id_a", "id_b").alias(id_col)).distinct()
    )
    survivors = batch_df.join(losers, id_col, "left_anti")

    # 2. band the surviving batch docs.  localCheckpoint: banded feeds the
    # candidate join, the anti-join after verify, and the index merge —
    # without it the signature UDF re-runs per consumer (dd._materialize
    # docstring: Catalyst does not reuse exchanges with Python-UDF children)
    sig = dd.signature_frame(
        survivors, id_col, text_col, ngram_words=ngram_words, num_hashes=num_hashes
    )
    banded = dd._materialize(dd.band_frame(sig, num_hashes=num_hashes, bands=bands))

    index_path = os.path.join(out_dir, "band_index")
    accepted_path = os.path.join(out_dir, "accepted")
    # a compaction killed mid-swap leaves a table visible only under its
    # .compact.old name; repair BEFORE any existence check, or the state
    # would silently read as first-run and the dedup history would vanish
    materialize.recover_compaction(index_path)
    materialize.recover_compaction(accepted_path)
    n_index_dups = 0
    index_dup_ids = None
    batch_band_keys = None
    if os.path.exists(index_path):
        batch_ids = banded.select(F.col("_id").alias(id_col)).distinct()
        batch_band_keys = banded.select("band_idx", "band_sig").distinct().persist()
        idx = (
            # partition-pruned scan: the index is LAID OUT by
            # (band_idx, band_sig), so only the _kb partitions this batch's
            # band keys hash into are opened (poison-row-pinned by
            # tests/test_streaming.py) — at 100 TB of history the probe cost
            # scales with the batch, not the index
            materialize.read_merged_pruned(
                spark, index_path, ["band_idx", "band_sig"], batch_band_keys
            )
            # replay safety FIRST: the batch's own (possibly half-written)
            # rows must be invisible to both the cap counts and the match
            .join(batch_ids, id_col, "left_anti")
            # touched buckets only: whole buckets survive the semi-join, so
            # the cap semantics are identical but the window sorts a
            # batch-sized slice of the index, not all of it
            .join(batch_band_keys, ["band_idx", "band_sig"], "left_semi")
        )
        # residual hot-band cap on the INDEX side (same rationale as
        # minhash_duplicates: one degenerate band value over the full
        # history must not go quadratic against every future batch)
        bucket_n = F.count("*").over(Window.partitionBy("band_idx", "band_sig"))
        idx = idx.withColumn("_n", bucket_n).filter(F.col("_n") <= max_bucket).drop("_n")
        cand = (
            banded.withColumnsRenamed({"_id": "new_id", "_sig": "new_sig"})
            .join(
                # the index stores the id under id_col (renamed at write)
                idx.withColumnsRenamed({id_col: "old_id", "_sig": "old_sig"}),
                ["band_idx", "band_sig"],
            )
            .dropDuplicates(["new_id", "old_id"])
        )
        est = F.size(
            F.filter(F.zip_with("new_sig", "old_sig", lambda x, y: x == y), lambda v: v)
        ) / F.lit(num_hashes)
        cand = cand.filter(est >= threshold - 0.2).select("new_id", "old_id")
        # exact verify: re-shingle ONLY the touched docs on each side
        old_sh = (
            materialize.read_merged(spark, accepted_path)
            .join(cand.select(F.col("old_id").alias(id_col)), id_col, "left_semi")
            .select(
                F.col(id_col).alias("old_id"),
                dd.word_shingles(F.col(text_col), ngram_words).alias("old_sh"),
            )
        )
        new_sh = survivors.join(
            cand.select(F.col("new_id").alias(id_col)), id_col, "left_semi"
        ).select(
            F.col(id_col).alias("new_id"),
            dd.word_shingles(F.col(text_col), ngram_words).alias("new_sh"),
        )
        verified = (
            cand.join(new_sh, "new_id")
            .join(old_sh, "old_id")
            .filter(dd.jaccard(F.col("new_sh"), F.col("old_sh")) >= threshold)
        )
        index_dup_ids = verified.select(
            F.col("new_id").alias(id_col)
        ).distinct().persist()
        n_index_dups = index_dup_ids.count()
        survivors = survivors.join(index_dup_ids, id_col, "left_anti")
        banded = banded.join(
            index_dup_ids.withColumnsRenamed({id_col: "_id"}), "_id", "left_anti"
        )

    # 3. idempotent appends — INDEX merge FIRST, then accepted: a crash
    # between the two leaves band rows for a not-yet-accepted doc, and the
    # replay (same text -> same sigs -> keyed no-op) completes the accepted
    # insert.  The reverse order could leave an ACCEPTED doc with no index
    # rows — invisible to every future probe.
    # Residual window (accepted, not fixed): if the crashed batch is
    # replayed with the SAME doc_id but DIFFERENT text, the crashed
    # attempt's band rows (sigs of the old text) stay in the index forever —
    # the pre_existing anti-join below only filters ids already in
    # `accepted`, and the identity key includes band_sig so the keyed merge
    # won't collapse them.  Never a wrong accept/reject (verify re-shingles
    # the accepted text), only permanent index garbage inflating hot-band
    # cap counts and candidate joins; `rebuild_band_index(force=True)` is
    # the repair path.
    survivors = survivors.persist()
    n_survive = survivors.count()
    index_rows = banded.withColumnsRenamed({"_id": id_col})
    if os.path.exists(accepted_path):
        # ids already accepted by an EARLIER batch keep their original band
        # rows: a same-id re-delivery with DIFFERENT text must not add
        # stale (id, sig(new_text)) rows — the identity key carries
        # band_sig, so without this anti-join every mutated re-delivery
        # would pile orphaned rows into the index, inflating the hot-band
        # cap counts until whole bands get evicted from the probe
        pre_existing = materialize.read_merged_pruned(
            spark, accepted_path, [id_col], index_rows.select(id_col)
        ).select(id_col)
        index_rows = index_rows.join(pre_existing, id_col, "left_anti")
    # identity carries band_sig so it determines the (band_idx, band_sig)
    # layout (merge_insert_absent requires layout ⊆ identity); a replay
    # re-derives the same sig from the same text, so idempotency holds
    materialize.merge_insert_absent(
        spark,
        index_rows,
        index_path,
        [id_col, "band_idx", "band_sig"],
        layout_keys=["band_idx", "band_sig"],
    )
    n_acc = materialize.merge_insert_absent(spark, survivors, accepted_path, [id_col])
    n_in_batch = arrived - n_survive - n_index_dups
    survivors.unpersist()
    batch_df.unpersist()
    if index_dup_ids is not None:
        # a long-running stream would otherwise accumulate one cached frame
        # per micro-batch until the ContextCleaner happens to GC it
        index_dup_ids.unpersist()
    if batch_band_keys is not None:
        batch_band_keys.unpersist()
    return {
        "arrived": arrived,
        "in_batch_dups": n_in_batch,
        "index_dups": n_index_dups,
        # survivors already in the corpus under the same id: replayed rows
        # and id collisions — deliberately not re-inserted, but visible
        "already_present": n_survive - n_acc,
        "accepted": n_acc,
    }


def rebuild_band_index(
    spark: SparkSession,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    force: bool = False,
) -> int:
    """Rebuild ``band_index`` from the accepted corpus under the CURRENT
    index layout — the migration path for pre-layout-2 state dirs (the
    params guard in ``dedup_batch`` points here) and the repair tool for any
    suspected index corruption (e.g. the stale-band-rows residual window
    documented in ``dedup_batch``).  The accepted corpus and its dedup
    history are read-only inputs; only the index directory and the params
    file are rewritten.  Crash-safe: the params file is updated only after
    the index rebuild completes, so an interrupted migration re-raises the
    layout error and can simply be re-run.  Returns the number of index rows.

    When the stored params already say ``index_layout == 2`` (migration done)
    this is a no-op returning -1 — an operator double-running the migration
    must not rmtree and regenerate a possibly huge healthy index.  Pass
    ``force=True`` for an intentional repair rebuild."""
    import json

    from .tdp import dedup as dd

    params_path = os.path.join(out_dir, "_dedup_params.json")
    with open(params_path) as f:
        stored = json.load(f)
    if stored.get("index_layout") == 2 and not force:
        return -1
    lsh = {k: stored[k] for k in ("ngram_words", "num_hashes", "bands")}

    accepted_path = os.path.join(out_dir, "accepted")
    index_path = os.path.join(out_dir, "band_index")
    materialize.recover_compaction(accepted_path)
    accepted = materialize.read_merged(spark, accepted_path)
    sig = dd.signature_frame(
        accepted, id_col, text_col,
        ngram_words=lsh["ngram_words"], num_hashes=lsh["num_hashes"],
    )
    banded = dd._materialize(
        dd.band_frame(sig, num_hashes=lsh["num_hashes"], bands=lsh["bands"])
    )
    # normalize any crashed-compaction state FIRST: rmtree-ing only the live
    # path while a .compact.old survived would let recover_compaction
    # resurrect the stale pre-rebuild index afterwards
    materialize.recover_compaction(index_path)
    if os.path.exists(index_path):
        import shutil

        shutil.rmtree(index_path)
    n = materialize.merge_insert_absent(
        spark,
        banded.withColumnsRenamed({"_id": id_col}),
        index_path,
        [id_col, "band_idx", "band_sig"],
        layout_keys=["band_idx", "band_sig"],
    )
    stored["index_layout"] = 2
    tmp = params_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stored, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, params_path)
    return n


def compact_dedup_state(spark: SparkSession, out_dir: str) -> dict:
    """Maintenance: fold the dedup state's per-batch small files back to one
    file per ``_kb`` bucket (Iceberg ``rewrite_data_files`` analog).

    Every micro-batch appends one file per partition it touches in
    ``band_index`` and ``accepted``; after thousands of batches the probe's
    pruned scan pays a file-listing storm even though it opens few bytes.
    Run this between triggers (the stream must be stopped or idle — the swap
    is atomic per table but a concurrent merge could append into the old
    directory).  Returns per-table {"files_before", "files_after", "rows"}.
    """
    out = {}
    for name in ("band_index", "accepted"):
        p = os.path.join(out_dir, name)
        if os.path.exists(p):
            out[name] = materialize.compact_merged(spark, p)
    return out


def stream_dedup_documents(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    *,
    threshold: float = 0.7,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Continuous dedup-at-ingest: readStream over arriving document files,
    ``dedup_batch`` per micro-batch against the persisted accepted corpus +
    band index.  Same exactly-once story as stream_transcripts: offsets in
    the stream checkpoint, keyed merges in the sink."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        counters = dedup_batch(spark, batch_df, out_dir, threshold=threshold)
        materialize.write_lineage_row(
            spark,
            os.path.join(out_dir, "lineage"),
            bucket=int(batch_id),
            status="done",
            counters=counters,
            run_id=f"dedup-stream-{batch_id}",
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
