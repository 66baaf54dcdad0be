"""Incremental streaming ingest: drain, top-up, restart idempotence."""

from __future__ import annotations

import os

import pytest

from graphene_spark import datagen, pipeline, streaming


@pytest.fixture()
def dirs(tmp_path):
    inp = tmp_path / "incoming"
    out = tmp_path / "kg"
    inp.mkdir()
    return str(inp), str(out)


def _write_batch(pdf, path):
    # nanosecond timestamps -> micros so the stream's fixed schema matches
    pdf.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def test_streaming_incremental_ingest(spark, dictionary_df, dictionary_pdf, dirs):
    inp, out = dirs
    aliases = pipeline.all_aliases(dictionary_pdf)

    batch1 = datagen.make_transcripts(n_convs=6, turns_per_conv=10, n_entities=60, seed=1)
    _write_batch(batch1, os.path.join(inp, "batch1.parquet"))

    q = streaming.stream_transcripts(spark, inp, out, dictionary_df, aliases)
    q.awaitTermination(120)
    n1 = spark.read.parquet(os.path.join(out, "triples")).count()
    assert n1 > 0

    # drop a second file; a fresh availableNow stream ingests ONLY the new one
    batch2 = datagen.make_transcripts(n_convs=6, turns_per_conv=10, n_entities=60, seed=2)
    _write_batch(batch2, os.path.join(inp, "batch2.parquet"))
    q2 = streaming.stream_transcripts(spark, inp, out, dictionary_df, aliases)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(os.path.join(out, "triples")).count()
    assert n2 > n1

    # restart with nothing new: no growth (keyed merge + stream checkpoint)
    q3 = streaming.stream_transcripts(spark, inp, out, dictionary_df, aliases)
    q3.awaitTermination(120)
    n3 = spark.read.parquet(os.path.join(out, "triples")).count()
    assert n3 == n2

    # lineage recorded per micro-batch
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.filter("status = 'done'").count() >= 2


def test_dedup_batch_incremental(spark, tmp_path):
    """Incremental dedup-at-ingest: batch 2 docs that near-duplicate batch 1
    acceptances are rejected via the persisted band index; replays are
    idempotent; in-batch dups resolved first."""
    out = str(tmp_path / "dedup")
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = spark.createDataFrame(
        [(1, base, "s1"),
         (2, base, "s1"),                                   # in-batch exact dup of 1
         (3, "completely different text about spark partitions and shuffles", "s1")],
        streaming.DOCUMENTS_SCHEMA,
    )
    c1 = streaming.dedup_batch(spark, b1, out, threshold=0.7)
    assert c1 == {"arrived": 3, "in_batch_dups": 1, "index_dups": 0,
                  "already_present": 0, "accepted": 2}

    b2 = spark.createDataFrame(
        [(10, base + " extra", "s2"),                       # near-dup of accepted 1
         (11, "novel content that matches nothing else in the corpus at all", "s2")],
        streaming.DOCUMENTS_SCHEMA,
    )
    c2 = streaming.dedup_batch(spark, b2, out, threshold=0.7)
    assert c2 == {"arrived": 2, "in_batch_dups": 0, "index_dups": 1,
                  "already_present": 0, "accepted": 1}
    accepted = {r["doc_id"] for r in
                spark.read.parquet(out + "/accepted").collect()}
    assert accepted == {1, 3, 11}

    # replay of batch 2 (crash-recovery path): same decisions, no growth —
    # its own rows already in the index must NOT be counted as duplicates
    c2r = streaming.dedup_batch(spark, b2, out, threshold=0.7)
    assert c2r["index_dups"] == 1 and c2r["accepted"] == 0
    assert c2r["already_present"] == 1  # doc 11 already in the corpus
    assert spark.read.parquet(out + "/accepted").count() == 3


def test_stream_dedup_documents_end_to_end(spark, tmp_path):
    """readStream -> foreachBatch(dedup_batch) drains available files and
    records lineage."""
    inp = str(tmp_path / "incoming")
    out = str(tmp_path / "state")
    os.makedirs(inp)
    import pandas as pd

    base = "many moons ago a very repetitive corpus was crawled twice by mistake"
    pd.DataFrame(
        {"doc_id": [1, 2],
         "text": [base, "unique first text with its own words"],
         "source": ["s1", "s1"]}
    ).to_parquet(os.path.join(inp, "f1.parquet"))
    q = streaming.stream_dedup_documents(spark, inp, out)
    q.awaitTermination(120)
    assert spark.read.parquet(out + "/accepted").count() == 2

    pd.DataFrame(
        {"doc_id": [20, 21],
         "text": [base + " again", "another genuinely novel document body"],
         "source": ["s2", "s2"]}
    ).to_parquet(os.path.join(inp, "f2.parquet"))
    q2 = streaming.stream_dedup_documents(spark, inp, out)
    q2.awaitTermination(120)
    accepted = {r["doc_id"] for r in spark.read.parquet(out + "/accepted").collect()}
    assert accepted == {1, 2, 21}  # 20 rejected as near-dup of 1
    lin = spark.read.parquet(out + "/lineage")
    assert lin.filter("status = 'done'").count() >= 2


def test_band_index_probe_is_partition_pruned(spark, tmp_path):
    """The scale contract of dedup-at-ingest (VERDICT r4 task #1): the
    band-index probe must read ONLY the ``_kb`` partitions the batch's band
    keys hash into — pinned on the actual files the pruned scan lists, so a
    layout regression (hashing the wrong columns, or filtering after read)
    fails here instead of at 100 TB."""
    import pyspark.sql.functions as F

    from graphene_spark import materialize

    out = str(tmp_path / "dedup")
    rows = [(i, f"document number {i} body with its own distinct words {i*7}", "s1")
            for i in range(1, 41)]
    streaming.dedup_batch(spark, spark.createDataFrame(rows, streaming.DOCUMENTS_SCHEMA), out)

    index_path = out + "/band_index"
    full = spark.read.parquet(index_path)
    all_kbs = {r["_kb"] for r in full.select("_kb").distinct().collect()}
    assert len(all_kbs) > 1, "fixture too small to exercise pruning"

    # probe with ONE existing band key -> exactly one _kb partition touched
    one = full.select("band_idx", "band_sig").limit(1).persist()
    n_buckets, source = materialize.key_buckets(spark, index_path)
    assert (n_buckets, source) == (8, "recorded")
    probe_kb = one.select(
        materialize.layout_bucket(["band_idx", "band_sig"], n_buckets).alias("_kb")
    ).collect()[0]["_kb"]

    # behavioral pruning pin: plant a poison row inside an UNTOUCHED _kb
    # partition directory.  A pruned scan never opens that partition, so the
    # poison is invisible; if pruning regresses (filter after read, wrong
    # hash, filter dropped) the poison row surfaces and this fails.
    import glob
    import shutil

    other_kb = next(k for k in all_kbs if k != probe_kb)
    part_dir = f"{index_path}/_kb={other_kb}"
    poison = (
        spark.read.parquet(part_dir)
        .limit(1)
        .withColumn("band_idx", F.lit(-999).cast(full.schema["band_idx"].dataType))
    )
    tmp_poison = str(tmp_path / "poison")
    poison.write.parquet(tmp_poison)
    src = glob.glob(tmp_poison + "/part-*.parquet")[0]
    shutil.copy(src, part_dir + "/poison.parquet")

    pruned = materialize.read_merged_pruned(spark, index_path, ["band_idx", "band_sig"], one)
    assert pruned.filter(F.col("band_idx") == -999).count() == 0
    # and the pruned slice still contains the probed key's bucket
    assert pruned.join(one, ["band_idx", "band_sig"], "left_semi").count() >= 1
    # the poison IS visible to an unpruned read (proves the plant worked)
    assert spark.read.parquet(index_path).filter(F.col("band_idx") == -999).count() == 1
    one.unpersist()

    # the layout hash must match the writer's: every index row's stored _kb
    # equals layout_bucket(band_idx, band_sig) recomputed reader-side with
    # the index's recorded bucket count
    mismatches = full.filter(
        F.col("_kb") != materialize.layout_bucket(["band_idx", "band_sig"], n_buckets)
    ).count()
    assert mismatches == 0


def test_merge_layout_keys_must_be_subset_of_identity():
    from graphene_spark import materialize

    with pytest.raises(ValueError, match="subset of identity keys"):
        # validation happens before any Spark work, so no df is needed
        materialize.merge_insert_absent(None, None, "/nonexistent", ["a"], layout_keys=["a", "b"])


def test_compact_dedup_state_folds_files_and_preserves_decisions(spark, tmp_path):
    """Compaction rewrites each _kb partition to one file without changing
    the row set, and a post-compaction batch still probes correctly."""
    out = str(tmp_path / "dedup")
    base = "a very repetitive crawl body that will be duplicated much later on"
    for i, txt in enumerate(
        [base, "second unrelated body of text with its own vocabulary",
         "third body about spark shuffles and partition pruning at scale"]
    ):
        streaming.dedup_batch(
            spark,
            spark.createDataFrame([(i + 1, txt, "s1")], streaming.DOCUMENTS_SCHEMA),
            out,
        )
    index_path = out + "/band_index"
    def _hashable(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    before = spark.read.parquet(index_path)
    before_rows = {_hashable(r) for r in before.collect()}
    n_parts = before.select("_kb").distinct().count()
    assert len(before.inputFiles()) > n_parts  # per-batch appends piled up

    stats = streaming.compact_dedup_state(spark, out)
    assert stats["band_index"]["files_after"] == n_parts
    assert stats["band_index"]["rows"] == len(before_rows)
    after = spark.read.parquet(index_path)
    assert {_hashable(r) for r in after.collect()} == before_rows

    # the compacted index still rejects a near-dup of batch-1's acceptance
    c = streaming.dedup_batch(
        spark,
        spark.createDataFrame([(99, base + " extra", "s2")], streaming.DOCUMENTS_SCHEMA),
        out,
        threshold=0.7,
    )
    assert c["index_dups"] == 1 and c["accepted"] == 0


def test_dedup_batch_rejects_param_mismatch(spark, tmp_path):
    """LSH parameters are frozen with the persisted index: bands built with
    different parameters hash different signature slices and would silently
    match nothing, so a mismatch must raise."""
    out = str(tmp_path / "dedup")
    b1 = spark.createDataFrame(
        [(1, "some text goes right here for the first batch", "s1")],
        streaming.DOCUMENTS_SCHEMA,
    )
    streaming.dedup_batch(spark, b1, out)
    b2 = spark.createDataFrame(
        [(2, "and a second batch arrives with different settings", "s2")],
        streaming.DOCUMENTS_SCHEMA,
    )
    with pytest.raises(ValueError, match="do not match the persisted index"):
        streaming.dedup_batch(spark, b2, out, bands=16)


def test_crashed_compaction_is_recovered_before_state_checks(spark, tmp_path):
    """A compaction killed between its two renames leaves the table only at
    <path>.compact.old; without recovery the next batch would read the
    missing path as FIRST-RUN state and forget the whole dedup history."""
    import os as _os

    out = str(tmp_path / "dedup")
    base = "a corpus body that will be near duplicated after the crash happens"
    streaming.dedup_batch(
        spark, spark.createDataFrame([(1, base, "s1")], streaming.DOCUMENTS_SCHEMA), out
    )
    # simulate the mid-swap crash state for BOTH tables
    for name in ("band_index", "accepted"):
        p = _os.path.join(out, name)
        _os.replace(p, p + ".compact.old")
    c = streaming.dedup_batch(
        spark,
        spark.createDataFrame([(2, base + " extra", "s2")], streaming.DOCUMENTS_SCHEMA),
        out,
        threshold=0.7,
    )
    # recovery restored the index, so the near-dup is still rejected
    assert c["index_dups"] == 1 and c["accepted"] == 0
    assert spark.read.parquet(out + "/accepted").count() == 1


def test_legacy_layout_raises_specific_error_and_rebuild_migrates(spark, tmp_path):
    """A pre-layout-2 params file must fail with a layout-specific message
    (not a misleading LSH-mismatch), and rebuild_band_index must migrate the
    state in place without touching the accepted corpus."""
    import json as _json
    import os as _os
    import shutil as _shutil

    out = str(tmp_path / "dedup")
    base = "the original accepted text that future arrivals nearly duplicate"
    streaming.dedup_batch(
        spark, spark.createDataFrame([(1, base, "s1")], streaming.DOCUMENTS_SCHEMA), out
    )
    # forge a legacy state: params without index_layout, index dir gone
    # (its layout key/hash differed, so it is useless to the new code)
    pp = _os.path.join(out, "_dedup_params.json")
    with open(pp) as f:
        params = _json.load(f)
    params.pop("index_layout")
    with open(pp, "w") as f:
        _json.dump(params, f, sort_keys=True)
    _shutil.rmtree(_os.path.join(out, "band_index"))

    b2 = spark.createDataFrame([(2, base + " extra", "s2")], streaming.DOCUMENTS_SCHEMA)
    with pytest.raises(ValueError, match="band-index layout.*rebuild_band_index"):
        streaming.dedup_batch(spark, b2, out, threshold=0.7)

    n = streaming.rebuild_band_index(spark, out)
    assert n > 0
    c = streaming.dedup_batch(spark, b2, out, threshold=0.7)
    assert c["index_dups"] == 1 and c["accepted"] == 0  # history intact


def test_mutated_same_id_redelivery_adds_no_stale_index_rows(spark, tmp_path):
    """A re-delivered doc_id with DIFFERENT text must not append orphaned
    (id, sig(new_text)) band rows: the accepted text is authoritative, and
    stale rows would inflate hot-band cap counts until whole bands get
    evicted from the probe."""
    out = str(tmp_path / "dedup")
    streaming.dedup_batch(
        spark,
        spark.createDataFrame(
            [(1, "original body of document one kept forever", "s1")],
            streaming.DOCUMENTS_SCHEMA,
        ),
        out,
    )
    idx_before = spark.read.parquet(out + "/band_index")
    rows_id1_before = idx_before.filter("doc_id = 1").count()
    assert rows_id1_before > 0

    c = streaming.dedup_batch(
        spark,
        spark.createDataFrame(
            [(1, "completely different replacement text under the same id", "s1"),
             (2, "an unrelated genuinely new document body", "s1")],
            streaming.DOCUMENTS_SCHEMA,
        ),
        out,
    )
    assert c["already_present"] == 1 and c["accepted"] == 1
    idx_after = spark.read.parquet(out + "/band_index")
    # id 1 keeps EXACTLY its original band rows; id 2 got indexed
    assert idx_after.filter("doc_id = 1").count() == rows_id1_before
    assert idx_after.filter("doc_id = 2").count() > 0


@pytest.mark.slow
def test_dedup_state_soak_bounded(spark, tmp_path):
    """Longevity soak (round-6): 30 batches against one state dir with
    compaction every 10 — the reduced-scale CI pin of scripts/soak_dedup.py
    (the multi-hundred-batch run is recorded in BENCH/NOTES.md).  Pins the
    properties that make dedup-at-ingest survive a year of appends:

    * post-compaction file counts are BOUNDED by each table's recorded
      bucket count (``materialize.key_buckets`` — one file per occupied
      ``_kb`` partition; occupancy saturates at that count and can never
      exceed it no matter how many batches ago the state dir was created);
    * per-batch wall time does not trend with history size (the probe is
      partition-pruned to the batch's buckets, so the last batch pays what
      an early batch paid even though the corpus keeps growing);
    * every injected near-duplicate is rejected — by the in-batch pass when
      its source text landed in the same batch, by the index probe
      otherwise — so the accepted corpus is exactly the novel docs.
    """
    import importlib.util

    from graphene_spark import materialize

    spec = importlib.util.spec_from_file_location(
        "soak_dedup",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "soak_dedup.py"),
    )
    soak = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(soak)

    state = str(tmp_path / "soak")
    res = soak.run_soak(
        spark, state, n_batches=30,
        docs_per_batch=5, compact_every=10,
    )
    # every injected dup rejected, nothing else rejected
    totals = res["totals"]
    assert (
        totals["in_batch_dups"] + totals["index_dups"] == res["expected_index_dups"]
    ), totals
    assert totals["accepted"] == totals["arrived"] - res["expected_index_dups"]
    assert res["accepted_rows"] == totals["accepted"]
    # bounded state: post-compaction file counts grow only toward bucket
    # saturation (one file per OCCUPIED _kb partition), never past the
    # table's bucket count — and the un-compacted tail since the last
    # compaction is bounded by batches x touched-buckets, independent of
    # history
    n_index, src_index = materialize.key_buckets(spark, os.path.join(state, "band_index"))
    n_accepted, src_accepted = materialize.key_buckets(spark, os.path.join(state, "accepted"))
    assert (n_index, n_accepted, src_index, src_accepted) == (8, 8, "recorded", "recorded")
    trail = res["post_compact_files"]
    assert len(trail) == 3
    for t in trail:
        assert t["band_index_files"] <= n_index, trail
        assert t["accepted_files"] <= n_accepted, trail
    # flat probe latency: steady-state late-quartile mean within noise of
    # the early-quartile mean (a linear-in-history probe would trend far
    # past this bound over the soak's growth in corpus size)
    assert res["latency_ratio_late_over_early"] < 2.0, res


def test_compaction_lock_stale_and_recycled_pid(tmp_path):
    """Lock acquisition is atomic (O_CREAT|O_EXCL + rename-reap, round-6
    ADVICE): a dead-pid lock is reaped, a matching live lock blocks, and a
    live pid with a DIFFERENT kernel start time (recycled pid) counts as
    stale rather than blocking recovery forever."""
    import os
    import subprocess

    from graphene_spark import materialize as mz

    path = str(tmp_path / "table")
    lock = path + ".compact.lock"

    # dead pid -> stale -> acquire wins and stamps us
    child = subprocess.Popen(["true"])
    child.wait()
    with open(lock, "w") as f:
        f.write(f"{child.pid} {mz._proc_start_time(child.pid) or '12345'}")
    assert not mz._compaction_lock_alive(path)
    got = mz._acquire_compaction_lock(path)
    with open(got) as f:
        pid_field = int(f.read().split()[0])
    assert pid_field == os.getpid()
    os.remove(got)

    # live pid, matching start time -> blocks
    sleeper = subprocess.Popen(["sleep", "30"])
    try:
        with open(lock, "w") as f:
            f.write(f"{sleeper.pid} {mz._proc_start_time(sleeper.pid) or '-'}")
        assert mz._compaction_lock_alive(path)
        try:
            mz._acquire_compaction_lock(path)
            raise AssertionError("acquire must fail while holder is alive")
        except RuntimeError:
            pass
        # live pid but WRONG start time -> recycled -> stale
        with open(lock, "w") as f:
            f.write(f"{sleeper.pid} 1")
        assert not mz._compaction_lock_alive(path)
    finally:
        sleeper.kill()
        sleeper.wait()
        if os.path.exists(lock):
            os.remove(lock)
