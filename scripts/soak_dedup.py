"""Dedup-state longevity soak (VERDICT r5 task #6).

Drives ``streaming.dedup_batch`` for many hundreds of batches against one
state directory with ``compact_dedup_state`` every ``--compact-every``
batches, and checks the two properties that decide whether the
dedup-at-ingest design survives a year of production appends:

* **file counts stay bounded**: every batch appends one parquet file per
  touched ``_kb`` partition, so between compactions the file count grows
  linearly — but each compaction must fold the state back to exactly one
  file per OCCUPIED partition.  Occupancy saturates at the table's bucket
  count (``materialize.key_buckets``: the session's shuffle partitions when
  the state dir was created, at most ``materialize.KEY_BUCKETS`` = 64), so
  the post-compaction trajectory rises toward it and then stays flat
  forever, independent of how many batches ago the state dir was created.
* **probe latency is flat in history size**: the band-index probe partition-
  prunes to the buckets the incoming batch touches (streaming.py layout
  ``_kb``), so batch N's wall time must not trend with N even though the
  accepted corpus and index keep growing.  (At the soak's small batch size
  the wall time is Spark job overhead + probe; a linear-in-history term
  would still surface as a trend across hundreds of batches.)

Each batch is mostly novel documents plus a deterministic fraction of
near-duplicates of previously ACCEPTED documents (so the probe path—not
just the insert path—is exercised every batch, and the expected rejection
count is known).

Run (full soak, ~tens of minutes):
    python scripts/soak_dedup.py --batches 1000 --docs-per-batch 6

CI runs the same loop at reduced scale via
tests/test_streaming.py::test_dedup_state_soak_bounded.  Results table in
BENCH/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

VOCAB = [
    f"w{i:03d}" for i in range(400)
]  # 400-word vocabulary: novel 12-word docs almost never collide by chance


def _novel_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(12))


def run_soak(
    spark,
    out_dir: str,
    n_batches: int,
    docs_per_batch: int = 6,
    compact_every: int = 25,
    dup_fraction: float = 0.25,
    seed: int = 97,
) -> dict:
    """Run the soak loop; returns the metrics dict (JSON-serializable).

    ``dup_fraction`` of each batch's docs are near-duplicates (text + one
    extra token) of a random previously-accepted document — at the default
    12-word bodies that is Jaccard ~0.8, above the 0.7 threshold with every
    band intact, so each is expected to be rejected by the INDEX probe.
    """
    from graphene_spark import streaming

    rng = random.Random(seed)
    accepted_texts: list[str] = []
    next_id = 1
    batch_secs: list[float] = []
    post_compact_files: list[dict] = []
    totals = {"arrived": 0, "accepted": 0, "index_dups": 0,
              "in_batch_dups": 0, "already_present": 0}
    expected_index_dups = 0

    for b in range(n_batches):
        rows = []
        for _ in range(docs_per_batch):
            if accepted_texts and rng.random() < dup_fraction:
                rows.append((next_id, rng.choice(accepted_texts) + " zz", "soak"))
                expected_index_dups += 1
            else:
                txt = _novel_text(rng)
                rows.append((next_id, txt, "soak"))
                accepted_texts.append(txt)
            next_id += 1
        df = spark.createDataFrame(rows, streaming.DOCUMENTS_SCHEMA)
        t0 = time.perf_counter()
        counts = streaming.dedup_batch(spark, df, out_dir, threshold=0.7)
        batch_secs.append(time.perf_counter() - t0)
        for k in totals:
            totals[k] += counts[k]
        if compact_every and (b + 1) % compact_every == 0:
            stats = streaming.compact_dedup_state(spark, out_dir)
            post_compact_files.append(
                {
                    "batch": b + 1,
                    "band_index_files": stats["band_index"]["files_after"],
                    "accepted_files": stats["accepted"]["files_after"],
                }
            )

    # latency trend: steady-state quartile means (skip the first
    # compact_every batches — JVM/codegen warm-up and first-file creation)
    steady = batch_secs[min(compact_every, len(batch_secs) // 4):]
    q = max(1, len(steady) // 4)
    early = statistics.mean(steady[:q])
    late = statistics.mean(steady[-q:])
    return {
        "n_batches": n_batches,
        "docs_per_batch": docs_per_batch,
        "compact_every": compact_every,
        "totals": totals,
        "expected_index_dups": expected_index_dups,
        "batch_sec_early_mean": round(early, 3),
        "batch_sec_late_mean": round(late, 3),
        "latency_ratio_late_over_early": round(late / early, 3),
        "post_compact_files": post_compact_files,
        "accepted_rows": spark.read.parquet(os.path.join(out_dir, "accepted")).count(),
        "index_files_final": len(
            spark.read.parquet(os.path.join(out_dir, "band_index")).inputFiles()
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=1000)
    ap.add_argument("--docs-per-batch", type=int, default=6)
    ap.add_argument("--compact-every", type=int, default=25)
    ap.add_argument("--cpus", type=int, default=8,
                    help="small on purpose: per-batch overhead, not throughput")
    ap.add_argument("--out", default="/tmp/soak_dedup_state")
    args = ap.parse_args()

    from graphene_spark.session import get_spark

    if os.path.exists(args.out):
        shutil.rmtree(args.out)
    spark = get_spark("soak-dedup", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    res = run_soak(
        spark, args.out, args.batches,
        docs_per_batch=args.docs_per_batch,
        compact_every=args.compact_every,
    )
    res["wall_sec_total"] = round(time.monotonic() - t0, 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
