"""Vectorized triple extraction (P4/P5/P6 analogs).

Extraction is per turn, so it needs no turn order; where order matters
(the FIRST/NEXT/LAST chains of W1) ``graph.adjacency_edges`` applies its
own window over (conv_id, turn_idx).

Extraction: ONE Arrow-batched stage per turn batch, ``extract_rows_arrow``
(mapInArrow — input_hint mandates vectorized Arrow UDFs, never
row-at-a-time Python UDFs).  Match finding runs in the C scanner
(native_scan.py) when it is available, with a per-row regex fallback;
every transform is the frozen ``rules`` code the oracle uses, and the
full output is fuzz-pinned against ``rules.extract_turn``
(tests/test_extract.py).

``kinds`` pushes the row-kind filter INSIDE the stage (Catalyst cannot
push a post-UDF filter through the Python boundary).  The Spark plan
stays a single narrow stage: scan -> mapInArrow -> rows (no shuffle
until linking).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import native_scan, rules

# --- executor-side gazetteer cache ------------------------------------------
# The alias list is shipped once per task via closure capture (Spark broadcasts
# task binaries); the compiled automaton is cached per executor process.
_GAZ_CACHE: dict[tuple[str, ...], object] = {}


def _gaz_for(aliases: tuple[str, ...]):
    # keyed by the tuple itself, NOT hash(aliases): pre-hashing bypasses the
    # dict's equality check, so a hash collision between two different alias
    # tuples would silently return the wrong compiled gazetteer
    gaz = _GAZ_CACHE.get(aliases)
    if gaz is None:
        gaz = rules.build_gazetteer_regex(list(aliases))
        _GAZ_CACHE[aliases] = gaz
    return gaz


# Flat extraction output: one row per turn (kind='turn', metric counts), per
# mention (kind='mention'), and per raw triple (kind='triple').  Flat columns
# keep the Arrow transfer cheap — a nested array<struct> output spends most
# of its time serializing nested types.
EXTRACT_ROWS_SCHEMA = (
    "conv_id string, turn_idx int, kind string, subj string, pred string, "
    "obj string, surface string, n_mentions int, n_triples int, is_error int"
)

_VALID_KINDS = frozenset({"turn", "mention", "triple"})


def _validate_kinds(kinds):
    """Fail fast on a misspelled/empty kinds tuple: without this a typo like
    kinds=('triples',) silently produces an EMPTY extraction (all want_*
    flags False)."""
    if kinds is None:
        return
    if not kinds or not set(kinds) <= _VALID_KINDS:
        raise ValueError(
            f"kinds={kinds!r}: expected a non-empty subset of "
            f"{sorted(_VALID_KINDS)} or None for all"
        )


def _extract_batch(conv_in, turn_in, text_in, gaz, kinds=None, mentions_pre=None,
                   clauses_pre=None):
    """Per-row emit loop of extract_rows_arrow's generic path — returns the
    per-kind column blocks (see _blocks_to_arrow).

    ``mentions_pre`` / ``clauses_pre`` (both given or both None) are the
    C scanner's ``scan_full_arrow`` result for the whole batch: row-aligned
    mention lists (a ``None`` entry means "scan this row with the regex":
    non-ASCII rows) and the columnar clause half ``(counts, cols)``.  The
    loop locates row r's clause slice by carrying the running prefix sum
    of ``counts`` as a cursor.  Rows with clauses route to
    ``rules.extract_turn_from_clauses`` (Python transforms, C match
    finding), scanned rows without any short-circuit to zero triples with
    no call and no allocation, and fallback rows (``None`` entry, always
    count 0) take the full regex path, as does every row when no scanner
    ran.

    ``kinds`` (None = all of turn/mention/triple) is the kind filter PUSHED
    INSIDE the Python stage: Catalyst cannot push a post-UDF filter through
    mapInArrow, so a consumer that only needs triples would otherwise ship
    every mention/turn row across the Arrow boundary just to discard it
    JVM-side.  At the 12M-turn bench scale that unfiltered traffic is ~60%
    of the stage's output bytes — the DRAM-bus share that bounds large-N
    single-box scaling (BENCH/BASELINE.md)."""
    want_turn = kinds is None or "turn" in kinds
    want_mention = kinds is None or "mention" in kinds
    want_triple = kinds is None or "triple" in kinds
    # Per-KIND column blocks instead of one interleaved 10-column row
    # stream (round-5 profile: the emit plumbing was 19% of stage CPU, most
    # of it appending constants — kind strings, null subj/pred/obj/surface,
    # zero counters).  Blocks only store the columns that VARY for their
    # kind (~10 appends/turn vs 25); the constant columns are materialized
    # O(1)/vectorized at batch-assembly time (pa.nulls / pa.repeat).  Row
    # ORDER changes (turn rows, then mentions, then triples, per batch) —
    # every consumer and parity pin is order-insensitive (filters, groupBy,
    # sorted/hash comparisons).
    t_conv, t_turn, t_nm, t_nt, t_err = [], [], [], [], []
    m_conv, m_turn, m_surf = [], [], []
    r_conv, r_turn, r_subj, r_pred, r_obj = [], [], [], [], []
    at_conv, at_turn, at_nm = t_conv.append, t_turn.append, t_nm.append
    at_nt, at_err = t_nt.append, t_err.append
    am_conv, am_turn, am_surf = m_conv.append, m_turn.append, m_surf.append
    ar_conv, ar_turn = r_conv.append, r_turn.append
    ar_subj, ar_pred, ar_obj = r_subj.append, r_pred.append, r_obj.append
    extract_turn = rules.extract_turn
    finish_clauses = rules.extract_turn_from_clauses
    from itertools import repeat

    if mentions_pre is None:
        mentions_pre, counts, cols = repeat(None), repeat(0), None
    else:
        counts, cols = clauses_pre

    def emit_turn(conv, turn, nm, nt, err):
        at_conv(conv); at_turn(turn); at_nm(nm); at_nt(nt); at_err(err)

    clo = 0  # running cursor into the columnar clause store
    for conv, turn, text, pre, cnt in zip(
        conv_in, turn_in, text_in, mentions_pre, counts
    ):
        # advance the clause cursor BEFORE any continue/except path so a
        # bad row cannot shift every later row's clause slice
        lo = clo
        clo += cnt
        try:
            # inside the try: a NULL turn_idx arrives as None (Arrow
            # to_pylist) and int() raises — a bad row must become a
            # metric, never a job failure
            turn = int(turn)
            if text is None or text == "" or "\x00" in text:
                if want_turn:
                    emit_turn(conv, turn, 0, 0, 1)
                continue
            if pre is None:
                mentions, triples = extract_turn(text, gaz)
            elif cnt:
                mentions, triples = finish_clauses(text, pre, lo, clo, cols)
            else:
                # scanned row, zero grammar clauses: no call, no alloc
                mentions, triples = pre, ()
            if want_turn:
                emit_turn(conv, turn, len(mentions), len(triples), 0)
            if want_mention:
                for m in mentions:
                    am_conv(conv); am_turn(turn); am_surf(m)
            if want_triple:
                for t in triples:
                    ar_conv(conv); ar_turn(turn)
                    ar_subj(t.subj); ar_pred(t.pred); ar_obj(t.obj)
        except Exception:  # noqa: BLE001 — skip bad rows with a metric
            if want_turn:
                emit_turn(conv, turn if isinstance(turn, int) else -1, 0, 0, 1)

    return (
        (t_conv, t_turn, t_nm, t_nt, t_err),
        (m_conv, m_turn, m_surf),
        (r_conv, r_turn, r_subj, r_pred, r_obj),
    )


def triples_from_rows(rows: DataFrame) -> DataFrame:
    return rows.filter(F.col("kind") == "triple").select(
        "conv_id", "turn_idx", "subj", "pred", "obj"
    )


def mentions_from_rows(rows: DataFrame) -> DataFrame:
    return rows.filter(F.col("kind") == "mention").select(
        "conv_id",
        "turn_idx",
        "surface",
        F.trim(F.regexp_replace(F.lower(F.col("surface")), rules.GAP_CLASS, " ")).alias("norm"),
    )


def metrics_from_rows(rows: DataFrame) -> DataFrame:
    return (
        rows.filter(F.col("kind") == "turn")
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("is_error").alias("n_error_turns"),
            F.sum("n_triples").alias("n_raw_triples"),
            F.sum("n_mentions").alias("n_mentions"),
        )
    )


def _triples_only_batch(conv_in, turn_in, text_in, fbs, counts, surfs, cols, gaz):
    """The ``kinds=('triple',)`` emit loop over PRE-SELECTED rows (see
    native_scan.scan_triples_arrow): every input row here is either a
    regex-fallback row or has >=1 grammar clause, so the loop length is the
    triple-candidate count, not the batch size.  Semantics are exactly
    ``_extract_batch``'s triple branch: the null/NUL gate, the bad-row
    try/except (a bad row simply emits nothing — the turn-metric row it
    would have carried belongs to the 'turn' kind, which this path never
    serves), and the shared grammar/transform code paths.  Parity with the
    generic path is pinned by test_native_scan.py and the extraction fuzz
    test in test_extract.py."""
    r_conv, r_turn, r_subj, r_pred, r_obj = [], [], [], [], []
    ar_conv, ar_turn = r_conv.append, r_turn.append
    ar_subj, ar_pred, ar_obj = r_subj.append, r_pred.append, r_obj.append
    extract_turn = rules.extract_turn
    finish_clauses = rules.extract_turn_from_clauses
    clo = 0
    for conv, turn, text, fb, cnt, surf in zip(
        conv_in, turn_in, text_in, fbs, counts, surfs
    ):
        lo = clo
        clo += cnt
        try:
            turn = int(turn)
            if text is None or text == "" or "\x00" in text:
                continue
            if fb:
                _, triples = extract_turn(text, gaz)
            else:
                _, triples = finish_clauses(
                    text, [surf] if surf is not None else [], lo, clo, cols
                )
            for t in triples:
                ar_conv(conv); ar_turn(turn)
                ar_subj(t.subj); ar_pred(t.pred); ar_obj(t.obj)
        except Exception:  # noqa: BLE001 — bad rows emit nothing here
            pass
    return (
        ((), (), (), (), ()),
        ((), (), ()),
        (r_conv, r_turn, r_subj, r_pred, r_obj),
    )


def extract_rows_arrow(
    transcripts: DataFrame, aliases: list[str], kinds: tuple[str, ...] | None = None
) -> DataFrame:
    """transcripts -> flat extraction rows (EXTRACT_ROWS_SCHEMA) via
    ``mapInArrow``: one row per turn (metric counts, ``is_error=1`` for
    bad rows), per mention and per raw triple.

    No pandas materialization on either end of the batch (input
    RecordBatch -> python lists directly; output lists -> RecordBatch
    directly), which trims the per-batch memory traffic the single-box
    scaling analysis identifies as the 4N-side residual
    (BENCH/BASELINE.md).  ``kinds`` (None = all) keeps only the listed row
    kinds inside the stage; ``kinds=('triple',)`` takes the
    scan_triples_arrow fast path when the C scanner is available."""
    _validate_kinds(kinds)
    alias_tuple = tuple(sorted(set(aliases)))

    def gen(batches):
        import pyarrow as pa

        schema = pa.schema(
            [
                ("conv_id", pa.string()), ("turn_idx", pa.int32()),
                ("kind", pa.string()), ("subj", pa.string()),
                ("pred", pa.string()), ("obj", pa.string()),
                ("surface", pa.string()), ("n_mentions", pa.int32()),
                ("n_triples", pa.int32()), ("is_error", pa.int32()),
            ]
        )
        gaz = _gaz_for(alias_tuple)
        scanner = native_scan.scanner_for(alias_tuple)
        triples_fast = (
            scanner is not None and kinds is not None and set(kinds) == {"triple"}
        )
        for rb in batches:
            names = rb.schema.names
            text_arr = rb.column(names.index("text"))
            if triples_fast:
                # kinds=('triple',) — the triples-only path: only rows
                # that can emit a triple (regex-fallback or clause-bearing,
                # typically a minority) are materialized as Python strings;
                # to_pylist of the full text/conv columns is ~35% of the
                # Python-side stage cost (BENCH/NOTES.md round-6)
                svc = scanner.scan_triples_arrow(text_arr)
                if svc is not None:
                    needed, texts, fbs, counts, surfs, cols = svc
                    if not needed:
                        continue
                    idx = pa.array(needed)
                    conv_in = rb.column(names.index("conv_id")).take(idx).to_pylist()
                    turn_in = rb.column(names.index("turn_idx")).take(idx).to_pylist()
                    blocks = _triples_only_batch(
                        conv_in, turn_in, texts, fbs, counts, surfs, cols, gaz
                    )
                    yield from _blocks_to_arrow(pa, schema, blocks)
                    continue
                # unexpected physical type etc. — generic path below
            conv_in = rb.column(names.index("conv_id")).to_pylist()
            turn_in = rb.column(names.index("turn_idx")).to_pylist()
            text_in = text_arr.to_pylist()
            pre = cl = None
            if scanner is not None:
                # scans the RecordBatch's raw UTF-8 buffer in two C calls
                # (gazetteer + grammar) — no per-row call overhead, no
                # Match objects
                pre, cl = scanner.scan_full_arrow(text_arr, text_in)
            blocks = _extract_batch(
                conv_in, turn_in, text_in, gaz, kinds,
                mentions_pre=pre, clauses_pre=cl)
            # one RecordBatch per non-empty kind block (mapInArrow accepts
            # any number of batches per input batch); constant columns via
            # pa.nulls / pa.repeat — O(1)-ish builds, no per-row appends
            yield from _blocks_to_arrow(pa, schema, blocks)

    return transcripts.select("conv_id", "turn_idx", "text").mapInArrow(
        gen, schema=EXTRACT_ROWS_SCHEMA
    )


def _blocks_to_arrow(pa, schema, blocks):
    (t_conv, t_turn, t_nm, t_nt, t_err), (m_conv, m_turn, m_surf), \
        (r_conv, r_turn, r_subj, r_pred, r_obj) = blocks
    s, i32 = pa.string(), pa.int32()

    def zeros(n):
        return pa.repeat(pa.scalar(0, i32), n)

    n = len(t_conv)
    if n:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(t_conv, s), pa.array(t_turn, i32),
                pa.repeat("turn", n), pa.nulls(n, s), pa.nulls(n, s),
                pa.nulls(n, s), pa.nulls(n, s), pa.array(t_nm, i32),
                pa.array(t_nt, i32), pa.array(t_err, i32),
            ],
            schema=schema,
        )
    n = len(m_conv)
    if n:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(m_conv, s), pa.array(m_turn, i32),
                pa.repeat("mention", n), pa.nulls(n, s), pa.nulls(n, s),
                pa.nulls(n, s), pa.array(m_surf, s), zeros(n),
                zeros(n), zeros(n),
            ],
            schema=schema,
        )
    n = len(r_conv)
    if n:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(r_conv, s), pa.array(r_turn, i32),
                pa.repeat("triple", n), pa.array(r_subj, s),
                pa.array(r_pred, s), pa.array(r_obj, s), pa.nulls(n, s),
                zeros(n), zeros(n), zeros(n),
            ],
            schema=schema,
        )
