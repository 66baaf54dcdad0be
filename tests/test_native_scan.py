"""Parity + behavior pins for the C gazetteer scanner (native_scan.py).

The contract: for every pure-ASCII row, the scanner's mention list is
byte-identical to ``rules.build_gazetteer_regex(...).finditer`` output; any
row with a non-ASCII byte is flagged for the regex fallback (None).  The
extraction fuzz test in test_extract.py additionally pins the full
extract_rows_arrow output (which runs the scanner when available) against
the frozen regex-only grammar.
"""

from __future__ import annotations

import random
import string

import pytest

from graphene_spark import native_scan, rules

ALIASES = [
    "Ethanol", "ethyl alcohol", "E. coli", "gene_tree", "abc", "ab",
    "abc def", "NAD", "NADH", "alpha-ketoglutarate", "x1", "i",
    "ſtation",        # long-s: folds to ASCII 'station'
    "µ-opioid",       # mu: no ASCII fold — must be dropped, never mismatch
    "İstanbul",       # dotted capital I: full-lowering expands, unrepresentable
]


@pytest.fixture(scope="module")
def scanner():
    sc = native_scan.scanner_for(tuple(sorted(set(ALIASES))))
    if sc is None:
        pytest.skip("no C toolchain / native scan disabled")
    return sc


@pytest.fixture(scope="module")
def gaz():
    return rules.build_gazetteer_regex(ALIASES)


def _expect(gaz, t):
    return [m.group(1) for m in gaz.finditer(t)]


def test_hand_cases(scanner, gaz):
    cases = [
        "Ethanol and NADH react; NAD too.",
        "ETHYL-ALCOHOL vs ethyl  alcohol vs ethyl_alcohol!",
        "abcd abc def ab abc",            # longest-first + boundary fallback
        "the gene_tree of e. coli",
        "x1x x1 x1.",
        "I i I. ix",
        "", "abc", "ab", "abcab", "ababc",
        "word-abc", "word abc", "9abc abc9 _abc abc_",
        "the station was big",            # ASCII text matching the ſ alias
        "STATION",
        "istanbul",                       # must NOT match (combining dot)
        "abc\tdef", "abc\ndef", "abc\x0b\x0c\rdef",
        "abc def ab", "ab abc def",
    ]
    got = scanner.scan_texts(cases)
    for t, g in zip(cases, got):
        assert g == _expect(gaz, t), repr(t)


def test_non_ascii_rows_fall_back(scanner):
    res = scanner.scan_texts(["café abc", "ſtation", "KELVIN", "abc"])
    assert res[0] is None and res[1] is None and res[2] is None
    assert res[3] == ["abc"]


def test_null_and_empty_rows(scanner):
    assert scanner.scan_texts([None, "", "abc"]) in (
        [None, [], ["abc"]],
        [[], [], ["abc"]],
    )


def test_fuzz_parity_ascii(scanner, gaz):
    rng = random.Random(20260817)
    alpha = string.ascii_letters + string.digits + " _-.,;!\t\n"
    frags = [a[: rng.randint(1, len(a))] for a in ALIASES if a.isascii() for _ in range(3)]
    texts = []
    for _ in range(2500):
        texts.append("".join(rng.choice(alpha) for _ in range(rng.randint(0, 80))))
    for _ in range(2500):
        texts.append(
            "".join(rng.choice(frags + [" ", "_", "-", "q", "1"]) for _ in range(rng.randint(1, 12)))
        )
    got = scanner.scan_texts(texts)
    for t, g in zip(texts, got):
        assert g == _expect(gaz, t), repr(t)


def test_arrow_sliced_array(scanner, gaz):
    """Offsets handling must survive a non-zero arr.offset (sliced batch)."""
    pa = pytest.importorskip("pyarrow")
    texts = ["abc and NAD", "nothing here", "ethyl alcohol!", "ab", "abcd"]
    arr = pa.array(texts + texts, pa.string()).slice(3, 5)
    sl = texts[3:] + texts[:3]
    got = scanner.scan_arrow(arr, arr.to_pylist())
    for t, g in zip(sl, got):
        assert g == _expect(gaz, t), repr(t)


def test_large_string_arrays(scanner, gaz):
    pa = pytest.importorskip("pyarrow")
    texts = ["abc NAD", None, "", "ethyl-alcohol"]
    arr = pa.array(texts, pa.large_string())
    got = scanner.scan_arrow(arr, arr.to_pylist())
    assert got[0] == _expect(gaz, texts[0])
    assert got[3] == _expect(gaz, texts[3])


def test_kill_switch(monkeypatch):
    monkeypatch.setenv("GRAPHENE_SPARK_NO_NATIVE_SCAN", "1")
    assert native_scan.scanner_for(("abc",)) is None


# ---- relation-grammar scanner (gs_scan_grammar / scan_full_arrow) ----------

GRAMMAR_CASES = [
    # ontology relationship: pred upper, TYPE:int (zero strip, one 0 kept)
    "abc part_of GO:0001234 ! some label. more",
    "is_a SO:0000110 ! x; part_of GO:000 ! y",     # all-zero id -> GO:0
    "zpart_of GO:1 ! y",                           # [a-z_]+ absorbs the z
    "_part_of GO:1 ! y",                           # leading _ is a valid pred char
    "Part_of GO:1 ! y",                            # uppercase start -> no pred
    "part_of go:1 ! x",                            # lowercase TYPE -> no match
    "part_of GO:x ! y",                            # no digits -> no match
    "part_of ABCDEFGHIJK:5 ! v",                   # TYPE longer than 10 -> no match
    "part_of AB0123456:00042 ! v",                 # digits inside TYPE + zero strip
    "a ! b",                                       # bare ' ! ' with no clause
    "p_ A1:0 ! v",
    # xref: drop keys, split-value keys, comma stop, WS-paren stop, keyword stop
    "xref Reactome:R-HSA-123 desc here. xref GC_ID:11. xref PDB:1abc,tail",
    "xref http:foo bar (paren) xref VZ:a b",
    "xref loinc:x y z",
    "xref A:v has_rank NCBITaxon:g",               # value stops before keyword
    "xref A:v hhas_rank x",                        # not a keyword -> no stop
    "xref A:v xrefz z",                            # 'xref' w/o trailing WS -> no stop
    "xref A:v synonym: s",
    "xref A:val\ttail",                            # tab inside value allowed
    "xref A:v\t(x",                                # any WS before '(' stops
    "xref A:",                                     # empty value -> no match
    "xxref A:b",                                   # boundary fail
    "xref A:x xref B:y",
    "xref 9A:b",                                   # key must start with a letter
    # rank: capitalize (rest lowered), boundary, empty group
    "NAD has_rank NCBITaxon:species more",
    "has_rank NCBITaxon:GENUS",
    "ahas_rank NCBITaxon:genus",
    "has_rank NCBITaxon:",
    # synonym: normalize_alias, pipe stop (unlike xref), boundary
    "synonym: fancy_name-Variant. synonym: b|c",
    "asynonym: val",
    "synonym: ",
    # multi-clause ordering in one turn
    "abc part_of GO:7 ! v xref K:w has_rank NCBITaxon:genus synonym: s",
]


def _expect_turn(gaz, t):
    return rules.extract_turn_from_mentions(
        t, [m.group(1) for m in gaz.finditer(t)]
    )


def test_grammar_hand_cases(scanner, gaz):
    men, (counts, cols) = scanner.scan_texts_full(GRAMMAR_CASES)
    lo = 0
    for t, m, c in zip(GRAMMAR_CASES, men, counts):
        got = rules.extract_turn_from_clauses(t, m, lo, lo + c, cols)
        assert got == _expect_turn(gaz, t), repr(t)
        lo += c


def test_grammar_fuzz_parity(scanner, gaz):
    rng = random.Random(20260818)
    frags = [
        "part_of ", "GO:", "SO:", "0001234", "000", " ! ", "xref ",
        "Reactome:", "GC_ID:", "http:", "VZ:", "loinc:", "PDB:",
        "has_rank NCBITaxon:", "synonym: ", "abc", "ab", "NAD", ".", ";",
        ",", "|", "(", ")", " ", "\t", "\n", "_", "-", "A1", "label text",
        "x1", ":", "!", "0", "9", "Z:", "e_f ", "K9:", "i ",
    ]
    alpha = string.ascii_letters + string.digits + " _-.,;:!|()\t\n"
    texts = []
    for k in range(8000):
        if k % 2:
            texts.append("".join(rng.choice(frags) for _ in range(rng.randint(1, 14))))
        else:
            texts.append("".join(rng.choice(alpha) for _ in range(rng.randint(0, 90))))
    men, (counts, cols) = scanner.scan_texts_full(texts)
    lo = 0
    for t, m, c in zip(texts, men, counts):
        got = rules.extract_turn_from_clauses(t, m, lo, lo + c, cols)
        assert got == _expect_turn(gaz, t), repr(t)
        lo += c


def test_grammar_fallback_rows_count_zero(scanner):
    men, (counts, cols) = scanner.scan_texts_full(
        ["café part_of GO:1 ! x", "part_of GO:1 ! x"]
    )
    assert men[0] is None and counts[0] == 0
    assert counts[1] == 1 and cols[0][0] == 0  # type 0 = ontology


def test_grammar_cursor_survives_bad_rows(scanner):
    """A null text / null turn_idx row must not shift later rows' clause
    slices (the cursor advances before every continue/except path)."""
    from graphene_spark import extract

    gaz = extract._gaz_for(tuple(sorted(set(ALIASES))))
    conv = ["c"] * 6
    turn = [0, None, 2, 3, 4, 5]
    text = [
        "xref A:one",
        "xref B:bad_turn_idx_row",
        None,
        "",
        "café xref C:fallback",
        "abc part_of GO:0042 ! v synonym: s",
    ]
    men, cl = scanner.scan_texts_full(text)
    with_pre = extract._extract_batch(
        conv, turn, text, gaz, None, mentions_pre=men, clauses_pre=cl
    )
    without = extract._extract_batch(conv, turn, text, gaz, None)
    assert with_pre == without


def test_grammar_sliced_array(scanner, gaz):
    pa = pytest.importorskip("pyarrow")
    texts = ["xref A:x", "no clause", "part_of GO:01 ! v", "synonym: q", "ab"]
    arr = pa.array(texts + texts, pa.string()).slice(3, 5)
    sl = texts[3:] + texts[:3]
    men, (counts, cols) = scanner.scan_full_arrow(arr, arr.to_pylist())
    lo = 0
    for t, m, c in zip(sl, men, counts):
        got = rules.extract_turn_from_clauses(t, m, lo, lo + c, cols)
        assert got == _expect_turn(gaz, t), repr(t)
        lo += c


def test_triples_fast_path_parity(scanner, gaz):
    """scan_triples_arrow + _triples_only_batch must emit exactly the
    triple rows the generic _extract_batch emits, including on null/empty/
    NUL texts, null turn_idx, and non-ASCII fallback rows."""
    import pyarrow as pa

    from graphene_spark import extract

    rng = random.Random(20260818)
    frags = [
        "part_of ", "GO:", "0001234", " ! ", "xref ", "Reactome:", "GC_ID:",
        "http:", "has_rank NCBITaxon:", "synonym: ", "abc", "ab", "NAD",
        ".", ";", ",", "|", "(", ")", " ", "\t", "café ", "µ ", "A1",
        "label", "x1", ":", "!", "0",
    ]
    texts = [
        "".join(rng.choice(frags) for _ in range(rng.randint(0, 12))) or None
        for _ in range(4000)
    ]
    texts[5] = None
    texts[6] = ""
    texts[7] = "abc\x00xref A:b"
    texts[8] = "café part_of GO:1 ! x"
    conv = [f"c{i % 5}" for i in range(len(texts))]
    turn: list = list(range(len(texts)))
    turn[9] = None

    arr = pa.array(texts, pa.string())
    needed, tx, fbs, counts, surfs, cols = scanner.scan_triples_arrow(arr)
    idx = pa.array(needed)
    conv_n = pa.array(conv).take(idx).to_pylist()
    turn_n = pa.array(turn, pa.int32()).take(idx).to_pylist()
    gz = extract._gaz_for(tuple(sorted(set(ALIASES))))
    fast = extract._triples_only_batch(conv_n, turn_n, tx, fbs, counts, surfs, cols, gz)
    generic = extract._extract_batch(conv, turn, texts, gz, ("triple",))
    assert sorted(zip(*fast[2])) == sorted(zip(*generic[2]))
    assert 0 < len(needed) < len(texts)  # the selection actually prunes


def test_grammar_odd_input_fallback_shape(scanner):
    """Non-string values (e.g. pandas NaN) must fall back to the regex for
    ALL rows while keeping the (mentions, (counts, cols)) return shape —
    a flat list here would crash the callers' tuple unpack."""
    men, (counts, cols) = scanner.scan_texts_full(["abc", float("nan")])
    assert men == [None, None] and counts == [0, 0]


def test_empty_batch_full_scan_shape(scanner, gaz):
    """An empty batch keeps the (mentions, (counts, cols)) shape, so the
    emit loop's unpack of the clause half cannot fail on it."""
    pa = pytest.importorskip("pyarrow")
    from graphene_spark import extract

    men, cl = scanner.scan_full_arrow(pa.array([], pa.string()), [])
    assert men == [] and cl[0] == []
    blocks = extract._extract_batch([], [], [], gaz, None, mentions_pre=men, clauses_pre=cl)
    assert all(len(col) == 0 for block in blocks for col in block)


def test_case_fold_collision_disables_native():
    """Aliases whose _EXTRA_CASES fold would merge a trie edge with a
    DISTINCT raw pattern char (round-6 ADVICE repro: ('ia', 'ıa b') — the
    regex commits to its 'ia' alternative on text 'ia b', the merged trie's
    longest-match would return 'ia b') must disable the native path for the
    whole dictionary; the regex remains the behavior of record."""
    assert native_scan.scanner_for(("ia", "ıa b")) is None
    # two aliases colliding post-fold (ſa vs sa) likewise
    assert native_scan.scanner_for(("sa", "ſa b")) is None
    # an innocuous fold with no conflicting edge keeps the fast path
    sc = native_scan.scanner_for(("ſtation", "abc"))
    if sc is not None:  # None only when no C toolchain
        got = sc.scan_texts(["the station was big"])
        assert got == [["station"]]


def test_overdeep_alias_disables_native():
    """An alias whose trie path exceeds the automaton depth bound would
    match via the regex but silently miss in the C scan (round-6 ADVICE):
    the whole dictionary must fall back, not drop the alias."""
    assert native_scan.scanner_for(("a" * 600, "abc")) is None
