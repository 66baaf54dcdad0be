"""Frozen extraction grammar — the single source of truth for triple semantics.

This module is shared by three consumers so the P/R comparison is meaningful:

1. ``datagen.py``  — emits transcript text *containing* these patterns;
2. ``oracle.py``   — the frozen single-process reference walker (the analog of
   the reference's row-at-a-time cursor walk, GrameneMongoLoader.groovy:30-43);
3. ``extract.py``  — the distributed mapInArrow extractor.  Its C scanner
   (``native_scan.py``) only finds the matches; every transform is the code
   below.

Pattern provenance (reference semantics, re-expressed — not copied):

* ``ONTOLOGY_RELATIONSHIP_PATTERN`` mirrors OntologyLoader.groovy:16
  ``/([a-z_]+) $path:0*(\\d+) ! (.*)/`` — a relation phrase of the form
  ``part_of GO:0001234 ! some label``.  The predicate is upper-cased
  (OntologyLoader.groovy:58 ``DynamicRelationshipType.withName(type.toUpperCase())``)
  and leading zeros are stripped from the object id
  (OntologyLoader.groovy:102 ``Long.valueOf(oIdStr, 10)``).
* ``XREF_PATTERN`` + key handling mirrors GrameneMongoLoader.groovy:89-110:
  split ``KEY:VALUE`` on the first colon, drop ``GC_ID`` keys, and for keys in
  {Reactome, VZ, http, loinc} keep only the part of the value before the first
  space (the rest is a description).  The value capture takes the whole
  phrase (up to ``.;,`` or newline) so space-containing values reach the
  split — non-split keys keep the full value verbatim, exactly as the
  reference keeps the whole Mongo field.
* ``RANK_PATTERN`` mirrors GrameneMongoLoader.groovy:51-55
  ``property_value =~ /has_rank NCBITaxon:(\\w+)/`` with ``.capitalize()``.
* ``SYNONYM_PATTERN`` mirrors the synonym side-emit
  (GrameneMongoLoader.groovy:66-73: each synonym becomes a Name node plus a
  SYNONYM edge).
* ``normalize_alias`` mirrors underscoreCaseToCamelCase's intent
  (GrameneMongoLoader.groovy:76-78): case/underscore variants of one alias
  must collide onto one key.  We normalize to lower-space form instead of
  CamelCase because it is a join key, not a display label.

DO NOT edit patterns casually: the oracle is *frozen*; changing a pattern
changes the reference answer set that P/R is measured against.
"""

from __future__ import annotations

import re
from typing import NamedTuple

# --- dialect-aligned character classes ---------------------------------------
# Regex shorthand membership differs between Python re and java.util.regex
# (the dialect every SQL-side expression runs): Python \s additionally
# matches the C0 separators U+001C-1F, Java's default \s is ASCII-only and
# its (?U)\s is exactly Unicode White_Space; Python \w/\b/\d are
# Unicode-aware where Java's defaults are ASCII.  The grammar therefore
# never uses \s/\w/\b/\d — whitespace is the explicit Unicode White_Space
# enumeration below and word boundaries are explicit [A-Za-z0-9_]
# lookarounds, so the SAME pattern STRING compiles to the SAME language in
# both engines.  GAP_CLASS is the one that runs in both: normalize_alias
# here, and Spark SQL in extract.mentions_from_rows and linking.alias_map
# (pinned by tests/test_extract.py::
# test_whitespace_class_aligned_across_dialects); the hostile-text fuzz
# (tests/test_extract.py::test_fuzzed_extraction_matches_rules) covers the
# rest.
WS_CHARS = (
    r"\t\n\x0B\f\r \x85\xA0"
    r"\u1680\u2000-\u200A\u2028\u2029\u202F\u205F\u3000"
)
WS_CLASS = f"[{WS_CHARS}]"
GAP_CLASS = f"[{WS_CHARS}_\\-]+"  # the alias token separator: whitespace/_/-
_NW = "(?<![A-Za-z0-9_])"  # ASCII left word boundary (dialect-neutral \b)

# --- frozen patterns ---------------------------------------------------------
# One *_SRC string per clause.  native/acscan.c's gs_scan_grammar parses
# the same four languages by hand (hand- and fuzz-pinned against these
# compiled patterns in tests/test_native_scan.py).

ONTOLOGY_SRC = _NW + r"([a-z_]+) ([A-Z][A-Z0-9]{1,9}):0*([0-9]+) ! ([^.;|\n]*)"
ONTOLOGY_RELATIONSHIP_PATTERN = re.compile(ONTOLOGY_SRC)
# value runs to sentence punctuation, but stops BEFORE a ' (' description
# and before a following keyword (' xref '/' has_rank '/' synonym: ') so
# adjacent clauses never leak into the value (round-2 ADVICE item).  The
# grammar's xref sentences are punctuation-terminated by convention; free
# text between the value and the closing punctuation is kept as part of the
# value exactly like the reference keeps the remainder of the field
# (GrameneMongoLoader.groovy:89-110).
XREF_SRC = (
    _NW + r"xref ([A-Za-z][A-Za-z0-9_]*):"
    + f"((?:(?!{WS_CLASS}\\()(?!{WS_CLASS}(?:xref|has_rank|synonym:){WS_CLASS})"
    + r"[^.;,\n])+)"
)
XREF_PATTERN = re.compile(XREF_SRC)
RANK_SRC = _NW + r"has_rank NCBITaxon:([A-Za-z0-9_]+)(?![A-Za-z0-9_])"
RANK_PATTERN = re.compile(RANK_SRC)
SYNONYM_SRC = _NW + r"synonym: ([^.;|\n]+)"
SYNONYM_PATTERN = re.compile(SYNONYM_SRC)

XREF_DROP_KEYS = frozenset({"GC_ID"})
# for these keys the value is "name desc..." -> keep name only
# (GrameneMongoLoader.groovy:100-106)
XREF_SPLIT_VALUE_KEYS = frozenset({"Reactome", "VZ", "http", "loinc"})

PRED_XREF = "XREF"
PRED_RANK = "HAS_RANK"
PRED_SYNONYM = "SYNONYM"

# GAP_CLASS, not [\s_\-]: Python \s would additionally fold U+001C-1F into
# the key while every SQL-side normalization (Java dialect) left them in
# place — same alias, two different join keys
_WS = re.compile(GAP_CLASS)


# Memo for normalize_alias: the hot path calls it on gazetteer MATCHES —
# surface variants of a finite alias vocabulary — so hit rates are near 1
# and the regex sub is ~13% of extraction-stage CPU (profile in
# BENCH/NOTES.md).  Capped because the synonym path feeds it arbitrary
# text: once full, new strings compute uncached (still correct) instead of
# growing executor memory without bound at corpus scale.
_NORM_CACHE: dict[str, str] = {}
_NORM_CACHE_MAX = 65536


def normalize_alias(s: str) -> str:
    """Collapse case / underscore / dash / whitespace variants onto one key.

    Mirrors the SQL-side ``trim(regexp_replace(lower(s), GAP_CLASS, ' '))``
    operation-for-operation.  Deliberately NOT ``s.strip()``: Python's str
    whitespace includes U+001C-1F, so stripping first would fold characters
    the SQL path keeps."""
    v = _NORM_CACHE.get(s)
    if v is None:
        v = _WS.sub(" ", s.lower()).strip(" ")
        if len(_NORM_CACHE) < _NORM_CACHE_MAX:
            _NORM_CACHE[s] = v
    return v


def build_gazetteer_regex(aliases: list[str]) -> re.Pattern:
    """One alternation regex matching any dictionary alias.

    Longest-first so overlapping aliases resolve to the longest surface form.
    Tokens inside an alias may be separated by space/underscore/dash in text.
    At 100 TB scale the prod path is an Aho-Corasick automaton broadcast to
    executors; a compiled alternation has the same semantics and is adequate
    for dictionaries up to ~10^5 aliases.
    """
    norms = sorted({normalize_alias(a) for a in aliases if a and a.strip()})
    body = _trie_regex_body(norms) if norms else r"(?!x)x"  # (?!x)x never matches
    return re.compile(
        r"(?<![A-Za-z0-9])(" + body + r")(?![A-Za-z0-9])", re.IGNORECASE
    )


_TOKEN_GAP = "\x01"  # trie marker for the [\s_-]+ token separator


def _trie_regex_body(norms: list[str]) -> str:
    """Trie-compress normalized aliases into one regex body.

    A flat longest-first alternation backtracks across every branch at every
    position — O(branches) per character.  The character trie shares common
    prefixes so the engine walks at most one branch per input character:
    branches at a node start with DISTINCT characters (aliases are
    lowercased, so IGNORECASE cannot make two branches overlap) and the
    token-gap class [\\s_-]+ is disjoint from the alnum branches.  Matching
    stays longest-first because the end-of-alias marker is emitted as an
    OPTIONAL continuation — the regex tries to extend the match before
    accepting the shorter alias.  Measured 8.9x faster than the flat
    alternation on a 2000-alias dictionary with identical matches on the
    whole fixture corpus (and provably identical by the disjoint-branch
    argument above).
    """
    trie: dict = {}
    end = "\0"
    for n in norms:
        node = trie
        for ch in _TOKEN_GAP.join(n.split(" ")):
            node = node.setdefault(ch, {})
        node[end] = True

    def emit(node: dict) -> str:
        alts = []
        has_end = False
        for ch, sub in node.items():
            if ch == end:
                has_end = True
                continue
            piece = GAP_CLASS if ch == _TOKEN_GAP else re.escape(ch)
            alts.append(piece + emit(sub))
        if not alts:
            return ""
        body = "|".join(alts)
        if len(alts) > 1:
            body = "(?:" + body + ")"
        if has_end:
            # continuation-first optionality = longest match wins; ALWAYS
            # wrap (suffixing '?' onto a multi-atom body would make only the
            # last atom optional)
            return "(?:" + body + ")?"
        return body

    return emit(trie)


class Triple(NamedTuple):
    """NamedTuple, not a frozen dataclass: construction is on the per-triple
    hot path (~0.6 triples/turn), and a frozen dataclass pays two
    object.__setattr__ calls per init where tuple.__new__ pays none —
    measured ~3x faster to build with identical field access/equality."""

    subj: str | None  # normalized surface form of the subject mention (None = dangling)
    pred: str
    obj: str


def extract_mentions(text: str, gaz: re.Pattern) -> list[str]:
    """Ordered surface mentions of dictionary aliases in a turn's text."""
    if not text:
        return []
    return [m.group(1) for m in gaz.finditer(text)]


def extract_turn(text: str, gaz: re.Pattern) -> tuple[list[str], list[Triple]]:
    """Extract (mentions, triples) from one turn's text.

    Subject resolution: the first dictionary mention in the turn is the
    subject of every relation the turn asserts (the transcript analog of the
    reference's "current document" — every side-emit in process() hangs off
    the node being processed, OntologyLoader.groovy:44-51).  A turn with
    relation patterns but no mention yields dangling triples (subj=None)
    which the pipeline drops with a metric, never an error
    (Loader.groovy:45-47 semantics).
    """
    if not text:
        return [], []
    return extract_turn_from_mentions(text, extract_mentions(text, gaz))


def extract_turn_from_mentions(text: str, mentions: list[str]) -> tuple[list[str], list[Triple]]:
    """``extract_turn`` with the mention scan already done — the seam the
    C gazetteer scanner (native_scan.py) plugs into: it computes ``mentions``
    for a whole Arrow batch in one call, then this function (shared verbatim
    with the regex path above, so the triple grammar cannot diverge) does the
    per-turn relation extraction."""
    subj = normalize_alias(mentions[0]) if mentions else None
    triples: list[Triple] = []

    # C-speed substring prefilters: each pattern contains a mandatory
    # literal, so `literal not in text` proves finditer would yield nothing.
    # Strictly semantics-preserving (the oracle shares this function);
    # skips the regex engine entirely on turns without that clause type.
    if " ! " in text:
        for m in ONTOLOGY_RELATIONSHIP_PATTERN.finditer(text):
            pred = m.group(1).upper()
            obj = f"{m.group(2)}:{int(m.group(3))}"  # leading zeros stripped
            triples.append(Triple(subj, pred, obj))

    if "xref " in text:
        for m in XREF_PATTERN.finditer(text):
            key, val = m.group(1), m.group(2)
            if key in XREF_DROP_KEYS:
                continue
            if key in XREF_SPLIT_VALUE_KEYS:
                val = val.split(" ", 1)[0]
            triples.append(Triple(subj, PRED_XREF, f"{key}:{val}"))

    if "has_rank NCBITaxon:" in text:
        for m in RANK_PATTERN.finditer(text):
            triples.append(Triple(subj, PRED_RANK, m.group(1).capitalize()))

    if "synonym: " in text:
        for m in SYNONYM_PATTERN.finditer(text):
            triples.append(Triple(subj, PRED_SYNONYM, normalize_alias(m.group(1))))

    return mentions, triples


def extract_turn_from_clauses(
    text: str, mentions: list[str], lo: int, hi: int, cols: tuple
) -> tuple[list[str], list[Triple]]:
    """``extract_turn_from_mentions`` with BOTH scans precomputed by the C
    scanner (native_scan.AsciiGazetteerScanner.scan_full_arrow): ``cols``
    is the batch-wide columnar clause store ``(type, g1s, g1e, g2s, g2e,
    g3s, g3e)`` and ``[lo, hi)`` is this row's index range in it (the
    caller carries the running prefix sum of the per-row counts), in the
    exact order the finditer loops above append (group spans are char
    offsets into ``text``).

    Only MATCH-FINDING moved to C; every transform stays here and mirrors
    the loops above line for line — pred .upper(), the TYPE:id join (the C
    scan pre-strips the ``0*`` zeros, so the slice equals ``int(g3)``'s
    decimal form, one '0' kept for all-zero ids), the XREF drop/split key
    sets, rank .capitalize(), synonym normalize_alias.  Byte-equal output
    is pinned by tests/test_native_scan.py (hand + fuzz) and the extraction
    fuzz in tests/test_extract.py."""
    subj = normalize_alias(mentions[0]) if mentions else None
    triples: list[Triple] = []
    ap = triples.append
    typ, g1s, g1e, g2s, g2e, g3s, g3e = cols
    for i in range(lo, hi):
        t = typ[i]
        if t == 0:
            ap(Triple(subj, text[g1s[i]:g1e[i]].upper(),
                      f"{text[g2s[i]:g2e[i]]}:{text[g3s[i]:g3e[i]]}"))
        elif t == 1:
            key = text[g1s[i]:g1e[i]]
            if key in XREF_DROP_KEYS:
                continue
            val = text[g2s[i]:g2e[i]]
            if key in XREF_SPLIT_VALUE_KEYS:
                val = val.split(" ", 1)[0]
            ap(Triple(subj, PRED_XREF, f"{key}:{val}"))
        elif t == 2:
            ap(Triple(subj, PRED_RANK, text[g1s[i]:g1e[i]].capitalize()))
        else:
            ap(Triple(subj, PRED_SYNONYM,
                      normalize_alias(text[g1s[i]:g1e[i]])))
    return mentions, triples
