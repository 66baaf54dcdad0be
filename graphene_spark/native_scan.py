"""C-accelerated gazetteer scan (the Aho-Corasick-style automaton path).

``rules.build_gazetteer_regex`` documents the compiled trie regex as adequate
up to ~10^5 aliases and names a broadcast automaton as the production path at
100 TB; this module IS that path.  The automaton (``native/acscan.c``) walks
the same disjoint-branch trie the regex compiles, directly over the raw UTF-8
buffer of a pyarrow StringArray — one ctypes call per Arrow batch, no Match
objects, no per-turn call overhead.  Profiled at ~26% of extraction-stage CPU
(BENCH/NOTES.md), the regex scan is the single largest line item; the C walk
removes the sre bytecode-interpreter constant from it.

Parity contract (pinned by tests/test_native_scan.py and the extraction
fuzz test in tests/test_extract.py):

* The scanner is used ONLY for rows whose UTF-8 bytes are all < 0x80.  Any
  non-ASCII byte flags the row for the caller's regex fallback, because
  non-ASCII codepoints can case-fold INTO the trie (U+212A KELVIN SIGN -> k,
  U+017F LONG S -> s) and fold into the [A-Za-z0-9] boundary class — exactly
  the cases where a byte-level scan would diverge from re.IGNORECASE.
* Alias literals are folded with sre's own single-char semantics: simple
  lowercase (U+0130 folds to plain 'i', where str.lower() would expand to
  two codepoints) plus the ``re._casefix._EXTRA_CASES`` equivalence classes
  (so an alias containing U+017F LONG S still matches ASCII 's' text).
  An alias with a literal that no ASCII byte can fold to (e.g. Greek mu)
  can never match ASCII text, so it is simply omitted from the automaton.
* The oracle (oracle.py) keeps the frozen regex path unconditionally — the
  P/R and fuzz comparisons therefore cross-check this scanner continuously.

Everything degrades gracefully: no gcc / failed compile / env kill-switch
``GRAPHENE_SPARK_NO_NATIVE_SCAN=1`` -> ``scanner_for`` returns None and the
extractor uses the regex for every row (the round-5 behavior).  On a real
cluster each executor host compiles once into its local tmp dir (content-
hash-keyed, atomic rename, multi-process safe).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading

from . import rules

_C_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "native", "acscan.c")

_LOCK = threading.Lock()
_LIB: ctypes.CDLL | None = None
_LIB_TRIED = False

# sre's extended single-char case equivalences (re._casefix is the runtime
# source of truth; the fallback covers the ASCII-relevant pairs for any
# future stdlib layout change — values frozen from CPython 3.11).
try:  # pragma: no cover - import shape varies by CPython version
    from re import _casefix

    _EXTRA_CASES: dict[int, tuple[int, ...]] = dict(_casefix._EXTRA_CASES)
except Exception:  # noqa: BLE001
    _EXTRA_CASES = {0x69: (0x131,), 0x73: (0x17F,), 0x131: (0x69,), 0x17F: (0x73,)}


def _compile_lib() -> ctypes.CDLL | None:
    """Compile (or reuse) the scanner .so; None on any failure.

    Cache key = sha256 of the C source, so a source edit never reuses a
    stale binary; the rename is atomic, so concurrent Python workers on one
    host race harmlessly (last writer wins with identical bytes)."""
    if os.environ.get("GRAPHENE_SPARK_NO_NATIVE_SCAN"):
        return None
    import shutil

    cc = shutil.which("gcc") or shutil.which("cc")
    if cc is None:
        return None
    try:
        with open(_C_PATH, "rb") as f:
            src_bytes = f.read()
    except OSError:
        return None
    h = hashlib.sha256(src_bytes).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), f"gs_native_{os.getuid()}")
    so = os.path.join(cache, f"acscan_{h}.so")
    if not os.path.exists(so):
        try:
            os.makedirs(cache, exist_ok=True)
            tmp = f"{so}.tmp.{os.getpid()}"
            subprocess.run(
                [cc, "-O2", "-shared", "-fPIC", "-o", tmp, _C_PATH],
                check=True, capture_output=True, timeout=120,
            )
            os.replace(tmp, so)
        except Exception:  # noqa: BLE001 — no compiler toolchain -> regex path
            return None
    try:
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    lib.gs_scan_batch.restype = ctypes.c_longlong
    lib.gs_scan_batch.argtypes = [
        ctypes.c_void_p,  # data
        ctypes.c_void_p,  # offsets (int64*)
        ctypes.c_int64,   # nrows
        ctypes.c_void_p,  # children (int32*)
        ctypes.c_void_p,  # endflag (uint8*)
        ctypes.c_void_p,  # gapchild (int32*)
        ctypes.c_int32,   # maxdepth
        ctypes.c_void_p,  # m_row (int64*)
        ctypes.c_void_p,  # m_start (int64*)
        ctypes.c_void_p,  # m_end (int64*)
        ctypes.c_int64,   # cap
        ctypes.c_void_p,  # row_fallback (uint8*)
    ]
    lib.gs_scan_grammar.restype = ctypes.c_longlong
    lib.gs_scan_grammar.argtypes = [
        ctypes.c_void_p,  # data
        ctypes.c_void_p,  # offsets (int64*)
        ctypes.c_int64,   # nrows
        ctypes.c_void_p,  # row_fallback (uint8*, INPUT)
        ctypes.c_void_p,  # row_counts (int64*, per-row match counts OUT)
        ctypes.c_void_p,  # c_type (uint8*)
        ctypes.c_void_p,  # g1s (int64*)
        ctypes.c_void_p,  # g1e
        ctypes.c_void_p,  # g2s
        ctypes.c_void_p,  # g2e
        ctypes.c_void_p,  # g3s
        ctypes.c_void_p,  # g3e
        ctypes.c_int64,   # cap
    ]
    return lib


def _get_lib() -> ctypes.CDLL | None:
    global _LIB, _LIB_TRIED
    with _LOCK:
        if not _LIB_TRIED:
            _LIB = _compile_lib()
            _LIB_TRIED = True
        return _LIB


def _ascii_literal(ch: str) -> tuple[int, bool] | None:
    """(ASCII input byte that matches pattern literal ``ch`` under
    re.IGNORECASE after the tolower fold, via_extra_fold) — or None if no
    ASCII byte can match it.

    ``via_extra_fold`` is True when the byte came from an _EXTRA_CASES
    equivalence (U+0131 dotless i, U+017F long s, U+0130 ...) rather than a
    plain ASCII lowering.  Folding such a character into an ASCII trie edge
    can MERGE branches the regex alternation keeps distinct, and the trie's
    longest-match can then pick a span the regex (which commits to its
    first matching alternative) never produces — a documented byte-parity
    break (round-6 ADVICE, reproduced with aliases ('ia', 'ıa b') on text
    'ia b').  Callers treat any via_extra_fold alias as a reason to disable
    the native scanner for the whole dictionary."""
    if ch == "İ":
        return (ord("i"), True)
    low = ch.lower()
    if len(low) != 1:  # multi-char full lowering — not representable per-byte
        return None
    o = ord(low)
    if o < 128:
        return (o, False)
    for eq in _EXTRA_CASES.get(o, ()):
        if eq < 128:
            return (eq, True)  # e.g. U+017F LONG S: ASCII 's' text matches it
    return None


_MAX_DEPTH = 511  # GS_MAX_DEPTH - 1 in acscan.c

# Shared result for "scanned, zero mentions" rows — a contractually
# READ-ONLY list (every consumer of scan output only iterates/indexes;
# rules.extract_turn_from_mentions and extract._extract_batch never mutate
# their mentions argument).  Sharing it avoids one list allocation per
# mention-less row, the largest Python cost in the scan path.
_EMPTY: list = []
# Shared empty clause-column 7-tuple for batches with zero grammar matches.
_NO_COLS: tuple = ((), (), (), (), (), (), ())


class AsciiGazetteerScanner:
    """Flattened trie + the compiled library, built once per process per
    alias tuple (extract.py caches instances the way it caches the regex)."""

    def __init__(self, lib: ctypes.CDLL, aliases: list[str]):
        import numpy as np

        self._lib = lib
        norms = sorted({rules.normalize_alias(a) for a in aliases if a and a.strip()})
        children: list[dict[int, int]] = [{}]
        gapchild = [-1]
        endflag = [0]
        edge_raw: list[dict[int, str]] = [{}]  # per-node byte -> raw identity
        maxdepth = 0
        for n in norms:
            path: list[int | None] = []
            raws: list[str | None] = []
            ok = True
            for ti, tok in enumerate(n.split(" ")):
                if ti:
                    path.append(None)  # token gap
                    raws.append(None)
                for ch in tok:
                    lit = _ascii_literal(ch)
                    if lit is None:
                        ok = False  # can never match ASCII text — omit
                        break
                    path.append(lit[0])
                    # raw identity of the pattern char AFTER the plain
                    # lower fold ('A'=='a' — IGNORECASE equates them), but
                    # BEFORE any _EXTRA_CASES fold ('ı' stays distinct
                    # from 'i'): two aliases sharing a trie edge from
                    # DIFFERENT raw identities is exactly the merge that
                    # breaks byte-parity with the regex (round-6 ADVICE,
                    # reproduced: ('ia', 'ıa b') on 'ia b' — regex commits
                    # to its 'ia' alternative, the merged trie's
                    # longest-match returns 'ia b')
                    low = ch.lower()
                    raws.append(low if len(low) == 1 else ch)
                if not ok:
                    break
            if len(path) > _MAX_DEPTH:
                # a >511-byte alias would match via the regex but silently
                # miss in the automaton — a dictionary-wide correctness
                # switch, not a per-alias optimization (round-6 ADVICE)
                raise ValueError(
                    f"alias path length {len(path)} exceeds the automaton "
                    f"depth bound {_MAX_DEPTH}"
                )
            if not ok or not path:
                continue
            node = 0
            for p, raw in zip(path, raws):
                if p is None:
                    nxt = gapchild[node]
                    if nxt < 0:
                        nxt = len(children)
                        gapchild[node] = nxt
                        children.append({})
                        gapchild.append(-1)
                        endflag.append(0)
                        edge_raw.append({})
                else:
                    seen = edge_raw[node].get(p)
                    if seen is not None and seen != raw:
                        # the same trie edge would serve two DIFFERENT raw
                        # pattern identities (an _EXTRA_CASES fold merging
                        # into a plain char, or two fold-colliding
                        # aliases): longest-match over the merged trie can
                        # diverge from the regex's first-alternative
                        # commit — fall back to the regex for the WHOLE
                        # dictionary rather than silently mismatch
                        raise ValueError(
                            f"case-fold collision on trie edge {chr(p)!r}: "
                            f"{seen!r} vs {raw!r}"
                        )
                    nxt = children[node].get(p, -1)
                    if nxt < 0:
                        nxt = len(children)
                        children[node][p] = nxt
                        children.append({})
                        gapchild.append(-1)
                        endflag.append(0)
                        edge_raw.append({})
                    edge_raw[node][p] = raw
                node = nxt
            endflag[node] = 1
            maxdepth = max(maxdepth, len(path))

        nn = len(children)
        flat = np.full(nn * 128, -1, dtype=np.int32)
        for i, edges in enumerate(children):
            for b, tgt in edges.items():
                flat[i * 128 + b] = tgt
        self._children = flat
        self._endflag = np.array(endflag, dtype=np.uint8)
        self._gapchild = np.array(gapchild, dtype=np.int32)
        self._maxdepth = maxdepth

    def scan_arrow(self, arr, texts: list | None = None) -> list:
        """Mentions per row of a pyarrow StringArray.

        Returns a list aligned with ``arr``: ``list[str]`` for rows the
        automaton handled, ``None`` for rows needing the regex fallback
        (non-ASCII bytes).  ``texts`` is the caller's ``to_pylist()`` (it
        needs the Python strings for the triple patterns anyway); surfaces
        are sliced from it — byte offsets == char offsets on ASCII rows."""
        return self._scan(arr, texts, with_grammar=False)

    def scan_full_arrow(self, arr, texts: list | None = None) -> tuple:
        """Mentions AND relation-grammar clauses: ``(mentions, (counts,
        cols))``.

        ``mentions[r]`` is exactly ``scan_arrow``'s contract (list | None
        for fallback rows).  The clause half is COLUMNAR and allocation-
        free per row: ``cols`` is the 7-tuple of flat per-clause lists
        ``(type, g1s, g1e, g2s, g2e, g3s, g3e)`` over the whole batch, and
        ``counts[r]`` is how many consecutive entries belong to row r
        (0 for fallback rows) — row r's slice is located by running prefix
        sum, which the consumer loop carries as a cursor.  Clause order
        inside a row is exactly the order
        ``rules.extract_turn_from_mentions`` appends triples (ontology,
        xref, rank, synonym — each in text order).  Feed row slices to
        ``rules.extract_turn_from_clauses``."""
        return self._scan(arr, texts, with_grammar=True)

    def _scan(self, arr, texts: list | None, with_grammar: bool) -> list:
        import numpy as np
        import pyarrow as pa

        n = len(arr)
        if n == 0:
            return ([], ([], _NO_COLS)) if with_grammar else []
        if texts is None:
            texts = arr.to_pylist()

        def all_fallback():
            none_row = [None] * n
            if with_grammar:
                return none_row, ([0] * n, _NO_COLS)
            return none_row

        if pa.types.is_large_string(arr.type):
            odt = np.int64
        elif pa.types.is_string(arr.type):
            odt = np.int32
        else:  # unexpected physical type — let the regex handle everything
            return all_fallback()
        bufs = arr.buffers()
        off_buf, data_buf = bufs[1], bufs[2]
        if off_buf is None:
            return all_fallback()
        offs = np.frombuffer(off_buf, dtype=odt, count=arr.offset + n + 1)[
            arr.offset:
        ].astype(np.int64)
        if data_buf is None:  # all rows null/empty
            men = [_EMPTY if t is not None else None for t in texts]
            if with_grammar:
                return men, ([0] * n, _NO_COLS)
            return men
        data_p = ctypes.c_void_p(data_buf.address)
        offs_p = offs.ctypes.data_as(ctypes.c_void_p)
        total = int(offs[-1] - offs[0])
        fallback = np.zeros(n, dtype=np.uint8)
        cap = max(64, total // 8)
        while True:
            m_row = np.empty(cap, dtype=np.int64)
            m_start = np.empty(cap, dtype=np.int64)
            m_end = np.empty(cap, dtype=np.int64)
            nm = self._lib.gs_scan_batch(
                data_p,
                offs_p,
                ctypes.c_int64(n),
                self._children.ctypes.data_as(ctypes.c_void_p),
                self._endflag.ctypes.data_as(ctypes.c_void_p),
                self._gapchild.ctypes.data_as(ctypes.c_void_p),
                ctypes.c_int32(self._maxdepth),
                m_row.ctypes.data_as(ctypes.c_void_p),
                m_start.ctypes.data_as(ctypes.c_void_p),
                m_end.ctypes.data_as(ctypes.c_void_p),
                ctypes.c_int64(cap),
                fallback.ctypes.data_as(ctypes.c_void_p),
            )
            if nm == -1:
                # matches are non-overlapping and >= 1 byte, so total bytes
                # is an absolute bound — the second pass cannot overflow
                cap = total + 1
                continue
            if nm < 0:  # -2: depth bound — cannot happen (checked at build)
                return all_fallback()
            break
        # tolist() first: per-element numpy scalar indexing is ~5x slower
        # than iterating plain ints.  Rows without matches share _EMPTY
        # (never mutated — consumers only read) instead of each allocating a
        # fresh []: the per-row allocations were 104ms of a 280ms scan at
        # 200k rows, the C walk itself 34ms (profile in BENCH/NOTES.md).
        nm = int(nm)
        out: list = [_EMPTY if f == 0 else None for f in fallback.tolist()]
        prev = -1
        for r, s, e in zip(
            m_row[:nm].tolist(), m_start[:nm].tolist(), m_end[:nm].tolist()
        ):
            if r != prev:
                # matches arrive row-ordered (the C scan is sequential), so
                # per-row state hoists out of the inner appends
                ms: list = []
                out[r] = ms
                ap = ms.append
                t = texts[r]
                prev = r
            ap(t[s:e])
        if not with_grammar:
            return out

        # full mode: run the grammar pass over the SAME fallback row set
        # (worst-case clause density is ~0.39 matches/byte — see acscan.c
        # minimum match extents — so total//2 is an absolute retry bound)
        gcap = max(64, total // 16)
        counts = np.empty(n, dtype=np.int64)
        while True:
            c_typ = np.empty(gcap, dtype=np.uint8)
            g = [np.empty(gcap, dtype=np.int64) for _ in range(6)]
            ng = self._lib.gs_scan_grammar(
                data_p,
                offs_p,
                ctypes.c_int64(n),
                fallback.ctypes.data_as(ctypes.c_void_p),
                counts.ctypes.data_as(ctypes.c_void_p),
                c_typ.ctypes.data_as(ctypes.c_void_p),
                *[a.ctypes.data_as(ctypes.c_void_p) for a in g],
                ctypes.c_int64(gcap),
            )
            if ng == -1:
                gcap = total // 2 + 64
                continue
            break
        ng = int(ng)
        if ng:
            cols = (
                c_typ[:ng].tolist(),
                g[0][:ng].tolist(), g[1][:ng].tolist(), g[2][:ng].tolist(),
                g[3][:ng].tolist(), g[4][:ng].tolist(), g[5][:ng].tolist(),
            )
        else:
            cols = _NO_COLS
        return out, (counts.tolist(), cols)

    def scan_triples_arrow(self, arr):
        """Triples-only scan service (the ``kinds=('triple',)`` path of
        extract.extract_rows_arrow; run_pipeline reads every kind from one
        frame and does not take it): returns row-aligned-to-NEEDED lists
        ``(needed, texts, fallback, counts, first_surf, cols)`` or ``None``
        when the batch must take the generic path.

        Only rows that can possibly emit a triple are materialized: regex-
        fallback rows (non-ASCII) and rows with at least one grammar
        clause.  Everything else — typically the majority — never becomes
        a Python string at all (``to_pylist`` of the text/conv columns is
        ~35% of the Python-side stage cost, BENCH/NOTES.md round-6).
        ``needed`` holds the original row indices (for taking the other
        columns), ``fallback[i]`` flags regex rows, ``counts[i]`` is the
        clause count, ``first_surf[i]`` the first gazetteer mention's
        surface (subject resolution needs ONLY the first mention; None
        when the row has no mention), ``cols`` the columnar clause store
        shared with ``scan_full_arrow``."""
        import numpy as np
        import pyarrow as pa

        n = len(arr)
        if n == 0:
            return [], [], [], [], [], _NO_COLS
        if pa.types.is_large_string(arr.type):
            odt = np.int64
        elif pa.types.is_string(arr.type):
            odt = np.int32
        else:
            return None
        bufs = arr.buffers()
        off_buf, data_buf = bufs[1], bufs[2]
        if off_buf is None:
            return None
        offs = np.frombuffer(off_buf, dtype=odt, count=arr.offset + n + 1)[
            arr.offset:
        ].astype(np.int64)
        if data_buf is None:  # all rows null/empty -> nothing can emit
            return [], [], [], [], [], _NO_COLS
        data_p = ctypes.c_void_p(data_buf.address)
        offs_p = offs.ctypes.data_as(ctypes.c_void_p)
        total = int(offs[-1] - offs[0])
        fallback = np.zeros(n, dtype=np.uint8)
        cap = max(64, total // 8)
        while True:
            m_row = np.empty(cap, dtype=np.int64)
            m_start = np.empty(cap, dtype=np.int64)
            m_end = np.empty(cap, dtype=np.int64)
            nm = self._lib.gs_scan_batch(
                data_p, offs_p, ctypes.c_int64(n),
                self._children.ctypes.data_as(ctypes.c_void_p),
                self._endflag.ctypes.data_as(ctypes.c_void_p),
                self._gapchild.ctypes.data_as(ctypes.c_void_p),
                ctypes.c_int32(self._maxdepth),
                m_row.ctypes.data_as(ctypes.c_void_p),
                m_start.ctypes.data_as(ctypes.c_void_p),
                m_end.ctypes.data_as(ctypes.c_void_p),
                ctypes.c_int64(cap),
                fallback.ctypes.data_as(ctypes.c_void_p),
            )
            if nm == -1:
                cap = total + 1
                continue
            if nm < 0:
                return None
            break
        nm = int(nm)
        gcap = max(64, total // 16)
        counts = np.empty(n, dtype=np.int64)
        while True:
            c_typ = np.empty(gcap, dtype=np.uint8)
            g = [np.empty(gcap, dtype=np.int64) for _ in range(6)]
            ng = self._lib.gs_scan_grammar(
                data_p, offs_p, ctypes.c_int64(n),
                fallback.ctypes.data_as(ctypes.c_void_p),
                counts.ctypes.data_as(ctypes.c_void_p),
                c_typ.ctypes.data_as(ctypes.c_void_p),
                *[a.ctypes.data_as(ctypes.c_void_p) for a in g],
                ctypes.c_int64(gcap),
            )
            if ng == -1:
                gcap = total // 2 + 64
                continue
            break
        ng = int(ng)
        needed = np.flatnonzero((fallback != 0) | (counts > 0))
        if needed.size == 0:
            return [], [], [], [], [], _NO_COLS
        texts = arr.take(pa.array(needed)).to_pylist()
        # first mention per needed row, vectorized: matches are row-ordered,
        # so unique(return_index) yields each row's first match
        first_surf: list = [None] * needed.size
        if nm:
            rows_m, first_idx = np.unique(m_row[:nm], return_index=True)
            # position of each needed row in rows_m (if present)
            pos = np.searchsorted(rows_m, needed)
            pos = np.clip(pos, 0, rows_m.size - 1)
            hit = rows_m[pos] == needed
            for i in np.flatnonzero(hit).tolist():
                j = int(first_idx[pos[i]])
                first_surf[i] = texts[i][int(m_start[j]):int(m_end[j])]
        if ng:
            cols = (
                c_typ[:ng].tolist(),
                g[0][:ng].tolist(), g[1][:ng].tolist(), g[2][:ng].tolist(),
                g[3][:ng].tolist(), g[4][:ng].tolist(), g[5][:ng].tolist(),
            )
        else:
            cols = _NO_COLS
        return (
            needed.tolist(), texts, fallback[needed].tolist(),
            counts[needed].tolist(), first_surf, cols,
        )

    def scan_texts(self, texts: list) -> list:
        """List-of-str convenience wrapper (tests)."""
        import pyarrow as pa

        try:
            arr = pa.array(texts, pa.string())
        except Exception:  # noqa: BLE001 — odd inputs -> regex for all rows
            return [None] * len(texts)
        return self.scan_arrow(arr, texts)

    def scan_texts_full(self, texts: list) -> tuple:
        """List-of-str convenience wrapper for the full (mentions+clauses)
        scan (tests)."""
        import pyarrow as pa

        try:
            arr = pa.array(texts, pa.string())
        except Exception:  # noqa: BLE001 — odd inputs -> regex for all rows
            n = len(texts)
            return [None] * n, ([0] * n, _NO_COLS)
        return self.scan_full_arrow(arr, texts)


_SCANNER_CACHE: dict[tuple[str, ...], AsciiGazetteerScanner | None] = {}


def scanner_for(aliases: tuple[str, ...]) -> AsciiGazetteerScanner | None:
    """Process-cached scanner for an alias tuple; None when the native path
    is unavailable (no compiler, kill-switch set, or build failed)."""
    if os.environ.get("GRAPHENE_SPARK_NO_NATIVE_SCAN"):
        return None
    if aliases in _SCANNER_CACHE:
        return _SCANNER_CACHE[aliases]
    lib = _get_lib()
    scanner = None
    if lib is not None:
        try:
            scanner = AsciiGazetteerScanner(lib, list(aliases))
        except Exception:  # noqa: BLE001 — any build surprise -> regex path
            scanner = None
    _SCANNER_CACHE[aliases] = scanner
    return scanner
