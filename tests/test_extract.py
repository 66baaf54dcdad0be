"""Extraction + ordering tests: parity with the frozen oracle walker."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from graphene_spark import datagen, extract, oracle, rules
from graphene_spark.pipeline import all_aliases


def test_rules_ontology_pattern():
    gaz = rules.build_gazetteer_regex(["Ent 00001"])
    mentions, triples = rules.extract_turn(
        "We looked at ent_00001 today. part_of GO:0001234 ! growth", gaz
    )
    assert mentions == ["ent_00001"]
    assert rules.Triple("ent 00001", "PART_OF", "GO:1234") in triples


def test_rules_xref_semantics():
    gaz = rules.build_gazetteer_regex(["Ent 00002"])
    # GC_ID dropped (GrameneMongoLoader.groovy:97)
    _, t1 = rules.extract_turn("ENT-00002 has xref GC_ID:123.", gaz)
    assert t1 == []
    # split-value keys keep only the name part (GrameneMongoLoader.groovy:100-106)
    _, t2 = rules.extract_turn("ENT-00002 has xref Reactome:R123 (a description).", gaz)
    assert t2 == [rules.Triple("ent 00002", "XREF", "Reactome:R123")]
    _, t3 = rules.extract_turn("ENT-00002 has xref UniProt:P12345.", gaz)
    assert t3 == [rules.Triple("ent 00002", "XREF", "UniProt:P12345")]
    # split-value keys with a plain space-separated description also keep
    # only the name (the val.split(' ',1)[0] branch, GrameneMongoLoader.groovy:102-106)
    _, t4 = rules.extract_turn("ENT-00002 has xref loinc:L77 some trailing words.", gaz)
    assert t4 == [rules.Triple("ent 00002", "XREF", "loinc:L77")]
    # non-split keys keep the WHOLE value verbatim, spaces included
    _, t5 = rules.extract_turn("ENT-00002 has xref TAIR:AT1 G1000.", gaz)
    assert t5 == [rules.Triple("ent 00002", "XREF", "TAIR:AT1 G1000")]


def test_rules_rank_and_synonym():
    gaz = rules.build_gazetteer_regex(["Ent 00003"])
    _, t = rules.extract_turn("Ent 00003 annotated has_rank NCBITaxon:species today", gaz)
    assert t == [rules.Triple("ent 00003", "HAS_RANK", "Species")]
    _, t2 = rules.extract_turn("Ent 00003 is also known as synonym: ENT-00009.", gaz)
    assert t2 == [rules.Triple("ent 00003", "SYNONYM", "ent 00009")]


def test_dangling_triple_has_null_subject():
    gaz = rules.build_gazetteer_regex(["Ent 00001"])
    _, t = rules.extract_turn("note: part_of GO:0000077 ! stray label", gaz)
    assert t == [rules.Triple(None, "PART_OF", "GO:77")]


def test_spark_extraction_matches_oracle_walker(
    spark, transcripts_df, transcripts_pdf, dictionary_pdf
):
    """The distributed mapInArrow extractor and the frozen single-process
    walker agree on the raw triple multiset (exact, not just P/R>=0.95)."""
    aliases = all_aliases(dictionary_pdf)
    spark_raw = (
        extract.triples_from_rows(
            extract.extract_rows_arrow(transcripts_df, aliases, kinds=("triple",))
        )
        .toPandas()
    )
    gaz = rules.build_gazetteer_regex(aliases)
    expected = []
    for row in transcripts_pdf.itertuples():
        if not row.text or "\x00" in row.text:
            continue
        _, triples = rules.extract_turn(row.text, gaz)
        for t in triples:
            expected.append((row.conv_id, int(row.turn_idx), t.subj, t.pred, t.obj))
    exp = pd.DataFrame(expected, columns=["conv_id", "turn_idx", "subj", "pred", "obj"])
    key = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got_sorted = spark_raw.sort_values(key, kind="mergesort").reset_index(drop=True)
    exp_sorted = exp.sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_sorted[key].astype(str), exp_sorted[key].astype(str)
    )


def test_error_turns_counted_not_fatal(spark, transcripts_df, transcripts_pdf, dictionary_pdf):
    aliases = all_aliases(dictionary_pdf)
    rows = extract.extract_rows_arrow(transcripts_df, aliases, kinds=("turn",))
    m = extract.metrics_from_rows(rows).agg(
        F.sum("n_error_turns").alias("e"), F.sum("n_turns").alias("t")
    ).collect()[0]
    n_bad = sum(1 for t in transcripts_pdf["text"] if not t or "\x00" in t)
    assert m["e"] == n_bad
    assert m["t"] == len(transcripts_pdf)


def test_null_turn_idx_is_metric_not_crash(spark, dictionary_pdf):
    """A NULL turn_idx must become an error-metric row (contract: bad rows
    are skipped with a metric, never a job failure) — int(None) once
    raised before the try block."""
    from graphene_spark import pipeline

    tdf = spark.createDataFrame(
        [("c1", 1, "user", "Ent 00001 is_a GO:0000001 ! thing", None, None),
         ("c1", None, "user", "Ent 00002 here", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    aliases = pipeline.all_aliases(dictionary_pdf)
    rows = extract.extract_rows_arrow(tdf, aliases)
    errs = rows.filter("kind = 'turn' and is_error = 1").collect()
    assert len(errs) == 1 and errs[0]["turn_idx"] == -1
    assert rows.filter("kind = 'triple'").count() == 1


def test_native_word_boundary_parity():
    """Word-prefixed keywords must NOT match: every clause pattern string
    carries the dialect-neutral left word boundary (rules._NW)."""
    import re

    assert re.search(rules.ONTOLOGY_SRC, "word is_a GO:0001 ! y")
    assert not re.search(rules.ONTOLOGY_SRC, "Xis_a GO:0001 ! y")
    assert re.search(rules.XREF_SRC, "has xref GO:12.")
    assert not re.search(rules.XREF_SRC, "Pxref GO:12.")
    assert re.search(rules.RANK_SRC, "so has_rank NCBITaxon:species here")
    assert not re.search(rules.RANK_SRC, "Xhas_rank NCBITaxon:species")
    assert re.search(rules.SYNONYM_SRC, "a synonym: foo.")
    assert not re.search(rules.SYNONYM_SRC, "Xsynonym: foo.")


def test_whitespace_class_aligned_across_dialects(spark):
    """The grammar's explicit whitespace class (rules.GAP_CLASS) must mean
    the SAME set in Python re and Spark's Java regex — including the
    historical divergence class U+001C..U+001F (FS/GS/RS/US: Python \\s
    matches them, Java (?U)\\s does not), which is why the grammar stopped
    using \\s shorthand (round-4 VERDICT task #5).  Every probe character
    must normalize identically on both sides: whitespace characters collapse
    to the separator, non-whitespace (now including FS/GS/RS/US and ZWSP)
    stay in the key.
    """
    import pyspark.sql.functions as F

    from graphene_spark import rules

    probe = {
        "space": " ", "tab": "\t", "nl": "\n", "cr": "\r",
        "vt": "\x0b", "ff": "\x0c",
        "nel": "\x85", "nbsp": "\xa0",
        "ogham": "\u1680", "emsp": "\u2003", "line_sep": "\u2028",
        "ideo": "\u3000",
        "zwsp": "\u200b",                     # not whitespace in either
        "fs": "\x1c", "gs": "\x1d", "rs": "\x1e", "us": "\x1f",  # not WS now
    }
    non_ws = {"zwsp", "fs", "gs", "rs", "us"}
    rows = [(k, f"ent{c}name") for k, c in probe.items()]
    df = spark.createDataFrame(rows, "name string, s string")
    sql_norm = {
        r["name"]: r["n"]
        for r in df.select(
            "name",
            F.trim(F.regexp_replace(F.lower("s"), rules.GAP_CLASS, " ")).alias("n"),
        ).collect()
    }
    for k, c in probe.items():
        py = rules.normalize_alias(f"ent{c}name")
        expected = f"ent{c}name" if k in non_ws else "ent name"
        assert py == expected, f"{k!r}: python={py!r}"
        assert sql_norm[k] == expected, f"{k!r}: sql={sql_norm[k]!r}"


def test_kind_pushdown_equals_post_filter(spark, dictionary_pdf, transcripts_df):
    """kinds=(k,) inside the Python stage must equal filtering the full
    frame on kind — for every kind ('triple' takes the scan_triples_arrow
    fast path when the C scanner is available)."""
    from graphene_spark import pipeline

    aliases = pipeline.all_aliases(dictionary_pdf)

    def sig(df):
        cols = ", ".join(df.columns)
        r = df.selectExpr(f"bit_xor(xxhash64({cols})) AS h", "count(*) AS n").collect()[0]
        return (r["h"], r["n"])

    full = extract.extract_rows_arrow(transcripts_df, aliases)
    for kind in ("turn", "mention", "triple"):
        pushed = extract.extract_rows_arrow(transcripts_df, aliases, kinds=(kind,))
        assert sig(pushed) == sig(full.filter(F.col("kind") == kind)), kind


def test_kinds_validation_fails_fast(spark, dictionary_pdf, transcripts_df):
    """A misspelled or empty kinds tuple must raise at plan time (previously:
    a silently empty extraction)."""
    import pytest

    from graphene_spark import pipeline

    aliases = pipeline.all_aliases(dictionary_pdf)
    with pytest.raises(ValueError, match="non-empty subset"):
        extract.extract_rows_arrow(transcripts_df, aliases, kinds=("triples",))  # plural typo
    with pytest.raises(ValueError, match="non-empty subset"):
        extract.extract_rows_arrow(transcripts_df, aliases, kinds=())


def test_fuzzed_extraction_matches_rules(spark, dictionary_pdf):
    """Seeded random-text property fuzz (round-4 VERDICT task #5): on 10k
    hostile turns, extract_rows_arrow's FULL output (all ten columns, turn
    metric rows included) must equal rows built from the frozen
    ``rules.extract_turn`` — and so must the ``kinds=('triple',)`` fast
    path's triple rows and the Spark-SQL mention ``norm`` keys.  Hostile
    means: the historical divergence class U+001C-1F, NBSP/NEL and exotic
    Unicode whitespace, non-ASCII words butted against grammar keywords
    (\\b/\\w/\\d dialect traps; such rows take the per-row regex
    fallback), embedded single/double quotes and backslashes,
    null/empty/NUL-bearing turns and NULL turn_idx values (both become
    ``is_error=1`` turn rows), and alias surfaces with every separator
    variant.  Any drift between the C scanner, the emit loops and the
    frozen grammar fails here with the offending rows visible.

    Deliberately excluded: characters whose UNICODE case-folding maps into
    ASCII (Kelvin sign, long s) — the gazetteer's case-insensitivity is
    ASCII-scoped by construction (aliases are ASCII), documented in
    rules.py.
    """
    import random
    from collections import Counter

    rng = random.Random(0x5EED5)
    aliases = all_aliases(dictionary_pdf)
    norms = sorted({rules.normalize_alias(a) for a in aliases if a and a.strip()})

    ws_pool = [" ", "\t", "\n", "\xa0", "\x85", " ", "　", "\x0b"]
    gap_pool = [" ", "_", "-", "\t", "\xa0", "  "]
    control_pool = ["\x1c", "\x1d", "\x1e", "\x1f"]
    junk = ["lorem", "ipsum", "quark", "naïve", "тест", "δοκιμή", 'say "hi"',
            "it's", "back\\slash", "(parens)", "semi;colon", "dot.stop"]

    def alias_variant():
        toks = rng.choice(norms).split(" ")
        sep = rng.choice(gap_pool + (control_pool if rng.random() < 0.25 else []))
        s = sep.join(toks)
        return "".join(c.upper() if rng.random() < 0.3 else c for c in s)

    def onto_clause():
        rel = rng.choice(["is_a", "part_of", "regulates"])
        ns = rng.choice(["GO", "NCBIT", "PO2"])
        num = rng.randint(0, 999_999_999)
        zeros = "0" * rng.randint(0, 3)
        label = rng.choice(junk + ["some label ( with parens", 'quo"ted'])
        return f"{rel} {ns}:{zeros}{num} ! {label}"

    def xref_clause():
        key = rng.choice(["Reactome", "VZ", "GC_ID", "UniProt", "http", "loinc"])
        val = rng.choice(["R-HSA-123 extra words", "plain", 'va"l', "it's",
                          "x\x1cy", "a (desc) b", "päth/to thing"])
        return f"xref {key}:{val}"

    def rank_clause():
        word = rng.choice(["species", "genus", "sub_species", "formaé"])
        return f"has_rank NCBITaxon:{word}"

    def syn_clause():
        return "synonym: " + rng.choice(junk + [alias_variant()])

    def turn_text():
        r = rng.random()
        if r < 0.02:
            return None
        if r < 0.04:
            return ""
        if r < 0.06:
            return "bad\x00turn"
        n = rng.randint(1, 5)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(
                [alias_variant, onto_clause, xref_clause, rank_clause,
                 syn_clause, lambda: rng.choice(junk)]
            )())
        glue = rng.choice(ws_pool)
        prefix = rng.choice(["", rng.choice(junk) + rng.choice(ws_pool),
                             rng.choice(["тест", "naïve"])])  # keyword-adjacent non-ASCII
        return prefix + glue.join(parts) + rng.choice(["", ".", " ;", " tail"])

    # every 997th turn has a NULL turn_idx (chosen by index, so the text
    # stream is the same seeded sequence as without them)
    rows = [
        (f"c{i % 400}", None if i % 997 == 0 else i // 400, turn_text())
        for i in range(10_000)
    ]
    tdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string").persist()

    # expected output rows, built from the frozen single-process grammar
    # with extract_rows_arrow's bad-row contract: NULL/empty/NUL text or a
    # NULL turn_idx (reported as -1) -> one is_error=1 turn row, nothing else
    gaz = rules.build_gazetteer_regex(aliases)
    exp_rows, exp_mentions = [], Counter()
    for conv_id, turn_idx, text in rows:
        if turn_idx is None or not text or "\x00" in text:
            turn = -1 if turn_idx is None else turn_idx
            exp_rows.append((conv_id, turn, "turn", None, None, None, None, 0, 0, 1))
            continue
        mentions, triples = rules.extract_turn(text, gaz)
        exp_rows.append(
            (conv_id, turn_idx, "turn", None, None, None, None,
             len(mentions), len(triples), 0)
        )
        for m in mentions:
            exp_rows.append((conv_id, turn_idx, "mention", None, None, None, m, 0, 0, 0))
            exp_mentions[(conv_id, turn_idx, m, rules.normalize_alias(m))] += 1
        for t in triples:
            exp_rows.append(
                (conv_id, turn_idx, "triple", t.subj, t.pred, t.obj, None, 0, 0, 0)
            )
    expected = spark.createDataFrame(exp_rows, extract.EXTRACT_ROWS_SCHEMA).persist()

    def assert_same(got, exp, what):
        # multiset equality: exceptAll keeps duplicates, both directions
        only_got = got.exceptAll(exp).limit(3).collect()
        only_exp = exp.exceptAll(got).limit(3).collect()
        assert not only_got and not only_exp, (
            f"{what} drift: only-spark={only_got} only-rules={only_exp}"
        )

    try:
        # 1. the full output, every kind
        assert_same(extract.extract_rows_arrow(tdf, aliases), expected, "full-row")
        # 2. the triples-only fast path (scan_triples_arrow) on the same text
        assert_same(
            extract.extract_rows_arrow(tdf, aliases, kinds=("triple",)),
            expected.filter(F.col("kind") == "triple"),
            "triples fast path",
        )
        # 3. mention norm keys: Spark SQL's GAP_CLASS normalization vs
        #    rules.normalize_alias on hostile surfaces
        got_mentions = Counter(
            (r["conv_id"], r["turn_idx"], r["surface"], r["norm"])
            for r in extract.mentions_from_rows(
                extract.extract_rows_arrow(tdf, aliases, kinds=("mention",))
            ).collect()
        )
        assert got_mentions == exp_mentions, (
            f"mention drift: only-spark={list((got_mentions - exp_mentions).items())[:3]} "
            f"only-rules={list((exp_mentions - got_mentions).items())[:3]}"
        )
    finally:
        tdf.unpersist()
        expected.unpersist()
