"""Unicode / multilingual robustness for the text stack.

The tokenizer is whitespace-based and the langid/quality lexicons are
Latin-stopword-based; these tests pin what that MEANS for CJK (no
whitespace), RTL scripts, emoji, combining marks, and degenerate
documents (empty / whitespace-only), and assert metamorphic invariants
(exact-dedup idempotence, gate rejection rather than crash, identical
docs always caught by digest- and fingerprint-based dedup regardless
of script).

Documented behaviors for non-whitespace-delimited scripts:

* a CJK sentence is ONE whitespace token — shingle-based minhash-LSH
  (word bigrams) cannot see single-token documents, so identical CJK
  docs produce NO minhash pair; ``exact_dedup`` and simhash (token
  hashes) still catch them, ``minhash_lsh_pairs(kind="char")``
  (character 5-gram shingles, registered as dedup_minhash_char)
  closes the gap outright, and byte-level BPE trains on them
  (test_curation_wave2.test_bpe_bytes_trains_on_multilingual_corpus);
* ``lang_id`` scores 0 lexicon hits on non-Latin text and falls back
  to its deterministic tie-break (first lexicon in declaration
  order); ``script_id`` (registered as text_langid_script) is the
  non-Latin companion — Unicode-block character counts resolve
  CJK/Arabic/Greek/Cyrillic/Devanagari/Hangul/Kana directly;
* empty / whitespace-only documents yield NULL ratio measures (never
  an ANSI divide-by-zero) and a False gopher gate.

Every assertion collect()s real rows: `.count()` alone prunes the
projections where ANSI division-by-zero hides (a quality_score
divide-by-zero passes a count-only check).
"""

import random

from pyspark.sql import functions as F

#: adversarial corpus: (doc_id, text)
UNICODE_DOCS = [
    (1, "你好世界这是一个没有空格的长句子"),          # CJK, no whitespace
    (2, "مرحبا بالعالم هذا نص عربي طويل"),            # Arabic, RTL
    (3, "\U0001f600\U0001f601\U0001f602 emoji run"),  # emoji + latin
    (4, ""),                                          # empty
    (5, "   \t  \n "),                                # whitespace-only
    (6, "café résumé naïve coöperate"),               # combining accents
    (7, "x" * 5000),                                  # one giant token
    (8, "a​zero​width​space"),         # U+200B is NOT \s
    (9, "Ελληνικά κείμενο εδώ"),                      # Greek
    (10, "ß İ ı DOTLESS"),                            # case-folding traps
    (11, "हिन्दी पाठ यहाँ है"),                        # Devanagari
    (12, "mixed 你好 text مرحبا ok"),                 # mixed scripts
]


def _docs(spark, rows=None):
    return spark.createDataFrame(rows or UNICODE_DOCS, ["doc_id", "text"])


def test_stats_operators_defined_on_adversarial_corpus(spark):
    """token_stats / quality_score / token_count_estimate /
    repetition_stats / gopher gate must COLLECT (not just count) over
    every adversarial row, with NULL — not a crash — for the ratios a
    word-free document cannot define."""
    from task_on_dataframes_spark.operators.textstats import (
        gopher_quality_gate,
        quality_score,
        repetition_stats,
        token_count_estimate,
        token_stats,
    )

    docs = _docs(spark)
    n = len(UNICODE_DOCS)

    ts = {r["doc_id"]: r for r in token_stats(docs, "doc_id", "text").collect()}
    assert len(ts) == n
    assert ts[1]["n_tokens"] == 1          # CJK sentence = one token
    assert ts[7]["n_chars"] == 5000

    qs = {r["doc_id"]: r for r in quality_score(docs, "doc_id", "text").collect()}
    assert len(qs) == n
    assert qs[4]["punct_ratio"] is None    # empty doc: NULL, no crash
    assert qs[1]["stopword_ratio"] == 0.0  # no Latin stopwords in CJK

    tc = {
        r["doc_id"]: r
        for r in token_count_estimate(docs, "doc_id", "text").collect()
    }
    assert len(tc) == n
    assert tc[4]["chars_per_piece"] is None
    assert tc[5]["chars_per_piece"] is None   # whitespace-only: 0 pieces
    assert tc[1]["n_bpe_pieces"] == 1         # CJK run = one non-alnum piece

    rep = repetition_stats(docs, "doc_id", "text").collect()
    assert len(rep) == n

    gg = {
        r["doc_id"]: r
        for r in gopher_quality_gate(docs, "doc_id", "text").collect()
    }
    assert len(gg) == n
    for did in (4, 5):  # word-free docs: NULL measures, REJECTED gate
        assert gg[did]["n_words"] == 0
        assert gg[did]["mean_word_len"] is None
        assert gg[did]["gopher_pass"] is False


def test_langid_deterministic_fallback_on_non_latin(spark):
    """Non-Latin docs score zero lexicon hits everywhere; the argmax
    tie-break (first declared lexicon) must be deterministic, and
    genuinely-English text must still win."""
    from task_on_dataframes_spark.operators.textstats import (
        STOPWORDS,
        lang_id,
    )

    docs = _docs(
        spark,
        UNICODE_DOCS + [(99, "the cat is in the hat and it is good")],
    )
    out = {r["doc_id"]: r for r in lang_id(docs, "doc_id", "text").collect()}
    first_lang = next(iter(STOPWORDS))
    for did in (1, 2, 9, 11):  # CJK / Arabic / Greek / Devanagari
        assert all(out[did][f"score_{lg}"] == 0 for lg in STOPWORDS)
        assert out[did]["pred_lang"] == first_lang
    assert out[99]["pred_lang"] == "en"
    assert out[99]["score_en"] > 0


def test_exact_dedup_catches_identical_docs_any_script_and_is_idempotent(
    spark,
):
    """Digest dedup is script-agnostic: byte-identical CJK/emoji/RTL
    texts group regardless of tokenizability — and deduping the
    surviving representatives again is a fixpoint."""
    from task_on_dataframes_spark.operators.dedup import exact_dedup

    dups = [(100 + i, t) for i, (_, t) in enumerate(UNICODE_DOCS)]
    docs = _docs(spark, UNICODE_DOCS + dups)
    out = exact_dedup(docs, "doc_id", "text").collect()
    by_digest = {r["text_digest"]: r for r in out}
    # every non-whitespace-normalizing text appears exactly once with
    # n_dups == 2 and the min id as representative
    # 12 texts duplicated once: 10 groups of 2, and the empty +
    # whitespace-only docs normalize to the same "" digest (group of 4)
    assert sum(1 for r in out if r["n_dups"] == 2) == 10
    assert sum(1 for r in out if r["n_dups"] == 4) == 1
    reps = [r["rep_id"] for r in out]
    survivors = docs.join(
        spark.createDataFrame([(i,) for i in reps], ["doc_id"]), "doc_id"
    )
    again = exact_dedup(survivors, "doc_id", "text").collect()
    assert sorted(r["rep_id"] for r in again) == sorted(reps)
    assert all(r["n_dups"] == 1 for r in again)


def test_identical_single_token_docs_minhash_blind_simhash_catches(spark):
    """Pin the documented shingle gap: identical CJK docs are invisible
    to bigram-shingle minhash-LSH (a 1-token doc has no bigrams) but
    ARE caught by simhash (token-hash fingerprints, Hamming 0)."""
    from task_on_dataframes_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_fingerprints,
        simhash_pairs,
    )

    rows = [
        (1, "你好世界这是一个没有空格的长句子"),
        (2, "你好世界这是一个没有空格的长句子"),
        (3, "一个完全不同的中文句子在这里"),
    ]
    docs = _docs(spark, rows)
    mh = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    assert mh == []  # documented limitation, not silent wrongness
    sh = simhash_pairs(
        simhash_fingerprints(docs, "doc_id", "text"), max_hamming=3
    ).collect()
    assert {(r["a"], r["b"]) for r in sh} == {(1, 2)}
    # the char-shingle variant CLOSES the gap: identical CJK docs pair
    # at jaccard 1.0 while the unrelated sentence stays out
    ch = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, shingle_n=5, kind="char"
    ).collect()
    assert {(r["a"], r["b"], r["jaccard"]) for r in ch} == {(1, 2, 1.0)}


def test_fingerprints_and_winnowing_deterministic_on_unicode(spark):
    """Same text -> same fingerprint, regardless of script; winnowing
    emits no fingerprints for sub-gram docs instead of crashing."""
    from task_on_dataframes_spark.operators.textstats import (
        doc_fingerprint,
        winnow_fingerprints,
    )

    docs = _docs(spark)
    twice = _docs(spark, [(d + 100, t) for d, t in UNICODE_DOCS])
    a = {
        r["doc_id"]: (r["digest"], r["min_shingle_hash"])
        for r in doc_fingerprint(docs, "doc_id", "text").collect()
    }
    b = {
        r["doc_id"] - 100: (r["digest"], r["min_shingle_hash"])
        for r in doc_fingerprint(twice, "doc_id", "text").collect()
    }
    assert a == b
    w = winnow_fingerprints(docs, "doc_id", "text").collect()
    assert all(r["fingerprint"] is not None for r in w)


def test_chunking_non_whitespace_scripts(spark):
    """A CJK sentence is one whitespace token, so the token chunker
    yields exactly one chunk carrying the whole sentence — pinned
    (byte-level chunking is the BPE path's job)."""
    from task_on_dataframes_spark.operators.text import chunk_text

    docs = _docs(spark, [(1, "你好世界这是一个没有空格的长句子"), (2, "a b c d e")])
    out = chunk_text(docs, "doc_id", "text", chunk_tokens=2).collect()
    cjk = [r for r in out if r["doc_id"] == 1]
    assert len(cjk) == 1 and cjk[0]["chunk"] == "你好世界这是一个没有空格的长句子"
    assert len([r for r in out if r["doc_id"] == 2]) == 3


def test_fuzz_text_stack_on_random_unicode(spark):
    """Seeded random fuzz over a mixed-script alphabet soup: the whole
    per-document stack stays collectable and the dedup invariant
    (identical text => same digest; distinct normalized text => no
    group) holds on arbitrary junk."""
    from task_on_dataframes_spark.operators.dedup import exact_dedup
    from task_on_dataframes_spark.operators.textstats import (
        gopher_quality_gate,
        quality_score,
        token_count_estimate,
        token_stats,
    )

    rng = random.Random(20260815)
    pool = (
        "abc XYZ 012 .,!?/\\|()[]{} \t\n"
        "你好世界漢字 ＡＢ　"  # incl. fullwidth + ideographic space
        "مرحبا שלום Ελλην हिन्दी"
        "​‍⁠﻿"  # zero-width chars
        "\U0001f600\U0001f4a9\U0001f1e6\U0001f1f6"  # emoji + flags
        "éä"  # combining marks
    )
    rows = [
        (i, "".join(rng.choice(pool) for _ in range(rng.randrange(0, 80))))
        for i in range(200)
    ]
    docs = _docs(spark, rows).localCheckpoint()
    for op in (token_stats, quality_score, token_count_estimate,
               gopher_quality_gate):
        got = op(docs, "doc_id", "text").collect()
        assert len(got) == len(rows)
    out = exact_dedup(docs, "doc_id", "text").collect()
    assert sum(r["n_dups"] for r in out) == len(rows)
    # doubling the corpus exactly doubles every group size
    doubled = _docs(spark, rows + [(i + 1000, t) for i, t in rows])
    out2 = {
        r["text_digest"]: r["n_dups"]
        for r in exact_dedup(doubled, "doc_id", "text").collect()
    }
    for r in out:
        assert out2[r["text_digest"]] == 2 * r["n_dups"]


def test_script_id_detects_non_latin_scripts(spark):
    """script_id closes the langid gap the stopword lexicons leave:
    every adversarial script resolves to its Unicode block, word-free
    docs to 'none', and mixed text to the dominant script."""
    from task_on_dataframes_spark.operators.textstats import script_id

    docs = _docs(
        spark,
        UNICODE_DOCS
        + [
            (20, "한국어 텍스트"),
            (21, "ひらがなとカタカナ"),
            (22, "русский текст"),
        ],
    )
    out = {r["doc_id"]: r["script"] for r in script_id(docs, "doc_id", "text").collect()}
    assert out[1] == "cjk"
    assert out[2] == "arabic"
    assert out[4] == "none" and out[5] == "none"
    assert out[9] == "greek"
    assert out[11] == "devanagari"
    assert out[20] == "hangul"
    assert out[21] == "kana"
    assert out[22] == "cyrillic"
    assert out[7] == "latin"          # the x*5000 doc
    assert out[12] == "latin"         # mixed: latin chars dominate


def test_multilingual_curation_pipeline_routes_every_script(spark):
    """End-to-end flagship for the multilingual operators: a CJK
    document must be able to SURVIVE the curation pipeline (the C4
    flagship kills every one at its Latin gates), and each seed doc
    must hit exactly the gate it was built for — including the CJK
    near-dup pair that only the char-shingle LSH stage can see."""
    import __spark_entry__ as entrymod

    out = {
        r["doc_id"]: r
        for r in entrymod.queries()["pipeline_multilingual_curation"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    expected = {
        -1: ("cjk", "near_duplicate"),
        -2: ("cjk", "kept"),
        -3: ("cjk", "duplicate"),
        -4: ("cjk", "kept"),
        -5: ("cjk", "too_short"),
        -6: ("cjk", "repetitive"),
        -7: ("arabic", "kept"),
        -8: ("cyrillic", "kept"),
        -9: ("greek", "kept"),
        -10: ("hangul", "kept"),
        -11: ("none", "no_script"),
        -12: ("latin", "too_short"),
    }
    for did, (script, reason) in expected.items():
        assert out[did]["script"] == script, (did, out[did])
        assert out[did]["reason"] == reason, (did, out[did])
        assert out[did]["kept"] == (reason == "kept")
    # the real (English) corpus still flows through the Latin gates
    corpus = [r for did, r in out.items() if did >= 0]
    assert corpus and all(r["script"] == "latin" for r in corpus)


def test_multilingual_tokens_report_honest_cjk_budgets(spark):
    """The pipeline's n_tokens is a whitespace count: a surviving CJK
    clause scores 1. pipeline_multilingual_tokens must (a) cover
    exactly the kept survivors, (b) report byte-BPE piece counts that
    dwarf the whitespace count on CJK, and (c) never report fewer
    pieces than whitespace tokens anywhere (a merge can at most fuse
    pieces WITHIN a whitespace piece, never across)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    kept_ids = {
        r["doc_id"]
        for r in qs["pipeline_multilingual_curation"](spark, sf).collect()
        if r["reason"] == "kept"
    }
    rows = {
        r["doc_id"]: r
        for r in qs["pipeline_multilingual_tokens"](spark, sf).collect()
    }
    assert set(rows) == kept_ids
    for r in rows.values():
        assert r["bpe_tokens"] >= r["n_tokens"], r
    # the kept CJK seeds (-2, -4) are one whitespace token each but
    # many BPE pieces — the budget the mixer must see
    for did in (-2, -4):
        assert rows[did]["script"] == "cjk"
        assert rows[did]["n_tokens"] <= 2
        assert rows[did]["bpe_tokens"] > 20 * rows[did]["n_tokens"]


def test_byte_bpe_piece_cap_bounds_no_whitespace_documents(spark):
    """Uncapped, a no-whitespace CJK clause is ONE word-table piece,
    making the driver merge loop linear in piece bytes; the
    BPE_PIECE_CHAR_CAP pre-tokenization split bounds it. The cap
    must chunk a long no-space doc, keep every piece's symbol count
    bounded, and the byte-level trainer must still produce a full
    merge table over the capped corpus."""
    from task_on_dataframes_spark.operators.bpe import (
        BPE_PIECE_CHAR_CAP,
        _byte_word_table,
        bpe_train_scalable,
    )

    # 1200 chars, no whitespace, cycling 30 distinct CJK chars so the
    # chunks still contain mergeable pair structure
    cjk = ("雨雪风云山川河流湖海森林草原沙漠岩石火焰冰霜雷电星辰日月天地春夏秋冬" * 40)[:1200]
    docs = _docs(spark, [(1, cjk), (2, "plain latin words here"), (3, cjk[:100])])
    words = _byte_word_table(docs, "text").collect()
    # every piece is capped: <= cap chars -> <= 3*cap UTF-8 bytes ->
    # <= 4 chars of wrapped-hex repr per byte
    max_repr = max(len(r["repr"]) for r in words)
    assert max_repr <= BPE_PIECE_CHAR_CAP * 3 * 4
    # the 1200-char doc must have split into ceil(1200/64) chunks (its
    # 100-char prefix doc adds 2 more, latin words 4 short pieces)
    total_pieces = sum(r["cnt"] for r in words)
    assert total_pieces == -(-1200 // BPE_PIECE_CHAR_CAP) + -(
        -100 // BPE_PIECE_CHAR_CAP
    ) + 4
    out = bpe_train_scalable(docs, "text", merges=8, level="bytes")
    rows = out.collect()
    assert len(rows) == 8
    # byte-level symbols are hex pairs; the top merge must combine two
    # CJK byte symbols (the corpus is CJK-dominated)
    assert all(set(r["merged"]) <= set("0123456789ABCDEF") for r in rows)
