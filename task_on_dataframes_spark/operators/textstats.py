"""Text analysis operators: token stats, quality scoring, language id,
document fingerprinting.

Everything is native column expressions (JVM-side, codegen-friendly);
the stopword lexicons are broadcast literals. Each operator has an
exact DuckDB oracle (hashes are the portable md5 family).
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import hash32

#: tiny per-language stopword lexicons for the n-gram/stopword
#: language-id heuristic
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pour", "dans"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "para"],
}


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count, distinct-token count, char count, and
    mean token length per document."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.round(
            (F.length(F.col(text_col)) - F.size(toks) + 1)
            / F.size(toks),
            4,
        ).alias("mean_token_len"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality signals: stopword ratio, punctuation ratio,
    length score — the usual cheap pre-filters for a training corpus."""
    text = F.col(text_col)
    toks = F.split(F.lower(text), r"\s+")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    )
    n_punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(n_stop / n_tokens, 6).alias("stopword_ratio"),
        # NULL, not a crash, for the empty document (ANSI division by
        # zero) — pinned by the unicode robustness suite
        F.when(
            F.length(text) > 0, F.round(n_punct / F.length(text), 6)
        ).alias("punct_ratio"),
        F.round(
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)), 6
        ).alias("length_score"),
    )


def lang_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Stopword-overlap language id: count lexicon hits per language,
    predict the argmax (ties break in lexicon declaration order).
    ``keep_cols`` ride through unchanged (e.g. a gold label for a
    downstream confusion matrix)."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    scores = []
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).alias(
                f"score_{lang}"
            )
        )
    scored = df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], *scores
    )
    langs = list(STOPWORDS)
    pred: Column = F.lit(langs[-1])
    best: Column = F.col(f"score_{langs[-1]}")
    for lang in reversed(langs[:-1]):
        cond = F.col(f"score_{lang}") >= best
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


#: Unicode-script character classes (BMP ranges — one UTF-16 unit per
#: char, so Spark's length() and DuckDB's length() agree), in argmax
#: tie-break declaration order. Java regex and RE2 both accept the
#: \x{...} range syntax, so the oracle replays these byte-for-byte.
SCRIPT_RANGES = [
    ("latin", "A-Za-z"),
    ("cjk", r"\x{4e00}-\x{9fff}"),
    ("arabic", r"\x{0600}-\x{06ff}"),
    ("cyrillic", r"\x{0400}-\x{04ff}"),
    ("greek", r"\x{0370}-\x{03ff}"),
    ("devanagari", r"\x{0900}-\x{097f}"),
    ("hangul", r"\x{ac00}-\x{d7af}"),
    ("kana", r"\x{3040}-\x{30ff}"),
]


def script_id(
    df: DataFrame, id_col: str, text_col: str, prefix: int = 512
) -> DataFrame:
    """SCRIPT-based language detection — the companion
    :func:`lang_id` needs for non-Latin corpora (its stopword lexicons
    are Latin-only, so CJK/RTL text scores zero everywhere; the
    unicode robustness suite pins that fallback). Counts characters
    per Unicode script block with scan-stage ``regexp_replace`` (one
    pass per script, fused into the document scan, zero shuffle/UDF)
    and predicts the argmax (ties and all-zero fall to declaration
    order / 'none'). At 100 TB this is pure per-row string arithmetic.

    Classification reads a ``prefix``-character sample (CLD-style —
    language ID needs a sample, not the whole document): the eight
    class passes over full multi-KB texts were the dominant cost at
    10x data (~8 s at sf1) and a 512-char prefix decides the same
    script for any monolingual document at ~1/6 the work. Pass
    ``prefix=0`` to scan everything.

    Execution shape: the counts build
    ONE named array<struct(n, ni)> column and the argmax is a
    scan-stage ``array_max`` over it (struct ordering: highest count
    wins, ties fall to the lowest declaration index via ``ni = -i``).
    Three rejected shapes, all measured: (a) a chained when() fold
    over count COLUMNS re-ran each class regex ~2x — Catalyst inlines
    every count expression into each comparison (8.4 s vs 4.2 s at
    sf1); (b) an explode + groupBy argmax pays a
    map-side Sort + SortAggregate + a corpus Exchange + reduce Sort
    (``first()``'s string buffer keeps it off HashAggregate), AND
    ``InferFiltersFromGenerate`` infers an always-true
    ``size(entries) > 0`` filter that predicate pushdown inlines
    BELOW the projection, re-running all 8 regexes per row a second
    time; (c) ``array_max`` is evaluated once because the entries
    producer is a named non-cheap alias referenced 9x, which blocks
    CollapseProject from inlining it (the same named-column
    discipline as the c3 gram array in
    :func:`multilingual_curation_verdicts`). This form is pure
    scan-stage: zero shuffles, zero sorts, each regex exactly once.

    Output: (id, n_<script>... , script) — counts are PREFIX counts."""
    text = F.col(text_col)
    if prefix > 0:
        text = F.substring(text, 1, prefix)
    # struct field order (n, ni) drives array_max's comparison:
    # argmax count, first-declared script wins ties
    entries = F.array(
        *[
            F.struct(
                F.length(F.regexp_replace(text, f"[^{rng}]", "")).alias(
                    "n"
                ),
                F.lit(-i).alias("ni"),
            )
            for i, (_name, rng) in enumerate(SCRIPT_RANGES)
        ]
    )
    staged = df.select(F.col(id_col), entries.alias("entries"))
    picked = staged.select(
        F.col(id_col),
        *[
            F.element_at("entries", i + 1)["n"].alias(f"n_{name}")
            for i, (name, _rng) in enumerate(SCRIPT_RANGES)
        ],
        F.array_max("entries").alias("m"),
    )
    case: Column = F.lit(SCRIPT_RANGES[-1][0])
    for i in range(len(SCRIPT_RANGES) - 2, -1, -1):
        case = F.when(
            -F.col("m.ni") == i, F.lit(SCRIPT_RANGES[i][0])
        ).otherwise(case)
    return picked.select(
        F.col(id_col),
        *[f"n_{name}" for name, _rng in SCRIPT_RANGES],
        F.when(F.col("m.n") > 0, case).otherwise(F.lit("none")).alias(
            "script"
        ),
    )


def multilingual_curation_verdicts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    min_chars: int = 40,
    min_stopword_ratio: float = 0.015,
    top2_threshold: float = 0.20,
    dup3_threshold: float = 0.18,
    char_dup3_threshold: float = 0.30,
    prefix: int = 512,
) -> DataFrame:
    """Script-ROUTED curation verdicts — the multilingual form of
    :func:`curation_verdicts`, whose Latin-stopword + whitespace-token
    gates reject every CJK/RTL document no matter its quality (the
    unicode suite pins that). Routing and gates:

    * script identification first (:func:`script_id`'s prefix-sampled
      per-script character counts, same declaration-order argmax);
      no recognized script -> ``no_script``;
    * Latin documents take WORD gates: whitespace-token count >=
      ``min_tokens``, Gopher-style top-2-gram / duplicate-3-gram
      repetition cuts, and a MULTILINGUAL stopword gate — the best
      score across all stopword lexicons (en/de/fr/es), so a German
      document is not rejected for failing the English lexicon;
    * non-whitespace/non-Latin scripts take CHARACTER gates:
      non-whitespace char count >= ``min_chars`` and a duplicate
      char-3-gram fraction cut over the ``prefix``-char sample (word
      gates are undefined when a sentence is one whitespace token);
    * exact duplicates (normalized digest, keep min id) last.

    Returns (id, script, n_tokens, n_chars, reason, kept_pre) where
    ``reason`` is the first failing gate or ``kept_pre`` — the
    NEAR-dup stage (char-shingle LSH over survivors) composes on top
    in the registry's ``pipeline_multilingual_curation``, which
    documents the full priority order.

    Plan shape: ONE corpus scan computes every per-row signal
    and the script argmax — the scan-stage ``array_max`` form shared
    with :func:`script_id` (see its docstring for the two rejected
    shapes and their measured costs) — so the ONLY shuffle in the
    whole verdict computation is the digest window. Zero UDFs, zero
    joins of the corpus to itself, zero aggregations."""
    from pyspark.sql import Window

    text = F.col(text_col)
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    nm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    digest = F.md5(nm)
    sample = F.substring(text, 1, prefix)
    # struct field order (n, ni): array_max's struct comparison is
    # the argmax with first-declared-wins ties (same form as
    # script_id — see its docstring for the three rejected shapes)
    entries = F.array(
        *[
            F.struct(
                F.length(
                    F.regexp_replace(sample, f"[^{rng}]", "")
                ).alias("n"),
                F.lit(-i).alias("ni"),
            )
            for i, (_name, rng) in enumerate(SCRIPT_RANGES)
        ]
    )
    def _score(words: List[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(F.col("toks"), lambda t: F.array_contains(arr, t))
        )

    score_cols = [
        (f"score_{lang}", _score(words))
        for lang, words in STOPWORDS.items()
    ]
    # char 3-grams over the prefix of the NORMALIZED text — the
    # repetition signal for scripts where a clause is one token. The
    # prefix MUST be a named column from the projection below before
    # the gram lambda touches it: HOF lambdas are interpreted and
    # Catalyst inlines a referenced expression into every element
    # evaluation, so an inline prefix re-ran the full
    # trim(regexp_replace(lower(text))) normalize ~510x per document —
    # measured 28 s at sf1 for the whole pipeline, 2.3x this one
    # mistake (the script_id/BM25 inlining lesson yet again)
    c3 = F.when(
        F.length("p2") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length("p2") - 2),
            lambda i: F.col("p2").substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # every signal is a named column BEFORE anything references it
    # twice: g2/g3/c3 are gram ARRAYS consumed by multiple size/
    # distinct/aggregate expressions, and an inline producer gets
    # re-evaluated per reference (dup3c's c3 transform — 510
    # substrings/row — is inlined FOUR times if _dup_frac(c3) takes
    # the expression instead of a column). The
    # script argmax is the scan-stage array_max form shared with
    # script_id (see its docstring for the rejected explode+groupBy
    # shape: SortAggregate + corpus Exchange + an inferred
    # size(entries)>0 filter that re-ran all 8 regexes per row).
    #
    # Gate signals are BRANCH-CONDITIONAL (don't compute what you
    # throw away): a document consumes either the
    # WORD gates (Latin: stopword filters, g2/g3 gram arrays — ~6
    # interpreted HOF passes over the token array) or the CHAR gates
    # (non-Latin: the 510-substring c3 transform + dedup), never
    # both, and ``reason`` only ever reads top2/dup3/best_stop under
    # ``is_latin`` and dup3c under ``~is_latin``. The argmax is
    # therefore computed FIRST (one select earlier) and each branch's
    # array producers are wrapped in when(lat, ...)/when(~lat, ...),
    # so the per-row conditional skips the unused branch's work
    # entirely (NULL flows to a signal no gate reads — verdict
    # unchanged, oracle-checked). On a Latin-dominant corpus this
    # skips the c3 work on ~every row.
    lat = (F.col("m")["n"] > 0) & (F.col("m")["ni"] == 0)
    staged = (
        df.select(
            F.col(id_col),
            digest.alias("digest"),
            toks.alias("toks"),
            F.length(F.regexp_replace(text, r"\s", "")).alias("n_chars"),
            F.substring(nm, 1, prefix).alias("p2"),
            entries.alias("entries"),
        )
        .select(
            F.col(id_col),
            "digest",
            "toks",
            "n_chars",
            "p2",
            F.array_max("entries").alias("m"),
        )
        .select(
            F.col(id_col),
            "digest",
            F.size("toks").alias("n_tokens"),
            "n_chars",
            *[F.when(lat, sc).alias(sc_name) for sc_name, sc in score_cols],
            F.when(lat, _grams(F.col("toks"), 2)).alias("g2"),
            F.when(lat, _grams(F.col("toks"), 3)).alias("g3"),
            F.when(~lat, c3).alias("c3"),
            "m",
        )
        .select(
            F.col(id_col),
            "digest",
            "n_tokens",
            "n_chars",
            F.greatest(
                *[F.col(f"score_{lang}") for lang in STOPWORDS]
            ).alias("best_stop"),
            F.when(
                F.size("g2") > 0,
                F.round(_top_count(F.col("g2")) / F.size("g2"), 6),
            ).otherwise(F.lit(0.0)).alias("top2"),
            _dup_frac(F.col("g3")).alias("dup3"),
            _dup_frac(F.col("c3")).alias("dup3c"),
            "m",
        )
    )
    case: Column = F.lit(SCRIPT_RANGES[-1][0])
    for i in range(len(SCRIPT_RANGES) - 2, -1, -1):
        case = F.when(
            -F.col("m.ni") == i, F.lit(SCRIPT_RANGES[i][0])
        ).otherwise(case)
    sig = staged.select(
        F.col(id_col),
        "digest",
        "n_tokens",
        "n_chars",
        F.when(F.col("m.n") > 0, case).otherwise(F.lit("none")).alias(
            "script"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("best_stop") / F.col("n_tokens"), 6),
        ).otherwise(F.lit(0.0)).alias("stop_ratio"),
        "top2",
        "dup3",
        "dup3c",
    ).withColumn(
        "rep_id", F.min(id_col).over(Window.partitionBy("digest"))
    )
    is_latin = F.col("script") == "latin"
    reason = (
        F.when(F.col("script") == "none", F.lit("no_script"))
        .when(
            is_latin & (F.col("n_tokens") < min_tokens), F.lit("too_short")
        )
        .when(
            ~is_latin & (F.col("n_chars") < min_chars), F.lit("too_short")
        )
        .when(
            is_latin
            & (
                (F.col("top2") > top2_threshold)
                | (F.col("dup3") > dup3_threshold)
            ),
            F.lit("repetitive"),
        )
        .when(
            ~is_latin & (F.col("dup3c") > char_dup3_threshold),
            F.lit("repetitive"),
        )
        .when(
            is_latin & (F.col("stop_ratio") < min_stopword_ratio),
            F.lit("low_stopword"),
        )
        .when(F.col("rep_id") != F.col(id_col), F.lit("duplicate"))
        .otherwise(F.lit("kept_pre"))
    )
    return sig.select(
        id_col,
        "script",
        "n_tokens",
        "n_chars",
        reason.alias("reason"),
    )


#: GPT-2-flavored pre-tokenizer, restricted to syntax that Java regex
#: (Spark) and RE2 (DuckDB) match identically: contractions, letter
#: runs, short digit runs, punctuation runs, whitespace — each with an
#: optional leading space, like BPE vocabularies encode it
BPE_ISH_PATTERN = r"'[a-z]{1,2}| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9\s]+|\s+"


def token_count_estimate(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """LLM-budget token estimate per document: whitespace tokens and
    BPE-ish pieces (``regexp_extract_all`` against the pre-tokenizer
    pattern — single-pass, JVM-side, no UDF), plus chars-per-piece,
    the usual sanity signal that a document is tokenizer-hostile."""
    text = F.col(text_col)
    pieces = F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)
    n_pieces = F.size(F.filter(pieces, lambda p: p.rlike(r"\S")))
    return df.select(
        F.col(id_col),
        F.size(F.split(text, r"\s+")).alias("n_ws_tokens"),
        n_pieces.alias("n_bpe_pieces"),
        # NULL for piece-free documents (empty/whitespace-only) — ANSI
        # mode otherwise raises on the zero divisor
        F.when(
            n_pieces > 0, F.round(F.length(text) / n_pieces, 4)
        ).alias("chars_per_piece"),
    )


#: PII scrub patterns, restricted to the Java-regex/RE2 common subset
#: so the DuckDB oracle matches byte-for-byte. Order matters: emails
#: before URLs (an address inside a mailto: URL is redacted as email),
#: single-char tokens last (they never overlap the others).
PII_PATTERNS: List[tuple] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("url", r"https?://[^\s]+", "[URL]"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "[PHONE]"),
    # live pattern on the synthetic corpus: lone single-letter tokens —
    # exercises \b word-boundary + replacement on rows that DO match
    ("single_char", r"\b[a-z]\b", "[TOK]"),
]


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Training-corpus PII scrub: replace emails / URLs / phone numbers
    (and, as a live-data control, lone single-char tokens) with typed
    placeholders, reporting per-document match counts and the redacted
    length. Pure ``regexp_replace``/``regexp_count`` column expressions
    — single pass, JVM-side, zero shuffle; at 100 TB this is a
    map-only stage fused into whatever scan feeds it."""
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = text
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.select(
        F.col(id_col),
        *counts,
        F.length(redacted).alias("redacted_len"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing (the plagiarism/near-dup fingerprint selection of
    Schleimer-Wilkerson-Aiken): hash every character ``shingle``-gram,
    then keep the MINIMUM hash of each sliding ``window`` of
    consecutive gram hashes; the distinct minima are the document's
    fingerprints. Guarantees any shared substring of length
    ``shingle + window - 1`` produces at least one shared fingerprint,
    while storing ~2/(window+1) of all gram hashes.

    Pure array arithmetic in the scan stage (gram hashes, per-window
    minima and dedup are all `transform`/`array_distinct` on one row) —
    zero shuffle; the explode feeds whatever keyed consumer follows
    (typically a fingerprint-bucket self-join, same shape as LSH)."""
    norm_ = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col), norm_.alias("__n"))
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.length("__n") - shingle + 1, F.lit(1))
        ),
        lambda i: F.col("__n").substr(i, F.lit(shingle)),
    )
    with_h = base.select(
        F.col(id_col),
        F.transform(grams, lambda g: hash32(g)).alias("__h"),
    )
    mins = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("__h") - window + 1, F.lit(1))
            ),
            lambda i: F.array_min(F.slice("__h", i, window)),
        )
    )
    return with_h.select(
        F.col(id_col), F.explode(mins).alias("fingerprint")
    )


def doc_fingerprint(
    df: DataFrame, id_col: str, text_col: str, shingle: int = 8
) -> DataFrame:
    """Two fingerprints per document:

    * ``digest`` — md5 of the normalized text (exact-dup key);
    * ``min_shingle_hash`` — minimum portable hash over all character
      ``shingle``-grams (a 1-permutation minhash / winnowing-lite
      signature, robust to small edits).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    with_norm = df.select(F.col(id_col), norm.alias("norm"))
    # substring with a dynamic start needs Column.substr
    grams = with_norm.select(
        F.col(id_col),
        F.col("norm"),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("norm") - shingle + 1, F.lit(1)),
                ),
                lambda i: F.col("norm").substr(i, F.lit(shingle)),
            )
        ).alias("gram"),
    )
    return grams.groupBy(id_col).agg(
        F.first(F.md5(F.col("norm"))).alias("digest"),
        F.min(hash32(F.col("gram"))).alias("min_shingle_hash"),
    )


def _grams(toks: Column, n: int) -> Column:
    """Token n-grams as a per-row array (no explode)."""
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", *parts(i)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _dup_frac(arr: Column) -> Column:
    total = F.size(arr)
    return F.when(
        total > 0,
        F.round((total - F.size(F.array_distinct(arr))) / total, 6),
    ).otherwise(F.lit(0.0))


def _top_count(arr: Column) -> Column:
    """Longest equal-run of the sorted array == max element count."""
    return F.aggregate(
        F.sort_array(arr),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top2_threshold: float = 0.20,
    dup3_threshold: float = 0.18,
) -> DataFrame:
    """Gopher-style within-document repetition measures (Rae et al.
    2021, "Scaling Language Models", Table A1 analogs) — the filters a
    pretraining pipeline applies before dedup:

    * ``dup_line_frac`` — fraction of newline-separated lines that are
      repeats of an earlier line;
    * ``dup_token_frac`` — fraction of whitespace tokens that are
      repeats;
    * ``top_2gram_frac`` — share of the most frequent token bigram
      among all bigrams;
    * ``dup_2gram_frac`` / ``dup_3gram_frac`` — fraction of n-grams
      that are repeats of an earlier identical n-gram;
    * ``is_repetitive`` — the filter verdict at the given thresholds
      (token-fraction analogs of Gopher's 0.20 top-2-gram / 0.18
      duplicate-3-gram character fractions).

    Everything is per-row array arithmetic in the scan stage — zero
    shuffle, zero UDF. The top-bigram count folds over the SORTED gram
    array (longest equal-run), so no explode/groupBy is needed; at
    100 TB this operator fuses into the document scan like the other
    textstats.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda l: F.trim(l) != ""
    )

    grams = lambda n: _grams(F.col("toks"), n)
    dup_frac = _dup_frac
    top_count = _top_count

    staged = df.select(
        F.col(id_col),
        toks.alias("toks"),
        lines.alias("lines"),
    ).select(
        F.col(id_col),
        F.col("toks"),
        F.col("lines"),
        grams(2).alias("g2"),
        grams(3).alias("g3"),
    )
    out = staged.select(
        F.col(id_col),
        F.size("toks").alias("n_tokens"),
        dup_frac(F.col("lines")).alias("dup_line_frac"),
        dup_frac(F.col("toks")).alias("dup_token_frac"),
        F.when(
            F.size("g2") > 0,
            F.round(top_count(F.col("g2")) / F.size("g2"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_2gram_frac"),
        dup_frac(F.col("g2")).alias("dup_2gram_frac"),
        dup_frac(F.col("g3")).alias("dup_3gram_frac"),
    )
    return out.withColumn(
        "is_repetitive",
        (F.col("top_2gram_frac") > top2_threshold)
        | (F.col("dup_3gram_frac") > dup3_threshold),
    )


#: stopwords whose presence Gopher's quality table requires (Rae et al.
#: 2021 use {the, be, to, of, and, that, have, with}; trimmed to the
#: members that occur in this corpus's lexicon so the flag can split)
GOPHER_REQUIRED_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def gopher_quality_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.80,
    min_stop_hits: int = 2,
    max_top_token_frac: float = 0.10,
    max_dup_2gram_frac: float = 0.05,
) -> DataFrame:
    """Gopher-style document-QUALITY gate (Rae et al. 2021 Table A1's
    quality rows — the companion to :func:`repetition_stats`, which
    covers the repetition rows): word-count bounds, mean word length
    bounds, fraction of words containing an alphabetic character,
    required-stopword hits, most-common-token share, and duplicate
    bigram share, each emitted as a measure plus a boolean flag, and
    ``gopher_pass`` as the conjunction — the per-document verdict a
    pretraining pipeline computes on every crawl document before any
    dedup or model-based scoring.

    Thresholds default to the paper's where this corpus exercises them
    (50–100k words, mean word length 3–10, 80 % alphabetic, ≥2 required
    stopwords); the top-token / dup-bigram cuts are token-fraction
    analogs chosen to split this corpus (the paper's are character
    fractions over n-grams, covered by :func:`repetition_stats`).

    Scale: every measure is per-row array arithmetic fused into the
    document scan — zero shuffle, zero UDF, zero explode. The
    most-common-token count folds over the sorted token array
    (longest equal-run) instead of a groupBy. At 100 TB this is one
    pass over the text column.
    """
    # drop empty strings after the split: leading/trailing whitespace
    # otherwise inflates n_words and deflates alpha_word_frac /
    # top_token_frac relative to Gopher's word-based definitions
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    staged = df.select(
        F.col(id_col),
        toks.alias("toks"),
        F.length(
            F.regexp_replace(F.col(text_col), r"\s", "")
        ).alias("nc"),
    ).select(
        F.col(id_col),
        F.col("toks"),
        F.col("nc"),
        _grams(F.col("toks"), 2).alias("g2"),
    )
    n = F.size("toks")
    # word-free documents (empty / whitespace-only) divide by zero
    # under ANSI mode: emit NULL measures and let the flags coalesce
    # to False below, so the gate REJECTS rather than crashes — the
    # unicode robustness suite pins this
    mwl = F.when(n > 0, F.col("nc") / n)
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]"))) / n,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.col("toks")),
            F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS]),
        )
    )
    top_frac = F.when(n > 0, _top_count(F.col("toks")) / n)
    dup2 = F.when(
        F.size("g2") > 0,
        (F.size("g2") - F.size(F.array_distinct("g2"))) / F.size("g2"),
    ).otherwise(F.lit(0.0))
    measured = staged.select(
        F.col(id_col),
        n.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        F.round(top_frac, 6).alias("top_token_frac"),
        F.round(dup2, 6).alias("dup_2gram_frac"),
        # raw (unrounded) comparisons — integer/integer IEEE division is
        # bit-identical on every engine, so the flags replay exactly
        ((n >= min_words) & (n <= max_words)).alias("flag_words"),
        F.coalesce(
            (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len),
            F.lit(False),
        ).alias("flag_word_len"),
        F.coalesce(alpha_frac >= min_alpha_frac, F.lit(False)).alias(
            "flag_alpha"
        ),
        (stop_hits >= min_stop_hits).alias("flag_stopwords"),
        F.coalesce(top_frac <= max_top_token_frac, F.lit(False)).alias(
            "flag_top_token"
        ),
        (dup2 <= max_dup_2gram_frac).alias("flag_dup_2gram"),
    )
    return measured.withColumn(
        "gopher_pass",
        F.col("flag_words")
        & F.col("flag_word_len")
        & F.col("flag_alpha")
        & F.col("flag_stopwords")
        & F.col("flag_top_token")
        & F.col("flag_dup_2gram"),
    )


#: fixed-point scale for classifier weights — integer 1e-4 units keep
#: the feature fold in exact int64 arithmetic on every engine
FP_SCALE = 10_000


def hashed_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights_fp: Sequence[int],
    intercept_fp: int = 0,
) -> DataFrame:
    """Fasttext-style linear classifier over hashed bag-of-words
    features — the model-based quality filter pattern (score every
    document with a tiny linear model, keep what clears a threshold).

    Each token hashes (portable md5) into one of ``len(weights_fp)``
    buckets; the document logit is ``intercept + sum(weights[bucket])``
    over tokens with multiplicity. Weights are integer fixed-point
    (1e-4 units) so the per-document fold is exact int64 arithmetic —
    bit-identical at any parallelism and replayable by a SQL oracle.

    Scale shape: zero shuffle — the fold runs inside the scan via a
    higher-order ``aggregate`` over the token array; the weight vector
    is an array literal (broadcast with the plan). Real models with
    2**20-dim weight tables would broadcast a lookup DataFrame instead;
    the hash/fold plumbing is identical."""
    d = len(weights_fp)
    warr = F.array(*[F.lit(int(w)).cast("bigint") for w in weights_fp])
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    z = F.aggregate(
        toks,
        F.lit(int(intercept_fp)).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(warr, (hash32(t) % d).cast("int") + F.lit(1)),
    )
    return df.select(
        F.col(id_col),
        z.alias("z_fp"),
        (z / F.lit(float(FP_SCALE))).alias("score"),
        (z > 0).alias("is_positive"),
    )


def curation_verdicts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.015,
    top2_threshold: float = 0.20,
    dup3_threshold: float = 0.18,
) -> DataFrame:
    """End-to-end C4/Gopher-style curation verdict in ONE scan + ONE
    shuffle: language gate (stopword-lexicon argmax), length gate,
    stopword-ratio gate, repetition gate (Gopher top-2-gram /
    duplicate-3-gram), and exact-duplicate gate (keep the min-id doc
    per normalized-text digest). Returns (id, pred_lang, n_tokens,
    reason, kept) where ``reason`` is the FIRST failing gate in that
    priority order, or 'kept'.

    The component operators (:func:`lang_id`, :func:`quality_score`,
    :func:`repetition_stats`) each project the same scan; joining
    their outputs would shuffle the corpus three times, so this
    pipeline recomputes the signals inside a single projection — the
    only shuffle is the duplicate window on the digest. That is the
    shape a 100 TB curation pass must have.
    """
    from pyspark.sql import Window

    text = F.col(text_col)
    toks = F.split(F.lower(text), r"\s+")
    digest = F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))

    score_cols = []
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        score_cols.append(
            F.size(
                F.filter(F.col("toks"), lambda t: F.array_contains(arr, t))
            ).alias(f"score_{lang}")
        )
    staged = df.select(
        F.col(id_col), digest.alias("digest"), toks.alias("toks")
    ).select(
        F.col(id_col),
        "digest",
        F.size("toks").alias("n_tokens"),
        *score_cols,
        _grams(F.col("toks"), 2).alias("g2"),
        _grams(F.col("toks"), 3).alias("g3"),
    )

    # argmax with the same tie order as lang_id
    langs = list(STOPWORDS)
    pred: Column = F.lit(langs[-1])
    best: Column = F.col(f"score_{langs[-1]}")
    for lang in reversed(langs[:-1]):
        cond = F.col(f"score_{lang}") >= best
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)

    sig = staged.select(
        F.col(id_col),
        "digest",
        "n_tokens",
        pred.alias("pred_lang"),
        F.round(F.col("score_en") / F.col("n_tokens"), 6).alias(
            "stopword_ratio"
        ),
        F.when(
            F.size("g2") > 0,
            F.round(_top_count(F.col("g2")) / F.size("g2"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top2"),
        _dup_frac(F.col("g3")).alias("dup3"),
    ).withColumn(
        "rep_id", F.min(id_col).over(Window.partitionBy("digest"))
    )
    reason = (
        F.when(F.col("pred_lang") != "en", F.lit("lang"))
        .when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(
            F.col("stopword_ratio") < min_stopword_ratio,
            F.lit("low_stopword"),
        )
        .when(
            (F.col("top2") > top2_threshold)
            | (F.col("dup3") > dup3_threshold),
            F.lit("repetitive"),
        )
        .when(F.col("rep_id") != F.col(id_col), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return (
        sig.withColumn("reason", reason)
        .withColumn("kept", F.col("reason") == "kept")
        .select(id_col, "pred_lang", "n_tokens", "reason", "kept")
    )
