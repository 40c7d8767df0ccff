"""Deduplication operators for large-scale text corpora.

Five strategies, all DataFrame-native (no Python in the hot path):

* :func:`exact_dedup` — hash-groupBy on normalized text; one shuffle.
* :func:`minhash_lsh_pairs` — shingle → minhash signature → band →
  bucket self-join → exact-Jaccard verification. The standard
  sub-quadratic near-dup pipeline: only documents sharing an LSH band
  ever meet in a join, so the candidate set stays tiny at 100 TB while
  the verification step stays exact.
* :func:`ngram_jaccard_pairs` — exact Jaccard over word n-grams with a
  document-frequency cut (`max_df`) so ubiquitous shingles don't
  explode the candidate join.
* :func:`simhash_fingerprints` / :func:`simhash_pairs` — 32-bit simhash
  via per-bit weighted sums; near-dup = small Hamming distance. The
  pair generator bands on fingerprint byte-chunks (pigeonhole: Hamming
  <= 3 over 4 chunks guarantees one identical chunk), so it never
  computes the full O(n^2) cross join.
* :func:`embedding_cosine_pairs` — near-dup by embedding cosine; exact
  double-precision arithmetic (bit-identical across engines).

Every hash is the portable md5-based family from :mod:`.hashing`, so
each operator has an exact DuckDB SQL oracle.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import MERSENNE_P, hash32, perm_coeffs
from .index import append_tables, build_tables, committed, compact_tables
from .index import read_committed
from .persist import hold

#: default 1-in-m modulo sampling of the character-shingle universe
#: (see :func:`_char_ngrams`) — shared with the DuckDB oracle renderers
#: in ``registry/dedup.py`` so operator and oracle cannot drift
CHAR_SAMPLE_MOD = 4
#: default mega-bucket cap for star candidate generation (see
#: :func:`lsh_candidates`) — likewise the single source for the oracles
DEFAULT_STAR_BUCKET_CAP = 16

#: contract fingerprint width for the simhash near-dup graph
#: (``dedup_components`` / ``dedup_keep_canonical``). 48 bits over 4
#: chunks gives a 12-bit (4096-bucket) chunk space, so the banded
#: candidate stream scales ~n^2/2^12 instead of the 32-bit n^2/2^8 that
#: the three-point scale fit flagged super-linear at 150k docs
#: (SCALE.md §20: 4.8x fewer candidates, 19x sparser verified graph,
#: 47.5 -> 21.0 s at sf3). The DuckDB oracle renderer parameterizes
#: from these same constants, so operator and oracle cannot drift.
SIMHASH_GRAPH_BITS = 48
#: chunk count for the pigeonhole banding (Hamming <= chunks-1 pairs
#: are guaranteed to share a chunk)
SIMHASH_GRAPH_CHUNKS = 4
#: salt prefixing the second 32-bit hash that supplies fingerprint
#: bits 32..63 (one md5 yields 32 portable bits; a salted second md5
#: yields the rest, identically on both engines)
SIMHASH_HI_SALT = "w48:"

#: banding contract for the CHARACTER-shingle LSH path
#: (``dedup_minhash_char``, the multilingual curation pipeline, and
#: the star recall eval that measures them). (16, 4) left 9/166
#: template-stratum near-dup docs unbanded — every pair at J barely
#: over 0.5 missed all four bands (doc_recall_vs_exact 0.9458);
#: (20, 5) at the same rows-per-band=4 adds a fifth detection chance
#: and measures 0.9819 for +25% signature cost. The WORD
#: path keeps (16, 4) — its bigram shingles are sparser and its eval
#: (dedup_recall_eval) already measures recall 1.0 there.
CHAR_LSH_NUM_PERM = 20
CHAR_LSH_BANDS = 5


def normalized_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    strip leading/trailing space."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One representative (min id) per distinct normalized text, with
    the duplicate count. Single hash-shuffle on the text digest."""
    return (
        df.select(
            F.col(id_col),
            F.md5(normalized_text(F.col(text_col))).alias("text_digest"),
        )
        .groupBy("text_digest")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, token) pairs."""
    return (
        df.select(
            F.col(id_col).alias("did"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )


def _word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (id, word-n-gram) pairs via slide over the token array."""
    toks = df.select(
        F.col(id_col).alias("did"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("ts"),
    )
    # positions 1..len-n+1; join n consecutive tokens with a space.
    # guard: F.sequence(1, 0) would count *down* — emit no shingles for
    # documents shorter than n tokens instead
    grams = toks.select(
        "did",
        F.explode(
            F.when(
                F.size("ts") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - n + 1),
                    lambda i: F.array_join(F.slice("ts", i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("tok"),
    )
    return grams.distinct()


def jaccard_verify(
    candidates: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (a, b) pairs given distinct
    (did, tok) sets; keeps pairs with similarity >= threshold.

    Physical shape: each document's shingle set is packed ONCE into an
    array of ``xxhash64`` 64-bit keys (8-byte keys beat 15-40-byte n-gram text ~3x; collision
    odds n^2/2^65 per document pair — immaterial; the oracle intersects
    raw strings and would surface one as a mismatch), and the
    intersection is ``array_intersect`` evaluated ROW-WISE on the pair.
    Exploding candidates x |shingles(a)| rows through a (b, key)
    sort-merge join instead builds a ~200M-row intermediate at sf3
    that puts ``dedup_minhash_char`` at 266 s for 3.9M candidates; the array form
    returns the identical 4,718 pairs in 8.9 s (measured, SCALE.md §24)
    because the only shuffles are two doc-keyed hash joins whose rows
    carry one packed set each. At 100 TB the pair row carries both
    sampled gram arrays (~|text|/sample_mod x 8 B per side) — bounded
    per row FOR THE SAMPLED CHAR PATH, and the candidate table is
    already star-capped, so the stage is linear in candidates, not
    candidates x set size. Caveat: word-gram consumers
    (``ngram_jaccard_pairs``, ``winnow_pairs``) verify over FULL
    unsampled gram sets, so a giant document in many candidate pairs
    replicates its whole packed array once per pair through the join
    shuffle — a row-size/skew risk the old exploded form spread across
    rows. If a future fit flags those consumers, cap or sample their
    gram sets at pack time.

    Zero-intersection pairs are dropped explicitly (``inter > 0``):
    a hash-key inner join could never emit them, and pinning that
    keeps ``threshold == 0`` callers from suddenly seeing
    jaccard=0.0 rows."""
    packed = pack_shingle_sets(sets)
    pa = packed.select(
        F.col("did").alias("a"), F.col("hks").alias("hka"),
        F.col("sz").alias("sza"),
    )
    pb = packed.select(
        F.col("did").alias("b"), F.col("hks").alias("hkb"),
        F.col("sz").alias("szb"),
    )
    return jaccard_verify_packed(candidates, pa, pb, threshold)


def pack_shingle_sets(sets: DataFrame) -> DataFrame:
    """(did, hks: array<bigint>, sz: bigint) from distinct (did, tok)
    rows — the packed form :func:`jaccard_verify` intersects and the
    row format :func:`build_lsh_index` persists. One shuffle keyed by
    ``did``; ``xxhash64`` packs each shingle to 8 bytes (collision
    analysis in the :func:`jaccard_verify` docstring)."""
    return sets.groupBy("did").agg(
        F.collect_set(F.xxhash64("tok")).alias("hks"),
        F.count(F.lit(1)).alias("sz"),
    )


def jaccard_verify_packed(
    candidates: DataFrame,
    pa: DataFrame,
    pb: DataFrame,
    threshold: float,
    broadcast_left: bool = False,
) -> DataFrame:
    """Verification tail shared by :func:`jaccard_verify` (packs both
    sides itself) and :func:`probe_lsh_index` (the b side comes
    pre-packed from the persisted index): two doc-keyed hash joins,
    row-wise ``array_intersect``, round-6 Jaccard, threshold filter.
    ``pa`` is (a, hka, sza); ``pb`` is (b, hkb, szb).

    The intersect is forced to evaluate EXACTLY ONCE (found by the
    sf10 grow-with-scale fit): written naively, Catalyst pushes
    the ``inter > 0`` / threshold filters INTO the second join's
    condition, where ``array_intersect`` is re-evaluated per row in
    the non-codegen condition path and AGAIN in the output projection
    — 4 occurrences in the physical plan, measured 65-175 s for 18.2M
    candidates at sf10 vs 7-17 s with a single codegen'd evaluation
    (same session, same cached inputs, identical 42,119 output
    pairs). The ``__barrier`` column is a nondeterministic no-op the
    filter references: PushPredicateThroughNonJoin requires every
    projected field to be deterministic and the filter condition to
    be deterministic, so the substitution that duplicates the
    intersect is blocked, and column pruning cannot drop the barrier
    because the filter references it. The filter is semantically
    ``rand(0) > -1`` = always true; the seed pins plan stability
    across sessions and task retries re-draw the same
    sequence, but the result set never depends on the value. A pinned
    plan test asserts the single-evaluation shape AND that
    ``__barrier`` never escapes into the output schema
    (tests/test_plan_shapes.py). Fallback if a Spark upgrade ever
    re-enables the pushdown (the plan test will fail loudly): persist
    the ``once`` frame — ``once.persist()`` materializes the single
    evaluation physically, at the cost of caching candidate-count
    rows."""
    joined = candidates.join(pa, on="a")
    if broadcast_left:
        # the (candidates x pa) product is candidate-sized; hinting it
        # HERE (not on the inputs — a hint does not survive across a
        # join node) pins the b-side join as a BroadcastHashJoin whose
        # streamed side is ``pb``, read in place (probe_lsh_index's
        # broadcast shape)
        joined = F.broadcast(joined)
    joined = joined.join(pb, on="b")
    once = joined.select(
        "a",
        "b",
        "sza",
        "szb",
        F.size(F.array_intersect("hka", "hkb")).alias("inter"),
        F.rand(0).alias("__barrier"),
    )
    return (
        once.filter((F.col("__barrier") > F.lit(-1.0)) & (F.col("inter") > 0))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_signatures(
    tokens: DataFrame, num_perm: int = 16
) -> DataFrame:
    """Per-document minhash signature: k universal-hash minima computed
    in ONE groupBy (single shuffle, map-side partial min).

    The md5 base hash is PRE-PROJECTED once per shingle row before the
    aggregation: inlining
    ``perm_hash(hash32(tok), i)`` into each of the k aggregate inputs
    made every partial-aggregate row evaluate the md5 k times (the
    aggregate codegen path does not share subexpressions across
    aggregate functions the way a projection does); hashing once and
    aggregating k cheap ``(a*h+b) % P`` minima measured ~14% off the
    profile aggregation at sf0.1. Values are bit-identical:
    ``perm_hash(h, i) == (a_i * (h % P) + b_i) % P``."""
    rows = tokens.select(
        "did", (hash32(F.col("tok")) % MERSENNE_P).alias("__h")
    )
    aggs = []
    for i in range(num_perm):
        a, b = perm_coeffs(i)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MERSENNE_P).alias(
                f"mh{i}"
            )
        )
    return rows.groupBy("did").agg(*aggs)


def lsh_band_keys(
    sigs: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    """(did, band_idx, band_key) — band_key is the md5 of the band's
    signature slice, portable across engines."""
    rows = num_perm // bands
    outs = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        outs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("key"),
            )
        )
    return sigs.select(
        "did", F.explode(F.array(*outs)).alias("bk")
    ).select("did", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 2,
    kind: str = "word",
    star: bool = False,
    star_bucket_cap: int = DEFAULT_STAR_BUCKET_CAP,
    sample_mod: int = CHAR_SAMPLE_MOD,
) -> DataFrame:
    """Near-duplicate pairs (a < b, exact Jaccard >= threshold) with
    LSH candidate generation: only documents agreeing on at least one
    band slice are compared. Shingles default to word bigrams — unigram
    sets saturate on small vocabularies and stop discriminating;
    ``kind="char"`` switches to character n-grams for
    non-whitespace-delimited scripts, and ``star=True`` caps
    mega-bucket candidate generation (exact all-pairs up to
    ``star_bucket_cap`` members, bucket-min stars above — see
    :func:`lsh_candidates` for the recall reasoning).

    Jaccard basis: word mode verifies over the FULL shingle universe;
    char mode verifies over the 1-in-``sample_mod`` MODULO-SAMPLED
    shingle universe (see :func:`_char_ngrams`) — an unbiased but
    noisy estimator for short documents with few grams, so char-mode
    threshold decisions are approximate near the cut. Pass
    ``sample_mod=1`` for exact char-universe Jaccard at ~``sample_mod``x
    the shingle volume."""
    # FUSED one-shot path (one shuffle): signatures and packed sets
    # come from ONE _lsh_doc_profile aggregation over the shingles —
    # the same fusion the persisted-index path uses — instead of
    # lsh_candidates' two separate groupBys
    # (minhash_signatures + jaccard_verify's pack_shingle_sets) over a
    # persisted shingle table. Bit-identical values (hashing.py:
    # perm_hash(h,i) == (a_i*(h%P)+b_i)%P; same collect_set pack);
    # one shingle aggregation pass and one shuffle instead of two,
    # and the persist holds one doc-count profile row per document
    # instead of the full shingle table. lsh_candidates keeps its
    # original shape for candidate-only consumers (levenshtein,
    # recall evals).
    if kind == "char":
        toks = _char_ngrams(df, id_col, text_col, shingle_n, sample_mod)
    elif shingle_n > 1:
        toks = _word_ngrams(df, id_col, text_col, shingle_n)
    else:
        toks = _tokens(df, id_col, text_col)
    prof = _lsh_doc_profile(toks, num_perm).persist()
    keys = lsh_band_keys(prof, num_perm, bands).persist()
    if star:
        candidates = star_candidates(keys, star_bucket_cap)
    else:
        ka = keys.select(F.col("did").alias("a"), "band", "key")
        kb = keys.select(F.col("did").alias("b"), "band", "key")
        candidates = (
            ka.join(kb, on=["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
    pa = prof.select(
        F.col("did").alias("a"), F.col("hks").alias("hka"),
        F.col("sz").alias("sza"),
    )
    pb = prof.select(
        F.col("did").alias("b"), F.col("hks").alias("hkb"),
        F.col("sz").alias("szb"),
    )
    return jaccard_verify_packed(candidates, pa, pb, threshold)


def _char_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    sample_mod: int = CHAR_SAMPLE_MOD,
) -> DataFrame:
    """Distinct (id, character-n-gram) pairs over whitespace-normalized
    lowercase text — the shingle basis that works for scripts word
    shingles cannot see (a CJK sentence is ONE whitespace token, so a
    word-bigram set is empty; its character 5-gram set is rich). Both
    Spark ``substr`` and DuckDB ``substr`` index CHARACTERS, not
    bytes, so the oracle replays unicode shingles exactly.

    ``sample_mod`` applies MODULO SAMPLING of the shingle UNIVERSE
    (keep gram iff ``hash32(gram) % sample_mod == 0`` — the standard
    bottom-sketch trick): every position of a document yields a char
    gram, so the raw table is ~|text| rows — ~1.5B at sf1, which
    GC-kills an 8 GiB local JVM.
    Sampling by GRAM VALUE (not per row) keeps the estimator exact on
    the sampled universe — identical docs still share every sampled
    gram (Jaccard 1.0), and the expected Jaccard over a 1/m uniform
    subuniverse is the true Jaccard — while cutting shingle volume,
    shuffle, and persist footprint by ~m. The filter runs scan-stage,
    BEFORE the distinct. ``sample_mod=1`` disables sampling."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col).alias("did"), norm.alias("nm"))
    grams = base.select(
        "did",
        F.explode(
            F.when(
                F.length("nm") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.length("nm") - n + 1),
                    lambda i: F.col("nm").substr(i, F.lit(n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("tok"),
    )
    if sample_mod > 1:
        grams = grams.filter(
            F.pmod(hash32(F.col("tok")), F.lit(sample_mod)) == 0
        )
    return grams.distinct()


def lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    kind: str = "word",
    star: bool = False,
    star_bucket_cap: int = DEFAULT_STAR_BUCKET_CAP,
    sample_mod: int = CHAR_SAMPLE_MOD,
) -> tuple:
    """Minhash-LSH candidate pairs (a < b) plus the persisted shingle
    table they were derived from — the shared front end of every
    verified near-dup strategy (Jaccard, edit distance, ...).
    ``kind="char"`` shingles on character n-grams instead of word
    n-grams — the variant that sees non-whitespace-delimited scripts
    (the unicode suite pins word-shingle blindness on CJK).

    ``star=True`` caps the quadratic bucket self-join with the
    MULTI-PIVOT star (see :func:`star_candidates`): the cap smallest
    ids of every bucket pair with every member, so buckets at or
    under ``star_bucket_cap`` members keep exact ALL-PAIRS candidates
    and mega-buckets (boilerplate/template collisions — measured 29M
    candidate pairs and 158 s of verification at sf1 for char
    shingles under plain all-pairs) contribute cap·|bucket| pairs,
    linear in bucket size.

    The cap's recall cost is MEASURED, not argued:
    ``dedup_star_recall_eval`` found a SINGLE-pivot
    (bucket-min) star recovering only 0.044 of exact template-stratum
    pairs at cap 16 — one collision-placed min failing verification
    dropped whole cliques. The multi-pivot form admits each member
    through the cap smallest ids, which is the id order keep-one
    marking consumes (a doc is marked when some verified SMALLER-id
    near-dup exists), and the same eval now reports doc-level marking
    recall alongside pair recall. Pair-level consumers should still
    size ``star_bucket_cap`` to the largest mutually-near-dup cluster
    whose full pair set matters; doc/cluster-level consumers
    (keep-one marking, connected components) ride the measured
    doc-recall columns."""
    if kind == "char":
        toks = _char_ngrams(df, id_col, text_col, shingle_n, sample_mod)
    elif shingle_n > 1:
        toks = _word_ngrams(df, id_col, text_col, shingle_n)
    else:
        toks = _tokens(df, id_col, text_col)
    # the shingle table has several consumers (signatures, and in the
    # Jaccard path both sides of the verification join plus sizes):
    # persist it so the corpus is shingled once — the staging step
    # every large-scale dedup pipeline pays (MEMORY_AND_DISK, spills
    # instead of recomputing)
    toks = toks.persist()
    sigs = minhash_signatures(toks, num_perm)
    # the band-key frame feeds BOTH sides of the candidate self-join,
    # and Catalyst does not reuse the aliased subplans (no
    # ReusedExchange) — without the persist the 16-min signature
    # aggregation runs twice. The frame is docs x bands rows (id, band,
    # md5 key): document-scale, bounded, far smaller than the shingles.
    keys = lsh_band_keys(sigs, num_perm, bands).persist()
    if star:
        candidates = star_candidates(keys, star_bucket_cap)
    else:
        ka = keys.select(F.col("did").alias("a"), "band", "key")
        kb = keys.select(F.col("did").alias("b"), "band", "key")
        candidates = (
            ka.join(kb, on=["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
    return candidates, toks


def star_candidates(
    keys: DataFrame, star_bucket_cap: int = DEFAULT_STAR_BUCKET_CAP
) -> DataFrame:
    """MULTI-PIVOT star candidate pairs (a < b) from a ``(did, band,
    key)`` band-key table: within every bucket the ``star_bucket_cap``
    smallest-id members are PIVOTS, and candidates are (pivot, member)
    pairs — one rule for both tiers, because a bucket at or under the
    cap has every member ranked <= cap, which is exactly all-pairs,
    while a mega-bucket contributes cap·|bucket| pairs (linear in
    bucket size, the mega-bucket mitigation).

    Multi-pivot, not a single-pivot (bucket-min) star, because
    ``dedup_star_recall_eval`` measured the latter's template-stratum
    cost: one signature-collision min could fail Jaccard verification
    against every true near-dup member and mark NOTHING (pair recall
    0.044 vs exact at cap 16). With cap pivots, a member is admitted
    through the cap smallest ids — for keep-one marking (docs marked
    when some verified smaller-id near-dup exists) that is precisely
    the id order the marking consumes, so doc-level marking recall is
    the metric (measured by the same eval).

    Equivalent characterization used by the eval and the DuckDB
    oracles: pair (a, b) is a candidate iff rank(a) <= cap inside
    some shared bucket (rank = 1-based position of the id in the
    bucket's ascending id order; a < b implies rank(a) < rank(b))."""
    w = Window.partitionBy("band", "key").orderBy("did")
    pivots = (
        keys.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= star_bucket_cap)
        .select(F.col("did").alias("a"), "band", "key")
    )
    members = keys.select(F.col("did").alias("b"), "band", "key")
    return (
        pivots.join(members, on=["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def incremental_lsh_matches(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup matches of a NEW ingest ``batch`` against an EXISTING
    ``corpus`` — the incremental form of :func:`minhash_lsh_pairs`
    (crawl N+1 deduped against the index of crawls 1..N; the reference
    `frame_tasks/basic_tasks.py` has only whole-frame distinct — this
    is the ⊕ production shape). Ids must be globally unique across
    both frames.

    Returns one row per batch document with at least one VERIFIED
    match: ``(id_col, n_matches, max_jaccard)``.

    This is the ONE-SHOT form: both sides shingle and sign in this
    call (single union scan, one signature shuffle) — correct when the
    corpus is seen exactly once, but repeated ingest waves would
    re-sign crawls 1..N on every call. For that production shape use
    :func:`build_lsh_index` (persist the corpus band keys + packed
    shingle sets once per wave, bucketed) and :func:`probe_lsh_index`
    (batch-sized signing, bucketed index join, verify against the
    stored packed sets — no corpus-scale aggregation or shuffle).
    Candidates here still come from an ASYMMETRIC band-key join —
    batch keys probe corpus keys, so there is no corpus self-join.
    """
    tagged = batch.select(
        F.col(id_col), F.col(text_col), F.lit(1).alias("_new")
    ).unionByName(
        corpus.select(F.col(id_col), F.col(text_col), F.lit(0).alias("_new"))
    )
    if shingle_n > 1:
        toks = _word_ngrams(tagged, id_col, text_col, shingle_n)
    else:
        toks = _tokens(tagged, id_col, text_col)
    # shingles feed signatures AND both sides of the verification join
    toks = toks.persist()
    sigs = minhash_signatures(toks, num_perm)
    # (did, band, key, _new): docs x bands rows — the LSH index; the
    # side tag joins back on did (doc-count-sized, one bounded shuffle)
    side = tagged.select(F.col(id_col).alias("did"), "_new")
    keys = lsh_band_keys(sigs, num_perm, bands).join(side, "did").persist()
    ka = keys.filter(F.col("_new") == 1).select(
        F.col("did").alias("a"), "band", "key"
    )
    kb = keys.filter(F.col("_new") == 0).select(
        F.col("did").alias("b"), "band", "key"
    )
    candidates = ka.join(kb, on=["band", "key"]).select("a", "b").distinct()
    pairs = jaccard_verify(candidates, toks, threshold)
    return pairs.groupBy(F.col("a").alias(id_col)).agg(
        F.count(F.lit(1)).cast("int").alias("n_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )


#: bucket count for the persisted LSH corpus index tables. At 100 TB
#: this is sized to the cluster (e.g. 4096); 8 keeps the test-scale
#: layout identical to the s13 bucketed-join contract the plan tests
#: already assert on.
LSH_INDEX_BUCKETS = 8


def _shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Distinct (did, tok) shingle rows — the basis shared by the
    one-shot and the indexed incremental paths."""
    if shingle_n > 1:
        return _word_ngrams(df, id_col, text_col, shingle_n)
    return _tokens(df, id_col, text_col)


def _lsh_doc_profile(toks: DataFrame, num_perm: int) -> DataFrame:
    """ONE aggregation producing everything the LSH index path needs
    per document: ``(did, mh0..mh{k-1}, hks, sz)`` — the minhash
    signature minima AND the packed ``xxhash64`` shingle set.

    Running :func:`minhash_signatures` and :func:`pack_shingle_sets`
    as two separate ``groupBy("did")`` jobs over the same shingle
    frame costs two shuffles and (wherever the shingle frame isn't
    cached) two full shingle explode+distinct passes:
    ``dedup_incremental_lsh`` measured 1.8x slower that way, because
    every probe re-shingled the batch once per branch. Fusing the two aggregations
    keys ONE shuffle by ``did`` (map-side partial min + partial
    collect_set) and leaves a single narrow upstream, so downstream
    consumers branch off a one-row-per-document frame instead of the
    exploded shingle rows.

    Hashes are PRE-PROJECTED once per shingle row (same rationale as
    :func:`minhash_signatures`): the aggregation then
    folds ``num_perm`` cheap ``(a*h+b) % P`` minima plus the packed
    ``collect_set`` instead of re-evaluating the md5 per aggregate
    input — bit-identical values, one md5 per shingle."""
    rows = toks.select(
        "did",
        (hash32(F.col("tok")) % MERSENNE_P).alias("__h"),
        F.xxhash64("tok").alias("__x"),
    )
    aggs = []
    for i in range(num_perm):
        a, b = perm_coeffs(i)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MERSENNE_P).alias(
                f"mh{i}"
            )
        )
    aggs.append(F.collect_set(F.col("__x")).alias("hks"))
    aggs.append(F.count(F.lit(1)).alias("sz"))
    return rows.groupBy("did").agg(*aggs)


#: probe join shape for :func:`probe_lsh_index`: ``"merge"`` pins
#: SMJ-over-buckets (the batch side shuffles+sorts to the index's
#: bucketing; the index reads its pre-bucketed, pre-sorted layout in
#: place), ``"broadcast"`` broadcasts the BATCH side (guide §3.1: the
#: ingest wave is the bounded small side of every probe join, so the
#: batch-side Exchange+Sort disappears and the index scan streams
#: through two BroadcastHashJoins with zero corpus movement either
#: way). Both shapes are value-identical (equi-joins + the same
#: verify tail); the default is the sf0.1/sf1/sf3-adjudicated winner
#: (SCALE.md).
PROBE_LSH_SHAPE = "broadcast"


def build_lsh_index(
    spark,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    name_tag: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    n_buckets: int = LSH_INDEX_BUCKETS,
) -> tuple:
    """Persist the write-once LSH corpus index: the artifact
    :func:`probe_lsh_index` probes so that deduping ingest wave N+1
    never re-shingles or re-signs crawls 1..N (which the one-shot
    :func:`incremental_lsh_matches` does).

    Two bucketed parquet tables (the ``s13_bucketed_join`` layout
    contract — pay the layout once, join shuffle-free forever after):

    * ``tada_lshidx_keys_{name_tag}``: ``(did, band, key, bk)`` — one
      row per document per band; ``bk = band || ':' || key`` is the
      single-column join key, and the table is bucketed AND sorted by
      ``bk`` so a probe join needs no Exchange above the index scan
      (the batch side shuffles to the index's bucketing —
      batch-sized).
    * ``tada_lshidx_sets_{name_tag}``: ``(did, hks, sz)`` — the packed
      ``xxhash64`` shingle arrays :func:`jaccard_verify_packed`
      intersects, bucketed and sorted by ``did`` so verification joins
      shuffle only the candidate side.

    Both tables are partitioned by generation (:mod:`.index`); the
    keys table heads the index and holds its commit. Returns
    ``(keys_table, sets_table)`` names. Idempotent per ``name_tag``: a
    committed index is reused, not rewritten; a pair whose build never
    committed (one of its writes raised) is rebuilt.

    Reference note: the reference engine
    (`frame_tasks/basic_tasks.py`) has only whole-frame distinct; the
    persisted index is the production shape for incremental corpus
    dedup at 100 TB.
    """
    keys_t = f"tada_lshidx_keys_{name_tag}"
    sets_t = f"tada_lshidx_sets_{name_tag}"
    if committed(spark, keys_t):
        return keys_t, sets_t
    cid = corpus.select(
        F.col(id_col).alias("did"), F.col(text_col).alias("text")
    )
    # fused signature+pack aggregation: one shuffle, one shingle pass;
    # the persisted frame is one row per corpus doc
    prof = _lsh_doc_profile(
        _shingles(cid, "did", "text", shingle_n), num_perm
    ).persist()
    # materialize the shared profile once, before the two concurrent
    # table writes read it
    prof.count()
    build_tables(_lsh_specs(prof, keys_t, sets_t, num_perm, bands), n_buckets)
    prof.unpersist()
    return keys_t, sets_t


def _lsh_specs(prof, keys_t, sets_t, num_perm, bands) -> list:
    """The two index-table specs derived from a fused doc profile:
    band keys bucketed by the single-column join key ``bk``, packed
    shingle sets bucketed by ``did``."""
    keys = lsh_band_keys(prof, num_perm, bands).withColumn(
        "bk", F.concat_ws(":", F.col("band").cast("string"), F.col("key"))
    )
    packed = prof.select("did", "hks", "sz")
    return [(keys_t, keys, "bk"), (sets_t, packed, "did")]


def probe_lsh_index(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    keys_table: str,
    sets_table: str,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 2,
    shape: str = PROBE_LSH_SHAPE,
) -> DataFrame:
    """Near-dup matches of a new ingest ``batch`` against the
    PERSISTED corpus index written by :func:`build_lsh_index` — the
    probe-only incremental dedup plan. Output schema matches
    :func:`incremental_lsh_matches`: one row per batch document with a
    verified match, ``(id_col, n_matches, max_jaccard)``.

    Scale shape (every stage batch- or candidate-sized; the corpus
    contributes only pre-bucketed scans, never a shuffle or an
    aggregation):

    1. shingle the BATCH only, then ONE fused aggregation
       (:func:`_lsh_doc_profile`) produces both the minhash signature
       and the packed shingle set per batch doc — a single batch-sized
       shuffle, held (:func:`.persist.hold`) so neither branch
       recomputes it;
    2. candidates = batch band keys joined to the bucketed index keys
       on the single ``bk`` column — the index side reads its buckets
       in place (no Exchange above the scan, asserted in
       tests/test_plan_shapes.py); how the batch side reaches it is
       the ``shape`` choice below;
    3. verify with :func:`jaccard_verify_packed`: the batch side's
       packed sets come from the SAME cached profile, the corpus side
       is the STORED packed-set table bucketed by ``did``, so only
       candidate rows move.

    ``num_perm``/``bands``/``shingle_n`` must match the build call —
    they parameterize the signature the stored keys were computed
    with. ``shape`` (``"broadcast"``/``"merge"``, default
    :data:`PROBE_LSH_SHAPE`) picks the batch-to-index join strategy —
    value-identical either way; see :data:`PROBE_LSH_SHAPE` for the
    adjudication.
    """
    bid = batch.select(
        F.col(id_col).alias("did"), F.col(text_col).alias("text")
    )
    # fused signature+pack profile: both branches below read it, and
    # the returned frame is lazy, so the newest four probe profiles of
    # the session stay held instead of being released here
    prof = hold(
        _lsh_doc_profile(
            _shingles(bid, "did", "text", shingle_n), num_perm
        ),
        "lsh_probe",
        keep=4,
    )
    bkeys = (
        lsh_band_keys(prof, num_perm, bands)
        .select(
            F.col("did").alias("a"),
            F.concat_ws(
                ":", F.col("band").cast("string"), F.col("key")
            ).alias("bk"),
        )
    )
    # Join shape (:data:`PROBE_LSH_SHAPE`): either way the index side
    # reads its pre-bucketed layout in place with no Exchange above the
    # scan (asserted in tests/test_plan_shapes.py) and the corpus is
    # never broadcast — test-SF statistics would otherwise broadcast
    # the INDEX side, the exact corpus-scale materialization the index
    # exists to avoid.
    #
    # * merge: SMJ-over-buckets — the batch/candidate side pays an
    #   Exchange + Sort per join to reach the index's bucketing.
    # * broadcast: the BATCH side (bounded: one ingest wave) is the
    #   build side of both joins (guide §3.1), so the batch-side
    #   Exchanges and every Sort disappear; the index scan streams
    #   through the hash joins. Adjudicated at sf0.1/sf1/sf3
    #   (SCALE.md).
    # one snapshot of the committed generations for both tables
    ikeys, isets = read_committed(spark, keys_table, sets_table)
    ikeys = ikeys.select(F.col("did").alias("b"), "bk")
    pa = prof.select(
        F.col("did").alias("a"),
        F.col("hks").alias("hka"),
        F.col("sz").alias("sza"),
    )
    pb = isets.select(
        F.col("did").alias("b"),
        F.col("hks").alias("hkb"),
        F.col("sz").alias("szb"),
    )
    if shape == "broadcast":
        candidates = (
            ikeys.join(F.broadcast(bkeys), on="bk")
            .select("a", "b")
            .distinct()
        )
        pairs = jaccard_verify_packed(
            F.broadcast(candidates), pa, pb, threshold,
            broadcast_left=True,
        )
    else:
        candidates = (
            bkeys.join(ikeys.hint("merge"), on="bk")
            .select("a", "b")
            .distinct()
        )
        pairs = jaccard_verify_packed(candidates, pa, pb.hint("merge"), threshold)
    return pairs.groupBy(F.col("a").alias(id_col)).agg(
        F.count(F.lit(1)).cast("int").alias("n_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )


def append_lsh_index(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    keys_table: str,
    sets_table: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    n_buckets: int = LSH_INDEX_BUCKETS,
    gen: Optional[str] = None,
) -> None:
    """Fold a deduped ingest ``batch`` INTO the persisted LSH index —
    the maintenance step that completes the index lifecycle
    (:func:`build_lsh_index` once -> :func:`probe_lsh_index` per wave
    -> ``append_lsh_index`` per accepted wave), so wave N+2 finds
    near-dups of wave N+1, not just of the original corpus.

    Scale shape: only the BATCH is shingled, signed, and packed (the
    same batch-sized plan as the probe); the new rows are written as
    one new generation of the SAME tables, committed once both writes
    land (:func:`.index.append_tables`; ``gen`` names it, and an
    already committed ``gen`` makes the call a no-op). The existing
    index files are never read, rewritten, or shuffled: append cost is
    O(batch), independent of corpus size. If a write raises, the
    committed index is unchanged and a retry is safe.

    Contract drift after appends: each append adds one file per
    occupied bucket, so the bucketed scan keeps its no-Exchange
    probe-join guarantee (bucket pruning and co-location are
    file-count-independent) but SMJ now sorts each multi-file bucket
    in place — the probe plan gains a LOCAL Sort, never a shuffle
    (this is the exact regime tests/test_plan_shapes.py already
    allows). :func:`compact_lsh_index` restores the one-file-per-
    bucket layout when accumulated appends make the local sorts
    matter.

    ``num_perm``/``bands``/``shingle_n`` must match the build call —
    they parameterize the stored signatures.
    """
    bid = batch.select(
        F.col(id_col).alias("did"), F.col(text_col).alias("text")
    )
    # the maintain lifecycle probes a wave and then appends the same
    # wave: a plan-equal profile the probe still holds reports its
    # cache and is used as is; otherwise the append persists the
    # profile for exactly the two writes below and releases it
    prof = _lsh_doc_profile(
        _shingles(bid, "did", "text", shingle_n), num_perm
    )
    owned = prof.storageLevel == StorageLevel.NONE
    if owned:
        prof.persist()
    # materialize the (owned or probe-cached) profile, then overlap the
    # two independent table appends
    prof.count()
    append_tables(
        _lsh_specs(prof, keys_table, sets_table, num_perm, bands),
        n_buckets,
        gen,
    )
    if owned:
        prof.unpersist()


def compact_lsh_index(
    spark,
    keys_table: str,
    sets_table: str,
    n_buckets: int = LSH_INDEX_BUCKETS,
) -> None:
    """Rewrite an appended-to LSH index in place, under the same
    names, into one sorted file per bucket (:func:`.index.compact_tables`):
    bounded file listing, one sorted run per bucket for the probe
    SMJ's local sort (appends accumulate one run per wave), and
    sequential scan IO. The local Sort node stays — Spark has not
    claimed bucketed-scan output ordering since 3.0 (SPARK-28632) —
    and the no-Exchange probe contract is unchanged (plan-pinned in
    tests/test_plan_shapes). Cost: one shuffle of the INDEX (band keys
    and packed digests, not corpus text) per compaction window."""
    compact_tables(
        spark, [(keys_table, "bk"), (sets_table, "did")], n_buckets
    )


def levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    max_rel_num: int = 3,
    max_rel_den: int = 10,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: minhash-LSH
    candidate generation (never all pairs), then exact ``levenshtein``
    on the ORIGINAL texts for the surviving candidates only — the
    verification a plagiarism/contamination pipeline wants when token
    sets are too coarse (Jaccard is blind to ordering; edit distance
    is not).

    Keeps pairs with ``dist <= (max_rel_num/max_rel_den) * max(len_a,
    len_b)`` — evaluated as the integer cross-product test ``dist *
    den <= num * max_len`` so the threshold is exact on any engine.
    Levenshtein is O(len_a x len_b) per pair; at scale the LSH front
    end keeps the pair count linear-ish, and each distance is one
    JVM-side evaluation in the join projection (no UDF)."""
    candidates, _ = lsh_candidates(
        df, id_col, text_col, num_perm, bands, shingle_n
    )
    texts = df.select(
        F.col(id_col).alias("did"), F.col(text_col).alias("txt")
    )
    ta = texts.select(F.col("did").alias("a"), F.col("txt").alias("txt_a"))
    tb = texts.select(F.col("did").alias("b"), F.col("txt").alias("txt_b"))
    scored = (
        candidates.join(ta, on="a")
        .join(tb, on="b")
        .select(
            "a",
            "b",
            F.levenshtein("txt_a", "txt_b").alias("dist"),
            F.greatest(
                F.length("txt_a"), F.length("txt_b")
            ).alias("max_len"),
        )
    )
    return (
        scored.filter(
            F.col("dist") * max_rel_den <= max_rel_num * F.col("max_len")
        )
        .select("a", "b", "dist")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.3,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs. Candidate generation joins documents
    on *shared shingles*, after dropping shingles present in more than
    ``max_df`` documents (frequency cut: ubiquitous shingles pair
    everything with everything and carry no signal)."""
    grams = _word_ngrams(df, id_col, text_col, n).persist()
    rare = (
        grams.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("tok")
    )
    filtered = grams.join(F.broadcast(rare), on="tok")
    ga = filtered.select(F.col("did").alias("a"), "tok")
    gb = filtered.select(F.col("did").alias("b"), "tok")
    candidates = (
        ga.join(gb, on="tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # verification runs on the *unfiltered* gram sets (exact Jaccard)
    return jaccard_verify(candidates, grams, threshold)


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Simhash (up to 64 bits): bit j of the fingerprint is the sign of
    the sum of (+count / -count) over tokens whose hash has bit j set.
    One groupBy with ``bits`` conditional sums. The portable md5 hash
    yields 32 bits; bits 32+ read a second, :data:`SIMHASH_HI_SALT`-ed
    hash of the same token (both renderable in the DuckDB oracle)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash bits must be in [1, 64], got {bits}")
    toks = (
        df.select(
            F.col(id_col).alias("did"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .groupBy("did", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", hash32(F.col("tok")))
    )
    if bits > 32:
        toks = toks.withColumn(
            "h2", hash32(F.concat(F.lit(SIMHASH_HI_SALT), F.col("tok")))
        )

    def _bit(j: int) -> Column:
        src, jj = ("h", j) if j < 32 else ("h2", j - 32)
        return F.shiftright(F.col(src), jj) % 2 == 1

    bit_sums = [
        F.sum(F.when(_bit(j), F.col("w")).otherwise(-F.col("w"))).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("did").agg(*bit_sums)
    fp: Column = F.lit(0).cast("bigint")
    for j in range(bits):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0)
    return sums.select("did", fp.alias("simhash"))


def simhash_pairs(
    fps: DataFrame, max_hamming: int = 3, chunks: int = 4, bits: int = 32
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming. Candidates band on
    byte-chunks: with 4 chunks, any pair within Hamming distance 3
    shares at least one identical chunk (pigeonhole), so the self-join
    hits buckets, never the full cross product."""
    width = bits // chunks
    mask = (1 << width) - 1
    # both sides of the chunk-bucket self-join read the fingerprints;
    # persist so the 32-bit-sum aggregation behind them runs once
    # (doc-scale frame: id + one bigint)
    fps = fps.persist()
    chunked = fps.select(
        "did",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        (F.shiftright(F.col("simhash"), c * width) % (mask + 1)).alias(
                            "ck"
                        ),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("did", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    ca = chunked.select(
        F.col("did").alias("a"), F.col("simhash").alias("fa"), "chunk", "ck"
    )
    cb = chunked.select(
        F.col("did").alias("b"), F.col("simhash").alias("fb"), "chunk", "ck"
    )
    return (
        ca.join(cb, on=["chunk", "ck"])
        .filter(F.col("a") < F.col("b"))
        # Hamming filter BEFORE the distinct (result-identical —
        # hamming is a function of the pair): the chunk-bucket join
        # STREAMS ~n^2/2^width candidate rows through codegen, which
        # is pure CPU, but the old order hash-aggregated that whole
        # stream for the dedup and OOMed at 150k docs (caught by the
        # three-point scale fit at sf3); now only true near-dups —
        # a vanishing fraction — ever enter aggregation state. The
        # residual n^2/2^width join CPU is the 8-bit chunk space
        # saturating: past ~10^6 docs, widen the fingerprint
        # (bits=48, chunks=4 -> 4096 buckets) — the banding-width
        # lever, same pigeonhole guarantee for max_hamming <= 3
        .withColumn(
            "hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def _dot_sql(x: str, y: str) -> str:
    return (
        f"aggregate(zip_with(`{x}`, `{y}`, (p, q) -> p * q), "
        "0.0D, (acc, v) -> acc + v)"
    )


def dot(x, y) -> Column:
    """Sequential-fold dot product — bit-identical with DuckDB's
    list_dot_product on DOUBLE[].

    Pass COLUMN NAMES (str) on hot paths: the expression then renders
    as one ``F.expr`` SQL string (one py4j call) instead of the
    Python-lambda higher-order build, which costs ~10 py4j round
    trips per call on the driver (SCALE.md §9a). Same expression tree
    either way.

    This fold IS the fast formulation per pair: an unrolled 64-term
    ``x[1]*y[1] + ...`` chain measured 10x SLOWER inside join stages
    (the wide expression falls out of whole-stage codegen and every
    ``element_at`` re-checks interpretively), while the higher-order
    fold keeps a tight specialized loop. Measured on the sf1 sweep
    (SCALE.md): 42.8s unrolled vs 4.2s fold for the same 6.2M-pair stage.
    What DOES matter per pair: precompute each row's :func:`norm`
    before the join (never re-derive norms per pair) and make sure
    the pair stage is actually parallel (see ``embedding_lsh_pairs``,
    ``clustering.semantic_dedup``)."""
    if isinstance(x, str) and isinstance(y, str):
        return F.expr(_dot_sql(x, y))
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(v) -> Column:
    if isinstance(v, str):
        return F.expr(f"sqrt({_dot_sql(v, v)})")
    return F.sqrt(dot(v, v))


def cosine(va, vb) -> Column:
    """Double-precision cosine similarity of two array<double> columns
    (Column or column-name args — see :func:`dot`).
    In pairwise operators prefer precomputing :func:`norm` per ROW and
    using ``dot(va,vb)/(na*nb)`` — same arithmetic (so oracle results
    are bit-identical), but each vector's own norm is computed once
    instead of once per pair."""
    if isinstance(va, str) and isinstance(vb, str):
        return F.expr(
            f"{_dot_sql(va, vb)} / (sqrt({_dot_sql(va, va)}) * "
            f"sqrt({_dot_sql(vb, vb)}))"
        )
    return dot(va, vb) / (norm(va) * norm(vb))


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows: Optional[int] = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Brute-force O(n^2) formulation — exact, and the verification
    baseline for the LSH-bucketed variant (:func:`embedding_lsh_pairs`)
    which is the 100 TB path. The ``max_rows`` guard refuses inputs
    whose cross product would be a scale-killer (100k rows is already
    5e9 pairs); it exists so this baseline cannot silently run on a
    fact table. Pass ``None`` only in tests/oracles.
    """
    if max_rows is not None:
        n = emb.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"embedding_cosine_pairs is O(n^2) and input has {n}+ rows "
                f"(max_rows={max_rows}); use embedding_lsh_pairs (bucketed, "
                "scale-safe) or raise max_rows explicitly"
            )
    a = emb.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).cast("array<double>").alias("va"),
    ).withColumn("na", norm("va"))
    b = emb.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    ).withColumn("nb", norm("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                dot("va", "vb") / (F.col("na") * F.col("nb")), 5
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _local_components(
    edge_rows: list, node_vals: list
) -> list:
    """Driver-local union-find with min-representative labeling — the
    exact semantics of the distributed star contraction (label = the
    smallest id in the component; Python ``<`` on numeric/ASCII ids
    matches Spark's ordering)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    mn: dict = {}
    for n in node_vals:
        r = find(n)
        if r not in mn or n < mn[r]:
            mn[r] = n
    return [(n, mn[find(n)]) for n in node_vals]


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
    local_edge_cap: int = 200_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by LARGE-STAR/SMALL-STAR alternation
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): every node ends up labeled with the smallest node id in
    its component. Returns ``(member, rep)`` — identical contract to
    the hashmin variant below and to the recursive-CTE oracle.

    Why this beats min-label propagation at scale: hashmin (even with
    pointer doubling) shuffles the FULL edge set every round, so cost
    is rounds x |E|. Star contraction REWRITES the edge set — each
    round replaces edges with pointers toward smaller ids — so the
    working set collapses toward one star per component within a few
    rounds and converges in O(log n) alternations regardless of
    component diameter (a 10k-node chain converges in ~13 rounds; see
    the chain test). Per round:

    * **large-star**: every node s computes ``m = min(neighbors ∪
      {s})`` and its LARGER neighbors re-point to m — computed on the
      (u > v)-oriented table directly (bigger neighbors are never the
      min, so no symmetrization: half the shuffle volume), as a
      map-side-combinable groupBy(min) plus one keyed join back;
    * **small-star**: same min computation over the (u > v)-oriented
      list; every SMALLER neighbor plus u itself re-points to m;
    * the new edge set is distinct-ed, lazily localCheckpoint-ed
      (lineage cut), and materialized by ONE action per round: the
      STRUCTURAL convergence check.

    Convergence is structural, not change-counting: the loop stops
    the first round the edge set is a star forest (no node is both a
    child and a root, no child has two roots — one groupBy over the
    endpoint markers). A star forest is a fixpoint of both
    operations, and since both operations preserve components and
    only ever point edges toward SMALLER ids, each star's root is its
    component's minimum. Checking structure directly is both exact
    (no hash-signature collisions) and one round cheaper than
    compare-to-previous, which must re-run an identical round to see
    "no change". If ``max_iter`` exhausts first, raises (a
    half-contracted forest would silently mislabel keep-one dedup).

    Pass ``stats={}`` to receive ``{"path": "local"|"distributed"}``
    plus, on the distributed path, ``{"rounds": N}`` (the chain test
    asserts rounds << diameter). Below ``local_edge_cap`` deduped
    edges the labeling runs as driver-local union-find (exact same
    output — equivalence-tested): the pair graph is near-dup-sized,
    not corpus-sized, so small corpora skip the iteration entirely
    while anything bigger takes the star loop.
    """
    # ONE materialization of the upstream pair-generation tree (often
    # an expensive LSH/simhash pipeline): both the edge set and the
    # node universe derive from this checkpoint, not from the tree
    base = edges.select(
        F.col(src).alias("x"), F.col(dst).alias("y")
    ).localCheckpoint()
    e = (
        base.filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # node universe up front: isolated nodes (self-loop-only rows) and
    # star roots both label themselves at the end
    all_nodes = (
        base.select(F.explode(F.array("x", "y")).alias("node"))
        .distinct()
        .localCheckpoint()
    )
    # NOTE on cleanup: Dataset.unpersist() only uncaches persist()-ed
    # plans — localCheckpoint blocks live outside the cache manager and
    # are freed by the ContextCleaner when the checkpointed RDD loses
    # its last reference. Rebinding ``e`` each round (and letting
    # ``base`` go out of scope here) is therefore the actual cleanup
    # mechanism; explicit unpersist calls on these frames would be
    # silent no-ops, so none are made.
    # DIMENSION-BOUNDED fast path (the pagerank/BPE locality rule:
    # iterate where the state lives): the pair graph is near-dup-sized,
    # not corpus-sized — when the deduped edge list AND node universe
    # fit the cap, run union-find on the driver. The probes are
    # limit(cap+1) collects against the two checkpoints (the expensive
    # upstream pair generation already ran exactly once into ``base``),
    # so a huge graph pays two cheap truncated reads and falls through
    # to the distributed star contraction below.
    e_probe = e.limit(local_edge_cap + 1).collect()
    if len(e_probe) <= local_edge_cap:
        n_probe = all_nodes.limit(2 * local_edge_cap + 2).collect()
        if len(n_probe) <= 2 * local_edge_cap + 1:
            out = _local_components(
                [(r["u"], r["v"]) for r in e_probe],
                [r["node"] for r in n_probe],
            )
            spark = edges.sparkSession
            node_t = all_nodes.schema["node"].dataType.simpleString()
            if stats is not None:
                stats["path"] = "local"
            # Arrow local frame: component map ships
            # as driver-built Arrow batches — no Python-worker fan-out
            from .localdata import local_frame

            return local_frame(spark, out, f"member {node_t}, rep {node_t}")
    if stats is not None:
        stats["path"] = "distributed"
    vtype = e.schema["v"].dataType
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # large-star: each bigger neighbor b of center s re-points to
        # m(s) = min(N(s) ∪ {s}). No symmetrization needed: bigger
        # neighbors can never BE the min, so m(s) = least(min of s's
        # SMALLER neighbors, s) — and the oriented (u > v) table gives
        # min-smaller-neighbor as a plain groupBy("u").min("v"). Each
        # oriented edge (b, s) then joins s's min on the v side and
        # emits (b, m(s)): half the rows of the symmetrized form, one
        # map-side-combinable groupBy + one keyed join (deliberately
        # NOT a window — a hub's whole neighborhood would buffer/sort
        # in one task, while AQE splits the skewed join). No distinct
        # here: duplicates flow into the next groupBy anyway and the
        # final e_new distinct dedupes.
        mins = e.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            e.join(mins.withColumnRenamed("u", "v"), "v", "left")
            .select(
                "u",
                F.least(
                    F.coalesce("mn", F.col("v")), F.col("v")
                ).alias("v"),
            )
        )
        # small-star: ls output is already (u > v)-oriented (it emits
        # (bigger, min) pairs); smaller neighbors plus u re-point to m
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        so = ls.join(smins, "u")
        e_new = (
            so.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(so.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # structural convergence check — ONE groupBy + count that also
        # materializes the lazy checkpoint: a star forest has no node
        # that is both a child (u-side) and a root (v-side), and no
        # child pointing at two distinct roots
        marks = e_new.select(
            F.col("u").alias("node"), F.col("v").alias("p")
        ).unionAll(
            e_new.select(
                F.col("v").alias("node"),
                F.lit(None).cast(vtype).alias("p"),
            )
        )
        viol = (
            marks.groupBy("node")
            .agg(
                F.countDistinct("p").alias("np"),  # ignores NULL roots
                F.max(F.col("p").isNull().cast("int")).alias("isroot"),
            )
            .filter(
                (F.col("np") > 1)
                | ((F.col("np") > 0) & (F.col("isroot") == 1))
            )
            .count()
        )
        e = e_new  # previous round's checkpoint blocks free via GC
        if viol == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "star-contraction rounds — the edge set is not yet a star "
            "forest and the labels would be WRONG for keep-one dedup; "
            "raise max_iter (convergence is O(log n) rounds)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    members = e.select(F.col("u").alias("member"), F.col("v").alias("rep"))
    selfreps = all_nodes.join(
        e.select(F.col("u").alias("node")), "node", "left_anti"
    ).select(F.col("node").alias("member"), F.col("node").alias("rep"))
    return members.unionAll(selfreps)


def connected_components_hashmin(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by
    iterative min-label propagation: every node ends up labeled with
    the smallest node id in its component (the canonical
    representative for keep-one dedup). Kept as the equivalence twin
    for :func:`connected_components` (star contraction) — hashmin
    shuffles the full edge set every round, so the star variant is the
    production path.

    The loop is driver-coordinated (like GraphFrames): each iteration
    is one keyed join + aggregation, and every iterate is
    ``localCheckpoint``-ed — without the lineage cut, iteration N's
    plan would embed N copies of the upstream pair-generation tree and
    the driver dies re-optimizing it. Each iteration also composes the
    labeling with itself (pointer doubling: label <- label(label)), so
    convergence takes O(log diameter) iterations, not O(diameter) —
    max_iter=20 covers any component of diameter < 2^20. Convergence
    is a count of changed labels; if the loop exhausts max_iter while
    labels still move, the result would be silently WRONG for keep-one
    dedup, so it raises instead of returning. Data volume per
    iteration never exceeds |V| + |E|.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.u == labels.node)
            .groupBy(F.col("v").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: follow the label one more hop (label(label))
        # — every label is itself a node id, so one self-join doubles
        # the propagation distance per iteration
        hop = new_labels.select(
            F.col("node").alias("lnode"), F.col("label").alias("llabel")
        )
        new_labels = (
            new_labels.join(hop, new_labels.label == hop.lnode, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("llabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still moving) — the labels "
            "are NOT component minima; raise max_iter (each iteration "
            "doubles the reachable distance)"
        )
    return labels.select(F.col("node").alias("member"), F.col("label").alias("rep"))


def keep_canonical(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """End-to-end keep-one-per-cluster dedup: given a near-duplicate
    pair graph (from any of the pair generators above), label each
    member with its connected component's minimum id and drop every
    non-representative row from ``df``.

    Scale shape: the removal set is (cluster members - representatives)
    — only documents that participate in a near-dup pair, which is
    dimension-sized relative to the corpus under any realistic dup rate
    — so it broadcasts into a ``left_anti`` join and the corpus never
    shuffles for the filter. Completes the reference-style pipeline:
    pair generation (bucketed), clustering (star-contraction CC), and
    the keep-one cut, all lazy until the survivor frame is consumed.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    removed = cc.filter(F.col("member") != F.col("rep")).select(
        F.col("member").alias(id_col)
    )
    return df.join(F.broadcast(removed), on=id_col, how="left_anti")


def embedding_lsh_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    planes: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, LSH-bucketed — the
    100 TB path: vectors are keyed by their random-hyperplane sign
    bucket, candidate pairs form only *within* a bucket (high-cosine
    pairs land in the same bucket with probability
    ``(1 - theta/pi)^planes``), and exact cosine verifies candidates.
    One shuffle on the bucket id; no all-pairs stage. Recall misses are
    the LSH trade; raise recall by unioning over rotated plane sets.

    Three scale levers, all found by the sf1 sweep (SCALE.md; the naive
    form measured 112x wall for 10x data):

    - each row's norm is computed once BEFORE the join and only the
      fold :func:`dot` runs per pair — the naive per-pair
      ``cosine()`` re-derived both norms for every partner;
    - the probe side REPARTITIONS on (bucket, id): a broadcast join
      inherits the stream side's partitioning, and a dimension-scale
      embeddings scan can be a handful of input splits — leaving the
      whole O(candidate-pairs) verification stage nearly serial while
      31 cores idle. One corpus-linear shuffle buys full-width
      parallelism (and (bucket, id) spreads a hot bucket's rows over
      many tasks instead of pinning it to one);
    - the candidate count itself scales with bucket occupancy (pairs
      ~ n^2 / 2^planes): keep per-bucket density roughly constant by
      growing ``planes`` ~ log2(n) as the corpus grows.
    """
    from .similarity import hyperplane_bucket

    v = (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("bucket", hyperplane_bucket("v", dims, planes))
        .withColumn("nrm", norm("v"))
    )
    # both self-join sides read the bucketed frame; persist so the
    # hyperplane projection scan runs once (the staging step of any
    # bucketed self-join — MEMORY_AND_DISK, spills instead of recompute)
    v = v.persist()
    # explicit partition count: AQE would coalesce a columns-only
    # repartition of a dimension-scale input back to one partition,
    # re-serializing the pair stage this shuffle exists to spread
    nparts = int(
        emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    a = v.select(
        F.col("id").alias("a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    ).repartition(nparts, F.col("bucket"), F.col("a"))
    b = v.select(
        F.col("id").alias("b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                dot("va", "vb") / (F.col("na") * F.col("nb")),
                5,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 8,
    window: int = 4,
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Near-duplicate pairs via winnowing fingerprints: documents
    sharing a selected fingerprint become candidates (winnowing
    guarantees any shared substring of length shingle+window-1
    produces a shared fingerprint — substring-level recall MinHash's
    bag-of-shingles model can't promise), then exact word-bigram
    Jaccard verifies. ``max_df`` drops fingerprints present in more
    than that many documents (ubiquitous boilerplate fingerprints pair
    everything with everything and carry no signal — same frequency
    cut as :func:`ngram_jaccard_pairs`).

    Scale shape: fingerprint selection is scan-stage array arithmetic;
    candidates form on the fingerprint key (one shuffle); verification
    touches candidates only. No all-pairs stage.
    """
    from .textstats import winnow_fingerprints

    fps = winnow_fingerprints(df, id_col, text_col, shingle, window).persist()
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fingerprint")
    )
    filtered = fps.join(F.broadcast(rare), on="fingerprint")
    fa = filtered.select(F.col(id_col).alias("a"), "fingerprint")
    fb = filtered.select(F.col(id_col).alias("b"), "fingerprint")
    candidates = (
        fa.join(fb, on="fingerprint")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    grams = _word_ngrams(df, id_col, text_col, 2).persist()
    return jaccard_verify(candidates, grams, threshold)


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
) -> DataFrame:
    """Span-level exact corpus dedup (the C4/RefinedWeb "remove
    duplicated lines/spans across the corpus" move, at fixed token
    granularity): chop every document into non-overlapping
    ``span_tokens``-token spans, keep only the globally FIRST
    occurrence of each distinct span (ordered by id then position),
    and rebuild each document from its surviving spans.

    Scale shape: two keyed shuffles — one on the span text for the
    first-occurrence window, one on the id for reassembly. No
    cross join, no driver state; span cardinality <= token count.
    Returns (id, n_spans, n_spans_kept, text_deduped); documents whose
    every span was seen earlier come back with empty text, ready for a
    length filter."""
    toks = F.split(F.col(text_col), r"\s+")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int"), F.lit(1)
    )
    spans = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(toks, i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("idx", "span"),
    )
    first = Window.partitionBy("span").orderBy(id_col, "idx")
    kept = spans.withColumn("rn", F.row_number().over(first))
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct("idx", "span"),
                            )
                        )
                    ),
                    lambda s: s.span,
                ),
                " ",
            ).alias("text_deduped"),
        )
    )


#: hot-gram routing defaults (see :func:`_hot_gram_digests`): sample
#: fraction for the detection pass, minimum in-sample occurrence count
#: to flag a digest as ultra-hot, cap on the flagged list (broadcast as
#: a plan literal), and salt width for the skew-dissolving window key
HOT_GRAM_SAMPLE = 0.01
HOT_GRAM_MIN_SAMPLE_COUNT = 500
HOT_GRAM_CAP = 128
HOT_GRAM_SALT = 64


def _token_hash_base(df: DataFrame, id_col: str, text_col: str, k: int):
    """Shared gram front end: tokenize, keep docs with >= k tokens,
    hash each TOKEN once (``xxhash64``); gram digests are then the
    hash of k token-hash longs — no per-gram string materialization
    (the array_join form built a ~40-byte string per gram before
    hashing; hashing 5 longs measured ~15% faster end-to-end and
    identical in collision posture: 64-bit keys either way, and the
    DuckDB oracle groups on raw gram TEXT, so any collision surfaces
    as a correctness mismatch, not silence)."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    return (
        df.select(F.col(id_col).alias("did"), arr.alias("arr"))
        .withColumn("n_tokens", F.size("arr"))
        .filter(F.col("n_tokens") >= k)
        .select(
            "did",
            "n_tokens",
            F.transform("arr", lambda t: F.xxhash64(t)).alias("th"),
        )
    )


def _gram_digest(k: int):
    """Per-row gram digest at 1-based position ``pos`` over the
    token-hash array ``th``."""
    return F.xxhash64(*[F.element_at("th", F.col("pos") + j) for j in range(k)])


def _hot_gram_digests(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> list[int]:
    """Scan-stage frequency sketch for ultra-hot gram digests — the
    skew guard for the digest-partitioned windows below. A gram
    duplicated millions of times would serialize its window partition
    (AQE cannot split a window partition); this detection pass reads a
    seeded ~1% sample of the corpus, counts gram digests, and returns
    the (few, capped) digests whose sample count implies corpus
    frequency around ``HOT_GRAM_MIN_SAMPLE_COUNT / HOT_GRAM_SAMPLE``
    (~50k occurrences at the defaults). On a boilerplate-free corpus
    the list is EMPTY and the callers' plans are unchanged — the
    routing costs nothing unless the skew it guards against exists.
    Which digests get flagged never affects results: hot and cold
    paths compute the identical predicate, only with different
    physical routing. (A salted hot window key could in principle
    collide with a cold digest's value and co-partition their rows —
    odds are the same documented n^2/2^65 class as gram-digest
    collisions themselves, and the oracle's raw-text grouping would
    surface one as a loud mismatch.)"""
    sample = df.sample(fraction=HOT_GRAM_SAMPLE, seed=7)
    base = _token_hash_base(sample, id_col, text_col, k)
    counts = (
        base.select(
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (k - 1))
            ).alias("pos"),
            "th",
        )
        .select(_gram_digest(k).alias("dg"))
        .groupBy("dg")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= HOT_GRAM_MIN_SAMPLE_COUNT)
        .orderBy(F.desc("c"))
        .limit(HOT_GRAM_CAP)
    )
    return [r["dg"] for r in counts.collect()]


def repeated_gram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    detect_hot: bool = True,
) -> DataFrame:
    """Cross-document repeated-substring detection (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" move,
    approximated at word granularity): mark every position whose
    ``k``-token gram occurs more than once ANYWHERE in the corpus
    (other documents or elsewhere in the same one), merge adjacent
    duplicated positions into maximal spans, and report per-document
    span counts and the duplicated-token fraction.

    Unlike :func:`span_dedup` (fixed non-overlapping chunks) this
    catches repeats at ARBITRARY alignment: a boilerplate sentence
    pasted mid-paragraph lights up as one island regardless of where
    the chunk grid falls.

    Scale shape — a gram inverted index, never a suffix array:

    * tokens hash ONCE scan-stage; gram digests are hashes of k
      token-hash longs (see :func:`_token_hash_base` — no per-gram
      string build), exploded per position, never collected into a
      per-doc array first;
    * duplicated positions come from ONE digest-partitioned window
      (``count(*) over (partition by dg)``, ``occ >= 2`` cut): the
      corpus shuffles at gram granularity exactly ONCE. A groupBy +
      join-back on the digest computes the gram subplan twice (the
      measured 4.25x-at-10x-data tail in SCALE_SWEEP_r04); the
      row-hash window form measures ~1.7x for 10x data;
    * ultra-hot digests (a gram duplicated ~50k+ times would
      serialize its window partition — AQE cannot split a window
      partition) are detected by a ~1% sampled frequency count
      (:func:`_hot_gram_digests`) and routed around the skew: their
      window key is salted across ``HOT_GRAM_SALT`` buckets, and
      their positions are duplicated BY CONSTRUCTION (sampled count
      already proves occ >= 2), so the per-bucket window result is
      simply ignored for them. Empty hot list (the common case) means
      a byte-identical plan — zero overhead without skew;
    * island-merge windows partition by document — per-doc bounded,
      no global sort.

    Returns (id, n_spans, dup_tokens, n_tokens, dup_frac) for
    documents with at least one repeated span. A span covering gram
    positions ``s..e`` duplicates ``e - s + k`` tokens.
    """
    hot = _hot_gram_digests(df, id_col, text_col, k) if detect_hot else []
    base = _token_hash_base(df, id_col, text_col, k)
    grams = base.select(
        "did",
        "n_tokens",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tokens") - (k - 1))
        ).alias("pos"),
        "th",
    ).select("did", "n_tokens", "pos", _gram_digest(k).alias("dg"))
    if hot:
        is_hot = F.col("dg").isin(hot)
        wkey = F.when(
            is_hot,
            F.xxhash64(
                F.col("dg"),
                F.pmod(
                    F.col("did") * F.lit(100_000_000) + F.col("pos"),
                    F.lit(HOT_GRAM_SALT),
                ),
            ),
        ).otherwise(F.col("dg"))
        dup_pos = (
            grams.withColumn(
                "occ", F.count(F.lit(1)).over(Window.partitionBy(wkey))
            )
            .filter(is_hot | (F.col("occ") >= 2))
            .select("did", "n_tokens", "pos")
        )
    else:
        dup_pos = (
            grams.withColumn(
                "occ", F.count(F.lit(1)).over(Window.partitionBy("dg"))
            )
            .filter(F.col("occ") >= 2)
            .select("did", "n_tokens", "pos")
        )
    w = Window.partitionBy("did").orderBy("pos")
    islands = dup_pos.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    spans = islands.groupBy("did", "grp").agg(
        F.min("pos").alias("s"),
        F.max("pos").alias("e"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return (
        spans.groupBy("did")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + k).alias("dup_tokens"),
            F.first("n_tokens").alias("n_tokens"),
        )
        .select(
            F.col("did").alias(id_col),
            "n_spans",
            "dup_tokens",
            "n_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 5).alias(
                "dup_frac"
            ),
        )
    )


def containment_verify(
    candidates: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact asymmetric containment |A∩B| / |A| for candidate (a, b)
    pairs over distinct (did, tok) sets — the near-SUPERSET detector.
    Jaccard misses the case a short boilerplate doc is wholly embedded
    in a long one (the union term dilutes it); containment of the
    smaller side catches exactly that, which is why quote/template
    detection keys on it. Emits both directions' scores and keeps
    pairs where EITHER side is >= threshold contained. The
    intersection join uses 64-bit ``xxhash64`` shingle keys (see
    :func:`jaccard_verify` — same shuffle-volume trade, same
    oracle-checked collision argument)."""
    sizes = sets.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    sa = sets.select(F.col("did").alias("a"), F.xxhash64("tok").alias("hk"))
    sb = sets.select(F.col("did").alias("b"), F.xxhash64("tok").alias("hk"))
    inter = (
        candidates.join(sa, on="a").join(sb, on=["b", "hk"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("did").alias("a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("did").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(za, on="a")
        .join(zb, on="b")
        .select(
            "a",
            "b",
            F.round(F.col("inter") / F.col("sza"), 6).alias("cont_a"),
            F.round(F.col("inter") / F.col("szb"), 6).alias("cont_b"),
        )
        .filter(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
        )
    )


def repeated_gram_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    detect_hot: bool = True,
) -> DataFrame:
    """The REWRITE step of substring-level dedup: remove duplicated
    spans from every document except the globally-first occurrence
    (:func:`repeated_gram_spans` is the matching stats/audit pass).

    Removal contract (well-defined and engine-replayable): a token
    position is dropped iff it lies in the extent of a duplicated
    ``k``-gram's NON-FIRST occurrence (first = minimal ``(doc, pos)``
    over the corpus, encoded as ``doc*1e8 + pos`` for a portable
    scalar argmin) — i.e. every duplicated >=k-token substring is cut
    everywhere except where it first appears, exactly the Lee et al.
    move at word granularity. The canonical first copy's tokens
    survive even where later copies overlap it, because its own grams
    are firsts. (Corner: with 3+ documents whose duplicated runs
    interleave so that adjacent grams have firsts in DIFFERENT docs,
    overlap tokens can lose every copy — the character-level
    suffix-array formulation shares this edge.)

    Scale shape (row-hash form):

    * one digest-partitioned window computing the scalar argmin in a
      single pass — ``occ >= 2`` falls out for free, because
      ``enc > min(enc) over dg`` already implies a second occurrence
      (the groupBy+join-back form scanned and gram-hashed the corpus
      twice; see :func:`repeated_gram_spans`). Only (enc, dg) longs
      ride the shuffle — did/pos unpack from enc after the cut;
    * ultra-hot digests (the one skew hazard: a gram duplicated ~50k+
      times serializes its window partition) are detected by the
      sampled frequency count (:func:`_hot_gram_digests`) and routed
      around: their window key is salted, and their EXACT global
      first occurrence comes from a dedicated filtered aggregate
      (scan-stage ``isin`` on <= 128 literal digests -> map-side
      combined min, broadcast back). That second pass is paid ONLY
      when hot digests exist — exactly when the serialized window
      partition it replaces would cost far more. Empty hot list means
      a byte-identical single-window plan;
    * a bounded x``k`` fan-out of REMOVABLE gram positions only,
      folded into per-doc dropped-position sets;
    * rebuild re-tokenizes ONLY affected documents: the drop sets
      join the RAW text scan and the split runs post-join, so the
      corpus-wide tokenize is paid once in the gram pass, not twice
      (the prior form split every document a second time on the
      rebuild side). Position-set membership is O(|drops|) per token;
      document length bounds both sides, and documents are the unit
      of parallelism. Returns (id, n_tokens, n_removed, text_clean)
      for documents that changed; a fully-deduplicated document
      reports "" naturally.
    """
    hot = _hot_gram_digests(df, id_col, text_col, k) if detect_hot else []
    base = _token_hash_base(df, id_col, text_col, k)
    enc_expr = (
        F.col("did") * F.lit(100_000_000) + F.col("pos")
    ).alias("enc")
    grams = base.select(
        "did",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tokens") - (k - 1))
        ).alias("pos"),
        "th",
    ).select(enc_expr, _gram_digest(k).alias("dg"))
    if hot:
        is_hot = F.col("dg").isin(hot)
        # exact first occurrence of each hot digest: scan-stage isin
        # filter -> map-side combined min over <= HOT_GRAM_CAP keys,
        # broadcast back. Paid only when the hot list is non-empty.
        hot_firsts = (
            base.select(
                "did",
                F.explode(
                    F.sequence(F.lit(1), F.col("n_tokens") - (k - 1))
                ).alias("pos"),
                "th",
            )
            .select(enc_expr, _gram_digest(k).alias("dg"))
            .filter(F.col("dg").isin(hot))
            .groupBy("dg")
            .agg(F.min("enc").alias("hot_first"))
        )
        wkey = F.when(
            is_hot,
            F.xxhash64(F.col("dg"), F.pmod(F.col("enc"), F.lit(HOT_GRAM_SALT))),
        ).otherwise(F.col("dg"))
        joined = grams.join(F.broadcast(hot_firsts), "dg", "left")
        removable = (
            joined.withColumn(
                "first_key", F.min("enc").over(Window.partitionBy(wkey))
            )
            .filter(
                F.when(
                    F.col("hot_first").isNotNull(),
                    F.col("enc") > F.col("hot_first"),
                ).otherwise(F.col("enc") > F.col("first_key"))
            )
            .select("enc")
        )
    else:
        removable = (
            grams.withColumn(
                "first_key", F.min("enc").over(Window.partitionBy("dg"))
            )
            .filter(F.col("enc") > F.col("first_key"))
            .select("enc")
        )
    # per-doc dropped-position SET, not an exploded token anti-join:
    # reassembly is then one doc-level join (the drop-set side is
    # affected-docs-sized) plus a scan-stage array filter over the
    # affected docs' token arrays. (Aggregating raw gram positions and
    # expanding the x``k`` cover scan-stage AFTER the groupBy was
    # measured SLOWER despite 1/k the shuffle rows — the
    # transform/flatten/array_distinct chain is interpreted, while the
    # exploded collect_set stays in codegen'd aggregate machinery;
    # 2.9x vs 2.1x at 10x data, so the explode form stays.)
    # integer division: enc exceeds 2^53 once doc_id passes ~9e7, where
    # a double-rounded `/` would attribute drops to a neighboring doc.
    # floor-consistent decode (pmod + exact-multiple div) so a NEGATIVE
    # numeric doc id round-trips too: `div` truncates toward zero, so
    # bare `enc div 1e8` would decode did=-1,pos=5 as did=0
    removable_pos = removable.select(
        F.expr(
            "(enc - pmod(enc, 100000000)) div 100000000"
        ).alias("did"),
        F.pmod(F.col("enc"), F.lit(100_000_000)).cast("int").alias("pos"),
    )
    dropped = (
        removable_pos.select(
            "did",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("tpos"),
        )
        .groupBy("did")
        .agg(F.collect_set("tpos").alias("drops"))
    )
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    affected = df.select(F.col(id_col).alias("did"), F.col(text_col)).join(
        dropped, "did"
    )
    return affected.select(
        F.col("did").alias(id_col), arr.alias("arr"), F.col("drops")
    ).select(
        id_col,
        F.size("arr").alias("n_tokens"),
        F.size("drops").alias("n_removed"),
        F.array_join(
            F.filter(
                "arr",
                lambda t, i: ~F.array_contains(
                    F.col("drops"), i + F.lit(1)
                ),
            ),
            " ",
        ).alias("text_clean"),
    )
