"""Deduplication family (exact/minhash/simhash/ngram/embedding/decontaminate) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame;
its DuckDB oracle SQL lives in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _docs, _embs, _events, _t, query


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: dedup / similarity / text analysis /
# multimodal (north-star operators; SURVEY §7.2 step 5)
# ---------------------------------------------------------------------------

@query
def _dedup_exact(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import exact_dedup

    docs = _docs(spark, sf_dir)
    return exact_dedup(docs, "doc_id", "text")

@query
def _dedup_minhash_lsh(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=16, bands=4, threshold=0.5, shingle_n=2
    )

@query
def _dedup_minhash_char(spark, sf_dir):
    """Minhash-LSH near-dup pairs over CHARACTER 5-gram shingles —
    the variant that sees non-whitespace-delimited scripts (a CJK
    sentence is one whitespace token, so the word-bigram front end is
    blind to it; the unicode robustness suite pins that gap and this
    operator closes it). Same banded candidate generation and exact
    Jaccard verification as dedup_minhash_lsh; only the shingle basis
    changes (operators/dedup.py:_char_ngrams — character-indexed
    substr on both engines, so unicode shingles replay exactly).
    Banding is the measured char-path contract CHAR_LSH_NUM_PERM /
    CHAR_LSH_BANDS (see operators/dedup.py — chosen by the star
    recall eval's doc-recall column, r9)."""
    from task_on_dataframes_spark.operators.dedup import (
        CHAR_LSH_BANDS,
        CHAR_LSH_NUM_PERM,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_perm=CHAR_LSH_NUM_PERM,
        bands=CHAR_LSH_BANDS,
        threshold=0.5,
        shingle_n=5,
        kind="char",
        star=True,
    )

@query
def _dedup_ngram_jaccard(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=50
    )

@query
def _dedup_simhash(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    fps = simhash_fingerprints(docs, "doc_id", "text")
    return simhash_pairs(fps, max_hamming=3)

@query
def _dedup_components(spark, sf_dir):
    """Near-dup clusters: simhash pair graph -> connected components ->
    (member, representative=min doc_id). The Spark side is
    large-star/small-star contraction (operators/dedup.py:
    connected_components — O(log n) rounds over a geometrically
    shrinking edge set, never rounds x |E| like min-propagation); the
    oracle is a recursive CTE, implementation-agnostic.

    The graph is built at SIMHASH_GRAPH_BITS (48) / SIMHASH_GRAPH_CHUNKS
    (4): the round-8 three-point fit flagged the 32-bit default
    super-linear at sf3 (n^2/2^8 chunk-bucket saturation, excess 2.48),
    and the measured width lever (SCALE.md §20) is now the contract —
    the oracle parameterizes from the same constants."""
    from task_on_dataframes_spark.operators.dedup import (
        SIMHASH_GRAPH_BITS,
        SIMHASH_GRAPH_CHUNKS,
        connected_components,
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = simhash_pairs(
        simhash_fingerprints(docs, "doc_id", "text", bits=SIMHASH_GRAPH_BITS),
        max_hamming=3,
        chunks=SIMHASH_GRAPH_CHUNKS,
        bits=SIMHASH_GRAPH_BITS,
    )
    return connected_components(pairs, src="a", dst="b")

@query
def _dedup_embedding_cosine(spark, sf_dir):
    """Exact all-pairs cosine — the O(n^2) correctness baseline for the
    LSH variants, confined to a deterministic ``vec_id < 2000`` eval
    slice so the quadratic cost is a CONSTANT (<= 2M pairs) at every
    SF instead of growing with the corpus (the unguarded form timed
    out at sf1 in the round-4 scale sweep). At sf<=0.1 the slice covers
    the whole table, so results are unchanged; the oracle carries the
    identical predicate. The scale path remains ``dedup_embedding_lsh``."""
    from task_on_dataframes_spark.operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return embedding_cosine_pairs(emb, threshold=0.4)

@query
def _dedup_embedding_lsh(spark, sf_dir):
    """planes=6 (64 buckets): candidate pairs scale ~ n^2/2^planes,
    so the plane count tracks corpus density (the round-4 sf1 sweep
    measured planes=4's 16 buckets going quadratic at 10x data — see
    ``embedding_lsh_pairs``)."""
    from task_on_dataframes_spark.operators.dedup import embedding_lsh_pairs

    emb = _embs(spark, sf_dir)
    return embedding_lsh_pairs(emb, threshold=0.4, dims=64, planes=6)

@query
def _decontaminate(spark, sf_dir):
    """Train/test contamination check (GPT-3-style n-gram overlap):
    a train document is contaminated when it shares any word 5-gram
    with any test-split document. Composition of the deterministic
    splitter + shingling + semi/anti joins: the gram-overlap join is
    keyed on the gram, so nothing quadratic ever forms."""
    from task_on_dataframes_spark.operators.dedup import _word_ngrams
    from task_on_dataframes_spark.operators.sampling import assign_split

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    labeled = assign_split(docs, "doc_id")
    grams = _word_ngrams(docs, "doc_id", "text", 5)
    test_ids = labeled.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("did")
    )
    train_ids = labeled.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("did")
    )
    test_grams = grams.join(F.broadcast(test_ids), on="did").select("tok").distinct()
    train_grams = grams.join(train_ids, on="did", how="left_semi")
    contaminated = (
        train_grams.join(F.broadcast(test_grams), on="tok", how="left_semi")
        .select("did")
        .distinct()
    )
    return (
        train_ids.join(
            contaminated.withColumn("__c", F.lit(1)), on="did", how="left"
        )
        .groupBy(
            F.when(F.col("__c").isNotNull(), "contaminated")
            .otherwise("clean")
            .alias("status")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query
def _dedup_keep_canonical(spark, sf_dir):
    """End-to-end keep-one dedup: simhash pair graph -> pointer-doubling
    connected components -> drop non-representatives (broadcast
    left-anti; the corpus never shuffles for the cut). Returns the
    surviving (doc_id, lang) rows. Rides the same SIMHASH_GRAPH_BITS
    48-bit pair graph as ``dedup_components`` (SCALE.md §20)."""
    from task_on_dataframes_spark.operators.dedup import (
        SIMHASH_GRAPH_BITS,
        SIMHASH_GRAPH_CHUNKS,
        keep_canonical,
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = simhash_pairs(
        simhash_fingerprints(docs, "doc_id", "text", bits=SIMHASH_GRAPH_BITS),
        max_hamming=3,
        chunks=SIMHASH_GRAPH_CHUNKS,
        bits=SIMHASH_GRAPH_BITS,
    )
    return keep_canonical(
        docs.select("doc_id", "lang"), "doc_id", pairs
    )

@query
def _dedup_spans(spark, sf_dir):
    """C4/RefinedWeb-style span-level corpus dedup: 10-token
    non-overlapping spans, keep the globally first occurrence of each
    distinct span, rebuild documents from surviving spans. Two keyed
    shuffles (span text, then doc id) — no cross join, no driver
    state."""
    from task_on_dataframes_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir), "doc_id", "text")

@query
def _dedup_cross_corpus(spark, sf_dir):
    """Incremental-ingest dedup: drop new documents whose normalized
    text digest already exists in the reference corpus (simulated as
    the doc_id % 7 == 0 slice). One digest-keyed LEFT ANTI join — the
    shape of deduping a fresh crawl against an existing corpus; the
    existing side reduces to distinct digests before the join."""
    docs = _docs(spark, sf_dir)
    digest = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", digest.alias("digest")
    )
    existing = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(digest.alias("digest"))
        .distinct()
    )
    return new.join(existing, "digest", "left_anti").select("doc_id")

def _ensure_lsh_index(spark, sf_dir):
    """Build (once per session per sf_dir, the s13 layout-caching
    contract) the persisted LSH index over the corpus slice
    (doc_id % 7 == 0): bucketed band-key and packed-shingle-set
    tables. Returns (keys_table, sets_table)."""
    import hashlib

    from task_on_dataframes_spark.operators.dedup import build_lsh_index

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    return build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )

@query
def _dedup_index_build(spark, sf_dir):
    """The write-once LSH corpus index as a first-class query: persist
    band keys (bucketed by the join key) and packed xxhash64 shingle
    sets (bucketed by doc) for the corpus slice (doc_id % 7 == 0),
    then return the index content — one row per (doc, band) with the
    portable md5 band key and the doc's shingle-set size. The oracle
    replays keys and sizes from the raw parquet; the hks arrays are
    engine-internal (xxhash64) and deliberately not exposed — their
    semantics are pinned by the probe query's Jaccard outputs.
    Build cost is one corpus scan + one signature shuffle + one
    pack shuffle, paid once per ingest wave."""
    keys_t, sets_t = _ensure_lsh_index(spark, sf_dir)
    keys = spark.table(keys_t).select("did", "band", "key")
    sz = spark.table(sets_t).select("did", "sz")
    return keys.join(sz, "did").select(
        F.col("did").alias("doc_id"), "band", "key", "sz"
    )

@query
def _dedup_index_probe(spark, sf_dir):
    """Two ingest waves probed against the SAME persisted index —
    the reuse contract that makes incremental dedup incremental:
    wave 1 (doc_id % 7 == 1) and wave 2 (doc_id % 7 == 2) each
    shingle+sign only themselves, join the bucketed band-key table
    (no Exchange above the index scan), and verify against the stored
    packed sets. The corpus is never re-shingled, re-signed, or
    shuffled. Output = verified matches per batch doc, tagged by
    wave."""
    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    docs = _docs(spark, sf_dir)
    keys_t, sets_t = _ensure_lsh_index(spark, sf_dir)
    outs = []
    for wave in (1, 2):
        batch = docs.filter(F.col("doc_id") % 7 == wave)
        m = probe_lsh_index(
            spark, batch, "doc_id", "text", keys_t, sets_t,
            num_perm=16, bands=4, threshold=0.5, shingle_n=2,
        )
        outs.append(m.withColumn("wave", F.lit(wave)))
    return outs[0].unionByName(outs[1]).select(
        "wave", "doc_id", "n_matches", "max_jaccard"
    )

@query
def _dedup_index_maintain(spark, sf_dir):
    """The full index lifecycle in one query (r11): build the
    persisted LSH index on the corpus slice (doc_id % 7 == 0), probe
    wave 1 (% 7 == 1) against it, APPEND wave 1's band keys and
    packed sets into the index (batch-sized work only — the existing
    index files are never read or rewritten), then probe wave 2
    (% 7 == 2) against the GROWN index. Phase 2's matches therefore
    include near-dups of wave-1 documents, which the build-once/
    probe-only queries can never see — the property that makes
    rolling 100 TB ingest dedup converge instead of only deduping
    against a frozen snapshot.

    Phase 1 is materialized (localCheckpoint) BEFORE the append so
    both phases are deterministic on re-execution of the returned
    frame; the index gets a fresh tag per invocation so repeated
    calls never double-append. Output:
    (phase, doc_id, n_matches, max_jaccard)."""
    import uuid

    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        probe_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    tag = "mnt_" + uuid.uuid4().hex[:8]
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )
    wave1 = docs.filter(F.col("doc_id") % 7 == 1)
    m1 = probe_lsh_index(
        spark, wave1, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    ).withColumn("phase", F.lit(1)).localCheckpoint()
    append_lsh_index(
        spark, wave1, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, shingle_n=2,
    )
    wave2 = docs.filter(F.col("doc_id") % 7 == 2)
    m2 = probe_lsh_index(
        spark, wave2, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    ).withColumn("phase", F.lit(2))
    return m1.unionByName(m2).select(
        "phase", "doc_id", "n_matches", "max_jaccard"
    )

@query
def _dedup_index_compact(spark, sf_dir):
    """Compaction as a first-class query (r11): build the corpus
    index, append wave 1 (doc_id % 7 == 1) — leaving multi-file
    buckets — then COMPACT to one sorted file per bucket and probe
    wave 2 (% 7 == 2) against the compacted index. Results must be
    bit-identical to probing the uncompacted index (the oracle is the
    same grown-index replay as dedup_index_maintain's phase 2); what
    compaction buys is the LAYOUT — one sorted file per bucket again
    (bounded listing, one sort run per bucket, sequential scan IO)
    with the no-Exchange probe contract intact (pinned in
    tests/test_plan_shapes.py; the local Sort node itself stays —
    SPARK-28632 disabled bucketed-scan ordering claims since 3.0).
    Output: (doc_id, n_matches, max_jaccard)."""
    import uuid

    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        probe_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    tag = "cmp_" + uuid.uuid4().hex[:8]
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )
    wave1 = docs.filter(F.col("doc_id") % 7 == 1)
    append_lsh_index(
        spark, wave1, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, shingle_n=2,
    )
    ck, cs = compact_lsh_index(spark, keys_t, sets_t, tag + "_c")
    wave2 = docs.filter(F.col("doc_id") % 7 == 2)
    return probe_lsh_index(
        spark, wave2, "doc_id", "text", ck, cs,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    )

@query
def _dedup_incremental_lsh(spark, sf_dir):
    """Near-dup version of :func:`_dedup_cross_corpus`: the new batch
    (doc_id % 7 != 0) is LSH-probed against the existing corpus slice
    (doc_id % 7 == 0) and kept only if no corpus document verifies at
    Jaccard >= 0.5. Output = the batch docs that DID match (what an
    ingest pipeline drops), with match count and best similarity.

    PROBE-ONLY since round 10 (closing the round-9 verdict's one weak
    item): the corpus index (bucketed band keys + packed shingle sets)
    is persisted once per session/sf_dir by :func:`_ensure_lsh_index`
    and every invocation signs only the batch — no corpus-scale
    aggregation or shuffle appears in this query's plan (asserted in
    tests/test_plan_shapes.py). Asymmetric by construction — no corpus
    self-join anywhere."""
    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    docs = _docs(spark, sf_dir)
    keys_t, sets_t = _ensure_lsh_index(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 7 != 0)
    return probe_lsh_index(
        spark, batch, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    )

@query
def _dedup_daily_first(spark, sf_dir):
    """Keep the first event per (user, day): one window shuffle keyed
    by (user_id, date) — the retention-counting / sessionless-dedup
    primitive."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy(
        "user_id", F.to_date("ts").alias("d")
    ).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            # date_trunc (timestamp), not to_date: DATE columns collect
            # as python objects and break the comparator's dtype match
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_id",
            "event_type",
        )
    )

@query
def _dedup_winnow(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _docs(spark, sf_dir), "doc_id", "text",
        shingle=8, window=4, threshold=0.5, max_df=50,
    )

@query
def _dedup_levenshtein(spark, sf_dir):
    """Edit-distance near-dup verification over minhash-LSH candidates
    (never all pairs) — `levenshtein` evaluates JVM-side in the join
    projection; the relative threshold is an integer cross-product
    test, exact on both engines."""
    from task_on_dataframes_spark.operators.dedup import levenshtein_pairs

    return levenshtein_pairs(_docs(spark, sf_dir), "doc_id", "text")


@query
def _dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    prune within clusters only — the quadratic compare is confined to
    bounded clusters, so k (not an all-pairs join) is the scale knob
    and must GROW with the corpus to hold |cluster| ~ n/k constant
    (SemDeDup itself runs k ~ 50k at LAION scale; the round-4 sf1
    sweep measured k=8 going quadratic at 10x data — pair volume AND
    join parallelism are both bounded by k). k=32 here; the oracle
    replays clustering AND pruning exactly."""
    from task_on_dataframes_spark.operators.clustering import semantic_dedup

    return semantic_dedup(
        _embs(spark, sf_dir), k=32, iters=3, threshold=0.4
    )


@query
def _decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination: the bounded-state variant of the
    exact-join `decontaminate` query. Benchmark (test-split) 5-grams
    compress to <= 65536 bit positions; train docs are flagged by k=3
    broadcast semi-joins on the bit table — corpus never shuffles, and
    the shipped state is capped regardless of benchmark size. False
    positives are deterministic (portable md5 hashes), so the oracle
    reproduces the flagged set bit for bit."""
    from task_on_dataframes_spark.operators.bloom import (
        bloom_probe_hits,
        build_bloom_bits,
    )
    from task_on_dataframes_spark.operators.dedup import _word_ngrams
    from task_on_dataframes_spark.operators.sampling import assign_split

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    labeled = assign_split(docs, "doc_id")
    grams = _word_ngrams(docs, "doc_id", "text", 5)
    test_ids = labeled.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("did")
    )
    train_ids = labeled.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("did")
    )
    bench_grams = grams.join(F.broadcast(test_ids), on="did").select("tok")
    bits = build_bloom_bits(bench_grams, "tok")
    train_grams = grams.join(train_ids, on="did", how="left_semi")
    hits = (
        bloom_probe_hits(train_grams, bits, "tok")
        .groupBy("did")
        .agg(F.count(F.lit(1)).alias("hit_grams"))
    )
    return (
        train_ids.join(hits, on="did", how="left")
        .select(
            "did",
            F.coalesce("hit_grams", F.lit(0)).alias("hit_grams"),
            (F.coalesce("hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query
def _dedup_substring(spark, sf_dir):
    """Cross-document repeated 5-gram spans (Lee et al. substring-level
    dedup at word granularity): per-doc maximal duplicated spans and
    duplicated-token fraction. Gram inverted index — ONE
    xxhash64-digest-partitioned window shuffle (the r4 groupBy +
    join-back form scanned the corpus twice and was the flagged
    4.25x sweep tail), per-doc island windows, nothing all-pairs.
    Hot-gram skew routing activates above HOT_DETECT_MIN_BYTES — the
    detection sample pays a corpus scan, and below that size no gram
    can serialize a window partition."""
    from task_on_dataframes_spark.operators.dedup import repeated_gram_spans
    from task_on_dataframes_spark.registry.common import (
        HOT_DETECT_MIN_BYTES,
        _corpus_bytes,
    )

    docs = _docs(spark, sf_dir)
    big = _corpus_bytes(f"{sf_dir}/documents.parquet") >= HOT_DETECT_MIN_BYTES
    return repeated_gram_spans(docs, "doc_id", "text", k=5, detect_hot=big)


@query
def _text_containment(spark, sf_dir):
    """Asymmetric containment |A∩B|/|A| over the shared minhash-LSH
    candidate front end: the near-SUPERSET detector Jaccard misses
    (short boilerplate embedded in a long doc dilutes the union). Same
    banded candidate generation as every verified near-dup strategy;
    exact containment only on candidates."""
    from task_on_dataframes_spark.operators.dedup import (
        containment_verify,
        lsh_candidates,
    )

    docs = _docs(spark, sf_dir)
    candidates, toks = lsh_candidates(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=2
    )
    return containment_verify(candidates, toks, threshold=0.6)


@query
def _dedup_substring_rewrite(spark, sf_dir):
    """The rewrite step of substring-level dedup: duplicated 5-gram
    spans removed everywhere except the globally-first occurrence
    (portable scalar argmin over (doc, pos), count + argmin fused in
    one digest-partitioned window pass); tokens protected by any
    unique gram survive. Reassembly is a doc-level drop-set join with
    a scan-stage array filter — no second token explode. Returns only
    the documents that changed."""
    from task_on_dataframes_spark.operators.dedup import (
        repeated_gram_rewrite,
    )
    from task_on_dataframes_spark.registry.common import (
        HOT_DETECT_MIN_BYTES,
        _corpus_bytes,
    )

    docs = _docs(spark, sf_dir)
    big = _corpus_bytes(f"{sf_dir}/documents.parquet") >= HOT_DETECT_MIN_BYTES
    return repeated_gram_rewrite(docs, "doc_id", "text", k=5, detect_hot=big)


#: star-recall eval fixture — shared verbatim with the DuckDB oracle
#: renderer in ``__spark_entry__`` (ADVICE r7: parameterize oracle SQL
#: from the same constants the operator receives, so they cannot drift)
STAR_RECALL_CAPS = (8, 16, 64)
#: bandings measured by the recall eval (r9 verdict item 6): the
#: banding S-curve is the CAP-INDEPENDENT recall residual (3/166
#: template docs at (20, 5)), so the recall/cost trade across
#: (num_perm, bands) is a contract-visible dial, not a doc footnote.
#: (16, 4) is the word-path contract, (20, 5) the measured char-path
#: contract (CHAR_LSH_NUM_PERM/BANDS), (24, 6) the next rung up —
#: all at rows-per-band 4, so only the number of detection chances
#: moves, exactly the S-curve axis being measured.
STAR_RECALL_BANDINGS = ((16, 4), (20, 5), (24, 6))
STAR_RECALL_BOILER = (
    "this document is provided under the standard terms of service "
    "please review the acceptable use policy before continuing "
    "all rights reserved by the publisher of record unauthorized "
    "redistribution of this material in any form is prohibited the "
    "information contained herein is supplied without warranty of any "
    "kind and is subject to change without notice contact the "
    "publisher for licensing inquiries"
)
#: tail length = TAIL_BASE + (doc_id % 5) * TAIL_STEP characters of the
#: real document text appended after the boilerplate
STAR_RECALL_TAIL = (60, 120)
#: deterministic constant eval slice (doc_id % 3 == 0 below this id):
#: the quadratic exact ground truth stays <= ~170 docs at every SF,
#: the dedup_embedding_cosine precedent
STAR_RECALL_SLICE = 600


@query
def _dedup_star_recall_eval(spark, sf_dir):
    """Measured recall contract of the star-capped char-shingle LSH
    front end (the one recall-trading scale guard that had no eval —
    r7 verdict item 2): star-capped verified pairs vs (a) the exact
    sampled-universe Jaccard >= 0.5 pair set and (b) the UNCAPPED
    banded-LSH verified pair set, per ``star_bucket_cap`` in
    {8, 16, 64}, on two strata of a deterministic constant slice:

    * ``template`` — every doc is boilerplate + a doc_id-varying tail
      of its real text: the template-saturated worst case where one
      mega-bucket holds mutually-near-dup docs, so any capped
      candidate scheme drops verified pairs. recall_vs_lsh isolates
      exactly that loss (recall_vs_exact also folds in the banding
      S-curve).
    * ``natural`` — the same docs untemplated: real small-SF buckets
      stay under the cap, pinning that the star path only diverges
      from all-pairs where mega-buckets actually form.

    Both ground truths are slice-confined (<= ~170 docs — constant at
    every SF), so the all-pairs gram join can never go corpus-quadratic;
    the system under test reuses the exact production operators
    (:func:`_char_ngrams` -> :func:`minhash_signatures` ->
    :func:`lsh_band_keys` -> the :func:`star_candidates` rank logic ->
    :func:`jaccard_verify`).

    Since r9 the eval ALSO reports the metric keep-one consumers ride
    (r8 verdict item 1): per-DOC marking recall — a doc is
    near-dup-marked when some verified pair (a, b=doc) survives the
    cap, so n_docs_star(cap) counts docs whose smallest admitting cap
    is <= cap, against the exact (n_docs_exact) and uncapped-LSH
    (n_docs_lsh) marked-doc sets. Output: (stratum, star_bucket_cap,
    n_exact, n_lsh, n_star, recall_vs_exact, recall_vs_lsh,
    n_docs_exact, n_docs_lsh, n_docs_star, doc_recall_vs_exact,
    doc_recall_vs_lsh).

    Plan shape: under the multi-pivot star the candidate sets are
    NESTED in the cap, and a pair's smallest admitting cap IS
    rank(a) in its most-favorable shared bucket (star_candidates
    docstring), so ONE Jaccard verification of the exact ground truth
    plus a per-pair min(rank_a) annotation yields every per-cap pair
    count as a conditional sum and every per-cap doc count from one
    groupBy(b) of the same frame: one verification tree instead of
    five (the naive form measured 570 plan-text exchanges, 13x the
    next biggest plan in the audit)."""
    from task_on_dataframes_spark.operators.dedup import (
        CHAR_LSH_BANDS,
        CHAR_LSH_NUM_PERM,
        _char_ngrams,
        jaccard_verify,
        lsh_band_keys,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    base = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < STAR_RECALL_SLICE)
    )
    tb, ts = STAR_RECALL_TAIL
    tail = F.expr(f"substring(text, 1, {tb} + (doc_id % 5) * {ts})")
    strata = [
        (
            "template",
            base.select(
                "doc_id",
                F.concat(
                    F.lit(STAR_RECALL_BOILER), F.lit(" "), tail
                ).alias("text"),
            ),
        ),
        ("natural", base.select("doc_id", "text")),
    ]
    outs = []
    for stratum, sdocs in strata:
        toks = _char_ngrams(sdocs, "doc_id", "text", 5).persist()
        # exact ground truth: every slice pair sharing >= 1 sampled
        # gram (J >= 0.5 implies a shared gram), verified exactly —
        # the ONE verification; every other set derives from it.
        # Banding-independent, so it is computed once per stratum and
        # shared by every (num_perm, bands) row.
        pa = toks.select(F.col("did").alias("a"), "tok")
        pb = toks.select(F.col("did").alias("b"), "tok")
        shared = (
            pa.join(pb, "tok")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        exact = (
            jaccard_verify(shared, toks, 0.5)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        # ONE signature aggregation per stratum at the widest banding's
        # perm count: every banding draws from the same hash family, so
        # (16,4)/(20,5) band keys are prefix slices of the 24-perm
        # signature frame — 3x fewer corpus-slice aggregations than
        # signing per banding (lsh_band_keys only reads mh0..mh{np-1})
        max_np = max(np_ for np_, _ in STAR_RECALL_BANDINGS)
        sigs = minhash_signatures(toks, max_np).persist()
        for np_, nb in STAR_RECALL_BANDINGS:
            outs.append(
                _star_recall_banding_rows(
                    stratum, sigs, exact, np_, nb
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _star_recall_banding_rows(stratum, sigs, exact, num_perm, bands):
    """One banding's rows of the star recall eval: slice ``sigs`` (a
    shared >=num_perm-wide signature frame) into this banding's band
    keys, annotate each exact pair with its smallest admitting star
    cap, and emit a (stratum, num_perm, bands, cap) row per cap in
    :data:`STAR_RECALL_CAPS` from one aggregation tree."""
    from task_on_dataframes_spark.operators.dedup import lsh_band_keys

    keys = lsh_band_keys(sigs, num_perm, bands).persist()
    # bucket co-membership of each exact pair: verified uncapped
    # LSH pairs = exact pairs sharing >= 1 bucket (a signature
    # collision with J < 0.5 never verifies), and the pair's
    # min_req = min over shared buckets of rank(a) — under the
    # multi-pivot star a pair is admitted at cap iff a is among
    # the cap smallest ids of a shared bucket, so rank(a) IS the
    # smallest admitting cap (star_candidates docstring)
    wrk = Window.partitionBy("band", "key").orderBy("did")
    kk = keys.withColumn("rk", F.row_number().over(wrk))
    ka = kk.select(F.col("did").alias("a"), "band", "key", "rk")
    kb = keys.select(F.col("did").alias("b"), "band", "key")
    lsh = (
        exact.join(ka, on="a")
        .join(kb, on=["b", "band", "key"])
        .groupBy("a", "b")
        .agg(F.min("rk").alias("min_req"))
    )
    counts = lsh.agg(
        F.count(F.lit(1)).alias("n_lsh"),
        # coalesce: SUM over an empty relation is NULL, but the
        # oracle's count(*) is 0 — a sparse natural stratum with
        # no banded pair must emit 0 like the oracle (ADVICE r8)
        *[
            F.coalesce(
                F.sum((F.col("min_req") <= cap).cast("long")), F.lit(0)
            ).alias(f"ns{cap}")
            for cap in STAR_RECALL_CAPS
        ],
    )
    # DOC-level marking recall (r8 verdict item: the metric the
    # keep-one pipelines actually consume — a doc is marked
    # near-dup when some verified smaller-id pair (a, b=doc)
    # survives the cap). Per doc b, the smallest admitting cap is
    # min over its pairs of min_req; conditional counts give every
    # per-cap marked-doc total from one grouped frame.
    docm = lsh.groupBy("b").agg(F.min("min_req").alias("doc_req"))
    doc_counts = docm.agg(
        F.count(F.lit(1)).alias("n_docs_lsh"),
        *[
            F.coalesce(
                F.sum((F.col("doc_req") <= cap).cast("long")), F.lit(0)
            ).alias(f"nd{cap}")
            for cap in STAR_RECALL_CAPS
        ],
    )
    n_ex = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count_distinct(F.col("b")).alias("n_docs_exact"),
    )
    both = n_ex.join(counts).join(doc_counts)
    # one row per cap via explode of the tier structs — a per-cap
    # select would embed the whole tree once per output row (the
    # 180-exchange intermediate shape of this plan)
    tiers = F.array(
        *[
            F.struct(
                F.lit(cap).alias("cap"),
                F.col(f"ns{cap}").alias("ns"),
                F.col(f"nd{cap}").alias("nd"),
            )
            for cap in STAR_RECALL_CAPS
        ]
    )
    return (
        both.select(
            "n_exact",
            "n_lsh",
            "n_docs_exact",
            "n_docs_lsh",
            F.explode(tiers).alias("t"),
        ).select(
            F.lit(stratum).alias("stratum"),
            F.lit(num_perm).alias("num_perm"),
            F.lit(bands).alias("bands"),
            F.col("t.cap").alias("star_bucket_cap"),
            "n_exact",
            "n_lsh",
            F.col("t.ns").alias("n_star"),
            F.when(
                F.col("n_exact") > 0,
                F.round(F.col("t.ns") / F.col("n_exact"), 6),
            ).alias("recall_vs_exact"),
            F.when(
                F.col("n_lsh") > 0,
                F.round(F.col("t.ns") / F.col("n_lsh"), 6),
            ).alias("recall_vs_lsh"),
            "n_docs_exact",
            "n_docs_lsh",
            F.col("t.nd").alias("n_docs_star"),
            F.when(
                F.col("n_docs_exact") > 0,
                F.round(F.col("t.nd") / F.col("n_docs_exact"), 6),
            ).alias("doc_recall_vs_exact"),
            F.when(
                F.col("n_docs_lsh") > 0,
                F.round(F.col("t.nd") / F.col("n_docs_lsh"), 6),
            ).alias("doc_recall_vs_lsh"),
        )
    )


@query
def _dedup_recall_eval(spark, sf_dir):
    """Candidate recall of the minhash-LSH front end vs the exact
    Jaccard>=0.5 pair set, measured on a DETERMINISTIC 1-in-3 eval slice
    (doc_id % 3 == 0) — the tuning loop for (num_perm, bands),
    mirroring ann_recall_eval's methodology. The LSH front end still
    runs on the FULL corpus (it is the system under test); only the
    exact ground truth is slice-confined, with the same max_df=50
    shingle-frequency cut as ngram_jaccard_pairs so its pair join
    stays sub-quadratic (a Jaccard>=0.5 pair whose every shared
    bigram is ubiquitous is the only miss — the standard trade). The
    original unsampled form went all-pairs on common bigrams: the
    round-4 sf1 sweep measured 107s at sf0.1 and a JVM death at sf1.
    Output: one row (n_exact, n_candidates, n_hit, recall), counts
    confined to slice pairs."""
    from task_on_dataframes_spark.operators.dedup import (
        _word_ngrams,
        jaccard_verify,
        lsh_candidates,
    )

    docs = _docs(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % 3 == 0)
    grams = _word_ngrams(eval_docs, "doc_id", "text", 2).persist()
    rare = (
        grams.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("tok")
    )
    fg = grams.join(rare, "tok", "left_semi")
    pa = fg.select(F.col("did").alias("a"), "tok")
    pb = fg.select(F.col("did").alias("b"), "tok")
    shared = (
        pa.join(pb, "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    exact = jaccard_verify(shared, grams, threshold=0.5).select("a", "b")
    cand_all, _ = lsh_candidates(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=2
    )
    cand = cand_all.filter(
        (F.col("a") % 3 == 0) & (F.col("b") % 3 == 0)
    )
    # ONE aggregation tree (the star eval's one-tree trick, r8 verdict
    # item 5): a full-outer pair join tags each (a, b) as exact and/or
    # candidate, and all three counts fall out as conditional sums —
    # the previous three-subquery cross join embedded the exact and
    # candidate subtrees twice each (77 plan-text exchanges, the
    # largest lazy plan in the audit)
    tagged = exact.withColumn("__e", F.lit(1)).join(
        cand.withColumn("__c", F.lit(1)), on=["a", "b"], how="full_outer"
    )
    return tagged.agg(
        F.coalesce(F.sum("__e"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__e").isNotNull() & F.col("__c").isNotNull(), 1
                )
            ),
            F.lit(0),
        ).alias("n_hit"),
    ).select(
        "n_exact",
        "n_candidates",
        "n_hit",
        # NULL (not a crash) when the eval slice has no exact pair
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_hit") / F.col("n_exact"), 6),
        ).alias("recall"),
    )
