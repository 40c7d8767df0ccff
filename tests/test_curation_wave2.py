"""Wave-2 curation operators: SemDeDup, Bloom decontamination,
domain mixing, interleave order, snapshot diff, ANN recall eval, BPE."""

from pyspark.sql import functions as F


def _naive_greedy_merges(rows, merges):
    """Recount-greedy BPE reference over a (repr, cnt) word table:
    every merge recounts all pairs from scratch, takes the argmax with
    (pc DESC, lhs, rhs) ties and merges left to right."""
    words = [(r[0][1:-1].split(")("), r[1]) for r in rows]
    out = []
    for step in range(1, merges + 1):
        counts = {}
        for syms, cnt in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (lhs, rhs), pc = best
        out.append((step, lhs, rhs, lhs + rhs, pc))
        merged = lhs + rhs
        nw = []
        for syms, cnt in words:
            new = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    new.append(merged)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            nw.append((new, cnt))
        words = nw
    return out


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_semantic_dedup_pairs_are_intra_cluster_and_above_threshold(
    spark, sf_dir
):
    from task_on_dataframes_spark.operators.clustering import (
        kmeans_assignments,
        semantic_dedup,
    )
    from task_on_dataframes_spark.operators.dedup import cosine

    emb = _emb(spark, sf_dir)
    pruned = semantic_dedup(emb, k=4, iters=2, threshold=0.3).collect()
    assert pruned, "synthetic embeddings should contain semantic dups"
    assign = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(emb, k=4, iters=2).collect()
    }
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    left = vecs.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va")
    )
    right = vecs.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb")
    )
    cos = {
        (r["a"], r["b"]): r["c"]
        for r in left.join(right, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine("va", "vb"), 5).alias("c"))
        .collect()
    }
    for r in pruned:
        # canonical partner precedes the pruned vector, shares its
        # cluster, and really is above the threshold
        assert r["dup_of"] < r["vec_id"]
        assert assign[r["dup_of"]] == assign[r["vec_id"]] == r["cluster"]
        assert cos[(r["dup_of"], r["vec_id"])] >= 0.3
        assert r["max_cos"] >= 0.3


def test_bloom_flags_are_superset_of_exact_overlap(spark, sf_dir):
    """Bloom membership admits false positives but NEVER false
    negatives: every doc the exact gram-join flags must be flagged by
    the bloom probe too."""
    from task_on_dataframes_spark.operators.bloom import (
        bloom_probe_hits,
        build_bloom_bits,
    )
    from task_on_dataframes_spark.operators.dedup import _word_ngrams

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    bgrams = _word_ngrams(bench, "doc_id", "text", 3).select("tok")
    tgrams = _word_ngrams(train, "doc_id", "text", 3)
    exact = {
        r["did"]
        for r in tgrams.join(
            bgrams.distinct(), on="tok", how="left_semi"
        )
        .select("did")
        .distinct()
        .collect()
    }
    bits = build_bloom_bits(bgrams, "tok")
    bloom = {
        r["did"]
        for r in bloom_probe_hits(tgrams, bits, "tok")
        .select("did")
        .distinct()
        .collect()
    }
    assert exact, "splits should share some 3-grams"
    assert exact <= bloom, "bloom must never produce a false negative"


def test_bloom_bits_bounded(spark, sf_dir):
    from task_on_dataframes_spark.operators.bloom import (
        M_BITS,
        build_bloom_bits,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    bits = build_bloom_bits(toks, "tok").collect()
    assert 0 < len(bits) <= M_BITS
    assert all(0 <= r["bit"] < M_BITS for r in bits)


def test_domain_mix_budget_and_determinism(spark, sf_dir):
    from task_on_dataframes_spark.operators.sampling import domain_mix

    docs = _docs(spark, sf_dir)
    audit = domain_mix(docs, "doc_id", "source", "n_chars", budget_pm=500)
    rows = {r["domain"]: r for r in audit.collect()}
    assert set(rows) == {
        r["source"] for r in docs.select("source").distinct().collect()
    }
    for r in rows.values():
        assert 0 <= r["rate_pm"] <= 1000
        assert r["docs_kept"] <= r["n_docs"]
        assert r["size_kept"] <= r["total_size"]
        # a domain at/below its uniform share keeps everything
        if r["rate_pm"] == 1000:
            assert r["docs_kept"] == r["n_docs"]
    again = {r["domain"]: r for r in audit.collect()}
    assert {d: r["docs_kept"] for d, r in rows.items()} == {
        d: r["docs_kept"] for d, r in again.items()
    }


def test_interleave_order_positions_contiguous_and_stratified(
    spark, sf_dir
):
    from task_on_dataframes_spark.operators.sampling import interleave_order

    docs = _docs(spark, sf_dir)
    n_dom = docs.select("source").distinct().count()
    rows = interleave_order(docs, "doc_id", "source", limit=60).collect()
    positions = [r["position"] for r in rows]
    assert positions == list(range(60))
    # round-robin: any window of n_dom consecutive positions touches
    # n_dom distinct domains
    doms = [r["domain"] for r in rows]
    for start in range(0, 60 - n_dom + 1, n_dom):
        window = doms[start : start + n_dom]
        assert len(set(window)) == len(window)


def test_snapshot_diff_statuses(spark):
    from task_on_dataframes_spark.operators.joins import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["id", "text"]
    )
    out = {
        r["key"]: r["status"]
        for r in snapshot_diff(old, new, "id", "text").collect()
    }
    assert out == {
        1: "removed",
        2: "unchanged",
        3: "changed",
        4: "added",
    }


def test_ann_recall_eval_bounds(spark, sf_dir):
    import __spark_entry__ as entry

    rows = entry.queries()["ann_recall_eval"](spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(0.0 <= r["recall_at_10"] <= 1.0 for r in rows)


def test_bpe_train_learns_expected_merges(spark):
    from task_on_dataframes_spark.operators.bpe import bpe_train_scalable

    # corpus 'abc abc abd' -> pairs: (a,b)x3, (b,c)x2, (b,d)x1
    docs = spark.createDataFrame(
        [(1, "abc abc abd")], ["doc_id", "text"]
    )
    rules = bpe_train_scalable(docs, "text", merges=2).orderBy("step").collect()
    # step 1: (a,b) wins with count 2 (distinct words abc, abd — the
    # word table weights by occurrence: abc x2 + abd x1 = 3)
    assert (rules[0]["lhs"], rules[0]["rhs"]) == ("a", "b")
    assert rules[0]["pair_count"] == 3
    assert rules[0]["merged"] == "ab"
    # step 2: (ab, c) with weight 2 beats (ab, d) weight 1
    assert (rules[1]["lhs"], rules[1]["rhs"]) == ("ab", "c")
    assert rules[1]["pair_count"] == 2


def test_bpe_greedy_nonoverlapping_merge(spark):
    from task_on_dataframes_spark.operators.bpe import (
        bpe_apply_token_counts,
        bpe_train_scalable,
    )

    # 'aaaa' under merge (a,a): greedy left-to-right -> (aa)(aa) = 2
    # tokens; 'aaa' -> (aa)(a) = 2 tokens
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaa")], ["doc_id", "text"]
    )
    table = bpe_train_scalable(docs, "text", merges=1)
    r = table.collect()[0]
    assert (r["lhs"], r["rhs"]) == ("a", "a")
    counts = {
        row["doc_id"]: row["bpe_tokens"]
        for row in bpe_apply_token_counts(docs, table).collect()
    }
    assert counts == {1: 2, 2: 2}


def test_bpe_apply_bounds(spark, sf_dir):
    from task_on_dataframes_spark.operators.bpe import (
        bpe_apply_token_counts,
        bpe_train_scalable,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    table = bpe_train_scalable(docs, "text", merges=4)
    assert table.count() == 4
    out = bpe_apply_token_counts(docs, table)
    # merging only ever reduces token counts: word count <= bpe_tokens
    # <= char count of the alpha tokens
    bounds = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), r"\s+"),
                lambda w: w.rlike("^[a-z]+$"),
            )
        ).alias("n_words"),
    )
    joined = out.join(bounds, on="doc_id").collect()
    assert joined
    for r in joined:
        assert r["bpe_tokens"] >= r["n_words"]


def test_bpe_apply_vocab_shape_matches_chain(spark, sf_dir):
    """Apply-shape switch: the distinct-vocabulary join shape
    (segmented replace chain over distinct words + broadcast
    join-back, the only shape buildable at production rule counts —
    one ~512-deep nested replace projection StackOverflows the
    analyzer) must return EXACTLY the per-row chain's counts, on both
    the char and byte levels, including across a segment boundary."""
    from task_on_dataframes_spark.operators import bpe as B

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for apply_fn, train_kw in (
        (B.bpe_apply_token_counts, {}),
        (B.bpe_apply_byte_token_counts, {"level": "bytes"}),
    ):
        table = B.bpe_train_scalable(docs, "text", merges=16, **train_kw)
        a = {
            (r["doc_id"], r["bpe_tokens"])
            for r in apply_fn(docs, table, via_vocab=False).collect()
        }
        b = {
            (r["doc_id"], r["bpe_tokens"])
            for r in apply_fn(docs, table, via_vocab=True).collect()
        }
        assert a == b and a
    # segment boundary: force a tiny segment so the vocab chain spans
    # multiple checkpointed projections
    old = B.BPE_APPLY_CHAIN_SEG
    B.BPE_APPLY_CHAIN_SEG = 5
    try:
        table = B.bpe_train_scalable(docs, "text", merges=16)
        a = {
            (r["doc_id"], r["bpe_tokens"])
            for r in B.bpe_apply_token_counts(
                docs, table, via_vocab=False
            ).collect()
        }
        b = {
            (r["doc_id"], r["bpe_tokens"])
            for r in B.bpe_apply_token_counts(
                docs, table, via_vocab=True
            ).collect()
        }
        assert a == b and a
    finally:
        B.BPE_APPLY_CHAIN_SEG = old


def test_bpe_train_scalable_exhausts_pairs(spark):
    from task_on_dataframes_spark.operators.bpe import bpe_train_scalable

    # 'ab' has exactly one mergeable pair; asking for more merges than
    # exist must stop early, not loop or error — on the driver-local
    # path and on the batched fallback (cap 0 forces it)
    docs = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    for cap in (2_000_000, 0):
        rows = bpe_train_scalable(
            docs, "text", merges=5, driver_vocab_cap=cap
        ).collect()
        assert len(rows) == 1, cap
        assert (rows[0]["lhs"], rows[0]["rhs"], rows[0]["merged"]) == (
            "a",
            "b",
            "ab",
        )


def test_bpe_train_batched_and_scalable_match_recount(spark):
    """The batched-prefix trainer and the driver-local scalable trainer
    must replay the recount-greedy reference bit-identically on all 20
    merges, including tie-breaks and counts, while costing far fewer
    jobs than one per merge."""
    from task_on_dataframes_spark.operators.bpe import (
        _word_table,
        bpe_train_batched,
        bpe_train_scalable,
    )

    docs = spark.createDataFrame(
        [
            (1, "banana bandana banana cabana"),
            (2, "cabana banana band bandit"),
            (3, "an ban nab banana banter"),
            (4, "deed deeded dada abba banana"),
        ],
        ["doc_id", "text"],
    )
    ref = _naive_greedy_merges(_word_table(docs, "text").collect(), 20)
    stats_b: dict = {}
    batched = [
        tuple(r)
        for r in bpe_train_batched(docs, "text", merges=20, stats=stats_b).collect()
    ]
    assert len(batched) == 20 and batched == ref
    assert stats_b["batches"] < stats_b["merges"], stats_b
    stats_s: dict = {}
    local = [
        tuple(r)
        for r in bpe_train_scalable(docs, "text", merges=20, stats=stats_s).collect()
    ]
    assert local == batched
    assert stats_s["path"] == "local" and stats_s["jobs"] == 1


def test_bpe_train_scalable_falls_back_above_cap(spark):
    from task_on_dataframes_spark.operators.bpe import (
        _word_table,
        bpe_train_scalable,
    )

    docs = spark.createDataFrame(
        [(1, "banana bandana cabana"), (2, "band bandit banter")],
        ["doc_id", "text"],
    )
    stats: dict = {}
    out = [
        tuple(r)
        for r in bpe_train_scalable(
            docs, "text", merges=8, driver_vocab_cap=2, stats=stats
        ).collect()
    ]
    assert stats["path"] == "batched"
    assert out == _naive_greedy_merges(_word_table(docs, "text").collect(), 8)


def test_local_greedy_merges_fuzz_vs_naive():
    """Property fuzz (pure driver, no Spark): the lazy-heap
    delta-maintained local trainer must match a naive recount-greedy
    reference on random word tables — same merges, same counts, same
    tie-breaks."""
    import random

    from task_on_dataframes_spark.operators.bpe import _local_greedy_merges

    rng = random.Random(11)
    for trial in range(200):
        n_words = rng.randint(1, 12)
        rows = []
        seen = set()
        for _ in range(n_words):
            w = "".join(
                rng.choice("abc") for _ in range(rng.randint(1, 7))
            )
            if w in seen:
                continue
            seen.add(w)
            rows.append(
                ("(" + ")(".join(w) + ")", rng.randint(1, 9))
            )
        merges = rng.randint(1, 15)
        got = _local_greedy_merges(list(rows), merges)
        want = _naive_greedy_merges(list(rows), merges)
        assert got == want, (trial, rows, merges, got, want)


def test_accept_batch_fuzz_equals_sequential_greedy():
    """Property fuzz (pure driver): every batch _accept_batch returns
    must equal the next len(batch) steps of naive sequential greedy —
    the exactness claim bpe_train_batched rests on, exercised over
    random word tables and random collection cutoffs (capped lists)."""
    import random

    from task_on_dataframes_spark.operators.bpe import _accept_batch

    def pair_counts(words):
        counts = {}
        for syms, cnt in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        return counts

    def apply_merge(words, lhs, rhs):
        merged, nw = lhs + rhs, []
        for syms, cnt in words:
            new, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    new.append(merged)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            nw.append((new, cnt))
        return nw

    rng = random.Random(23)
    # symbol pool includes MULTI-CHARACTER symbols whose spellings can
    # alias batch-mate concatenations ("a"+"ba" == "ab"+"a" == "aba"),
    # the case where a merge INCREASES an existing pair's count — the
    # 2M acceptance bound exists for exactly this
    pool = ["a", "b", "c", "ab", "ba", "aba", "bb"]
    for trial in range(600):
        words = []
        for _ in range(rng.randint(2, 10)):
            if rng.random() < 0.5:
                syms = [rng.choice("abcd") for _ in range(rng.randint(2, 8))]
            else:
                syms = [rng.choice(pool) for _ in range(rng.randint(2, 6))]
            words.append((syms, rng.randint(1, 9)))
        top_m = rng.randint(2, 12)
        counts = pair_counts(words)
        if not counts:
            continue
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        top = [(l, r, pc) for (l, r), pc in ranked[:top_m]]
        batch = _accept_batch(top, capped=len(ranked) > top_m, remaining=len(top))
        # sequential greedy replay over the SAME table
        cur = words
        for i, (lhs, rhs, pc) in enumerate(batch):
            c = pair_counts(cur)
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            assert best == ((lhs, rhs), pc), (
                trial, i, batch, best, ((lhs, rhs), pc))
            cur = apply_merge(cur, lhs, rhs)


def test_bpe_bytes_trains_on_multilingual_corpus(spark):
    """Byte-level BPE trains a REAL vocabulary where the char-level
    ^[a-z]+$ word table is empty (CJK / accents / emoji / RTL), and
    its merged symbols round-trip to valid UTF-8 byte sequences of
    actual corpus substrings."""
    from task_on_dataframes_spark.operators.bpe import (
        bpe_train_scalable,
        _byte_word_table,
        _word_table,
    )

    docs = spark.createDataFrame(
        [
            (1, "你好世界 你好"),      # CJK, no spaces within words
            (2, "café résumé café über"),
            (3, "شكرا شكرا \U0001f600 \U0001f600\U0001f600"),
            (4, "你好世界 café"),
        ],
        ["doc_id", "text"],
    )
    # char-level word table is EMPTY on this corpus (the documented gap)
    assert _word_table(docs, "text").count() == 0
    stats: dict = {}
    rules = bpe_train_scalable(
        docs, "text", merges=12, level="bytes", stats=stats
    ).collect()
    assert stats["path"] == "local" and stats["jobs"] == 1
    assert len(rules) > 0
    # steps are 1..n and pair counts are positive and non-increasing
    # only weakly meaningful; check decode: every merged symbol is an
    # even-length hex string decoding to a byte substring of some
    # corpus piece's UTF-8 encoding
    pieces = [
        w.encode("utf-8")
        for r in docs.collect()
        for w in r["text"].split()
    ]
    for r in rules:
        assert r["step"] >= 1 and r["pair_count"] > 0
        assert len(r["merged"]) % 2 == 0
        blob = bytes.fromhex(r["merged"])
        assert any(blob in p for p in pieces), (r["merged"], blob)
    # the most frequent first merge must come from a repeated piece
    first = bytes.fromhex(rules[0]["merged"])
    assert sum(p.count(first) for p in pieces) == rules[0]["pair_count"]


def test_bpe_bytes_matches_char_level_on_ascii(spark):
    """On a lowercase-ASCII corpus the byte level learns the SAME merge
    structure as the char level (hex-coded): decode each byte-level
    rule and compare against the char-level table."""
    from task_on_dataframes_spark.operators.bpe import bpe_train_scalable

    docs = spark.createDataFrame(
        [(1, "banana bandana banana cabana"), (2, "cabana banana band")],
        ["doc_id", "text"],
    )
    char = bpe_train_scalable(docs, "text", merges=10).collect()
    byte = bpe_train_scalable(docs, "text", merges=10, level="bytes").collect()
    assert len(char) == len(byte)
    for c, b in zip(char, byte):
        assert c["step"] == b["step"]
        assert bytes.fromhex(b["merged"]).decode() == c["merged"]
        assert c["pair_count"] == b["pair_count"]


def test_bpe_bytes_batched_fallback_matches_local(spark):
    """The byte-level scalable trainer's above-cap fallback (batched
    provably-sequential merges) must replay the driver-local loop
    bit-identically on a mixed-script corpus."""
    from task_on_dataframes_spark.operators.bpe import bpe_train_scalable

    docs = spark.createDataFrame(
        [
            (1, "你好 你好世界 héllo héllo hello"),
            (2, "hello world 你好 world héllo"),
            (3, "\U0001f600 \U0001f600\U0001f600 world hello"),
        ],
        ["doc_id", "text"],
    )
    stats_local: dict = {}
    local = [
        tuple(r)
        for r in bpe_train_scalable(
            docs, "text", merges=24, level="bytes", stats=stats_local
        ).collect()
    ]
    stats_b: dict = {}
    batched = [
        tuple(r)
        for r in bpe_train_scalable(
            docs,
            "text",
            merges=24,
            level="bytes",
            driver_vocab_cap=2,
            stats=stats_b,
        ).collect()
    ]
    assert stats_local["path"] == "local"
    assert stats_b["path"] == "batched"
    assert local == batched
    assert len(local) == 24


def test_merge_table_artifact_trains_once_and_roundtrips(spark):
    """The published-tokenizer contract: first call per tag
    trains and writes parquet; later calls load the artifact without
    invoking the trainer; the loaded table is value-identical to the
    trained one."""
    from task_on_dataframes_spark.operators.bpe import (
        bpe_train_scalable,
        merge_table_artifact,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        ["doc_id", "text"],
    )
    calls = []

    def train():
        calls.append(1)
        return bpe_train_scalable(docs, "text", merges=4)

    first = merge_table_artifact(spark, "t_artifact_once", train)
    direct = bpe_train_scalable(docs, "text", merges=4)
    assert {tuple(r) for r in first.collect()} == {
        tuple(r) for r in direct.collect()
    }
    again = merge_table_artifact(spark, "t_artifact_once", train)
    assert calls == [1], "second call must consume the artifact"
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in first.collect()
    }
