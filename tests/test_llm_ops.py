"""Dedup / similarity / text-analysis / multimodal operator tests."""

from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    lsh = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.9,
                                max_df=10_000)
    lsh_pairs = {(r["a"], r["b"]) for r in lsh.collect()}
    exact_high = {(r["a"], r["b"]) for r in exact.collect()}
    assert exact_high, "corpus should contain planted near-duplicates"
    # LSH with 4x4 bands catches jaccard>=0.9 pairs with prob ~0.99 each
    recall = len(exact_high & lsh_pairs) / len(exact_high)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_incremental_lsh_matches_batch_against_corpus(spark):
    from task_on_dataframes_spark.operators.dedup import (
        incremental_lsh_matches,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely unrelated corpus material here")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 100 (one word changed)
            (1, base.replace("lazy", "sleepy")),
            # novel document — must NOT appear in the output
            (2, "fresh novel content with no overlap whatsoever at all"),
        ],
        ["doc_id", "text"],
    )
    out = incremental_lsh_matches(
        batch, corpus, "doc_id", "text", threshold=0.5
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert set(got) == {1}, f"expected only the near-dup batch doc: {got}"
    assert got[1]["n_matches"] == 1
    assert got[1]["max_jaccard"] >= 0.5
    # batch-vs-batch and corpus-vs-corpus pairs must never surface:
    # ids 2 (novel batch) and 100/101 (corpus side) stay out


def test_persisted_lsh_index_probe_matches_one_shot(spark, sf_dir):
    """build_lsh_index + probe_lsh_index (the write-once / probe-only
    path) must return EXACTLY what the one-shot
    incremental_lsh_matches computes on the same split, and the
    second probe must reuse the persisted layout (idempotent build —
    same table names back, no rewrite)."""
    from task_on_dataframes_spark.operators.dedup import (
        build_lsh_index,
        incremental_lsh_matches,
        probe_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    batch = docs.filter(F.col("doc_id") % 7 != 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_roundtrip"
    )
    # idempotent: a second build is a catalog lookup, not a rewrite
    assert build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_roundtrip"
    ) == (keys_t, sets_t)
    probed = probe_lsh_index(
        spark, batch, "doc_id", "text", keys_t, sets_t, threshold=0.5
    )
    oneshot = incremental_lsh_matches(
        batch, corpus, "doc_id", "text", threshold=0.5
    )
    got = {tuple(r) for r in probed.collect()}
    want = {tuple(r) for r in oneshot.collect()}
    assert got == want and len(want) > 0


def test_probe_lsh_shapes_identical_and_planned(spark, sf_dir):
    """``probe_lsh_index`` has two value-identical join shapes
    (``merge`` = SMJ-over-buckets, ``broadcast`` = broadcast the
    BATCH side, guide §3.1). Pin (a) identical results, (b) each
    shape's join strategy actually lands in the physical plan, and
    (c) neither shape broadcasts the INDEX side (the corpus-scale
    materialization the index exists to avoid)."""
    from task_on_dataframes_spark.operators.dedup import (
        build_lsh_index,
        probe_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    batch = docs.filter(F.col("doc_id") % 7 != 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_shapes"
    )
    frames = {
        s: probe_lsh_index(
            spark, batch, "doc_id", "text", keys_t, sets_t,
            threshold=0.5, shape=s,
        )
        for s in ("merge", "broadcast")
    }
    rows = {s: {tuple(r) for r in f.collect()} for s, f in frames.items()}
    assert rows["merge"] == rows["broadcast"] and len(rows["merge"]) > 0
    plans = {
        s: f._jdf.queryExecution().executedPlan().toString()
        for s, f in frames.items()
    }
    assert "SortMergeJoin" in plans["merge"]
    assert "BroadcastHashJoin" in plans["broadcast"]
    # the index scans stream through the broadcast joins — no
    # SortMergeJoin (batch-side Exchange+Sort) survives. The
    # corpus-never-moves invariant (no Exchange, broadcast included,
    # between an index scan and its join) is pinned for the DEFAULT
    # shape by test_plan_shapes.test_lsh_index_probe_never_shuffles_
    # the_corpus.
    assert "SortMergeJoin" not in plans["broadcast"]


def _probe_profile(batch):
    """The fused profile ``probe_lsh_index`` and ``append_lsh_index``
    build for ``batch``: a fresh frame, so its storage level is
    Spark's cache lookup for that plan."""
    from task_on_dataframes_spark.operators import dedup as D

    bid = batch.select(
        F.col("doc_id").alias("did"), F.col("text").alias("text")
    )
    return D._lsh_doc_profile(D._shingles(bid, "did", "text", 2), 16)


def _probe_index(spark, sf_dir, tag):
    from task_on_dataframes_spark.operators.dedup import build_lsh_index

    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    return build_lsh_index(spark, corpus, "doc_id", "text", name_tag=tag)


def test_probe_persist_registry_evicts_cleared_entries(spark, sf_dir):
    """A probe holds its batch profile, so the append of the same wave
    finds the plan cached and reuses it. After
    ``spark.catalog.clearCache()`` (bench.py calls it between query
    blocks) the plan is a miss: the append persists its own copy for
    its two writes and releases it."""
    from pyspark import StorageLevel

    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        probe_lsh_index,
    )

    batch = _docs(spark, sf_dir).limit(40)
    keys_t, sets_t = build_lsh_index(
        spark, batch, "doc_id", "text", name_tag="t_evict"
    )
    probe_lsh_index(spark, batch, "doc_id", "text", keys_t, sets_t).count()
    # live hit: the profile the append would build reads the probe's cache
    assert _probe_profile(batch).storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()  # simulate bench block boundary
    assert _probe_profile(batch).storageLevel == StorageLevel.NONE
    append_lsh_index(spark, batch, "doc_id", "text", keys_t, sets_t)
    # the appended rows landed, and the owned copy was released
    assert spark.table(sets_t).count() == 2 * batch.count()
    assert _probe_profile(batch).storageLevel == StorageLevel.NONE


def test_single_slot_caches_repersist_after_clear_cache(spark, sf_dir):
    """``spark.catalog.clearCache()`` (bench.py and the A/B and
    scale-fit tools call it between query blocks) drops the IVF
    centroid, distributed-PageRank edge and LSH probe-profile caches.
    The next call with the same plan must persist again rather than
    trust a cleared frame, whose consumers would then each recompute
    it."""
    from pyspark import StorageLevel

    from task_on_dataframes_spark.operators.dedup import probe_lsh_index
    from task_on_dataframes_spark.operators.graph import pagerank
    from task_on_dataframes_spark.operators.similarity import _ivf_centroids

    c = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vc")
    )
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 2)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    keys_t, sets_t = _probe_index(spark, sf_dir, "t_repersist")
    batch = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 1)

    def reads_cache(df):
        plan = df._jdf.queryExecution().withCachedData().toString()
        return "InMemoryRelation" in plan

    def probe():
        probe_lsh_index(spark, batch, "doc_id", "text", keys_t, sets_t)

    _ivf_centroids(c, 4)
    pagerank(edges, nodes, local_edge_cap=0)
    probe()
    spark.catalog.clearCache()
    assert _ivf_centroids(c, 4).storageLevel != StorageLevel.NONE
    assert reads_cache(pagerank(edges, nodes, local_edge_cap=0))
    probe()
    assert _probe_profile(batch).storageLevel != StorageLevel.NONE


def test_probe_holds_the_newest_four_profiles(spark, sf_dir):
    """Probe results are lazy, so the probe cannot release its profile
    itself: of five probes of distinct batches at most four profiles
    stay cached, and the newest is one of them."""
    from pyspark import StorageLevel

    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    keys_t, sets_t = _probe_index(spark, sf_dir, "t_hold4")
    docs = _docs(spark, sf_dir)
    batches = [docs.filter(F.col("doc_id") % 5 == i) for i in range(5)]
    for b in batches:
        probe_lsh_index(spark, b, "doc_id", "text", keys_t, sets_t)
    cached = [
        _probe_profile(b).storageLevel != StorageLevel.NONE for b in batches
    ]
    assert sum(cached) <= 4 and cached[-1], cached


def test_probe_profiles_are_held_per_session(spark, sf_dir):
    """One session's probes never release another session's profile:
    after a second session probes five distinct batches, the profile
    the first session holds is still cached."""
    from pyspark import StorageLevel

    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    keys_t, sets_t = _probe_index(spark, sf_dir, "t_session")
    mine = _docs(spark, sf_dir).filter(F.col("doc_id") % 11 == 0)
    probe_lsh_index(spark, mine, "doc_id", "text", keys_t, sets_t)
    assert _probe_profile(mine).storageLevel != StorageLevel.NONE
    other = spark.newSession()
    theirs = _docs(other, sf_dir)
    for i in range(1, 6):
        b = theirs.filter(F.col("doc_id") % 11 == i)
        probe_lsh_index(other, b, "doc_id", "text", keys_t, sets_t)
    assert _probe_profile(mine).storageLevel != StorageLevel.NONE


def test_stream_drain_bounds_and_releases_its_profiles(
    spark, sf_dir, tmp_path, monkeypatch
):
    """PySpark wraps a streaming query's session in a new Python object
    for every micro-batch, yet the query's batches share one bound:
    over six micro-batches at most four probe profiles are cached after
    any probe, the current one among them, and none once the drain has
    finished."""
    from pyspark import StorageLevel

    from task_on_dataframes_spark.operators import dedup as D
    from task_on_dataframes_spark.streaming.index import (
        index_maintain_stream,
        stage_wave_files,
    )

    docs = _docs(spark, sf_dir)
    keys_t, sets_t = _probe_index(spark, sf_dir, "t_drain")
    src = stage_wave_files(
        spark, docs, [F.col("doc_id") % 7 == i for i in range(1, 7)]
    )
    probe_lsh_index = D.probe_lsh_index
    profiles, after_probe = [], []

    def probe(sess, batch, *args, **kwargs):
        out = probe_lsh_index(sess, batch, *args, **kwargs)
        profiles.append(_probe_profile(batch))
        cached = [p.storageLevel != StorageLevel.NONE for p in profiles]
        after_probe.append((sum(cached), cached[-1]))
        return out

    monkeypatch.setattr(D, "probe_lsh_index", probe)
    index_maintain_stream(
        spark, src, keys_t, sets_t, results_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
    )
    assert len(after_probe) == 6
    assert all(n <= 4 and newest for n, newest in after_probe), after_probe
    assert all(p.storageLevel == StorageLevel.NONE for p in profiles)


def test_hold_keeps_its_bound_under_concurrent_callers(spark):
    """Eight threads hold 32 distinct frames in one slot: however the
    calls interleave, exactly ``keep`` of them stay cached."""
    import sys
    import threading

    from pyspark import StorageLevel

    from task_on_dataframes_spark.operators.persist import hold

    frames = [spark.range(1000 + i) for i in range(32)]

    def work(fs):
        for f in fs:
            hold(f, "stress", keep=3)

    threads = [
        threading.Thread(target=work, args=(frames[i::8],)) for i in range(8)
    ]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    cached = [f.storageLevel != StorageLevel.NONE for f in frames]
    assert sum(cached) == 3, cached


def test_index_writes_one_file_per_bucket(spark, sf_dir):
    """Build/append repartition to the bucket column before every
    bucketed write, so a build emits at most one sorted file per
    bucket and each append wave adds at most n_buckets more (not one
    file per upstream partition per touched bucket, which is 256
    files for the 8-bucket keys table at sf0.1). Guards the guide-§6
    small-files contract the probe SMJ and the compaction pass both
    depend on."""
    from task_on_dataframes_spark.operators.dedup import (
        LSH_INDEX_BUCKETS,
        append_lsh_index,
        build_lsh_index,
    )
    from task_on_dataframes_spark.operators.similarity import (
        IVF_INDEX_BUCKETS,
        append_ivf_index,
        build_ivf_index,
    )

    docs = _docs(spark, sf_dir)
    keys_t, sets_t = build_lsh_index(
        spark, docs.filter(F.col("doc_id") % 3 == 0),
        "doc_id", "text", name_tag="t_onefile",
    )
    for t in (keys_t, sets_t):
        n = len(spark.table(t).inputFiles())
        assert n <= LSH_INDEX_BUCKETS, (t, n)
    append_lsh_index(
        spark, docs.filter(F.col("doc_id") % 3 == 1),
        "doc_id", "text", keys_t, sets_t,
    )
    for t in (keys_t, sets_t):
        n = len(spark.table(t).inputFiles())
        assert n <= 2 * LSH_INDEX_BUCKETS, (t, n)

    emb = _emb(spark, sf_dir)
    cents_t, lists_t = build_ivf_index(
        spark, emb.filter(F.col("vec_id") % 3 == 0),
        name_tag="t_onefile",
    )
    assert len(spark.table(lists_t).inputFiles()) <= IVF_INDEX_BUCKETS
    append_ivf_index(
        spark, emb.filter(F.col("vec_id") % 3 == 1), cents_t, lists_t
    )
    assert len(spark.table(lists_t).inputFiles()) <= 2 * IVF_INDEX_BUCKETS


def test_lsh_build_half_failure_propagates_and_retry_rebuilds(
    spark, sf_dir, monkeypatch
):
    """Fault injection on the shared two-table build: when the sets
    write raises, the exception reaches the caller only after the
    concurrent keys write has finished, and nothing is committed. A
    retried build under the same tag rebuilds the half-built pair
    (it is not reused) to exactly what a clean build writes."""
    import pytest

    from task_on_dataframes_spark.operators import index
    from task_on_dataframes_spark.operators.dedup import build_lsh_index

    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    real_sink = index.bucketed_table_sink
    finished = []

    def flaky_sink(df, table, *args, **kwargs):
        if table.startswith("tada_lshidx_sets_"):
            raise RuntimeError("injected sets-write failure")
        real_sink(df, table, *args, **kwargs)
        finished.append(table)

    monkeypatch.setattr(index, "bucketed_table_sink", flaky_sink)
    with pytest.raises(RuntimeError, match="injected sets-write failure"):
        build_lsh_index(spark, corpus, "doc_id", "text", name_tag="t_fault")
    # the sibling write ran to completion before the error propagated,
    # and the half-built pair has no committed generation
    assert finished == ["tada_lshidx_keys_t_fault"]
    assert spark.catalog.tableExists("tada_lshidx_keys_t_fault")
    assert index.committed(spark, "tada_lshidx_keys_t_fault") == []

    monkeypatch.setattr(index, "bucketed_table_sink", real_sink)
    retried = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_fault"
    )
    clean = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_fault_clean"
    )
    assert index.committed(spark, retried[0]) == ["0"]
    for got_df, want_df in zip(
        index.read_committed(spark, *retried),
        index.read_committed(spark, *clean),
    ):
        got = sorted(map(tuple, got_df.collect()))
        want = sorted(map(tuple, want_df.collect()))
        assert got == want and want


def _fault_fixture(spark):
    """A two-doc corpus, a wave holding a near-dup of corpus doc 100,
    and a probe batch that near-dups both: its probe result tells
    which generations a reader sees."""
    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "stone bridge by the river every single morning without fail"
    )
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely different corpus text here "
                            "about astronomy and telescopes at night")],
        ["doc_id", "text"],
    )
    wave = spark.createDataFrame(
        [(200, base.replace("lazy", "sleepy"))], ["doc_id", "text"]
    )
    probe = spark.createDataFrame(
        [(300, base.replace("lazy", "drowsy"))], ["doc_id", "text"]
    )
    return corpus, wave, probe


def _probe_rows(spark, batch, keys_t, sets_t):
    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    return {
        tuple(r)
        for r in probe_lsh_index(
            spark, batch, "doc_id", "text", keys_t, sets_t, threshold=0.5
        ).collect()
    }


def test_lsh_append_half_failure_leaves_the_commit_unchanged(
    spark, monkeypatch
):
    """Fault injection on the two-table append: the sets write raises
    while the keys write lands. The error propagates, the committed
    generations are unchanged, a probe returns what it returned before
    the append (the keys rows of the failed generation are invisible),
    and a retried append probes equal to a clean append."""
    import pytest

    from task_on_dataframes_spark.operators import index
    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
    )

    corpus, wave, batch = _fault_fixture(spark)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_append_fault"
    )
    gens = index.committed(spark, keys_t)
    before = _probe_rows(spark, batch, keys_t, sets_t)
    real_write = index._write_gen

    def flaky_write(spec, *args):
        if spec[0] == sets_t:
            raise RuntimeError("injected sets-append failure")
        real_write(spec, *args)

    monkeypatch.setattr(index, "_write_gen", flaky_write)
    with pytest.raises(RuntimeError, match="injected sets-append failure"):
        append_lsh_index(spark, wave, "doc_id", "text", keys_t, sets_t)
    assert index.committed(spark, keys_t) == gens
    assert _probe_rows(spark, batch, keys_t, sets_t) == before

    monkeypatch.setattr(index, "_write_gen", real_write)
    append_lsh_index(spark, wave, "doc_id", "text", keys_t, sets_t)
    ck, cs = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_append_clean"
    )
    append_lsh_index(spark, wave, "doc_id", "text", ck, cs)
    assert index.committed(spark, keys_t) == index.committed(spark, ck)
    after = _probe_rows(spark, batch, keys_t, sets_t)
    assert after == _probe_rows(spark, batch, ck, cs)
    # the wave's near-dup is visible once its generation is committed
    assert after != before


def test_lsh_compact_failure_before_commit_keeps_the_index(
    spark, monkeypatch
):
    """Fault injection on compaction: the commit raises after the
    compacted generation is written. The probe is unchanged and the
    committed generations are the old ones; a rerun compacts to one
    generation of at most one file per bucket, probe still unchanged."""
    import glob
    import os

    import pytest

    from task_on_dataframes_spark.operators import index
    from task_on_dataframes_spark.operators.dedup import (
        LSH_INDEX_BUCKETS,
        append_lsh_index,
        build_lsh_index,
        compact_lsh_index,
    )

    corpus, wave, batch = _fault_fixture(spark)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_compact_fault"
    )
    append_lsh_index(spark, wave, "doc_id", "text", keys_t, sets_t)
    gens = index.committed(spark, keys_t)
    before = _probe_rows(spark, batch, keys_t, sets_t)
    assert before

    def failing_commit(*args):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(index, "_commit", failing_commit)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        compact_lsh_index(spark, keys_t, sets_t)
    assert index.committed(spark, keys_t) == gens
    assert _probe_rows(spark, batch, keys_t, sets_t) == before

    monkeypatch.undo()
    compact_lsh_index(spark, keys_t, sets_t)
    (new,) = index.committed(spark, keys_t)
    assert new not in gens
    assert _probe_rows(spark, batch, keys_t, sets_t) == before
    for t in (keys_t, sets_t):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .filter(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        ).removeprefix("file:")
        assert os.listdir(loc) and all(
            d == f"gen={new}" for d in os.listdir(loc) if d.startswith("gen=")
        )
        files = glob.glob(os.path.join(loc, "**", "*.parquet"), recursive=True)
        assert len(files) <= LSH_INDEX_BUCKETS, files


def test_lsh_index_append_then_compact_roundtrip(spark, sf_dir):
    """The index lifecycle: appending a wave into the persisted index
    makes its documents probe-visible (equal to a one-shot over
    corpus+wave), the append must not rewrite existing index files,
    and in-place compaction restores one file per bucket while leaving
    probe results bit-identical."""
    import glob
    import os

    from task_on_dataframes_spark.operators.dedup import (
        LSH_INDEX_BUCKETS,
        append_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        incremental_lsh_matches,
        probe_lsh_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "stone bridge by the river every single morning without fail"
    )
    w1doc = base.replace("lazy", "sleepy")  # near-dup of corpus 100
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely different corpus text here "
                            "about astronomy and telescopes at night")],
        ["doc_id", "text"],
    )
    wave1 = spark.createDataFrame(
        [(200, w1doc), (201, "novel wave one content with no overlap "
                             "whatsoever to anything else at all")],
        ["doc_id", "text"],
    )
    wave2 = spark.createDataFrame(
        # near-dup of WAVE-1 doc 201 — only findable post-append
        [(300, "novel wave one content with no overlap whatsoever "
               "to anything else here")],
        ["doc_id", "text"],
    )
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag="t_maintain"
    )
    keys_dir = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {keys_t}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    ).removeprefix("file:")
    pattern = os.path.join(keys_dir, "**", "*.parquet")
    before = {p: os.path.getmtime(p) for p in glob.glob(pattern, recursive=True)}
    append_lsh_index(spark, wave1, "doc_id", "text", keys_t, sets_t)
    after = {p: os.path.getmtime(p) for p in glob.glob(pattern, recursive=True)}
    # append-only: every pre-existing file survives untouched
    assert set(before) <= set(after) and len(after) > len(before)
    assert all(after[p] == m for p, m in before.items())
    probed = probe_lsh_index(
        spark, wave2, "doc_id", "text", keys_t, sets_t, threshold=0.5
    )
    oneshot = incremental_lsh_matches(
        wave2, corpus.unionByName(wave1), "doc_id", "text", threshold=0.5
    )
    got = {tuple(r) for r in probed.collect()}
    want = {tuple(r) for r in oneshot.collect()}
    assert got == want and len(want) > 0
    # compaction: one sorted file per bucket, identical probe output
    compact_lsh_index(spark, keys_t, sets_t)
    files = glob.glob(pattern, recursive=True)
    assert len(files) <= LSH_INDEX_BUCKETS, files
    assert not set(files) & set(after)  # the old generations are gone
    compacted = {
        tuple(r)
        for r in probe_lsh_index(
            spark, wave2, "doc_id", "text", keys_t, sets_t, threshold=0.5
        ).collect()
    }
    assert compacted == got


def test_ivf_index_compact_roundtrip(spark, sf_dir):
    """The vector-index compaction (twin of the LSH roundtrip above):
    appending a wave leaves multi-file cid buckets; in-place compaction
    restores at most one file per bucket while leaving probe results
    bit-identical, and the frozen centroid table is left untouched."""
    import glob
    import os

    from task_on_dataframes_spark.operators.similarity import (
        IVF_INDEX_BUCKETS,
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        probe_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(
        (F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 5)
    )
    cents_t, lists_t = build_ivf_index(
        spark, base, "vec_id", "embedding", name_tag="t_ivfcmp",
        n_centroids=8,
    )
    growth = emb.filter(F.col("vec_id") % 10 == 5)
    append_ivf_index(spark, growth, cents_t, lists_t)
    queries_df = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 100)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    before = {
        tuple(r)
        for r in probe_ivf_index(
            spark, queries_df, cents_t, lists_t, k=5, n_probe=3
        ).collect()
    }
    assert len(before) > 0
    old_c = {(r["cid"], tuple(r["cv"])) for r in spark.table(cents_t).collect()}
    compact_ivf_index(spark, lists_t)
    cl_dir = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {lists_t}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    ).removeprefix("file:")
    files = glob.glob(os.path.join(cl_dir, "**", "*.parquet"), recursive=True)
    assert len(files) <= IVF_INDEX_BUCKETS, files
    new_c = {(r["cid"], tuple(r["cv"])) for r in spark.table(cents_t).collect()}
    assert new_c == old_c
    after = {
        tuple(r)
        for r in probe_ivf_index(
            spark, queries_df, cents_t, lists_t, k=5, n_probe=3
        ).collect()
    }
    assert after == before


def test_lsh_ann_topk_multi_compiles_without_fallback(spark):
    """Multi-table LSH must compile under whole-stage codegen: with
    ``spark.sql.codegen.fallback`` off, a Generate stage that inlines
    every table's hyperplane sums fails Janino and raises instead of
    falling back."""
    from task_on_dataframes_spark.operators.similarity import (
        lsh_ann_topk_multi,
    )

    rows = [
        (i, [float(((i * 7 + d * 13) % 17) - 8) for d in range(64)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.withColumnRenamed("vec_id", "query_id")
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = lsh_ann_topk_multi(
            emb, queries, k=3, planes=4, n_tables=2
        ).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert got


def test_exact_dedup_counts_sum_to_corpus(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import exact_dedup

    docs = _docs(spark, sf_dir)
    rep = exact_dedup(docs, "doc_id", "text")
    agg = rep.agg(F.sum("n_dups").alias("total")).collect()[0]
    assert agg["total"] == docs.count()


def test_simhash_near_dups_have_high_jaccard(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    fps = simhash_fingerprints(docs, "doc_id", "text")
    assert fps.count() == docs.count()
    pairs = simhash_pairs(fps, max_hamming=0)
    # hamming==0 pairs exist for the planted duplicates
    assert pairs.count() >= 0  # smoke: plan executes; contents oracle-checked


def test_simhash_graph_contract_is_48_bit(spark, sf_dir):
    """The dedup_components / dedup_keep_canonical contract width is
    SIMHASH_GRAPH_BITS=48 (SCALE.md §20: the 32-bit chunk space
    saturates past ~1e6 docs). Pins the constants, checks the wide
    fingerprint actually uses the high bits, and that the 48-bit
    Hamming-0 pair set is a subset of the 32-bit one (identical 48-bit
    fingerprints imply identical low 32 bits; the reverse can be a
    collision — exactly the discrimination the wider contract buys)."""
    from task_on_dataframes_spark.operators.dedup import (
        SIMHASH_GRAPH_BITS,
        SIMHASH_GRAPH_CHUNKS,
        simhash_fingerprints,
        simhash_pairs,
    )

    assert SIMHASH_GRAPH_BITS == 48
    assert SIMHASH_GRAPH_CHUNKS == 4
    docs = _docs(spark, sf_dir)
    fps = simhash_fingerprints(docs, "doc_id", "text", bits=SIMHASH_GRAPH_BITS)
    mx = fps.agg(F.max("simhash").alias("m")).collect()[0]["m"]
    assert mx >= (1 << 32)  # high bits are populated, not degenerate
    wide0 = simhash_pairs(
        fps,
        max_hamming=0,
        chunks=SIMHASH_GRAPH_CHUNKS,
        bits=SIMHASH_GRAPH_BITS,
    )
    narrow0 = simhash_pairs(
        simhash_fingerprints(docs, "doc_id", "text"), max_hamming=0
    )
    wide_set = set(map(tuple, wide0.select("a", "b").collect()))
    narrow_set = set(map(tuple, narrow0.select("a", "b").collect()))
    assert wide_set  # planted exact duplicates exist at this SF
    assert wide_set <= narrow_set


def test_lsh_ann_recall_against_brute_force(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_ann_topk(emb, q, k=5, dims=64, planes=6)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # random-hyperplane LSH on near-orthogonal random vectors is a weak
    # signal; just require nonzero overlap and well-formed output
    assert len(a & e) > 0
    assert all(r["rank"] <= 5 for r in approx.collect())


def test_multimodal_plumbing_batches(spark, sf_dir):
    from task_on_dataframes_spark.operators.multimodal import (
        decode_media_meta,
        make_media_table,
        sample_frames,
    )

    media = make_media_table(_docs(spark, sf_dir))
    assert [f.name for f in media.schema.fields] == [
        "media_id", "payload", "media_type",
    ]
    assert media.schema["payload"].dataType.typeName() == "binary"
    meta = decode_media_meta(media)
    rows = meta.limit(5).collect()
    assert all(1 <= r["width"] <= 64 and 1 <= r["n_frames"] <= 10 for r in rows)
    frames = sample_frames(meta)
    n_frames_total = meta.agg(F.sum("n_frames")).collect()[0][0]
    assert frames.count() == n_frames_total


def test_deterministic_split_is_stable_and_disjoint(spark, sf_dir):
    from task_on_dataframes_spark.operators.sampling import assign_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = {r["doc_id"]: r["split"] for r in assign_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in assign_split(docs, "doc_id").collect()}
    assert a == b  # reproducible
    n = len(a)
    from collections import Counter

    dist = Counter(a.values())
    assert 0.8 * n <= dist["train"] <= 0.97 * n
    assert set(dist) <= {"train", "val", "test"}


def test_connected_components_labels_min_id(spark):
    from task_on_dataframes_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (chain), {10,11}, edge list directionless
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "a long, b long"
    )
    out = {r["member"]: r["rep"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_multimodal_resize_and_features_feed_similarity(spark, sf_dir):
    from task_on_dataframes_spark.operators.multimodal import (
        extract_features,
        make_media_table,
        resize_media,
    )
    from task_on_dataframes_spark.operators.similarity import cosine_topk

    media = make_media_table(_docs(spark, sf_dir)).limit(50)
    small = resize_media(media, width=8, height=8)
    rows = small.limit(3).collect()
    assert all(len(bytes(r["payload"])) == 64 for r in rows)
    assert all((r["width"], r["height"]) == (8, 8) for r in rows)

    feats = extract_features(media, dims=16)
    f0 = feats.limit(1).collect()[0]
    assert len(f0["features"]) == 16
    assert abs(sum(f0["features"]) - 1.0) < 1e-5  # normalized histogram
    # array<float> plugs straight into the similarity operators
    corpus = feats.select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    q = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(corpus, q, k=3)
    assert top.count() == 6


def test_langid_mostly_english_vocab(spark, sf_dir):
    from task_on_dataframes_spark.operators.textstats import lang_id

    out = lang_id(_docs(spark, sf_dir), "doc_id", "text")
    # synthetic corpus vocabulary is English-ish; the heuristic must be
    # deterministic and total
    assert out.filter(F.col("pred_lang").isNull()).isEmpty()


def test_ivf_ann_recall_floor_against_brute_force(spark, sf_dir):
    """IVF with hash-stratified centroids must hit a stated recall floor
    vs the exact baseline. Measured on the synthetic random embeddings
    (near-orthogonal — IVF's adversarial case): recall@10 = 0.48 at
    n_probe=4/16 and 0.77 at n_probe=8/16 (sf0.01). Floors leave slack
    for SF-to-SF variation but would catch a broken centroid pick or
    probe ranking (either collapses recall toward n_probe/n_centroids
    x random)."""
    from task_on_dataframes_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=10).collect()
    }
    lo = {
        (r["query_id"], r["vec_id"])
        for r in ivf_ann_topk(emb, q, k=10, n_centroids=16, n_probe=4).collect()
    }
    hi = {
        (r["query_id"], r["vec_id"])
        for r in ivf_ann_topk(emb, q, k=10, n_centroids=16, n_probe=8).collect()
    }
    assert len(lo & exact) / len(exact) >= 0.35
    assert len(hi & exact) / len(exact) >= 0.60
    # more probes must not lose recall
    assert len(hi & exact) >= len(lo & exact)


def test_real_codec_routing_gated_on_pil(spark, sf_dir):
    """When PIL is present, image/* payloads route through the real
    codec; text/plain always takes the deterministic fake (oracle
    exactness). Without PIL the auto mode must equal the fake path."""
    from task_on_dataframes_spark.operators.multimodal import (
        HAS_PIL,
        decode_media_meta,
        make_media_table,
    )

    media = make_media_table(_docs(spark, sf_dir).limit(50))
    auto = decode_media_meta(media).collect()
    fake = decode_media_meta(media, use_real_codec=False).collect()
    # all payloads here are text/plain → identical regardless of PIL
    assert sorted(map(tuple, auto)) == sorted(map(tuple, fake))

    if HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (17, 13)).save(buf, format="PNG")
        img = spark.createDataFrame(
            [(1, bytearray(buf.getvalue()), "image/png")],
            "media_id long, payload binary, media_type string",
        )
        row = decode_media_meta(img).collect()[0]
        assert (row["width"], row["height"]) == (17, 13)


def test_keep_canonical_drops_only_nonreps(spark):
    from task_on_dataframes_spark.operators.dedup import keep_canonical

    df = spark.createDataFrame(
        [(i, f"row{i}") for i in range(8)], "id long, v string"
    )
    # clusters {0,1,2} (chain) and {5,6}; 3,4,7 untouched
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a long, b long"
    )
    kept = {r["id"] for r in keep_canonical(df, "id", pairs).collect()}
    assert kept == {0, 3, 4, 5, 7}


def test_pii_redact_counts_and_replaces(spark):
    from task_on_dataframes_spark.operators.textstats import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and https://spark.apache.org/docs now"),
            (2, "call 555-123-4567 or +1 555.123.4567 ok"),
            (3, "a plain b text with q single chars"),
            (4, "nothing to redact here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_url"] == 1
    assert rows[2]["n_phone"] >= 1
    assert rows[3]["n_single_char"] == 3
    assert rows[4]["redacted_len"] == len("nothing to redact here")
    # redaction shrinks/changes length where matches occurred
    assert rows[1]["redacted_len"] != len(rows[1].asDict().get("text", "") or "x")


def test_ngram_counts_topk_deterministic(spark):
    from task_on_dataframes_spark.operators.text import ngram_counts

    df = spark.createDataFrame(
        [("a b a b c",), ("a b x",), ("zz",)], "text string"
    )
    out = ngram_counts(df, "text", n=2, k=3).collect()
    assert [(r["gram"], r["cnt"]) for r in out] == [
        ("a b", 3),
        ("b a", 1),
        ("b c", 1),
    ]


def test_stratified_sample_deterministic_and_full_strata(spark, sf_dir):
    from task_on_dataframes_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    kept1 = stratified_sample(docs, "doc_id", "lang", {"en": 0.2}, 1.0)
    kept2 = stratified_sample(docs, "doc_id", "lang", {"en": 0.2}, 1.0)
    ids1 = {r["doc_id"] for r in kept1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in kept2.select("doc_id").collect()}
    assert ids1 == ids2, "stratified sample must be reproducible"
    # non-en strata keep everything; en keeps a strict subset
    tot = docs.groupBy("lang").count().collect()
    keptc = {r["lang"]: r["count"] for r in kept1.groupBy("lang").count().collect()}
    for r in tot:
        if r["lang"] == "en":
            assert keptc.get("en", 0) < r["count"]
        else:
            assert keptc.get(r["lang"], 0) == r["count"]


def test_weighted_sample_extremes_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir)
    n = docs.count()
    # weight 1000 keeps everything, weight 0 keeps nothing
    assert weighted_sample(docs, "doc_id", F.lit(1000)).count() == n
    assert weighted_sample(docs, "doc_id", F.lit(0)).count() == 0
    # mid weights are reproducible and keep a proper subset
    k1 = {r["doc_id"] for r in weighted_sample(docs, "doc_id", F.lit(400)).collect()}
    k2 = {r["doc_id"] for r in weighted_sample(docs, "doc_id", F.lit(400)).collect()}
    assert k1 == k2 and 0 < len(k1) < n
    # per-row weights: a kept row with weight w stays kept at weight w+1
    # (monotone in the weight, since the bucket is fixed per key)
    k_hi = {r["doc_id"] for r in weighted_sample(docs, "doc_id", F.lit(600)).collect()}
    assert k1 <= k_hi


def test_span_dedup_keeps_first_occurrence_and_rebuilds(spark):
    from task_on_dataframes_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4"),  # spans: "w1 w2", "w3 w4"
            (2, "w3 w4 x y"),  # "w3 w4" already seen in doc 1
            (3, "w1 w2"),  # entirely duplicated
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in span_dedup(df, "doc_id", "text", span_tokens=2).collect()
    }
    assert rows[1]["n_spans_kept"] == 2
    assert rows[1]["text_deduped"] == "w1 w2 w3 w4"
    assert rows[2]["n_spans_kept"] == 1
    assert rows[2]["text_deduped"] == "x y"
    assert rows[3]["n_spans_kept"] == 0
    assert rows[3]["text_deduped"] == ""


def test_hashed_classifier_exact_fold(spark):
    from task_on_dataframes_spark.operators.textstats import (
        hashed_classifier_score,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a")], "doc_id long, text string"
    )
    # single bucket: every token adds the same weight
    rows = {
        r["doc_id"]: r
        for r in hashed_classifier_score(
            df, "doc_id", "text", [10_000], intercept_fp=-15_000
        ).collect()
    }
    assert rows[1]["z_fp"] == 3 * 10_000 - 15_000
    assert rows[1]["is_positive"] is True
    assert rows[2]["z_fp"] == 10_000 - 15_000
    assert rows[2]["is_positive"] is False
    assert abs(rows[1]["score"] - 1.5) < 1e-12


def test_quantize_int8_bounds_and_zero_vector(spark):
    from task_on_dataframes_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    r1 = rows[1]
    assert r1["q_min"] == -127 and r1["q_max"] == 64  # 1.0/(2/127)=63.5 -> 64
    assert abs(r1["scale"] - 2.0 / 127.0) < 1e-6
    r2 = rows[2]
    assert r2["q_min"] == 0 and r2["q_max"] == 0 and r2["scale"] == 0.0


def test_stream_hourly_matches_batch_bit_for_bit(spark, sf_dir):
    """The streaming plan (watermark + window state) must produce the
    exact rows of the batch twin — decimal-exact sums make the
    comparison order-proof."""
    import __spark_entry__ as e

    stream_rows = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in e.queries()["stream_hourly_agg"](spark, sf_dir).collect()
    }
    batch_rows = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in e.queries()["ev_hourly_agg"](spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_multi_table_lsh_raises_recall(spark, sf_dir):
    """Union of 2 independent 4-plane tables must find at least as many
    true neighbors as one 8-plane table (coarser buckets + union)."""
    from task_on_dataframes_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
        lsh_ann_topk_multi,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    single = {
        (r["query_id"], r["vec_id"])
        for r in lsh_ann_topk(emb, queries, k=10, planes=8).collect()
    }
    multi = {
        (r["query_id"], r["vec_id"])
        for r in lsh_ann_topk_multi(
            emb, queries, k=10, planes=4, n_tables=2
        ).collect()
    }
    r_single = len(truth & single) / len(truth)
    r_multi = len(truth & multi) / len(truth)
    assert r_multi >= r_single, (r_multi, r_single)
    # absolute floor is modest: the synthetic embeddings are random, so
    # near-neighbor structure is weak (measured 0.23 multi vs 0.06
    # single at sf0.001) — the relative gain is the contract
    assert r_multi >= 0.15, r_multi


def test_pii_redact_is_idempotent(spark):
    """Redacting an already-redacted corpus must find nothing: the
    placeholder tokens are outside every pattern's language."""
    from task_on_dataframes_spark.operators.textstats import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com at https://a.io or 555-123-4567 a b"),
            (2, "x yz 123-456-7890 http://h/p q"),
        ],
        "doc_id long, text string",
    )
    from task_on_dataframes_spark.operators.textstats import PII_PATTERNS
    from pyspark.sql import functions as FF

    redacted = df.select("doc_id", FF.col("text"))
    for _, pat, repl in PII_PATTERNS:
        redacted = redacted.withColumn(
            "text", FF.regexp_replace("text", pat, repl)
        )
    second = pii_redact(redacted, "doc_id", "text")
    for r in second.collect():
        assert r["n_email"] == 0 and r["n_url"] == 0 and r["n_phone"] == 0
        assert r["n_single_char"] == 0


def test_quantize_int8_property_bounds(spark):
    """Quantized values always lie in [-127, 127] and the max-magnitude
    dimension maps to +-127 exactly."""
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-10, 10) for _ in range(16)]) for i in range(50)
    ]
    from task_on_dataframes_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for r in quantize_int8(df).collect():
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        assert max(abs(r["q_min"]), abs(r["q_max"])) == 127


def test_winnowing_guarantee_shared_substring(spark):
    """Winnowing's contract: documents sharing a substring of length
    >= shingle + window - 1 share at least one fingerprint."""
    from task_on_dataframes_spark.operators.textstats import (
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "cccc dddd " + shared + " eeee"),
            (3, "totally unrelated text with zero overlap whatsoever!"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", shingle=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    # selection stores a fraction of all gram hashes
    assert len(by_doc[1]) < len("AAAA " + shared + " BBBB") - 8 + 1


def test_repetition_stats_flags_repetitive_docs(spark):
    from task_on_dataframes_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            # "a b" bigram dominates: toks = a b a b a b -> bigrams
            # [a b, b a, a b, b a, a b]: top count 3 of 5
            (1, "a b a b a b"),
            # all-distinct tokens, nothing repeats
            (2, "one two three four five six seven eight nine ten"),
            # duplicated lines (2 of 4 lines are repeats)
            (3, "x y\nz w\nx y\nz w"),
            # shorter than a trigram
            (4, "solo"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_stats(df, "doc_id", "text").collect()
    }
    assert abs(rows[1]["top_2gram_frac"] - 3 / 5) < 1e-9
    assert rows[1]["is_repetitive"]
    assert rows[1]["dup_3gram_frac"] > 0.18  # "a b a"/"b a b" repeat

    assert rows[2]["dup_token_frac"] == 0.0
    assert abs(rows[2]["top_2gram_frac"] - 1 / 9) < 1e-6  # 9 distinct bigrams
    assert not rows[2]["is_repetitive"]

    assert abs(rows[3]["dup_line_frac"] - 0.5) < 1e-9

    assert rows[4]["n_tokens"] == 1
    assert rows[4]["top_2gram_frac"] == 0.0
    assert rows[4]["dup_3gram_frac"] == 0.0
    assert not rows[4]["is_repetitive"]


def test_kmeans_assignments_partition_and_improve(spark, sf_dir):
    from task_on_dataframes_spark.operators.clustering import (
        kmeans_assignments,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    a3 = kmeans_assignments(emb, k=8, iters=3).collect()
    assert len(a3) == n  # every vector assigned exactly once
    assert {r["cluster"] for r in a3} <= set(range(8))
    assert all(-1.0 <= r["cos"] <= 1.0 for r in a3)
    # Lloyd objective (mean within-cluster similarity) must not degrade
    a1 = kmeans_assignments(emb, k=8, iters=1).collect()
    m1 = sum(r["cos"] for r in a1) / n
    m3 = sum(r["cos"] for r in a3) / n
    assert m3 >= m1 - 1e-6, f"iterating degraded the objective: {m1} -> {m3}"


def test_tfidf_df_strategies_identical(spark, sf_dir):
    from task_on_dataframes_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(
        tuple(r)
        for r in tfidf_top_terms(
            docs, "doc_id", "text", k=3, df_strategy="window"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in tfidf_top_terms(
            docs, "doc_id", "text", k=3, df_strategy="join"
        ).collect()
    )
    assert a == b and a


def test_jaccard_verify_matches_brute_force_sets(spark):
    """The packed-array jaccard_verify (array_intersect on
    collect_set'd xxhash64 keys, no explode/sort-merge intersection
    join) must be value-identical to a Python brute force on raw
    token sets: same pairs, same 6-decimal jaccard, pairs whose docs
    are absent from the set table silently dropped (inner join
    semantics), and the threshold boundary inclusive."""
    from task_on_dataframes_spark.operators.dedup import jaccard_verify

    raw = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "e"},      # J(1,2) = 3/5 = 0.6
        3: {"a", "b", "x", "y"},      # J(1,3) = 2/6 ~ 0.333
        4: {"p", "q"},                # J with 1..3 = 0
        5: {"a", "b", "c", "d"},      # J(1,5) = 1.0
    }
    sets = spark.createDataFrame(
        [(d, t) for d, toks in raw.items() for t in toks],
        schema="did bigint, tok string",
    )
    # candidate list includes a zero-overlap pair and one doc (9)
    # that has no set rows at all
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (1, 9)], schema="a bigint, b bigint"
    )

    def brute(a, b):
        # HALF_UP to match Spark's F.round; Python round() is
        # banker's and would diverge on an exact .xxxxxx5 tie
        # (the fixtures' 0.6/0.333/1.0 never tie; a new fixture may).
        from decimal import Decimal, ROUND_HALF_UP

        inter = len(raw[a] & raw[b])
        j = Decimal(inter) / Decimal(len(raw[a]) + len(raw[b]) - inter)
        return float(j.quantize(Decimal("0.000001"), ROUND_HALF_UP))

    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_verify(cands, sets, threshold=0.6).collect()
    }
    want = {
        (a, b): brute(a, b)
        for a, b in [(1, 2), (1, 3), (1, 4), (1, 5)]
        if brute(a, b) >= 0.6
    }
    assert got == want          # {(1,2): 0.6 inclusive, (1,5): 1.0}
    assert (1, 9) not in got    # absent doc -> pair dropped, no error
