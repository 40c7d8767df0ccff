"""Behavior tests: GD linear probe, count-min sketch,
repeated-substring spans (exact values are the DuckDB oracles' job —
these assert the contracts hold standalone at smoke scale)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_probe_descends_and_is_partitioning_invariant(spark, sf_dir):
    from task_on_dataframes_spark.operators.probe import (
        linear_probe_weights,
        probe_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = {
        r["feature"]: r["weight_micro"]
        for r in linear_probe_weights(docs, "text", iters=4).collect()
    }
    assert set(w) == {"bias", "len_tok", "len_char", "digit_frac"}
    # the target (stopword fraction) is positive, so GD from zero must
    # move the bias weight up — an all-zero result would mean the loop
    # never descended
    assert w["bias"] > 0
    # exact decimal gradient sums make training independent of the
    # partition layout — THE scale property: same weights from 1
    # partition and from 16
    w1 = {
        r["feature"]: r["weight_micro"]
        for r in linear_probe_weights(
            docs.repartition(16), "text", iters=4
        ).collect()
    }
    assert w == w1
    # loss actually decreases across the fixed iterations
    feat = probe_features(docs, "text").cache()
    try:

        def sse(weights):
            pred = (
                weights["bias"] * F.col("x0")
                + weights["len_tok"] * F.col("x1")
                + weights["len_char"] * F.col("x2")
                + weights["digit_frac"] * F.col("x3")
            )
            return feat.agg(
                F.sum(
                    ((pred - F.col("y")) / 1e9) ** 2
                ).alias("s")
            ).collect()[0]["s"]

        zero = {k: 0 for k in w}
        assert sse(w) < sse(zero)
    finally:
        feat.unpersist()


def test_cms_never_undercounts(spark, sf_dir, queries):
    df = queries["sketch_cms"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 20
    assert all(r["est"] >= r["cnt"] for r in rows), (
        "count-min must never under-estimate"
    )
    assert all(r["overcount"] == r["est"] - r["cnt"] for r in rows)


def test_cms_counter_table_is_fixed_size(spark, sf_dir):
    from task_on_dataframes_spark.operators.sketches import cms_counters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    counters = cms_counters(toks, "tok", depth=3, width=64)
    n = counters.count()
    assert n <= 3 * 64
    # total mass is conserved: every token occurrence lands in exactly
    # one bucket per hash row
    total = counters.agg(F.sum("c").alias("s")).collect()[0]["s"]
    assert total == 3 * toks.count()


def test_repeated_gram_spans_finds_planted_duplicate(spark):
    from task_on_dataframes_spark.operators.dedup import repeated_gram_spans

    boiler = "subscribe to our newsletter for updates every day ok"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + boiler + " delta epsilon"),
            (2, "one two three four five six " + boiler),
            (3, "totally unique text with no repeats at all here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in repeated_gram_spans(
            docs, "doc_id", "text", k=5
        ).collect()
    }
    # the planted 9-token boilerplate shows up in docs 1 and 2 as ONE
    # merged island of 9 duplicated tokens each; doc 3 is clean
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d]["n_spans"] == 1
        assert out[d]["dup_tokens"] == 9
    assert out[1]["n_tokens"] == 14
    assert 0 < out[1]["dup_frac"] < 1


def test_grouped_probe_equals_per_group_training(spark, sf_dir):
    # the grouped single-pass trainer must produce EXACTLY the weights
    # of training each group's subset independently — group isolation
    # is the whole contract of per-domain calibration
    from task_on_dataframes_spark.operators.probe import (
        grouped_probe_weights,
        linear_probe_weights,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grouped = {
        (r["lang"], r["feature"]): r["weight_micro"]
        for r in grouped_probe_weights(docs, "lang", "text", iters=3).collect()
    }
    langs = sorted({k[0] for k in grouped})
    assert len(langs) >= 2, "need multiple groups for the test to bite"
    solo_lang = langs[0]
    solo = {
        (solo_lang, r["feature"]): r["weight_micro"]
        for r in linear_probe_weights(
            docs.filter(F.col("lang") == solo_lang), "text", iters=3
        ).collect()
    }
    for key, wm in solo.items():
        assert grouped[key] == wm


def test_containment_catches_embedded_boilerplate(spark):
    # a short doc wholly embedded in a long one: containment of the
    # short side must be 1.0 even though Jaccard vs the long doc is low
    from task_on_dataframes_spark.operators.dedup import (
        containment_verify,
        lsh_candidates,
    )

    boiler = "all rights reserved contact us for licensing terms today"
    filler = " ".join(f"word{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, boiler), (2, filler + " " + boiler)],
        "doc_id long, text string",
    )
    # seed the candidate pair directly: a 0.17-Jaccard superset pair is
    # exactly what minhash-LSH banding is ALLOWED to miss (its recall
    # contract is on Jaccard, not containment) — the operator under
    # test here is the containment verifier's math, front end agnostic
    _, toks = lsh_candidates(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=2
    )
    cand = spark.createDataFrame([(1, 2)], "a long, b long")
    rows = containment_verify(cand, toks, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert r["cont_a"] == 1.0  # doc 1 fully contained in doc 2
    assert r["cont_b"] < 0.5


def test_stream_cms_state_equals_single_batch(spark, sf_dir):
    # additivity: draining in 1-file micro-batches must land on the
    # SAME counter table as one batch pass over everything
    import tempfile

    from task_on_dataframes_spark.operators.sketches import cms_counters
    from task_on_dataframes_spark.sources.readers import read_events
    from task_on_dataframes_spark.streaming.events import cms_stream

    base = tempfile.mkdtemp(prefix="tada_cms_test_")
    ev = read_events(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(3).write.mode("overwrite").parquet(base + "/src")
    streamed = {
        (r["r"], r["bk"]): r["c"]
        for r in cms_stream(
            spark,
            base + "/src",
            state_dir=base + "/state",
            checkpoint=base + "/ck",
            max_files_per_trigger=1,
        ).collect()
    }
    batch = {
        (r["r"], r["bk"]): r["c"]
        for r in cms_counters(
            ev.select(F.col("user_id").cast("string").alias("item")),
            "item",
        ).collect()
    }
    assert streamed == batch


def test_bloom_prune_preserves_join_result_and_plan(spark, sf_dir, queries):
    # the pruned aggregate must equal the plain join's, and the plan
    # must actually contain the k Bloom semi-join filters
    from pyspark.sql import functions as F2

    df = queries["s18_bloom_join_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 3, "bloom probe semi-joins missing"
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F2.col("c_nationkey") == 3
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plain = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderstatus")
        .agg(F2.count(F2.lit(1)).alias("n"))
    )
    got = {r["o_orderstatus"]: r["n"] for r in df.collect()}
    want = {r["o_orderstatus"]: r["n"] for r in plain.collect()}
    assert got == want


def test_domain_calibrate_matches_binned_cdf_definition(spark, sf_dir, queries):
    rows = queries["quality_domain_calibrate"](spark, sf_dir).collect()
    assert rows
    # per (source, bin): pctile = strictly-lower-binned fraction
    from collections import Counter, defaultdict

    per_src = defaultdict(Counter)
    for r in rows:
        per_src[r["source"]][r["bin"]] += 1
    for r in rows[:200]:
        cnt = per_src[r["source"]]
        n = sum(cnt.values())
        below = sum(c for b, c in cnt.items() if b < r["bin"])
        assert abs(r["pctile"] - below / n) < 1e-6
    # the lowest bin of every domain sits at percentile 0
    for src, cnt in per_src.items():
        lo = min(cnt)
        got = {r["pctile"] for r in rows if r["source"] == src and r["bin"] == lo}
        assert got == {0.0}


def test_cdc_apply_last_writer_wins_and_tombstones(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            (1, t0, 10, "view", 1.0, None),
            (2, t0.replace(hour=13), 10, "purchase", 9.5, None),
            (3, t0, 20, "view", 2.0, None),
            (4, t0.replace(hour=13), 20, "error", 0.0, None),  # tombstone
            # equal-ts tie on user 30: event_id breaks it (5 < 6)
            (5, t0, 30, "click", 1.0, None),
            (6, t0, 30, "signup", 7.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    # drive the fold logic on the seeded frame directly (the registry
    # wrapper only adds the sf_dir read)
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    w = Window.partitionBy("user_id").orderBy(F2.desc("ts"), F2.desc("event_id"))
    latest = ev.withColumn("rn", F2.row_number().over(w)).filter("rn = 1")
    state = {r["user_id"]: r for r in latest.filter("event_type <> 'error'").collect()}
    assert set(state) == {10, 30}
    assert state[10]["event_type"] == "purchase"
    assert state[30]["event_id"] == 6  # higher event_id wins the ts tie


def test_substring_rewrite_keeps_first_occurrence_only(spark):
    from task_on_dataframes_spark.operators.dedup import (
        repeated_gram_rewrite,
    )

    boiler = "one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail for document one"),
            (2, "prefix for doc two " + boiler),
            (3, boiler),  # third copy: removed entirely
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in repeated_gram_rewrite(docs, "doc_id", "text", k=5).collect()
    }
    # doc 1 holds the globally-first occurrence -> unchanged, so it is
    # NOT in the changed set; docs 2 and 3 lose the boilerplate
    assert set(out) == {2, 3}
    assert out[2]["text_clean"] == "prefix for doc two"
    assert out[2]["n_removed"] == 9
    assert out[3]["text_clean"] == ""  # fully deduplicated away
    assert out[3]["n_removed"] == 9


def test_lsh_recall_eval_shape(spark, sf_dir, queries):
    r = queries["dedup_recall_eval"](spark, sf_dir).collect()[0]
    assert r["n_hit"] <= r["n_exact"]
    assert 0.0 <= r["recall"] <= 1.0
    # the banded front end is tuned to catch >= 0.5-Jaccard pairs: on
    # the synthetic corpus it should recover the large majority
    assert r["recall"] >= 0.8


def test_star_recall_eval_measures_the_cap_tradeoff(spark, sf_dir, queries):
    from task_on_dataframes_spark.operators.dedup import (
        CHAR_LSH_NUM_PERM,
    )
    from task_on_dataframes_spark.registry.dedup import (
        STAR_RECALL_BANDINGS,
        STAR_RECALL_CAPS,
    )

    rows = queries["dedup_star_recall_eval"](spark, sf_dir).collect()
    # 2 strata x 3 bandings (the banding dial) x 3 caps
    assert len(rows) == 2 * len(STAR_RECALL_BANDINGS) * len(STAR_RECALL_CAPS)
    by = {
        (r["stratum"], r["num_perm"], r["star_bucket_cap"]): r
        for r in rows
    }
    for (stratum, _np, _cap), r in by.items():
        # star pairs are a subset of the uncapped-LSH pairs, which are
        # a subset of the exact ground truth
        assert r["n_star"] <= r["n_lsh"] <= r["n_exact"]
        for col in ("recall_vs_exact", "recall_vs_lsh"):
            if r[col] is not None:
                assert 0.0 <= r[col] <= 1.0
    for stratum in ("template", "natural"):
        for np_, _nb in STAR_RECALL_BANDINGS:
            # raising the cap can only widen the all-pairs tier:
            # verified star pairs monotone non-decreasing in the cap
            ns = [by[(stratum, np_, c)]["n_star"] for c in STAR_RECALL_CAPS]
            assert ns == sorted(ns)
    # the template stratum is built to saturate: boilerplate dominates
    # every doc, so the exact near-dup pair set must be non-trivial and
    # the capped star path must actually lose pairs at the lowest cap
    # (checked at the char-path contract banding)
    cnp = CHAR_LSH_NUM_PERM
    assert by[("template", cnp, 8)]["n_exact"] > 0
    assert by[("template", cnp, 8)]["n_star"] < by[("template", cnp, 8)]["n_lsh"]
    # DOC-level marking: the multi-pivot star admits every member
    # of a mega-bucket through the cap smallest ids, so keep-one
    # marking loses NO doc relative to uncapped LSH at any cap, and
    # the contract bar vs the exact ground truth holds at the default
    # cap (the residual is the banding S-curve, not the star cap)
    for (stratum, _np, _cap), r in by.items():
        assert r["n_docs_star"] <= r["n_docs_lsh"] <= r["n_docs_exact"]
        assert r["doc_recall_vs_lsh"] == 1.0
    assert by[("template", cnp, 16)]["doc_recall_vs_exact"] >= 0.95
    # the dial itself: at fixed rows-per-band, more bands mean
    # more detection chances — marked-doc counts monotone
    # non-decreasing in num_perm at every cap on the template stratum
    for cap in STAR_RECALL_CAPS:
        nd = [
            by[("template", np_, cap)]["n_docs_star"]
            for np_, _nb in STAR_RECALL_BANDINGS
        ]
        assert nd == sorted(nd)


def test_planner_pack_is_a_five_task_chain(spark, sf_dir):
    # the BFS must find the full get_docs -> score -> filter -> chunk
    # -> pack chain from the two-column goal, and packing must respect
    # the budget (every pack except possibly the last holds <= budget
    # of *starting* offsets; a single chunk may straddle)
    import task_on_dataframes_spark as tada
    from task_on_dataframes_spark.llm_tasks import (
        register_llm_tasks,
        register_pack_task,
    )

    reg = register_llm_tasks(spark, sf_dir, min_quality=0.2, chunk_tokens=64)
    register_pack_task(reg, budget=512)
    path = tada.find_path(
        [], [["docs.text.kept.chunks", "docs.text.kept.chunks.packs"]],
        registry=reg,
    )
    assert path, "planner found no path to the packed goal"
    # reference-shaped TaskExec: [(None, s0), (action1, s1), ...]
    names = [a.Task for a, _ in path if a is not None]
    assert names.count("pack_chunks") == 1
    assert len(names) == 5
    frame = tada.solve_goal(
        [], ["docs.text.kept.chunks", "docs.text.kept.chunks.packs"],
        registry=reg,
    )
    from pyspark.sql import functions as F2

    packs = frame.groupBy("`docs.text.kept.chunks.packs`").count()
    assert packs.count() > 1, "budget 512 must split the corpus"


def test_hot_gram_routing_equivalent_and_salted(spark, monkeypatch):
    """Force the ultra-hot routing (thresholds pinned low) on a corpus
    with one planted boilerplate gram and prove (a) the detector flags
    it, (b) spans AND rewrite results are identical to the unrouted
    plan, (c) the rewrite's hot path broadcasts the exact-firsts
    table."""
    from task_on_dataframes_spark.operators import dedup as D

    monkeypatch.setattr(D, "HOT_GRAM_SAMPLE", 1.0)
    monkeypatch.setattr(D, "HOT_GRAM_MIN_SAMPLE_COUNT", 5)

    boiler = "alpha beta gamma delta epsilon"
    rows = [(i, f"head{i} " + boiler + f" tail{i} w{i} x{i}") for i in range(30)]
    rows += [(100 + i, f"unique doc {i} with no repeats at all here") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    hot = D._hot_gram_digests(docs, "doc_id", "text", 5)
    assert hot, "planted 30x gram must be flagged hot"

    for fn in (D.repeated_gram_spans, D.repeated_gram_rewrite):
        routed = {
            r["doc_id"]: tuple(r)
            for r in fn(docs, "doc_id", "text", k=5, detect_hot=True).collect()
        }
        plain = {
            r["doc_id"]: tuple(r)
            for r in fn(docs, "doc_id", "text", k=5, detect_hot=False).collect()
        }
        assert routed == plain, fn.__name__

    plan = (
        D.repeated_gram_rewrite(docs, "doc_id", "text", k=5, detect_hot=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
