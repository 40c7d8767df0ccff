"""Physical-plan shape assertions — the 100TB-scale guarantees.

Correctness tests prove the small-SF answer; these prove the *plan*
would survive a 1000-executor cluster: filters reach the parquet scan,
small dimensions broadcast instead of shuffling the fact table, and no
operator sorts a corpus-sized table on a single partition.
"""

import re

import pytest

import __spark_entry__ as entrymod


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_filter_pushed_to_parquet_scan(spark, sf_dir, queries):
    plan = _physical(queries["p3_filter_startswith"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*StringStartsWith\(p_name,small\)", plan)


def test_column_pruning_reaches_scan(spark, sf_dir, queries):
    # q1 projects 7 of lineitem's 16 columns; the scan must not read more
    plan = _physical(queries["q1_pricing_summary"](spark, sf_dir))
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    read_cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
    assert "l_comment" not in read_cols
    assert len(read_cols) <= 7, read_cols


def test_small_dims_broadcast_not_shuffled(spark, sf_dir, queries):
    for name in ("q3_shipping_priority", "q5_region_volume", "j3_left_join"):
        plan = _physical(queries[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
    # q5's 6-table join: every join should be broadcast (dims are tiny);
    # the fact table must never hash-shuffle for a join
    q5 = _physical(queries["q5_region_volume"](spark, sf_dir))
    assert "SortMergeJoin" not in q5


def test_semi_and_anti_joins_are_join_primitives(spark, sf_dir, queries):
    assert re.search(r"LeftSemi", _physical(queries["j4_semi_join"](spark, sf_dir)))
    assert re.search(r"LeftAnti", _physical(queries["j5_anti_join"](spark, sf_dir)))


def test_top90_never_globally_sorts_the_vocabulary(spark, sf_dir, queries):
    """The top-K%-of-mass cut must confine single-partition work to the
    count histogram (tiny); the token/vocab tables may only exchange by
    hash. A `Sort` directly under `Exchange SinglePartition` is only
    legal when its input is the post-histogram aggregate."""
    plan = _physical(queries["w2_top90_tokens"](spark, sf_dir))
    # corpus side ends in a broadcast left-semi join, not a shuffle join
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    # every SinglePartition exchange must sit above the count-histogram
    # aggregate (keys=[__cnt...]), never above token-keyed data
    for frag in re.findall(r"Exchange SinglePartition[^\n]*\n(.*?)(?=\n\s*$|\Z)",
                           plan, re.S):
        first_agg = re.search(r"HashAggregate\(keys=\[([^\]]*)\]", frag)
        assert first_agg and "__cnt" in first_agg.group(1), frag[:300]


def test_global_agg_is_partial_then_final(spark, sf_dir, queries):
    plan = _physical(queries["a2_scalar_sum"](spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_pagination_does_not_collect_whole_table(spark, sf_dir, queries):
    # offset+limit compiles to a global limit operator, not a full sort
    # materialization of orders
    plan = _physical(queries["o2_pagination"](spark, sf_dir))
    assert "GlobalLimit" in plan or "TakeOrdered" in plan


def test_topk_uses_take_ordered(spark, sf_dir, queries):
    plan = _physical(queries["o3_topk_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_sessionize_windows_are_partitioned_by_user(spark, sf_dir, queries):
    plan = _physical(queries["ev_sessionize"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan


def test_partition_pruning_on_partitioned_layout(spark, sf_dir, tmp_path):
    """Hive-partitioned writes enable partition pruning: a filter on the
    partition column must appear as PartitionFilters and prune the file
    listing, never scan-and-filter."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    orders.write.partitionBy("order_year").mode("overwrite").parquet(out)

    one_year = spark.read.parquet(out).filter(F.col("order_year") == 1996)
    plan = _physical(one_year)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "order_year" in m.group(1), plan
    # the non-partition data filters list must NOT contain the year
    d = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert d is None or "order_year" not in d.group(1)
    assert one_year.count() > 0


def test_whole_stage_codegen_covers_hot_path(spark, sf_dir, queries):
    # codegen spans only materialize in the final AQE plan, post-execution
    df = queries["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = _physical(df)
    # `*(n)` prefixes mark WholeStageCodegen spans in the final plan;
    # the scan→filter→partial-agg hot path must be inside one
    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    assert re.search(r"\*\(\d+\) ColumnarToRow", plan) or re.search(
        r"\*\(\d+\) Filter", plan
    )


def test_ngram_counts_topk_is_take_ordered(spark, sf_dir, queries):
    # corpus n-gram top-k must merge per-partition heaps, never
    # globally sort the gram table
    plan = _physical(queries["text_ngram_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_stratified_sample_is_scan_stage_filter(spark, sf_dir, queries):
    # the per-stratum cut is a pure filter — no shuffle anywhere
    from task_on_dataframes_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(stratified_sample(docs, "doc_id", "lang", {"en": 0.2}, 1.0))
    assert "Exchange" not in plan


def test_quantize_is_scan_stage_projection(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import quantize_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _physical(quantize_int8(emb))
    assert "Exchange" not in plan


def test_repetition_stats_is_scan_stage_projection(spark, sf_dir):
    # per-document array arithmetic only — fuses into the scan at scale
    from task_on_dataframes_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(repetition_stats(docs, "doc_id", "text"))
    assert "Exchange" not in plan


def test_keep_canonical_cut_is_broadcast_anti_join(spark):
    from task_on_dataframes_spark.operators.dedup import keep_canonical

    df = spark.createDataFrame([(i, "v") for i in range(20)], "id long, v string")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "a long, b long")
    plan = _physical(keep_canonical(df, "id", pairs))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_q20_dims_broadcast(spark, sf_dir, queries):
    plan = _physical(queries["q20_excess_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # lineitem never hash-shuffles for a join: its only Exchange is the
    # aggregation on l_suppkey
    assert "SortMergeJoin" not in plan


def test_planner_pipeline_compiles_to_zero_shuffle_stage(spark, sf_dir, queries):
    """The 4-task planner pipeline (source -> quality -> filter ->
    chunk) must compile into ONE Catalyst plan with no semantic
    Exchange: the quality filter lands in the scan's DataFilters and
    only `text` is read — planner composition costs nothing at
    execution. The documents-source parallelism floor may contribute
    one REPARTITION_BY_NUM round-robin (a documented no-op at real
    scale, where the scan has >= cores/2 row groups); no OTHER
    Exchange is allowed."""
    df = queries["planner_llm_chunks"](spark, sf_dir)
    plan = _physical(df)
    n_exchange = plan.count("Exchange")
    n_floor = plan.count("REPARTITION_BY_NUM")
    assert n_exchange == n_floor, plan
    assert "ReadSchema: struct<text:string>" in plan


def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir, queries):
    # the corpus token table must meet the vocab via broadcast, and the
    # vocab cut must be a TakeOrdered, not a global sort
    plan = _physical(queries["text_vocab_oov"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_gap_fill_spine_broadcasts(spark, sf_dir, queries):
    # the dimension-sized spine joins the hourly aggregate via
    # broadcast; the fact table aggregates exactly once
    plan = _physical(queries["ev_gap_fill"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

def test_weighted_sample_is_scan_stage_filter(spark, sf_dir):
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(weighted_sample(docs, "doc_id", F.lit(400)))
    assert "Exchange" not in plan


def test_classifier_score_is_scan_stage_projection(spark, sf_dir):
    from task_on_dataframes_spark.operators.textstats import (
        hashed_classifier_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(
        hashed_classifier_score(docs, "doc_id", "text", [1, -1] * 8)
    )
    assert "Exchange" not in plan


def test_span_dedup_is_two_keyed_shuffles(spark, sf_dir):
    # one hash-shuffle on the span text (first-occurrence window), one
    # on the doc id (reassembly) — and nothing else
    from task_on_dataframes_spark.operators.dedup import span_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(span_dedup(docs, "doc_id", "text"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_length_quartile_bins_avoid_global_ntile(spark, sf_dir, queries):
    # quartile binning must come from an aggregate-computed threshold +
    # CASE, never an ntile window that single-partition-sorts one row
    # per document (the corpus-cardinality table)
    plan = _physical(queries["w6_ntile_bins"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert not re.search(r"\bntile\b", plan), plan


def test_sorted_write_filter_reaches_rowgroup_stats(spark, sf_dir, queries):
    # the selective user-range predicate must be pushed into the
    # parquet scan of the sorted rewrite, where row-group min/max
    # bands (tight after sortWithinPartitions) let it skip chunks
    plan = _physical(queries["s12_sorted_stats_prune"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(user_id,100)" in m.group(1), plan
    assert "LessThan(user_id,200)" in m.group(1), plan


def test_bigram_lm_counts_are_partial_aggregated(spark, sf_dir, queries):
    # both LM count tables must partial-aggregate map-side before the
    # keyed exchange (vocabulary-bounded shuffles, not token streams)
    plan = _physical(queries["text_bigram_lm"](spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_query_has_no_shuffle(spark, sf_dir, queries):
    # s13 joins two tables bucketed+sorted on the join key: the
    # SortMergeJoin must read co-located buckets with ZERO shuffle
    # Exchange (only the final aggregate may exchange its 3-row output)
    plan = _physical(queries["s13_bucketed_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in join_part, plan


def test_dq_rules_single_scan_per_table_rules(spark, sf_dir, queries):
    # per-row rules fold into conditional aggregates — no rule-per-scan
    # multiplication, no cartesian products, no Python in the plan
    plan = _physical(queries["dq_rules"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_windowed_topk_partitions_by_hour(spark, sf_dir, queries):
    # the rank window must partition by the bounded hour key, never a
    # global single-partition sort
    plan = _physical(queries["ev_windowed_topk"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan


def test_text_entropy_is_keyed_on_doc(spark, sf_dir, queries):
    plan = _physical(queries["text_entropy"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_parallelism_floor_noop_when_row_groups_suffice(spark, tmp_path):
    """The _docs/_embs floor must vanish when the scan already splits
    >= cores/2 ways — the real-scale contract: a 100 TB corpus has
    thousands of full-size row groups and must never pay the
    repartition. The estimate is min(row groups, byte splits): a tiny
    file with many row groups still scans as ONE task (Spark packs row
    groups into maxPartitionBytes splits), so this test shrinks
    maxPartitionBytes to make the byte-split count honest for its
    8-row-group fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from task_on_dataframes_spark.registry.common import _docs, _embs

    d = str(tmp_path / "many_rg")
    os_mk = __import__("os").makedirs
    os_mk(d, exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(64), pa.int64()),
            "text": pa.array(["w " * 5] * 64),
        }
    )
    # row_group_size=8 -> 8 row groups >= defaultParallelism(4)/2
    pq.write_table(tbl, f"{d}/documents.parquet", row_group_size=8)
    emb = pa.table(
        {
            "vec_id": pa.array(range(64), pa.int64()),
            "label": pa.array([i % 4 for i in range(64)], pa.int64()),
            "embedding": pa.array(
                [[0.1] * 4] * 64, pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(emb, f"{d}/embeddings.parquet", row_group_size=8)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # ~3 KB files -> >= cores/2 byte splits at a 512 B split size
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
        for df in (_docs(spark, d), _embs(spark, d)):
            plan = _physical(df)
            assert "REPARTITION_BY_NUM" not in plan, plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_parallelism_floor_fires_on_single_row_group(spark, sf_dir):
    """Inverse contract at testdata shape: a single-row-group scan
    under a token-explode pipeline gets exactly one round-robin."""
    from task_on_dataframes_spark.registry.common import _docs

    plan = _physical(_docs(spark, sf_dir))
    assert plan.count("REPARTITION_BY_NUM") == 1, plan


def _scan_ancestry(plan: str, needle: str):
    """For each plan line containing ``needle``, the list of ancestor
    lines from the node upward to the root, recovered from the tree
    renderer's 3-char indent markers (``+-`` / ``:-``)."""
    marker = re.compile(r"[+:]-")

    def depth(ln):
        m = marker.search(ln)
        return (m.start() // 3 + 1) if m else 0

    lines = plan.split("\n")
    out = []
    for i, ln in enumerate(lines):
        if needle in ln:
            d, path = depth(ln), []
            for j in range(i - 1, -1, -1):
                dj = depth(lines[j])
                if dj < d:
                    path.append(lines[j])
                    d = dj
                    if d == 0:
                        break
            out.append(path)
    return out


@pytest.mark.parametrize(
    "qname, n_scans",
    [
        ("dedup_incremental_lsh", 2),
        ("dedup_index_probe", 4),
        # maintain: phase 1 is checkpointed away; the surviving plan
        # is the wave-2 probe over the APPENDED (multi-file-bucket)
        # index — 2 scans, still joined in place (local Sort only)
        ("dedup_index_maintain", 2),
    ],
)
def test_lsh_index_probe_never_shuffles_the_corpus(
    spark, sf_dir, queries, qname, n_scans
):
    """The incremental-dedup contract: every corpus-side
    input to the probe is a pre-bucketed index scan joined IN PLACE —
    between each ``tada_lshidx`` FileScan and its nearest Join
    ancestor there is no Exchange (shuffle or broadcast of the corpus)
    and no Aggregate (re-shingling/re-signing/re-packing of the
    corpus). A local per-partition Sort is allowed — SMJ sorts the
    8-file buckets in place. All shuffles in the plan are batch- or
    candidate-sized by construction."""
    plan = _physical(queries[qname](spark, sf_dir))
    paths = _scan_ancestry(plan, "tada_lshidx")
    scans = [p for p in paths if p]  # one per FileScan line
    assert len(scans) == n_scans, plan
    for path in scans:
        for ln in path:
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
            assert "Aggregate" not in ln, plan
        else:
            raise AssertionError(f"index scan never joined:\n{plan}")
    # the index layout must actually engage Spark's bucketed read
    assert plan.count("Bucketed: true") >= n_scans, plan


def test_ivf_index_probe_never_shuffles_the_corpus(
    spark, sf_dir, queries
):
    """The persisted-IVF contract (vector twin of the LSH index
    probe above): every inverted-list scan in ann_index_probe is
    joined via the broadcast probe pairs IN PLACE — between each
    ``tada_ivfidx_lists`` FileScan and its nearest Join ancestor
    there is no Exchange (no shuffle or broadcast of the corpus) and
    no Aggregate (no re-assignment or re-norming). The probed-cid
    literal filter must reach the parquet reader, which is what makes
    the scan list-pruned at scale."""
    plan = _physical(queries["ann_index_probe"](spark, sf_dir))
    paths = _scan_ancestry(plan, "tada_ivfidx_lists")
    scans = [p for p in paths if p]
    assert len(scans) == 2, plan  # one per query wave
    for path in scans:
        for ln in path:
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
            assert "Aggregate" not in ln, plan
        else:
            raise AssertionError(f"list scan never joined:\n{plan}")
    # the cid IN (...) probe filter is pushed into the parquet reader
    assert "PushedFilters: [In(cid" in plan, plan


def test_compacted_index_probe_stays_in_place(spark, sf_dir, queries):
    """The compacted index must keep the exact probe contract of the
    fresh-built one: each ``tada_lshidx`` FileScan joined in place
    (no Exchange, no Aggregate above it) with the bucketed read
    engaged. A LOCAL per-bucket Sort remains — Spark has not claimed
    bucketed-scan output ordering since 3.0 (SPARK-28632) even at one
    file per bucket — so compaction's measured win is the file count
    (one sorted file per bucket, pinned in test_llm_ops) and the
    single sort input per bucket, not the Sort node's absence."""
    plan = _physical(queries["dedup_index_compact"](spark, sf_dir))
    paths = _scan_ancestry(plan, "tada_lshidx")
    scans = [p for p in paths if p]
    assert len(scans) == 2, plan  # compacted keys + compacted sets
    for path in scans:
        for ln in path:
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
            assert "Aggregate" not in ln, plan
        else:
            raise AssertionError(f"index scan never joined:\n{plan}")
    assert plan.count("Bucketed: true") >= 2, plan


def test_ivf_index_maintain_probe_stays_in_place(spark, sf_dir, queries):
    """ann_index_maintain's surviving plan (phase 1 is checkpointed
    away) is the phase-2 probe over the APPENDED list table: the scan
    must still be joined in place via the broadcast probe pairs — no
    Exchange, no Aggregate between the ``tada_ivfidx_lists`` FileScan
    and its Join — and the probed-cid literal filter must still reach
    the parquet reader. Appends add files per bucket; they must not
    change the probe plan shape."""
    plan = _physical(queries["ann_index_maintain"](spark, sf_dir))
    paths = _scan_ancestry(plan, "tada_ivfidx_lists")
    scans = [p for p in paths if p]
    assert len(scans) == 1, plan  # phase 2 only — phase 1 checkpointed
    for path in scans:
        for ln in path:
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
            assert "Aggregate" not in ln, plan
        else:
            raise AssertionError(f"list scan never joined:\n{plan}")
    assert "PushedFilters: [In(cid" in plan, plan


def test_ivf_compacted_index_probe_stays_in_place(spark, sf_dir, queries):
    """The compacted IVF index must keep the exact probe contract of
    the fresh-built one (twin of the LSH compaction pin above):
    the ``tada_ivfidx_lists`` FileScan in ann_index_compact joined in
    place via the broadcast probe pairs — no Exchange, no Aggregate
    above it — with the probed-cid literal filter reaching the parquet
    reader and the bucketed read engaged."""
    plan = _physical(queries["ann_index_compact"](spark, sf_dir))
    paths = _scan_ancestry(plan, "tada_ivfidx_lists")
    scans = [p for p in paths if p]
    assert len(scans) == 1, plan
    for path in scans:
        for ln in path:
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
            assert "Aggregate" not in ln, plan
        else:
            raise AssertionError(f"list scan never joined:\n{plan}")
    assert "PushedFilters: [In(cid" in plan, plan
    assert "Bucketed: true" in plan, plan


def test_jaccard_verify_intersects_exactly_once(spark):
    """Without the pushdown barrier, Catalyst duplicates
    array_intersect into the join condition (interpreted, per
    candidate row) and the output projection — 4 plan occurrences and
    a 10-25x verification slowdown at 18M candidates (sf10). Pin the
    single-evaluation shape."""
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.dedup import jaccard_verify

    sets = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "z")],
        "did bigint, tok string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "a bigint, b bigint")
    v = jaccard_verify(cands, sets, 0.5)
    plan = _physical(v)
    assert plan.count("array_intersect") == 1, plan
    # the barrier is plumbing, not output: it must never escape into
    # the result schema (this also guards against a Spark upgrade
    # silently rewriting the projection shape)
    assert "__barrier" not in v.columns
    got = {(r["a"], r["b"]): r["jaccard"] for r in v.collect()}
    assert got == {(1, 2): 1.0}


def test_jaccard_verify_packed_path_intersects_exactly_once(spark):
    """Pin the PRE-PACKED entry point too: the
    probe_lsh_index path calls jaccard_verify_packed directly with a
    stored packed b-side, a different plan ancestry that the
    jaccard_verify pin does not cover — a Catalyst rule change could
    re-enable the duplicate-intersect pushdown on one path but not
    the other."""
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.dedup import (
        jaccard_verify_packed,
        pack_shingle_sets,
    )

    sets = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "z")],
        "did bigint, tok string",
    )
    packed = pack_shingle_sets(sets)
    pa = packed.select(
        F.col("did").alias("a"), F.col("hks").alias("hka"),
        F.col("sz").alias("sza"),
    )
    pb = packed.select(
        F.col("did").alias("b"), F.col("hks").alias("hkb"),
        F.col("sz").alias("szb"),
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "a bigint, b bigint")
    v = jaccard_verify_packed(cands, pa, pb, 0.5)
    plan = _physical(v)
    assert plan.count("array_intersect") == 1, plan
    assert "__barrier" not in v.columns
    got = {(r["a"], r["b"]): r["jaccard"] for r in v.collect()}
    assert got == {(1, 2): 1.0}
