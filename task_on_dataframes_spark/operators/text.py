"""Text pipeline operators: tokenize, clean, count, top-K%-of-mass.

Re-expresses the reference's usenet text pipeline (reference:
frame_tasks/basic_tasks.py:32-105) as native Spark column expressions:

* explode-with-carry replaces the reference's pandas index join-back
  (basic_tasks.py:38-40): source columns ride through one ``select``
  with the exploded column, so no join is ever needed;
* ``value_counts`` is a shuffle-once ``groupBy().count()`` with map-side
  partial aggregation (vs. the reference's in-memory
  ``Series.value_counts``, basic_tasks.py:87);
* the top-90%-of-mass cut (basic_tasks.py:92-105) is a window cumsum
  over the *vocabulary* (distinct tokens), not the corpus — the single
  global window is bounded by vocabulary size, and the resulting token
  set joins back broadcast-left-semi so the 100TB-side table never
  shuffles.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..runtime import quoted


def _c(name: str) -> Column:
    return F.col(quoted(name))


def tokenize(
    df: DataFrame,
    col: str,
    out: str,
    pattern: str = r"\s+",
    lowercase: bool = True,
    carry: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Split ``col`` on ``pattern`` and explode to one row per token,
    carrying ``carry`` columns (default: all other columns) through the
    same select — the Spark-native form of explode-with-index-carry."""
    carry_cols = list(carry) if carry is not None else [c for c in df.columns if c != out]
    src = F.lower(_c(col)) if lowercase else _c(col)
    return df.select(
        *[_c(c) for c in carry_cols],
        F.explode(F.split(src, pattern)).alias(out),
    )


def clean_tokens(
    df: DataFrame,
    col: str,
    out: str,
    min_len: int = 2,
    carry: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Trim leading/trailing non-word characters and drop short tokens
    (reference: basic_tasks.py:74-79 — ``\\A\\W+|\\W+\\Z`` strip then
    ``len > 1``)."""
    carry_cols = list(carry) if carry is not None else [c for c in df.columns if c not in (col, out)]
    cleaned = F.regexp_replace(_c(col), r"^\W+|\W+$", "")
    return (
        df.select(*[_c(c) for c in carry_cols], cleaned.alias(out))
        .filter(F.length(_c(out)) >= min_len)
    )


def value_counts(df: DataFrame, col: str, out: Optional[str] = None, desc: bool = True) -> DataFrame:
    """Group-by count, descending — the reference's generic ``counts``
    task (basic_tasks.py:82-89). One shuffle on the grouped column with
    automatic partial aggregation."""
    out = out or f"{col}.counts"
    grouped = df.groupBy(_c(col)).agg(F.count(F.lit(1)).alias(out))
    if desc:
        grouped = grouped.orderBy(F.desc(quoted(out)), _c(col))
    return grouped


def running_sum(
    df: DataFrame,
    value_col: str,
    out: str,
    order_by: Sequence[Column],
    partition_by: Optional[Sequence[str]] = None,
    max_rows: Optional[int] = 10_000_000,
) -> DataFrame:
    """Cumulative sum over an explicit total order (reference:
    basic_tasks.py:100 relies on pandas insertion order; Spark must name
    the order in the window spec — SURVEY §7.3).

    Bounded-input contract: without ``partition_by`` the unpartitioned
    window funnels EVERY row through one task — by design only for
    bounded frames (group-by results, vocabularies, histograms). The
    guard refuses inputs above ``max_rows`` (pass ``None`` to waive it,
    at your own scale risk). For fact-scale prefix sums pass
    ``partition_by`` (per-key windows, fully parallel) or use the
    two-phase distributed prefix sum in :func:`pack_sequences`.
    """
    if partition_by:
        w = (
            Window.partitionBy(*[_c(p) for p in partition_by])
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out, F.sum(_c(value_col)).over(w))
    if max_rows is not None:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"running_sum: unpartitioned window over {n}+ rows exceeds "
                f"max_rows={max_rows}; pass partition_by= for a scalable "
                "per-key prefix sum, or max_rows=None to override"
            )
    w = Window.orderBy(*order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out, F.sum(_c(value_col)).over(w))


def top_mass_fraction(
    counts_df: DataFrame,
    key_col: str,
    count_col: str,
    fraction: float = 0.9,
) -> DataFrame:
    """Keep the smallest prefix of most-frequent keys whose cumulative
    count stays under ``fraction`` of the total (reference:
    basic_tasks.py:92-105), ordering by (count desc, key asc) so the
    cut is deterministic on any engine.

    Scalable formulation: a naive global-window cumsum over the counts
    table sorts the whole vocabulary on one partition. Instead, group
    keys into *count classes* (one row per distinct count value — a
    histogram that is tiny under any realistic distribution), cumsum
    over that histogram to decide which classes are fully inside /
    fully outside the cut, and rank keys only within the single
    *boundary* class. The vocabulary-sized table is never globally
    sorted; the only windows run over the histogram and over one count
    class (partitioned by the class value).

    Per-key inclusion condition (matching a row-cumsum including the
    current row): a key at 1-based rank ``r`` within its class ``c``
    (classes taken in count-desc order, keys key-asc inside a class) is
    kept iff ``mass_before_class + r*c < fraction * total``.
    """
    kq, cq = _c(key_col), _c(count_col)
    hist = counts_df.groupBy(cq).agg(F.count(F.lit(1)).alias("__n_keys"))
    w_hist = (
        Window.orderBy(F.desc(quoted(count_col)))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.select(
        cq,
        F.coalesce(F.sum(cq * F.col("__n_keys")).over(w_hist), F.lit(0)).alias(
            "__mass_before"
        ),
        F.sum(cq * F.col("__n_keys"))
        .over(Window.partitionBy())
        .alias("__total"),
        F.col("__n_keys"),
    ).withColumn(
        # largest r with mass_before + r*c < fraction*total
        "__r_max",
        F.least(
            F.col("__n_keys").cast("double"),
            F.floor(
                (fraction * F.col("__total") - F.col("__mass_before") - F.lit(1e-9))
                / cq
            ).cast("double"),
        ).cast("long"),
    )
    full = hist.filter(F.col("__r_max") >= F.col("__n_keys")).select(cq)
    partial = hist.filter(
        (F.col("__r_max") > 0) & (F.col("__r_max") < F.col("__n_keys"))
    ).select(cq, "__r_max")

    kept_full = counts_df.join(F.broadcast(full), on=[count_col], how="left_semi")
    w_class = Window.partitionBy(cq).orderBy(kq)
    kept_partial = (
        counts_df.join(F.broadcast(partial), on=[count_col], how="inner")
        .withColumn("__r", F.row_number().over(w_class))
        .filter(F.col("__r") <= F.col("__r_max"))
        .select(kq, cq)
    )
    return kept_full.select(kq, cq).unionByName(kept_partial)


def top_mass_filter(
    df: DataFrame,
    col: str,
    fraction: float = 0.9,
    counts_df: Optional[DataFrame] = None,
    count_col: Optional[str] = None,
) -> DataFrame:
    """Filter ``df`` to rows whose ``col`` value is in the
    top-``fraction``-of-mass set — the reference's ``top90`` output
    shape (all occurrences, basic_tasks.py:99-105). The tiny top set is
    broadcast for a shuffle-free left-semi join against the big side."""
    if counts_df is None:
        counts_df = value_counts(df, col, out="__cnt", desc=False)
        count_col = "__cnt"
    assert count_col is not None
    # the counts table feeds three consumers in top_mass_fraction (the
    # histogram, the fully-kept classes, the boundary class); persist the
    # vocabulary-sized table so the corpus is scanned and counted once
    counts_df = counts_df.persist()
    top = top_mass_fraction(counts_df, col, count_col, fraction).select(_c(col))
    return df.join(F.broadcast(top), on=[col], how="left_semi")


def chunk_text(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    out: str = "chunk",
) -> DataFrame:
    """Split each document into fixed-size token chunks — the standard
    pre-training/RAG chunker. One row per (doc, chunk) with the chunk
    text rebuilt and its token count.

    All native expressions: split once, slice the token array per chunk
    (no per-token explode+regroup shuffle — the chunk boundaries are
    arithmetic on the array), then explode one row per chunk. Zero
    shuffles; scales with input splits.
    """
    toks = F.split(_c(text_col), r"\s+")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
            ).alias("text"),
            F.least(n - i * chunk_tokens, F.lit(chunk_tokens)).alias(
                "n_tokens"
            ),
        ),
    )
    return docs.select(
        _c(id_col), F.explode(chunks).alias("__c")
    ).select(
        _c(id_col),
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.text").alias(out),
        F.col("__c.n_tokens").alias("n_tokens"),
    )


def pack_sequences(
    chunks: DataFrame,
    order_cols: Sequence[str],
    token_col: str,
    budget: int = 2048,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Assign chunks to fixed token-budget packs (the sequence-packing
    step before training): ``pack_id = floor(start_offset / budget)``
    where ``start_offset`` is the chunk's global running token offset
    in ``order_cols`` order.

    The global prefix sum runs WITHOUT a global window — the
    distributed prefix-sum pattern:

    1. range-partition + sort by the order columns (global order across
       ordered partitions);
    2. per-partition token totals -> cumulative partition offsets (one
       tiny single-partition window over #partitions rows);
    3. per-partition local cumsum (windows partitioned by partition id
       — fully parallel) + broadcast offset = exact global offset.

    The result is independent of the partition boundaries (offsets
    telescope), so any partition count gives identical packs.
    """
    order = [F.col(quoted(c)) for c in order_cols]
    ordered = chunks
    if partitions:
        ordered = ordered.repartitionByRange(partitions, *order)
    else:
        ordered = ordered.repartitionByRange(*order)
    ordered = ordered.sortWithinPartitions(*order).withColumn(
        "__pid", F.spark_partition_id()
    )
    ptotals = ordered.groupBy("__pid").agg(
        F.sum(quoted(token_col)).alias("__ptotal")
    )
    w_off = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = ptotals.select(
        "__pid",
        F.coalesce(F.sum("__ptotal").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ordered.join(F.broadcast(offsets), on="__pid")
        .withColumn(
            "__start",
            F.col("__offset")
            + F.sum(quoted(token_col)).over(w_local)
            - F.col(quoted(token_col)),
        )
        .withColumn("pack_id", F.floor(F.col("__start") / budget))
        .drop("__pid", "__offset", "__start")
    )


def grouped_prefix_sum(
    df: DataFrame,
    key_col: str,
    order: Sequence[Column],
    val_col: str,
    out: str = "start_offset",
    partitions: Optional[int] = None,
) -> DataFrame:
    """Exact per-key running-total *start offset* (cumsum minus the
    row's own value) in ``order`` within each ``key_col`` group —
    WITHOUT ``Window.partitionBy(key)``, which at corpus scale funnels
    every row of a hot key through one task.

    Same distributed prefix-sum scheme as :func:`pack_sequences`, keyed:

    1. range-partition + sort by (key, *order) — one key's rows span
       partitions in global order, so no key is ever a single task;
    2. per-(partition, key) totals -> per-key cumulative partition
       offsets (a tiny frame: at most #partitions + #keys rows);
    3. per-(partition, key) local cumsum (parallel) + broadcast offset.

    Offsets telescope, so any partition count yields identical results.
    """
    key = _c(key_col)
    ordered = df
    if partitions:
        ordered = ordered.repartitionByRange(partitions, key.asc(), *order)
    else:
        ordered = ordered.repartitionByRange(key.asc(), *order)
    ordered = ordered.sortWithinPartitions(key.asc(), *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    ptotals = ordered.groupBy("__pid", key.alias("__k")).agg(
        F.sum(quoted(val_col)).alias("__ptotal")
    )
    w_off = (
        Window.partitionBy("__k")
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = ptotals.select(
        F.col("__pid").alias("__opid"),
        "__k",
        F.coalesce(F.sum("__ptotal").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_local = (
        Window.partitionBy("__pid", key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ordered.join(
            F.broadcast(offsets),
            (F.col("__pid") == F.col("__opid")) & key.eqNullSafe(F.col("__k")),
        )
        .withColumn(
            out,
            F.col("__offset")
            + F.sum(quoted(val_col)).over(w_local)
            - _c(val_col),
        )
        .drop("__pid", "__opid", "__k", "__offset")
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    round_to: int = 6,
    df_strategy: str = "window",
) -> DataFrame:
    """Top-``k`` tokens per document by tf-idf (idf = ln(N/df)).

    Shuffle profile at scale: one shuffle keyed on (doc, token) for
    tf; df then comes from ``count(*) over (partition by token)`` on
    the SAME tf table — one more keyed shuffle, but the tf lineage is
    derived exactly once (a groupBy + join-back form rebuilds the
    whole tokenize/explode/groupBy subplan for BOTH join sides —
    Catalyst does not reuse it); finally one shuffle on doc for the
    per-document top-k. No
    global sort, no driver-side collect (N travels as a broadcast
    1-row frame), and Spark's WindowGroupLimit pushes the rank filter
    below the top-k sort.

    ``df_strategy="join"`` keeps the two-derivation aggregate +
    join-back: the window form's per-token partition holds one row
    per containing DOCUMENT, so a stopword at web scale serializes
    its window partition (AQE cannot split a window partition — the
    same hazard ``operators/dedup.py`` routes around for hot grams),
    while the join on token IS AQE-skew-splittable. Below that regime
    the window form wins outright (measured 1.34 s vs 1.66 s at 10x
    data); both produce identical values (equality-tested).
    """
    toks = tokenize(docs, text_col, "__tok", carry=[id_col])
    clean = clean_tokens(toks, "__tok", "__tok", carry=[id_col])
    tf = clean.groupBy(_c(id_col), F.col("__tok")).agg(
        F.count(F.lit(1)).alias("__tf")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    if df_strategy == "window":
        withdf = tf.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("__tok"))
        )
    else:
        df_tbl = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
        withdf = tf.join(df_tbl, on="__tok")
    scored = withdf.join(F.broadcast(n_docs)).withColumn(
        "__score", F.col("__tf") * F.log(F.col("__n") / F.col("__df"))
    )
    w = Window.partitionBy(_c(id_col)).orderBy(
        F.desc("__score"), F.asc("__tok")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            _c(id_col),
            F.col("__tok").alias("token"),
            F.round("__score", round_to).alias("tfidf"),
            F.col("__rn").alias("rn"),
        )
    )


def ngram_counts(
    docs: DataFrame,
    text_col: str,
    n: int = 2,
    k: int = 100,
) -> DataFrame:
    """Corpus-level word n-gram language-model counts: the top-``k``
    n-grams by occurrence (count desc, gram asc — a total order, so
    the cut is deterministic).

    Scale shape: grams are generated by array arithmetic inside the
    scan stage (no join-back), counted with ONE shuffle on the gram key
    (map-side partial counts), and the top-k compiles to
    ``TakeOrderedAndProject`` — per-partition heaps merged on the
    driver, never a global sort. This is the n-gram-LM / contamination
    -lexicon building block over a 100 TB corpus.
    """
    toks = docs.select(
        F.split(F.lower(F.col(text_col)), r"\s+").alias("ts")
    )
    grams = toks.select(
        F.explode(
            F.when(
                F.size("ts") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - n + 1),
                    lambda i: F.array_join(F.slice("ts", i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(k)
    )
