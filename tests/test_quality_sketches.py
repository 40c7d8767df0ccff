"""Quality/sketch query behavior tests (plan shapes are in
test_plan_shapes.py; exact values are the DuckDB oracles' job — these
assert the *contracts* hold standalone at smoke scale)."""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_sketch_bounds_all_hold(spark, sf_dir, queries):
    # every sketch query's verdict column must be uniformly true — the
    # advertised accuracy contract, not an engine-specific estimate
    for name, col in [
        ("sketch_hll_bound", "within_bound"),
        ("sketch_quantile_bound", "rank_ok"),
        ("sketch_heavy_hitters", "found"),
    ]:
        df = queries[name](spark, sf_dir)
        n_bad = df.filter(~F.col(col)).count()
        assert n_bad == 0, f"{name}: {n_bad} rows violate {col}"
        assert df.count() > 0, f"{name}: empty result proves nothing"


def test_dq_rules_clean_on_synthetic_data(spark, sf_dir, queries):
    rows = {r["rule"]: r["violations"] for r in queries["dq_rules"](spark, sf_dir).collect()}
    # all 8 rules evaluated; the synthetic tables are referentially clean
    assert len(rows) == 8
    assert rows["lineitem_orphan_orderkey"] == 0
    assert rows["orders_duplicate_pk"] == 0


def test_dq_rules_detects_seeded_violations(spark):
    # seed a dirty frame through the same rule expressions to show the
    # audit actually fires (a clean-data-only test can't tell a rule
    # from a constant)
    li = spark.createDataFrame(
        [(1, -5.0), (2, 3.0), (3, None)],
        "l_orderkey long, l_quantity double",
    )
    bad = li.agg(
        F.sum(
            (F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)).cast("long")
        ).alias("v")
    ).collect()[0]["v"]
    assert bad == 2


def test_compaction_reduces_files_and_preserves_rows(spark, sf_dir, queries):
    import glob
    import tempfile

    out = tempfile.mkdtemp(prefix="tada_cmp_test_") + "/li"
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    li.repartition(16).write.mode("overwrite").parquet(out)
    before = len(glob.glob(f"{out}/*.parquet"))
    from task_on_dataframes_spark.sources.writers import compact_parquet

    compact_parquet(spark, out, target_file_mb=64)
    after = len(glob.glob(f"{out}/*.parquet"))
    assert after < before
    assert spark.read.parquet(out).count() == li.count()


def test_entropy_of_uniform_tokens_is_log2_n(spark):
    # 8 distinct tokens once each -> entropy exactly 3 bits, ttr 1.0
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    import task_on_dataframes_spark.registry.quality as q

    # drive the same expression chain the registry query uses
    toks = (
        df.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("raw"))
        .select("doc_id", F.regexp_replace("raw", r"^\W+|\W+$", "").alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    row = (
        counts.groupBy("doc_id")
        .agg(
            F.round(
                F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 4
            ).alias("h")
        )
        .collect()[0]
    )
    assert row["h"] == 3.0


def test_gopher_gate_matches_pure_python_replay(spark):
    import math
    import re as _re

    from task_on_dataframes_spark.operators.textstats import (
        gopher_quality_gate,
    )

    texts = [
        # passes everything: >=50 diverse words, stopwords present
        (0, "the quick brown fox jumps over a lazy dog of mine "
            + " ".join(f"word{i}" for i in range(50))),
        # too short
        (1, "the a of and tiny doc"),
        # no required stopwords
        (2, " ".join(f"tok{i} blah word" for i in range(20))),
        # one token dominating -> top-token flag trips
        (3, "the of " + " ".join(["spam"] * 60)),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = {
        r.doc_id: r
        for r in gopher_quality_gate(df, "doc_id", "text").collect()
    }
    stop = {"the", "a", "of", "and", "to", "in", "is", "it"}
    for did, text in texts:
        toks = _re.split(r"\s+", text.lower())
        n = len(toks)
        r = rows[did]
        assert r.n_words == n
        nc = len(_re.sub(r"\s", "", text))
        assert abs(r.mean_word_len - round(nc / n, 6)) < 1e-9
        assert r.stop_hits == len(stop & set(toks))
        from collections import Counter

        mc = Counter(toks).most_common(1)[0][1]
        assert abs(r.top_token_frac - round(mc / n, 6)) < 1e-9
        g = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        dup2 = (len(g) - len(set(g))) / len(g) if g else 0.0
        assert abs(r.dup_2gram_frac - round(dup2, 6)) < 1e-9
        expect_pass = (
            50 <= n <= 100000
            and 3.0 <= nc / n <= 10.0
            and sum(1 for t in toks if _re.search("[a-z]", t)) / n >= 0.8
            and len(stop & set(toks)) >= 2
            and mc / n <= 0.10
            and dup2 <= 0.05
        )
        assert r.gopher_pass == expect_pass, did
    # the fixture set exercises both verdicts
    assert rows[0].gopher_pass and not rows[1].gopher_pass
    assert not rows[2].flag_stopwords and not rows[3].flag_top_token


def test_psi_drift_zero_for_identical_slices(spark):
    import task_on_dataframes_spark.registry.quality as q

    # identical even/odd halves -> PSI must be ~0 (exactly 0 after
    # rounding, since p == q term-by-term)
    import pandas as pd

    docs = spark.createDataFrame(
        [(i, "w " * ((i // 2) % 30 + 1)) for i in range(200)],
        "doc_id long, text string",
    )
    import types

    saved = q._docs
    try:
        q._docs = lambda spark, sf_dir: docs
        row = q._quality_psi_drift(spark, "unused").collect()[0]
    finally:
        q._docs = saved
    assert row.psi == 0.0 and row.n_a == row.n_b == 100
