"""LLM-data-pipeline operators as planner-composable tasks.

SURVEY §7.2 step 5: each north-star extension is also a *registered
task*, so the goal-driven planner can compose a full training-data
pipeline from a column-name goal. Lineage namespace::

    docs.id, docs.text                      (source)
      -> docs.text.quality                  score_quality
      -> docs.text.kept                     filter_quality  (keeps rows)
      -> docs.text.rep_id                   dedup_exact_docs (exact-dup rep)
      -> docs.text.kept.chunks              chunk_docs      (explode chunks)
      -> docs.text.lang                     lang_id_docs

Example::

    reg = register_llm_tasks(spark, sf_dir)
    frames = Executor([], [["docs.id", "docs.text.kept.chunks"]], registry=reg)

plans: get_docs -> score_quality -> filter_quality -> chunk_docs, all
lazy, optimized by Catalyst as one plan.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import SparkSession, functions as F

from .basic_tasks import register_get_docs
from .plans.decorator import close_task, makes, new_task, requires
from .plans.task import TaskRegistry
from .runtime import quoted

pat = re.compile


def register_llm_tasks(
    spark: SparkSession,
    sf_dir: str,
    registry: Optional[TaskRegistry] = None,
    min_quality: float = 0.2,
    chunk_tokens: int = 64,
) -> TaskRegistry:
    registry = register_get_docs(spark, sf_dir, registry)

    @new_task(registry=registry)
    @requires([pat(r"(.+)\.text\Z")], arg="x")
    @makes([r"{x}.text.quality"])
    @close_task()
    def score_quality(x, expects):
        # the length component of textstats.quality_score, inlined as a
        # per-row column beside the text (single pass, no id join)
        src = x.columns[0]
        text = F.col(quoted(src))
        n_tokens = F.size(F.split(F.lower(text), r"\s+"))
        length_score = F.round(
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)), 6
        )
        return x.select(text, length_score.alias(expects[0][1]))

    @new_task(registry=registry)
    @requires([pat(r"(.+)\.text\Z"), pat(r"(.+)\.text\.quality\Z")], arg="x")
    @makes([r"{x}.text.kept"], appends=False)
    @close_task()
    def filter_quality(x, expects):
        text_col, q_col = x.columns[0], x.columns[1]
        return (
            x.filter(F.col(quoted(q_col)) >= min_quality)
            .select(F.col(quoted(text_col)).alias(expects[0][1]))
        )

    @new_task(registry=registry)
    @requires([pat(r"(.+)\.text\Z")], arg="x")
    @makes([r"{x}.text.rep_id"], appends=False)
    @close_task()
    def dedup_exact_docs(x, expects):
        from .operators.dedup import normalized_text

        src = x.columns[0]
        return (
            x.groupBy(F.md5(normalized_text(F.col(quoted(src)))).alias("__d"))
            .agg(F.min(quoted(src)).alias(expects[0][1]))
            .drop("__d")
        )

    @new_task(registry=registry)
    @requires([pat(r"(.+\.kept)\Z")], arg="x")
    @makes([r"{x}.chunks"], appends=False)
    @close_task()
    def chunk_docs(x, expects):
        from .operators.text import chunk_text

        src = x.columns[0]
        chunked = chunk_text(
            x.withColumn("__id", F.monotonically_increasing_id()),
            "__id",
            src,
            chunk_tokens=chunk_tokens,
            out=expects[0][1],
        )
        return chunked.select(quoted(expects[0][1]))

    @new_task(registry=registry)
    @requires([pat(r"(.+)\.text\Z")], arg="x")
    @makes([r"{x}.text.lang"])
    @close_task()
    def lang_id_docs(x, expects):
        from .operators.textstats import STOPWORDS

        src = x.columns[0]
        toks = F.split(F.lower(F.col(quoted(src))), r"\s+")
        langs = list(STOPWORDS)
        scores = {
            lang: F.size(
                F.filter(
                    toks,
                    lambda t: F.array_contains(
                        F.array(*[F.lit(w) for w in STOPWORDS[lang]]), t
                    ),
                )
            )
            for lang in langs
        }
        pred = F.lit(langs[-1])
        best = scores[langs[-1]]
        for lang in reversed(langs[:-1]):
            cond = scores[lang] >= best
            best = F.when(cond, scores[lang]).otherwise(best)
            pred = F.when(cond, F.lit(lang)).otherwise(pred)
        return x.select(F.col(quoted(src)), pred.alias(expects[0][1]))

    return registry


def register_pack_task(
    registry: TaskRegistry, budget: int = 512
) -> TaskRegistry:
    """Extends the LLM-task registry with sequence packing, so a goal
    of ``docs.text.kept.chunks.packs`` makes BFS assemble the FIVE-task
    chain get_docs -> score_quality -> filter_quality -> chunk_docs ->
    pack_chunks. Chunks order deterministically by md5 (engine-portable;
    duplicate chunks are interchangeable so the packed multiset is
    well-defined) and pack ids come from the distributed prefix-sum in
    ``operators.text.pack_sequences`` — no global window."""

    @new_task(registry=registry)
    @requires([pat(r"(.+\.chunks)\Z")], arg="x")
    @makes([r"{x}", r"{x}.packs"], appends=False)
    @close_task()
    def pack_chunks(x, expects):
        from .operators.text import pack_sequences

        src = x.columns[0]
        with_t = x.select(
            F.col(quoted(src)),
            F.md5(F.col(quoted(src))).alias("__ord"),
            F.size(F.split(F.col(quoted(src)), r"\s+")).alias("__nt"),
        )
        packed = pack_sequences(with_t, ["__ord"], "__nt", budget=budget)
        return packed.select(
            F.col(quoted(src)).alias(expects[0][1]),
            F.col("pack_id").alias(expects[1][1]),
        )

    return registry
