"""Shipped task library: the reference's usenet text pipeline,
re-expressed Spark-first over the driver's ``documents`` table.

The reference pipeline (frame_tasks/basic_tasks.py:12-105) is

    get_paths -> get_text -> get_splits -> tokenize -> tokenize_clean
    -> counts -> top90

with lineage-encoded column names (``usenet.path`` ->
``usenet.read_file.multiline`` -> ``....lines`` -> ``....clean_tokens``
-> ``....top90``). Here the corpus is the ``documents`` parquet table,
so the source task plays the role of get_paths+get_text (path glob +
whole-file read collapse into one columnar scan), and every downstream
task is a native DataFrame transform. All frames stay lazy: the planner
chains logical plans and only the goal frame executes, as one
Catalyst-optimized query.

Call :func:`register_document_tasks` with the sf directory to register
the library into a (fresh or default) registry.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import SparkSession, functions as F

from .plans.decorator import makes, new_task, requires, close_task
from .plans.task import TaskRegistry
from .operators import text as T
from .runtime import quoted

pat = re.compile
any_name = pat(r"(.+)")


def register_get_docs(
    spark: SparkSession,
    sf_dir: str,
    registry: Optional[TaskRegistry] = None,
) -> TaskRegistry:
    """Register the source task ``get_docs`` — () -> [docs.id,
    docs.text], a scan of ``<sf_dir>/documents.parquet`` — the one
    definition every document task library starts from."""
    registry = TaskRegistry() if registry is None else registry

    @new_task(registry=registry)
    @makes(["docs.id", "docs.text"], appends=False)
    @close_task()
    def get_docs(expects):
        # the scan parallelism floor of every registry documents
        # pipeline (``_docs``): a planner-composed pipeline runs the
        # same CPU-bound text work above this task as its registry
        # twin, so it must not scan narrower than that twin
        from task_on_dataframes_spark.registry.common import _docs

        df = _docs(spark, sf_dir)
        return df.select(
            F.col("doc_id").alias(expects[0][1]),
            F.col("text").alias(expects[1][1]),
        )

    return registry


def register_document_tasks(
    spark: SparkSession,
    sf_dir: str,
    registry: Optional[TaskRegistry] = None,
) -> TaskRegistry:
    """Register the document text-pipeline task library.

    Tasks registered (lineage naming mirrors the reference's):

    * ``get_docs``      — () -> [docs.id, docs.text]  (parquet scan)
    * ``get_lines``     — (.+)\\.text -> {x}.lines    (newline split+explode)
    * ``get_from``      — (.+)\\.lines -> {x}.lines.from (From:-prefix
      matches beside the originals, non-matches NULL)
    * ``tokenize``      — (.+\\.text)\\Z -> sample_ind, {x}.tokens
    * ``tokenize_clean``— sample_ind, (.+)\\.tokens -> sample_ind, {x}.clean_tokens
    * ``counts``        — (.+) -> {x}.counts, {x}     (generic group-by count)
    * ``top90``         — (.+\\.clean_tokens)\\Z + {x},{x}.counts -> {x}.top90
    """
    registry = register_get_docs(spark, sf_dir, registry)

    @new_task(registry=registry)
    @requires([pat(r"(.+)\.text")], arg="x")
    @makes([r"{x}.lines"])
    @close_task()
    def get_lines(x, expects):
        src = x.columns[0]
        return x.select(
            F.col(quoted(src)),
            F.explode(F.split(F.col(quoted(src)), r"\r?\n")).alias(expects[0][1]),
        )

    @new_task(registry=registry)
    @requires([pat(r"(.+)\.lines")], arg="x")
    @makes([r"{x}.lines.from"])
    @close_task()
    def get_from(x, expects):
        # reference get_from (basic_tasks.py:43-51): matching lines
        # appear in the new column, non-matches stay NULL *beside* the
        # originals (left-join-back semantics, here one select)
        src = x.columns[0]
        c = F.col(quoted(src))
        return x.select(
            c, F.when(c.startswith("From:"), c).alias(expects[0][1])
        )

    @new_task(registry=registry)
    @requires([pat(r"(.+\.text)\Z")], arg="x")
    @makes(["sample_ind", r"{x}.tokens"], appends=False)
    @close_task()
    def tokenize(x, expects):
        # the reference snapshots the pandas index as sample_ind
        # (basic_tasks.py:60-66); rows have no implicit identity on
        # Spark, so mint an opaque row id *before* the explode
        src = x.columns[0]
        with_id = x.select(
            F.monotonically_increasing_id().alias(expects[0][1]), F.col(quoted(src))
        )
        return T.tokenize(with_id, src, expects[1][1], carry=[expects[0][1]])

    @new_task(registry=registry)
    @requires(["sample_ind", pat(r"(.+)\.tokens")], arg="x")
    @makes(["sample_ind", r"{x}.clean_tokens"], appends=False)
    @close_task()
    def tokenize_clean(x, expects):
        tok = x.columns[1]
        return T.clean_tokens(x, tok, expects[1][1], carry=["sample_ind"])

    @new_task(registry=registry)
    @requires([any_name], arg="x")
    @makes([r"{x}.counts", r"{x}"], appends=False)
    @close_task()
    def counts(x, requires, expects):
        src = x.columns[0]
        return T.value_counts(x, src, out=expects[0][1])

    @new_task(registry=registry)
    @requires([pat(r"(.+\.clean_tokens)\Z")], arg="x")
    @requires([r"{x}", r"{x}.counts"], arg="y")
    @makes([r"{x}.top90"], appends=False)
    @close_task()
    def top90(x, y, expects):
        tok = x.columns[0]
        cnt = y.columns[1]
        out = T.top_mass_filter(x, tok, 0.9, counts_df=y, count_col=cnt)
        return out.select(F.col(quoted(tok)).alias(expects[0][1]))

    return registry
