"""Viewer (S8/O2/S6 parity) and bucketed-table co-located joins."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from task_on_dataframes_spark import view
from task_on_dataframes_spark.sources.writers import bucketed_table_sink


_ID = StructType([StructField("id", LongType())])


def _parts(d, sizes, group=10):
    """Write consecutive ids into one parquet file per entry of
    ``sizes`` under the new directory ``d`` (names in id order),
    ``group`` rows per row group; returns ``d`` as a string."""
    d.mkdir()
    at = 0
    for i, n in enumerate(sizes):
        ids = pa.table({"id": pa.array(range(at, at + n), pa.int64())})
        pq.write_table(ids, d / f"part-{i:05d}.parquet", row_group_size=group)
        at += n
    return str(d)


def test_page_window_and_negative_pages(tmp_path):
    """Pages follow data-file order across files, a 0-row file
    included; negative pages count from the end and resolve to the
    page shown; a page past the end is empty. No Spark session."""
    d = _parts(tmp_path / "r", [120, 0, 85])

    def ids(page_no):
        return [r["id"] for r in view.page(d, _ID, page_no, 50).rows]

    assert ids(0) == list(range(50))
    assert ids(2) == list(range(100, 150))
    last = view.page(d, _ID, -1, 50)
    assert [r["id"] for r in last.rows] == list(range(200, 205))
    assert (last.number, last.pages) == (4, 5)
    assert view.page(d, _ID, -9, 50).number == 0
    assert ids(-9) == ids(0)
    assert ids(5) == []

    empty = view.page(_parts(tmp_path / "e", [0]), _ID, -1, 50)
    assert (empty.rows, empty.number, empty.pages) == ([], 0, 1)


def test_page_reads_only_the_row_groups_covering_it(tmp_path, monkeypatch):
    """A page reads the row groups that hold its rows and no others,
    across a file boundary too."""
    d = _parts(tmp_path / "r", [100, 100])
    reads = []

    class Recording(pq.ParquetFile):
        def __init__(self, source, **kwargs):
            super().__init__(source, **kwargs)
            self.name = os.path.basename(source)

        def read_row_groups(self, row_groups, *args, **kwargs):
            reads.append((self.name, list(row_groups)))
            return super().read_row_groups(row_groups, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Recording)
    assert [r["id"] for r in view.page(d, _ID, 3, 15).rows] == list(range(45, 60))
    assert reads == [("part-00000.parquet", [4, 5])]
    reads.clear()
    assert [r["id"] for r in view.page(d, _ID, 6, 15).rows] == list(range(90, 105))
    assert reads == [("part-00000.parquet", [9]), ("part-00001.parquet", [0])]


def test_html_escapes_and_truncates(spark):
    df = spark.createDataFrame([("<b>x</b>", "y" * 200)], ["a", "b"])
    out = view.to_html(df, max_col_width=10)
    assert "&lt;b&gt;x&lt;/b&gt;" in out
    assert "y" * 9 + "…" in out
    assert "y" * 11 not in out


def test_csv_roundtrip_and_download_name(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name_long"])
    csv = view.to_csv(df)
    assert csv.splitlines()[0] == "id,name_long"
    assert view.download_name(df.columns) == "name_long.csv"


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Both sides bucketed on the join key -> SortMergeJoin with ZERO
    Exchange operators: the co-located layout replaces the shuffle."""
    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    wh = str(tmp_path / "wh")
    os.makedirs(wh, exist_ok=True)
    bucketed_table_sink(a, "ta_bkt", ["k"], 8, path=f"{wh}/ta")
    bucketed_table_sink(b, "tb_bkt", ["k"], 8, path=f"{wh}/tb")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path (broadcast would hide bucketing on
        # tables this small) — the bucketed layout must eliminate every
        # shuffle Exchange from the SortMergeJoin
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ta, tb = spark.table("ta_bkt"), spark.table("tb_bkt")
        joined = ta.join(tb, on="k").filter(F.col("va") + F.col("vb") > 0)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 9999  # k=0 fails va+vb>0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS ta_bkt")
        spark.sql("DROP TABLE IF EXISTS tb_bkt")


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from task_on_dataframes_spark.sources.writers import compact_parquet

    src = str(tmp_path / "many")
    spark.range(0, 100000).repartition(40).write.parquet(src)
    import glob

    before = len(glob.glob(f"{src}/*.parquet"))
    assert before >= 40
    n = compact_parquet(spark, src, target_file_mb=256, sort_cols=["id"])
    after = glob.glob(f"{src}/*.parquet")
    assert len(after) == n == 1
    back = spark.read.parquet(src)
    assert back.count() == 100000
    # range-sorted rewrite: a range predicate's filter is pushed and the
    # data is clustered for rowgroup min/max pruning
    assert back.filter("id < 10").count() == 10
