"""The source catalog (``sources/catalog.py``): a warm parquet read
launches no Spark job, every read is a fresh relation, and the schema
memo follows the files (stamps), the read options and the
schema-changing session confs."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from task_on_dataframes_spark.sources import catalog


def _jobs_started(spark) -> int:
    """Jobs the session's scheduler has started so far (the next job id)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _read_jobs(spark, *paths, **options):
    """``(frame, jobs launched)`` of one catalog read."""
    before = _jobs_started(spark)
    df = catalog.read(spark, *paths, **options)
    return df, _jobs_started(spark) - before


def test_warm_read_launches_no_job_and_keeps_the_inferred_schema(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "customer.parquet")
    shutil.copy(f"{sf_dir}/customer.parquet", path)
    cold, cold_jobs = _read_jobs(spark, path)
    warm, warm_jobs = _read_jobs(spark, path)
    assert cold_jobs >= 1
    assert warm_jobs == 0
    assert warm.schema == cold.schema == spark.read.parquet(path).schema
    assert warm.count() == pq.read_metadata(path).num_rows


def test_rewritten_file_and_added_part_are_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert catalog.read(spark, path).columns == ["a"]
    assert _read_jobs(spark, path)[1] == 0
    # same path, different schema
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df, jobs = _read_jobs(spark, path)
    assert jobs >= 1
    assert df.columns == ["b", "c"]
    assert sorted(r.b for r in df.collect()) == ["x", "y"]

    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    assert catalog.read(spark, str(d)).count() == 2
    assert catalog.footer(str(d)) == [(1, os.path.getsize(d / "part-0.parquet"))]
    pq.write_table(pa.table({"a": [3, 4, 5]}), str(d / "part-1.parquet"))
    df, jobs = _read_jobs(spark, str(d))
    assert jobs >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2, 3, 4, 5]
    assert len(catalog.footer(str(d))) == 2
    # what Spark does not read as data does not re-stamp the directory
    (d / "_SUCCESS").write_text("")
    (d / ".part-1.parquet.crc").write_text("")
    assert _read_jobs(spark, str(d))[1] == 0


def test_a_schema_conf_flip_misses_the_memo(spark, sf_dir, tmp_path):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = str(tmp_path / "region.parquet")
    shutil.copy(f"{sf_dir}/region.parquet", path)
    catalog.read(spark, path)
    assert _read_jobs(spark, path)[1] == 0
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true" if old == "false" else "false")
        assert _read_jobs(spark, path)[1] >= 1
        assert _read_jobs(spark, path)[1] == 0
    finally:
        spark.conf.set(conf, old)
    # the schema under the original value is still memoized
    assert _read_jobs(spark, path)[1] == 0


def test_same_table_self_join_resolves_and_matches_duckdb(spark, sf_dir):
    """Two reads of one table are distinct relations, so a self-join's
    columns resolve on each side."""
    import duckdb
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.registry.common import _t

    a = _t(spark, sf_dir, "customer").alias("a")
    b = _t(spark, sf_dir, "customer").alias("b")
    joined = a.join(b, F.col("a.c_nationkey") == F.col("b.c_nationkey")).select(
        F.col("a.c_custkey").alias("left_key"),
        F.col("b.c_custkey").alias("right_key"),
    )
    want = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/customer.parquet' a "
        f"JOIN '{sf_dir}/customer.parquet' b USING (c_nationkey)"
    ).fetchone()[0]
    assert joined.count() == want
    assert joined.filter(F.col("left_key") != F.col("right_key")).count() > 0


def test_a_warm_schema_of_is_the_read_schema_without_a_read(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A warm ``schema_of`` is the schema a catalog read gives, for a
    file, a partitioned directory and a read option, answered from the
    memo with no ``spark.read`` call; a path that cannot be stamped
    still builds a relation."""
    parted = str(tmp_path / "parted")
    spark.range(6).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS k", "CAST(id AS DOUBLE) AS x"
    ).write.partitionBy("k").parquet(parted)
    single = str(tmp_path / "nation.parquet")
    shutil.copy(f"{sf_dir}/nation.parquet", single)
    cases = [(single, {}), (parted, {}), (parted, {"mergeSchema": "true"})]
    for path, options in cases:
        catalog.schema_of(spark, path, **options)

    reads = []
    session = type(spark)
    real = session.read
    monkeypatch.setattr(
        session, "read", property(lambda s: reads.append(1) or real.fget(s))
    )
    warm = [catalog.schema_of(spark, p, **o) for p, o in cases]
    assert reads == []
    for (path, options), schema in zip(cases, warm):
        assert schema == catalog.read(spark, path, **options).schema
    assert warm[1].names == ["id", "x", "k"]
    assert len(reads) == len(cases)

    url = f"file://{sf_dir}/nation.parquet"
    assert catalog.schema_of(spark, url) == warm[0]
    assert len(reads) == len(cases) + 1


def test_a_remote_style_path_is_never_memoized(spark, sf_dir):
    url = f"file://{sf_dir}/nation.parquet"
    for _ in range(2):
        df, jobs = _read_jobs(spark, url)
        assert jobs >= 1
    assert df.count() == pq.read_metadata(f"{sf_dir}/nation.parquet").num_rows
    assert not any("://" in p for paths in catalog._MEMO for p in paths)


def test_a_missing_path_raises_what_spark_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        catalog.read(spark, str(tmp_path / "nope.parquet"))


def test_concurrent_footer_reads_follow_a_rewrite(tmp_path):
    """Threads reading footers while a file is rewritten never fail,
    and once the writes stop every path reports its final row groups
    (pure Python: no Spark job)."""
    import sys
    import threading

    paths = [str(tmp_path / f"f{i}.parquet") for i in range(4)]
    for p in paths:
        pq.write_table(pa.table({"a": list(range(10))}), p, row_group_size=5)
    errors: list = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                for p in paths:
                    (groups, size), = catalog.footer(p)
                    assert groups in (2, 5) and size > 0
        except Exception as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        for n in range(20):
            # write-then-rename: readers see whole files only
            pq.write_table(
                pa.table({"a": list(range(10))}), paths[0] + ".tmp",
                row_group_size=2 if n % 2 == 0 else 5,
            )
            os.replace(paths[0] + ".tmp", paths[0])
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert catalog.footer(paths[0])[0][0] == 2  # last write: 2 groups of 5
    assert [catalog.footer(p)[0][0] for p in paths[1:]] == [2, 2, 2]


def test_rows_is_the_count_from_footers_without_a_job(spark, tmp_path):
    """``catalog.rows`` sums the data files' footer row counts: it
    equals ``count()`` on a multi-file directory, follows a rewrite and
    an added part file, and launches no Spark job."""
    d = str(tmp_path / "parts")
    spark.range(0, 1000, 1, 3).write.parquet(d)
    assert len(catalog.footer(d)) == 3
    before = _jobs_started(spark)
    assert catalog.rows(d) == 1000
    assert _jobs_started(spark) == before
    assert catalog.read(spark, d).count() == 1000

    spark.range(0, 10, 1, 2).write.mode("overwrite").parquet(d)
    assert catalog.rows(d) == 10 == catalog.read(spark, d).count()
    pq.write_table(pa.table({"id": [7, 8, 9]}), os.path.join(d, "part-extra.parquet"))
    before = _jobs_started(spark)
    assert catalog.rows(d) == 13
    assert _jobs_started(spark) == before
    assert catalog.read(spark, d).count() == 13
    assert catalog.rows(str(tmp_path / "nope")) is None


#: confs flipped from their defaults in the second run of the
#: seeded-schema test; both change what converting a parquet schema gives
_FLIPPED = {
    "spark.sql.parquet.binaryAsString": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


@pytest.mark.parametrize("flip", [False, True], ids=["default", "flipped"])
def test_a_seeded_schema_is_what_inference_gives(spark, tmp_path, flip):
    """A schema seeded from the frame Spark wrote equals the schema
    ``spark.read.parquet`` infers from the written files, over nested,
    nullable and non-null, decimal, time, binary, char, metadata-carrying
    and dotted columns. Serving a stored result relies on this; a Spark
    version that breaks it fails here instead of serving a wrong schema."""
    from pyspark.sql import functions as F

    old = {k: spark.conf.get(k) for k in _FLIPPED}
    try:
        if flip:
            for k, v in _FLIPPED.items():
                spark.conf.set(k, v)
        df = spark.sql(
            """
            SELECT
              array(id, id + 1) AS arr,
              IF(id % 2 = 0, NULL, array(named_struct('a', id, 'b', CAST(NULL AS STRING))))
                AS arr_nullable,
              map('k', array(id)) AS m,
              IF(id % 2 = 0, NULL, map('k', CAST(NULL AS DOUBLE))) AS m_nullable,
              named_struct('x', id, 'y', CAST(NULL AS DOUBLE),
                           'z', named_struct('w', array(1, 2))) AS st,
              CAST(id AS DECIMAL(12, 3)) AS dec,
              CAST(id AS DECIMAL(38, 10)) AS dec_wide,
              TIMESTAMP '2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
              TIMESTAMP_NTZ '2024-01-01 10:00:00' AS ts_ntz,
              DATE '2024-01-02' AS d,
              CAST(CAST(id AS STRING) AS BINARY) AS bin,
              CAST(CAST(id AS STRING) AS CHAR(3)) AS ch,
              CAST(id AS STRING) AS `docs.text`,
              id
            FROM range(6)
            """
        ).withColumn("id", F.col("id").alias("id", metadata={"comment": "row id"}))
        path = str(tmp_path / "written")
        df.write.parquet(path)
        catalog.seed(spark, path, df.schema)
        seeded, jobs = _read_jobs(spark, path)
        assert jobs == 0
        assert seeded.schema == spark.read.parquet(path).schema
        assert seeded.schema["id"].metadata == {"comment": "row id"}
        assert seeded.count() == 6
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
