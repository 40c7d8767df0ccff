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
    part0 = str(d / "part-0.parquet")
    assert catalog.row_groups(str(d)) == [(part0, os.path.getsize(part0), (2,))]
    pq.write_table(pa.table({"a": [3, 4, 5]}), str(d / "part-1.parquet"))
    df, jobs = _read_jobs(spark, str(d))
    assert jobs >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2, 3, 4, 5]
    assert [g for _, _, g in catalog.row_groups(str(d))] == [(2,), (3,)]
    # what Spark does not read as data does not re-stamp the directory
    (d / "_SUCCESS").write_text("")
    (d / ".part-1.parquet.crc").write_text("")
    assert _read_jobs(spark, str(d))[1] == 0
    # a Spark overwrite replaces every part file; the footers follow,
    # read with no Spark job
    spark.range(0, 10, 1, 2).write.mode("overwrite").parquet(str(d))
    before = _jobs_started(spark)
    files = catalog.row_groups(str(d))
    assert _jobs_started(spark) == before
    assert len(files) == 2 and sum(sum(g) for _, _, g in files) == 10
    assert catalog.read(spark, str(d)).count() == 10
    assert catalog.row_groups(str(tmp_path / "nope")) is None


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
                    (_, size, groups), = catalog.row_groups(p)
                    assert groups in ((5, 5), (2,) * 5) and size > 0
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
    assert catalog.row_groups(paths[0])[0][2] == (5, 5)  # the last write
    assert [catalog.row_groups(p)[0][2] for p in paths[1:]] == [(5, 5)] * 3


#: confs flipped from their defaults in the second run of the
#: footer-schema test; both change what converting a parquet schema gives
_FLIPPED = {
    "spark.sql.parquet.binaryAsString": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


@pytest.mark.parametrize("flip", [False, True], ids=["default", "flipped"])
def test_a_spark_written_schema_is_read_from_its_footers(
    spark, tmp_path, monkeypatch, flip
):
    """With the memo empty, the schema of a directory Spark wrote (three
    part files) is read from its footers with no Spark job, and equals
    the schema ``spark.read.parquet`` infers, over nested, nullable and
    non-null, decimal, time, binary, char, metadata-carrying and dotted
    columns. Serving a stored result relies on this; a Spark version
    that breaks it fails here instead of serving a wrong schema."""
    from collections import OrderedDict

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
        df.repartition(3).write.parquet(path)
        assert len(catalog.row_groups(path)) == 3
        monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
        footed, jobs = _read_jobs(spark, path)
        assert jobs == 0
        assert footed.schema == spark.read.parquet(path).schema
        assert footed.schema["id"].metadata == {"comment": "row id"}
        assert footed.count() == 6
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _partitioned(spark, tmp):
    path = str(tmp / "parted")
    df = spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS k")
    df.write.partitionBy("k").parquet(path)
    return (path,), {}, {}, ["id", "k"]


def _pyarrow_written(spark, tmp):
    path = str(tmp / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", None]}), path)
    return (path,), {}, {}, ["a", "b"]


def _two_paths(spark, tmp):
    paths = (str(tmp / "a"), str(tmp / "b"))
    for p in paths:
        spark.range(3).write.parquet(p)
    return paths, {}, {}, ["id"]


def _disagreeing_footers(merge):
    """Two part files of one directory, written by Spark from frames of
    different schemas."""

    def build(spark, tmp):
        d = tmp / "mixed"
        d.mkdir()
        frames = {"a": spark.range(3), "b": spark.range(3).selectExpr("id", "id * 2 AS x")}
        for name, df in frames.items():
            df.coalesce(1).write.parquet(str(tmp / name))
            (part,) = (tmp / name).glob("part-*")
            shutil.copy(part, d / f"part-{name}.parquet")
        merged = {"spark.sql.parquet.mergeSchema": merge}
        return (str(d),), {}, merged, ["id", "x"] if merge == "true" else None

    return build


def _recursive_lookup(spark, tmp):
    path = str(tmp / "nested")
    spark.range(3).write.parquet(os.path.join(path, "sub"))
    return (path,), {"recursiveFileLookup": "true"}, {}, ["id"]


@pytest.mark.parametrize(
    "build",
    [_partitioned, _pyarrow_written, _two_paths, _disagreeing_footers("false"),
     _disagreeing_footers("true"), _recursive_lookup],
    ids=["partitioned", "pyarrow_written", "two_paths", "disagreeing_merge_off",
         "disagreeing_merge_on", "recursive_lookup"],
)
def test_other_reads_are_inferred_by_spark(spark, tmp_path, build):
    """A read the footers cannot answer alone runs Spark's inference
    job, and its schema is the one ``spark.read.parquet`` infers. Each
    case builds its files and returns the read's paths, read options,
    session confs and expected columns (``None``: Spark's pick)."""
    paths, options, confs, names = build(spark, tmp_path)
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df, jobs = _read_jobs(spark, *paths, **options)
        assert jobs >= 1
        assert df.schema == spark.read.options(**options).parquet(*paths).schema
        if names is not None:
            assert df.columns == names
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("case", ["non_parquet", "hidden_name"])
def test_an_unreadable_file_raises_what_spark_raises(spark, tmp_path, case):
    """A file pyarrow cannot read as parquet, and a Spark-written file
    whose name Spark does not list as data, raise Spark's exception."""
    path = str(tmp_path / "_hidden.parquet")
    if case == "non_parquet":
        path = str(tmp_path / "fake.parquet")
        with open(path, "w") as fh:
            fh.write("not parquet")
    else:
        spark.range(3).coalesce(1).write.parquet(str(tmp_path / "w"))
        (part,) = (tmp_path / "w").glob("part-*")
        shutil.copy(part, path)
    with pytest.raises(Exception) as spark_raised:
        spark.read.parquet(path)
    with pytest.raises(Exception) as catalog_raised:
        catalog.read(spark, path)
    assert type(catalog_raised.value) is type(spark_raised.value)
