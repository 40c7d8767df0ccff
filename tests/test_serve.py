"""HTTP service routes (serve.py) — explore / view / CSV download
driven through Flask's test client against a live SparkSession,
mirroring the reference's interactive flow (serve.py:110-147)."""

from urllib.parse import quote

import pytest

flask = pytest.importorskip("flask")


@pytest.fixture()
def served(spark, tmp_path):
    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.serve import create_app

    registry = register_document_tasks(spark, "/root/testdata/sf0.001")
    app = create_app(
        spark, registry=registry, cache_root=str(tmp_path / "cache")
    )
    return app, registry


def test_full_flow_explore_view_csv(served):
    from task_on_dataframes_spark.browse import BrowseState

    app, registry = served
    client = app.test_client()

    # step 1: empty state — get_docs must be offered as a next action
    r = client.get("/explore/")
    assert r.status_code == 200 and "get_docs" in r.get_data(as_text=True)

    # step 2: append get_docs exactly the way the rendered link does
    bs = BrowseState([], [], registry=registry)
    get_docs = next(
        a for a in bs.further_actions([]) if a.Task == "get_docs"
    )
    q = quote(bs.with_action(get_docs).to_url_q(), safe="")

    r = client.get(f"/explore/{q}")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert "docs.id" in body and "docs.text" in body
    assert "Back" in body

    # step 3: view the produced frame — executes through the cache
    r = client.get(f"/view/0/0/{q}")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert "<table>" in body and "docs.id" in body

    # the cache now holds the frame: later pages are parquet reads
    assert client.get(f"/view/1/0/{q}").status_code == 200

    # step 4: CSV download of page 0
    r = client.get(f"/download/csv/0/{q}")
    assert r.status_code == 200
    assert r.mimetype == "text/csv"
    lines = r.get_data(as_text=True).strip().splitlines()
    assert lines[0].split(",")[0] in ("docs.id", "docs.text")
    assert len(lines) > 1


def test_view_is_served_from_cache_after_first_hit(served, tmp_path):
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.cache import plan_key, ResultCache

    app, registry = served
    client = app.test_client()
    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    bs2 = bs.with_action(act)
    q = quote(bs2.to_url_q(), safe="")

    assert client.get(f"/view/0/0/{q}").status_code == 200
    key = plan_key(list(bs2.actions), ["frame=0"])
    cache = ResultCache(str(tmp_path / "cache"))
    assert cache.status(key) == "done"


def _jobs_started(spark) -> int:
    """Jobs the session's scheduler has started so far (the next job id)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _get_docs_q(registry):
    """``(state, quoted query string)`` of the one-action plan ``get_docs``."""
    from task_on_dataframes_spark.browse import BrowseState

    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    bs = bs.with_action(act)
    return bs, quote(bs.to_url_q(), safe="")


@pytest.fixture()
def relation_calls(monkeypatch):
    """A function that starts recording, in call order, ``"store"``
    for each ``ResultCache.store`` and ``"load"``/``"read"`` for each
    ``ResultCache.load``/``catalog.read`` (the calls that build a Spark
    relation over a stored result), and returns the record."""
    from task_on_dataframes_spark.cache import ResultCache
    from task_on_dataframes_spark.sources import catalog

    def start() -> list:
        calls = []

        def spy(owner, name, tag):
            real = getattr(owner, name)

            def wrapped(*args, **kwargs):
                calls.append(tag)
                return real(*args, **kwargs)

            monkeypatch.setattr(owner, name, wrapped)

        spy(ResultCache, "store", "store")
        spy(ResultCache, "load", "load")
        spy(catalog, "read", "read")
        return calls

    return start


def test_a_served_hit_runs_no_spark_job(served, spark, relation_calls):
    """Once a frame is stored, ``/view`` reads its page from the row
    groups that hold it, with the page count from the parquet footers
    and the schema from the memo, so a hit view, a negative page and a
    CSV download launch no Spark job and build no Spark relation."""
    app, registry = served
    client = app.test_client()
    _, q = _get_docs_q(registry)
    assert client.get(f"/view/0/0/{q}").status_code == 200
    calls = relation_calls()
    for path in (f"/view/0/0/{q}", f"/view/-1/0/{q}", f"/download/csv/0/{q}"):
        before = _jobs_started(spark)
        assert client.get(path).status_code == 200
        assert _jobs_started(spark) - before == 0, path
        assert calls == [], path


def test_a_hit_in_a_fresh_process_runs_no_job(served, spark, monkeypatch):
    """With the catalog memo empty, as in a process that did not store
    the result, a hit ``/view`` runs no Spark job (the schema is read
    from the stored parquet's footers) and renders what the storing
    process rendered; so does the next hit."""
    from collections import OrderedDict

    from task_on_dataframes_spark.sources import catalog

    app, registry = served
    client = app.test_client()
    _, q = _get_docs_q(registry)
    first = client.get(f"/view/0/0/{q}").get_data(as_text=True)
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    before = _jobs_started(spark)
    r = client.get(f"/view/0/0/{q}")
    assert r.status_code == 200
    assert _jobs_started(spark) - before == 0
    assert r.get_data(as_text=True) == first
    before = _jobs_started(spark)
    assert client.get(f"/view/0/0/{q}").get_data(as_text=True) == first
    assert _jobs_started(spark) - before == 0


def test_a_cold_view_runs_no_inference_or_count_job(
    served, spark, tmp_path, relation_calls
):
    """A cold ``/view`` launches only the jobs of storing its frame: the
    stored schema is the writer's, so no inference job runs and no
    relation is built over the stored result, and the page is read from
    the stored parquet's row groups, so no count or collect job runs."""
    from task_on_dataframes_spark.cache import ResultCache
    from task_on_dataframes_spark.plans.solve import perform_actions

    app, registry = served
    bs, q = _get_docs_q(registry)
    frame = perform_actions(
        [], bs.actions, registry=registry, return_latest_first=False
    )[0]
    before = _jobs_started(spark)
    ResultCache(str(tmp_path / "elsewhere")).store(frame, "s" * 32)
    store_jobs = _jobs_started(spark) - before
    assert store_jobs >= 1

    calls = relation_calls()
    before = _jobs_started(spark)
    r = app.test_client().get(f"/view/0/0/{q}")
    assert r.status_code == 200 and "docs.text" in r.get_data(as_text=True)
    assert _jobs_started(spark) - before == store_jobs
    assert calls.count("store") == 1
    assert calls[calls.index("store") + 1:] == []


def test_get_or_compute_runs_once_for_concurrent_callers(spark, tmp_path):
    """Four threads asking for one uncached key share a single
    computation, and each then reads every stored row back."""
    import sys
    import threading
    import time

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "cache"))
    calls = []
    start = threading.Barrier(4)

    def slow_compute():
        calls.append(1)
        time.sleep(1.0)
        return spark.range(7).toDF("v")

    seen = []

    def caller():
        start.wait(timeout=60)
        cache.get_or_compute(spark, "k" * 32, slow_compute)
        df = cache.load(spark, "k" * 32)
        seen.append(sorted(r["v"] for r in df.collect()))

    threads = [threading.Thread(target=caller) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert seen == [list(range(7))] * 4


def test_failed_compute_stores_nothing_and_is_retried(spark, tmp_path):
    """A ``compute`` that raises, or returns a frame whose write fails,
    propagates its error and leaves nothing in the cache root; the next
    call computes again."""
    import os

    from pyspark.sql import functions as F

    from task_on_dataframes_spark.cache import ResultCache

    root = tmp_path / "cache"
    cache = ResultCache(str(root))
    key = "e" * 32

    def boom():
        raise RuntimeError("deliberate failure for the error path")

    with pytest.raises(RuntimeError, match="deliberate failure"):
        cache.get_or_compute(spark, key, boom)
    assert cache.status(key) == "missing"
    assert os.listdir(root) == []

    def fails_in_write():
        return spark.range(3).select(F.raise_error(F.lit("write-time failure")))

    with pytest.raises(Exception, match="write-time failure"):
        cache.get_or_compute(spark, key, fails_in_write)
    assert not os.path.exists(os.path.join(root, key, "_SUCCESS"))
    assert os.listdir(root) == []

    cache.get_or_compute(spark, key, lambda: spark.range(7).toDF("v"))
    assert cache.load(spark, key).count() == 7
    assert cache.status(key) == "done"


def test_view_page_is_the_same_on_first_and_second_visit(
    spark, sf_dir, tmp_path
):
    """A revisit shows the rows the first visit showed: both page the
    stored parquet, not the first visit the lazy plan. Uses sf0.01,
    whose documents span more than three pages."""
    import os

    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.serve import create_app

    sf0_01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    registry = register_document_tasks(spark, sf0_01)
    client = create_app(
        spark, registry=registry, cache_root=str(tmp_path / "cache")
    ).test_client()
    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    q = quote(bs.with_action(act).to_url_q(), safe="")

    first = client.get(f"/view/3/0/{q}")
    second = client.get(f"/view/3/0/{q}")
    assert first.status_code == second.status_code == 200
    assert first.get_data(as_text=True) == second.get_data(as_text=True)


@pytest.mark.parametrize("warm", [False, True])
def test_bad_urls_are_client_errors_and_store_nothing(spark, tmp_path, warm):
    """An undecodable state, an unknown task or a binding to a frame
    the plan does not produce is a 400 and a frame index the plan does
    not produce is a 404 — checked before anything is computed or
    stored, so no cache entry is left behind. ``warm`` first serves the
    valid state, so the bad URLs meet a cache that already holds its
    result and must still add nothing to it."""
    import os

    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.serve import create_app

    registry = register_document_tasks(spark, "/root/testdata/sf0.001")
    root = tmp_path / "cache"
    client = create_app(
        spark, registry=registry, cache_root=str(root)
    ).test_client()
    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    q = quote(bs.with_action(act).to_url_q(), safe="")
    if warm:
        assert client.get(f"/view/0/0/{q}").status_code == 200
    stored = sorted(os.listdir(root)) if warm else []
    assert bool(stored) == warm

    # get_docs is the only action and produces the only frame, index 0
    for index in (1, 7):
        assert client.get(f"/view/0/{index}/{q}").status_code == 404
        assert client.get(f"/download/csv/{index}/{q}").status_code == 404
    for bad in (
        "act_0_task=nosuch",
        "file_x=a",
        "act_0_cm_0_c=x",
        # decodes, but binds a frame that nothing produces
        "act_0_task=get_docs&act_0_cm_9_c=a|Sx|0",
        "act_0_task=get_docs&act_0_cm_-1_c=a|Sx|0",
    ):
        assert client.get(f"/explore/{bad}").status_code == 400
        assert client.get(f"/view/0/0/{bad}").status_code == 400
    assert sorted(os.listdir(root)) == stored


def test_rewritten_source_is_recomputed_not_served_stale(spark, sf_dir, tmp_path):
    """The cache key names the plan, not the data: a source rewritten
    between two visits re-stamps, so the second ``/view`` recomputes
    and pages the new rows."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.serve import create_app

    src = tmp_path / "data"
    src.mkdir()
    docs = str(src / "documents.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", docs)
    registry = register_document_tasks(spark, str(src))
    client = create_app(
        spark, registry=registry, cache_root=str(tmp_path / "cache")
    ).test_client()
    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    q = quote(bs.with_action(act).to_url_q(), safe="")

    first = client.get(f"/view/0/0/{q}").get_data(as_text=True)
    assert "rewritten-doc-" not in first
    old = pq.read_table(docs).slice(0, 3)
    texts = pa.array([f"rewritten-doc-{i}" for i in range(3)])
    pq.write_table(old.set_column(1, "text", texts), docs)
    second = client.get(f"/view/0/0/{q}").get_data(as_text=True)
    assert second != first
    assert all(f"rewritten-doc-{i}" in second for i in range(3))


def test_a_negative_page_shows_and_bolds_the_page_it_resolves_to(served):
    """``/view/-1/…`` serves exactly what ``/view/<last>/…`` serves,
    the last page's number bold in the pages bar (500 documents: 10
    pages of 50)."""
    app, registry = served
    client = app.test_client()
    _, q = _get_docs_q(registry)
    last = client.get(f"/view/-1/0/{q}").get_data(as_text=True)
    assert last == client.get(f"/view/9/0/{q}").get_data(as_text=True)
    pages = last.split("Pages:", 1)[1]
    assert "<b>9</b>" in pages and pages.count("<b>") == 1


def _typed_frame(spark):
    """600 rows in two part files of 300 (row groups of 100 under
    ``parquet.block.size`` 1024) after a 0-row first part file: a long,
    double, decimal, string, date, binary, array, map and struct
    column, a dotted name, nulls in every fifth row, and a timestamp
    crossing a daylight-saving change."""
    from pyspark.sql import functions as F

    i = F.col("id")
    ts = F.timestamp_micros(F.lit(1603600000000000) + i * 3607000123)

    def some(c):
        return F.when(i % 5 != 0, c)

    return spark.range(0, 900, 1, 3).filter(i >= 300).select(
        i.alias("l"),
        (i / 7).alias("d"),
        (i / 8).cast("decimal(12,3)").alias("dec"),
        some(F.concat(F.lit("s"), i.cast("string"))).alias("s"),
        F.date_add(F.lit("2020-01-01").cast("date"), i.cast("int")).alias("dt"),
        some(i.cast("string").cast("binary")).alias("b"),
        some(F.array(i.cast("string"), F.lit(None).cast("string"))).alias("arr"),
        some(F.create_map(F.lit("k"), i, F.lit("z"), F.lit(None).cast("long"))).alias("m"),
        some(F.struct(i.alias("x"), ts.alias("ts"))).alias("st"),
        (i * 10).alias("a.b"),
        some(ts).alias("ts"),
    )


def _maps_sorted(v):
    """``v`` with every map's entries in key order, at any depth."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return Row(*v.__fields__)(*map(_maps_sorted, v))
    if isinstance(v, dict):
        return {k: _maps_sorted(v[k]) for k in sorted(v)}
    if isinstance(v, list):
        return list(map(_maps_sorted, v))
    return v


def test_pages_hold_the_stored_rows_in_file_order_as_collect_values(
    spark, tmp_path, monkeypatch
):
    """Under a non-UTC local time zone, each page of a stored result
    holds its window of the stored rows in data-file order, as the
    Python values a classic ``collect()`` of each file returns, so its
    HTML and CSV cells are the same (a map's entries print in stored
    order, where ``collect()`` builds its dict in JVM hash order); all
    pages together hold the rows of ``load(...).collect()``; an empty
    result is one empty page."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from task_on_dataframes_spark import view
    from task_on_dataframes_spark.cache import ResultCache
    from task_on_dataframes_spark.sources import catalog

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    spark.conf.set("parquet.block.size", "1024")
    try:
        cache = ResultCache(str(tmp_path / "cache"))
        key = "t" * 32
        cache.get_or_compute(spark, key, lambda: _typed_frame(spark))
        schema = cache.load(spark, key).schema
        files = catalog.row_groups(cache._dir(key))
        assert [sum(g) for _, _, g in files] == [0, 300, 300]
        assert all(len(g) > 1 for _, _, g in files[1:])
        # Spark's default outputTimestampType, INT96: tz-naive ns to pyarrow
        assert pq.read_schema(files[1][0]).field("ts").type == pa.timestamp("ns")

        stored = [
            r for f, _, _ in files
            for r in catalog.read(spark, f, schema=schema).collect()
        ]
        paged = []
        for p in range(14):
            shown = view.page(cache._dir(key), schema, p, 45)
            want = stored[p * 45:(p + 1) * 45]
            assert (shown.number, shown.pages) == (p, 14)
            assert shown.rows == want, p
            got = [_maps_sorted(r) for r in shown.rows]
            want = [_maps_sorted(r) for r in want]
            # repr tells bytes from bytearray, a decimal's scale, a tz
            assert list(map(repr, got)) == list(map(repr, want)), p
            got = view.Page(got, schema.names, p, 14)
            want = view.Page(want, schema.names, p, 14)
            assert view.to_html(got) == view.to_html(want)
            assert view.to_csv(got) == view.to_csv(want)
            paged += shown.rows
        assert [list(r["m"]) for r in paged[1:5]] == [["k", "z"]] * 4
        loaded = cache.load(spark, key).collect()
        canon = [repr(_maps_sorted(r)) for r in paged]
        assert sorted(canon) == sorted(repr(_maps_sorted(r)) for r in loaded)

        cache.get_or_compute(spark, "0" * 32, lambda: _typed_frame(spark).limit(0))
        empty = view.page(cache._dir("0" * 32), schema, -1, 45)
        assert (empty.rows, empty.number, empty.pages) == ([], 0, 1)
    finally:
        spark.conf.unset("parquet.block.size")
        monkeypatch.undo()
        time.tzset()
