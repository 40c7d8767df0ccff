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


def test_background_submit_in_progress_then_done(spark, tmp_path):
    import threading
    import time

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "bg_cache"))
    release = threading.Event()

    def slow_compute():
        release.wait(timeout=30)
        return spark.range(7).toDF("v")

    key = "k" * 32
    assert cache.status(key) == "missing"
    assert cache.submit(key, slow_compute) == "in_progress"
    # a second submit while in flight must not start a second job
    assert cache.submit(key, slow_compute) == "in_progress"
    assert cache.status(key) == "in_progress"

    release.set()
    for _ in range(200):
        if cache.status(key) == "done":
            break
        time.sleep(0.1)
    assert cache.status(key) == "done"
    assert cache.load(spark, key).count() == 7


def test_background_submit_records_failure(spark, tmp_path):
    import time

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "bg_err"))

    def boom():
        raise RuntimeError("deliberate failure for the error path")

    key = "e" * 32
    assert cache.submit(key, boom) == "in_progress"
    for _ in range(100):
        if cache.status(key) == "error":
            break
        time.sleep(0.1)
    assert cache.status(key) == "error"
    assert "deliberate failure" in cache.error(key)
    # invalidate clears the error so the plan can be resubmitted
    cache.invalidate(key)
    assert cache.status(key) == "missing"


def test_view_returns_wait_page_then_result_in_background_mode(
    spark, tmp_path
):
    import time
    from urllib.parse import quote

    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.serve import create_app

    registry = register_document_tasks(spark, "/root/testdata/sf0.001")
    app = create_app(
        spark,
        registry=registry,
        cache_root=str(tmp_path / "bg_serve"),
        background=True,
    )
    client = app.test_client()

    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    q = quote(bs.with_action(act).to_url_q(), safe="")

    # first request: submitted to the pool, caller gets the wait page
    r = client.get(f"/view/0/0/{q}")
    assert r.status_code == 202
    assert "background" in r.get_data(as_text=True)

    # poll like the refresh tag does until the parquet write lands
    deadline = time.time() + 60
    while time.time() < deadline:
        r = client.get(f"/view/0/0/{q}")
        if r.status_code == 200:
            break
        assert r.status_code == 202
        time.sleep(0.2)
    assert r.status_code == 200
    assert "<table>" in r.get_data(as_text=True)


@pytest.mark.parametrize("background", [False, True])
def test_bad_urls_are_client_errors_and_store_nothing(
    spark, tmp_path, background
):
    """An undecodable state, an unknown task or a binding to a frame
    the plan does not produce is a 400 and a frame index the plan does
    not produce is a 404, in both serve modes — checked before anything
    is submitted or stored, so no ``_ERROR`` marker (or any other cache
    entry) is left behind."""
    import os

    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.serve import create_app

    registry = register_document_tasks(spark, "/root/testdata/sf0.001")
    root = tmp_path / "cache"
    client = create_app(
        spark, registry=registry, cache_root=str(root), background=background
    ).test_client()
    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    q = quote(bs.with_action(act).to_url_q(), safe="")

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
    assert os.listdir(root) == []
