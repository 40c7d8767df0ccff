"""HTTP explore/view service — the reference's interactive surface
(reference serve.py:110-147 ``/explore``, serve_view_df.py:75-157
``/view``, serve_view_df.py:160-173 ``/download/csv``) rebuilt over a
live SparkSession.

The whole session state is the URL query string (:class:`.browse.
BrowseState` codec), exactly like the reference: ``/explore`` replays
the encoded actions over the source *schemas only* (no data touched —
Spark schemas are free on lazy frames), lists the legal next actions as
links that append one action and re-encode, and links each live frame
to ``/view``. ``/view`` is the only route that executes, and it goes
through :meth:`.cache.ResultCache.get_or_compute`: the first visit of a
frame computes it once (concurrent visits wait for that one
computation) and stores it as parquet keyed by the canonical plan
digest; that visit and every later page / re-visit / CSV download read
the same stored parquet, so a revisit shows the same rows as the first
visit. The reference needs Celery + pickle polling for this
(serve.py:25-107); on Spark the driver/executor split plus the parquet
cache covers it synchronously. A plan that fails stores nothing and is
a 500; the next request computes it again.

A page of a stored frame runs no Spark job and builds no Spark
relation: the cache hands back the stored directory's schema from the
catalog memo, read from the stored parquet's footers, and
:func:`.view.page` reads the page with pyarrow from the row groups of
the stored parquet that hold it, with the page count from the row
counts in the parquet footers. So a cold ``/view`` runs only the jobs
of storing its frame, and a hit ``/view``, a negative page and a CSV
download run none, in the storing process or any other.
Rows are paged in data-file order (files by name, rows in file order).

Scale: a page reads at most the row groups it overlaps, so a 100 TB
result ships at most ``page_size`` rows to the renderer; the CSV route
downloads one *page*, with the full-export path deliberately left to
``sources.writers.csv_sink`` (distributed write).
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional
from urllib.parse import quote

from .browse import BrowseState
from .cache import ResultCache, plan_key
from .plans.solve import State, apply_action, perform_actions
from .plans.task import TaskRegistry
from .sources import catalog
from .view import download_name, page, to_csv, to_html, palette

_EXPLORE_TPL = """<!doctype html><html><head><title>explore</title>
<style>body{{font-family:sans-serif;margin:2em}}li{{margin:.3em 0}}
.col{{padding:1px 6px;border-radius:4px;margin:0 2px}}</style></head>
<body><h1>Explore</h1>
<h2>Frames</h2><ol start="0">{frames}</ol>
<h2>Next actions</h2><ul>{actions}</ul>
<p>{back}</p></body></html>"""

_VIEW_TPL = """<!doctype html><html><head><title>view</title>
<style>body{{font-family:sans-serif;margin:2em}}
table{{border-collapse:collapse}}td,th{{border:1px solid #999;
padding:2px 8px;font-size:13px}}</style></head>
<body><p><a href="{back}">Back</a> |
<a href="{csv}">Download as csv</a></p>
{table}
<p>Pages: {pages}</p></body></html>"""


def create_app(
    spark,
    registry: Optional[TaskRegistry] = None,
    cache_root: Optional[str] = None,
    page_size: int = 50,
    source_loader: Optional[Callable[[str], object]] = None,
):
    """Build the Flask app bound to ``spark``.

    ``source_loader`` maps an encoded file entry to a DataFrame
    (default: a parquet read through :func:`.sources.catalog.read`) —
    the hook for glob/CSV sources.
    Flask is imported lazily so the engine has no hard web dependency.
    """
    from flask import Flask, Response, abort

    app = Flask("task_on_dataframes_spark")
    cache = ResultCache(cache_root)
    load = source_loader or (lambda f: catalog.read(spark, f))

    def _bs(q: str) -> BrowseState:
        """The decoded state; 400 for an undecodable query string, a
        task the registry does not hold, or an action reading a frame
        that no source or earlier action produces."""
        try:
            bs = BrowseState.from_url_q(q, registry=registry)
        except (ValueError, IndexError, re.error) as e:
            abort(400, description=f"bad state encoding: {e}")
        unknown = [a.Task for a in bs.actions if a.Task not in bs.registry]
        if unknown:
            abort(400, description=f"unknown tasks: {unknown}")
        state = State(Vars=(frozenset(),) * len(bs.files), Tasks=())
        for i, a in enumerate(bs.actions):
            if any(not 0 <= b.frame < len(state.Vars) for b in a.Bindings):
                abort(400, description=f"action {i} reads a missing frame")
            state = apply_action(state, a)
        return bs

    def _sources(bs: BrowseState) -> List:
        return [load(f) for f in bs.files]

    def _frame(q: str, index: int):
        """``(path, schema)``: the directory the cache stored frame
        ``index`` of the plan encoded in ``q`` in, and its schema. 404
        unless the plan produces that frame — counted from the
        encoded plan alone, before anything is computed."""
        bs = _bs(q)
        if index >= len(bs.abstract_state([[] for _ in bs.files]).Vars):
            abort(404)
        key = plan_key(list(bs.actions), [*bs.files, f"frame={index}"])
        return cache._dir(key), cache.get_or_compute(
            spark, key,
            lambda: perform_actions(
                _sources(bs), bs.actions, registry=bs.registry,
                return_latest_first=False,
            )[index],
        )

    @app.route("/explore/")
    @app.route("/explore/<path:q>")
    def explore(q: str = ""):
        bs = _bs(q)
        source_cols = [list(df.columns) for df in _sources(bs)]
        state = bs.abstract_state(source_cols)
        colors = palette(len({c for v in state.Vars for c in v}))
        color_of = {
            c: colors[i % len(colors)]
            for i, c in enumerate(sorted({c for v in state.Vars for c in v}))
        }
        frames_html = "".join(
            "<li><a href=\"/view/0/{i}/{q}\">view</a> [{cols}]</li>".format(
                i=i,
                q=quote(q, safe=""),
                cols=" ".join(
                    f'<span class="col" style="background:{color_of[c]}">'
                    f"{c}</span>"
                    for c in sorted(v)
                ),
            )
            for i, v in enumerate(state.Vars)
        )
        acts_html = "".join(
            '<li><a href="/explore/{q}">{task}</a> → {rets}</li>'.format(
                q=quote(bs.with_action(a).to_url_q(), safe=""),
                task=a.Task,
                rets=", ".join(n for _, n in a.Returns) or "(frame)",
            )
            for a in bs.further_actions(source_cols)
        )
        back = ""
        if bs.actions:
            prev = BrowseState(bs.files, bs.actions[:-1], registry=bs.registry)
            back = f'<a href="/explore/{quote(prev.to_url_q(), safe="")}">Back</a>'
        return _EXPLORE_TPL.format(
            frames=frames_html, actions=acts_html, back=back
        )

    @app.route("/view/<int(signed=True):page_no>/<int:index>/<path:q>")
    def view(page_no: int, index: int, q: str):
        shown = page(*_frame(q, index), page_no, page_size)
        qq = quote(q, safe="")
        pages = " ".join(
            f'<a href="/view/{p}/{index}/{qq}">{p}</a>'
            if p != shown.number
            else f"<b>{p}</b>"
            for p in range(min(shown.pages, 20))
        )
        return _VIEW_TPL.format(
            back=f"/explore/{qq}",
            csv=f"/download/csv/{index}/{qq}",
            table=to_html(shown),
            pages=pages,
        )

    @app.route("/download/csv/<int:index>/<path:q>")
    def download_csv(index: int, q: str):
        path, schema = _frame(q, index)
        body = to_csv(page(path, schema, 0, page_size))
        return Response(
            body,
            mimetype="text/csv",
            headers={
                "Content-Disposition":
                    f'attachment; filename="{download_name(schema.names)}"'
            },
        )

    return app


def main() -> None:  # pragma: no cover — manual entry point
    from .session import get_spark

    spark = get_spark("tada-serve")
    create_app(spark).run(host="127.0.0.1", port=5057)


if __name__ == "__main__":  # pragma: no cover
    main()
