"""Result viewer: pagination, HTML render, CSV export — the engine-side
of the reference's ``serve_view_df.py`` (S8/O2/S6: reference
serve_view_df.py:75-173), minus the Flask wiring.

The scale rule for a viewer over a 100 TB result: the page window is
computed *in* Spark (offset/limit compile to GlobalLimit operators, so
executors return at most one page of rows) and only that page is ever
collected; rendering is driver-side string work on ≤ ``page_size``
rows. Negative pages count from the end (reference:
serve_view_df.py:112); that form alone runs a ``count()``.

The page total is not this module's business: ``serve.py`` takes it
from the stored result's parquet footers
(:meth:`.cache.ResultCache.rows`), so serving a page of a stored
result is one Spark job — the collect here.
"""

from __future__ import annotations

import html
from typing import Optional

from typing import TYPE_CHECKING
if TYPE_CHECKING:
    from pyspark.sql import DataFrame

PAGE_SIZE = 50


def page(df: DataFrame, page_no: int = 0, page_size: int = PAGE_SIZE) -> DataFrame:
    """Page ``page_no`` of ``df`` (still lazy). Negative pages count
    from the end, like the reference's ``head(n*(p+1)).tail(n)``."""
    if page_no < 0:
        total = df.count()
        n_pages = max((total + page_size - 1) // page_size, 1)
        page_no = max(n_pages + page_no, 0)
    return df.offset(page_no * page_size).limit(page_size)


def to_html(page_df: DataFrame, max_col_width: int = 80) -> str:
    """Render one page as an HTML table: cells escaped and truncated
    (reference: serve_view_df.py:132-141). Call on a *paged* frame —
    this collects."""
    rows = page_df.collect()
    cols = page_df.columns

    def cell(v) -> str:
        s = "" if v is None else str(v)
        if len(s) > max_col_width:
            s = s[: max_col_width - 1] + "…"
        return html.escape(s)

    head = "".join(f"<th>{html.escape(c)}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{cell(r[c])}</td>" for c in cols) + "</tr>"
        for r in rows
    )
    return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"


def to_csv(page_df: DataFrame) -> str:
    """One page as a CSV string (the reference streams this as a
    download named after the longest column, serve_view_df.py:160-173).
    For full-result exports use ``sources.writers.csv_sink`` — a
    distributed write, not a driver collect."""
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf)
    cols = page_df.columns
    w.writerow(cols)
    for r in page_df.collect():
        w.writerow([r[c] for c in cols])
    return buf.getvalue()


def palette(n: int) -> list:
    """n visually-spread hex colors for UI row/series coloring — the
    reference's extras_ui.py palettable helper, dependency-free (evenly
    spaced hues at fixed saturation/lightness)."""
    import colorsys

    out = []
    for i in range(max(n, 1)):
        r, g, b = colorsys.hls_to_rgb((i / max(n, 1)) % 1.0, 0.6, 0.55)
        out.append(f"#{int(r*255):02x}{int(g*255):02x}{int(b*255):02x}")
    return out[:n]


def download_name(df: DataFrame, suffix: str = ".csv") -> str:
    """The reference names downloads after the longest column name
    (serve_view_df.py:165-168)."""
    longest: Optional[str] = max(df.columns, key=len) if df.columns else "result"
    return f"{longest}{suffix}"
