"""Result viewer: pagination, HTML render, CSV export — the engine-side
of the reference's ``serve_view_df.py`` (S8/O2/S6: reference
serve_view_df.py:75-173), minus the Flask wiring.

A page is read from a stored result's parquet, not computed by Spark:
:func:`page` takes the row count of every row group from the source
catalog's footer memo (:func:`.sources.catalog.row_groups`), reads
with pyarrow only the row groups that hold the page's rows, and
converts them with PySpark's own Arrow-to-Row conversion, so a cell is
the Python value ``collect()`` returns for it. (A map cell lists its
entries in stored order, as Spark's ``show()`` does; ``collect()``
builds the equal dict in JVM hash order.) Serving a page launches no
Spark job, negative pages included, and reads at most the row groups
the page overlaps however large the result is. Rendering is
driver-side string work on ≤ ``page_size`` rows.

Row order is data-file order: files by name (for a directory Spark
wrote, its partition order), rows in file order within each. Negative
pages count from the end (reference: serve_view_df.py:112).
"""

from __future__ import annotations

import html
from dataclasses import dataclass

from .sources import catalog

from typing import TYPE_CHECKING
if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType

PAGE_SIZE = 50


@dataclass(frozen=True)
class Page:
    """One page of a stored result: its rows as ``collect()`` returns
    them, its columns, the page number shown (a negative request
    resolved against the total) and the result's page count (at least
    1). :func:`to_html` and :func:`to_csv` take it where they take a
    frame."""

    rows: list
    columns: list
    number: int
    pages: int

    def collect(self) -> list:
        return self.rows


def page(
    path: str, schema: StructType, page_no: int = 0, page_size: int = PAGE_SIZE
) -> Page:
    """Page ``page_no`` of the parquet directory ``path`` that Spark
    wrote from a frame of ``schema`` (unpartitioned). Negative pages
    count from the end, like the reference's
    ``head(n*(p+1)).tail(n)``; a page past the end is empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    files = catalog.row_groups(path)
    if files is None:
        raise FileNotFoundError(path)
    total = sum(sum(g) for _, _, g in files)
    pages = max((total + page_size - 1) // page_size, 1)
    if page_no < 0:
        page_no = max(pages + page_no, 0)
    lo = page_no * page_size
    hi = lo + page_size
    # the Arrow form of ``schema`` is what the conversion expects: a
    # TIMESTAMP as tz-aware UTC micros (Spark's default INT96 reads as
    # tz-naive nanos), a day-time interval as a duration
    target = to_arrow_schema(schema)
    pieces, first, at = [], None, 0
    for f, _, groups in files:
        wanted = []
        for i, n in enumerate(groups):
            if at < hi and at + n > lo:
                first = at if first is None else first
                wanted.append(i)
            at += n
        if wanted:
            with pq.ParquetFile(f) as pf:
                t = pf.read_row_groups(wanted)
            pieces.append(t.select(schema.names).cast(target))
    table = (
        pa.concat_tables(pieces).slice(lo - first, page_size)
        if pieces else target.empty_table()
    )
    # binary as ``bytes``: what this Spark's classic collect returns
    rows = ArrowTableToRowsConversion.convert(table, schema)
    return Page(rows, schema.names, page_no, pages)


def to_html(page_df: Page | DataFrame, max_col_width: int = 80) -> str:
    """Render one page as an HTML table: cells escaped and truncated
    (reference: serve_view_df.py:132-141). Given a frame, it collects
    the whole frame."""
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


def to_csv(page_df: Page | DataFrame) -> str:
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


def download_name(columns: list[str], suffix: str = ".csv") -> str:
    """The reference names downloads after the longest column name
    (serve_view_df.py:165-168)."""
    return f"{max(columns, key=len) if columns else 'result'}{suffix}"
