"""Sources and sinks (SURVEY §2.1).

The reference's sources are a file glob, whole-file reads, CSV and
pickle loads, and literal frames (reference: basic_tasks.py:12-29,
browse.py:19-26, external.py:7-13); its sinks are CSV download, a
pickle result cache, and an HTML pager (serve_view_df.py:132-173,
serve.py:38-78). Spark-native equivalents here:

* globs and whole-file reads are *scans*, not driver loops — Spark
  distributes file listing and reading across executors;
* pickle becomes parquet (columnar, splittable, predicate-pushdown),
  and every parquet read resolves through :mod:`.catalog` (a fresh
  relation per read over a stamp-keyed schema memo);
* the result cache is a parquet directory keyed by a plan hash
  (:mod:`..cache`).
"""

from .readers import (
    glob_source,
    whole_file_text,
    csv_source,
    parquet_source,
    json_source,
    literal_source,
    schema_peek,
)
from .writers import (
    csv_sink,
    jsonl_sink,
    orc_sink,
    parquet_sink,
    partitioned_parquet_sink,
)
