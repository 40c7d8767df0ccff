"""Query registry: one module per query family. Each query is a
``(spark, sf_dir) -> DataFrame`` function marked
``@query(oracle=...)`` (:mod:`.common`), which files it in
``common.QUERIES`` and its DuckDB oracle in ``common.ORACLES``, both
under its name without the leading underscore. Importing this package
imports every family, so both are complete; ``__spark_entry__.queries()``
puts the check window (``_R12_WINDOW``) in front of the registration
order. An oracle builder shared by two families lives in the one
imported first here and the later one imports it, so no family import
reorders the registry.
"""

from . import (  # importing a family registers its queries
    core,
    dedup,
    embeddings,
    events,
    multimodal,
    quality,
    relational,
    sampling,
    streaming,
    text,
    tpch,
)
from .common import ORACLES, QUERIES
