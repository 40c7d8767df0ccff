"""Query registry: one module per query family. Each query is a
``(spark, sf_dir) -> DataFrame`` function marked ``@query``
(:mod:`.common`), which files it in ``common.QUERIES`` under its name
without the leading underscore. Importing this package imports every
family, so ``QUERIES`` is complete; ``__spark_entry__.queries()`` puts
the check window (``_R12_WINDOW``) in front of it.
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
from .common import QUERIES
