"""The operator queries, one module per family.

A query is one declaration, ``query(name, build, oracle_sql)``
(``common.py``), placed directly after its DuckDB oracle text.
Importing this package imports every family, which fills
``REGISTRY``; ``__spark_entry__.queries()`` and ``oracle_sql()`` are
both read from it.
"""

from batch_import_spark.queries import (  # noqa: F401  (importing declares)
    conversations,
    curation,
    dedup,
    engine,
    graph,
    kg,
    media,
    reference,
    text,
    tokenizers,
    vectors,
)
from batch_import_spark.queries.common import REGISTRY  # noqa: F401
