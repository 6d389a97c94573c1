from batch_import_spark.functions.text import (  # noqa: F401
    doc_fingerprint,
    language_id,
    token_count,
)
