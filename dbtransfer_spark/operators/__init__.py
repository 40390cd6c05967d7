"""Extension operators beyond the reference surface (SURVEY.md §2.10):
event-time windowing, as-of joins, dedup family, similarity search, text
analysis, multimodal columns. Each module declares its queries in the
one registry (``dbtransfer_spark.registry``) that ``__spark_entry__``
reads."""
