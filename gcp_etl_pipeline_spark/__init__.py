"""gcp_etl_pipeline_spark — a PySpark-native analytics/ETL engine.

A from-scratch engine with the query and data-processing capabilities of
the reference GCP medallion ETL pipeline (``usmangcpcloude/gcp-etl-pipeline``),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, with a
small operator library for the reference's recurring semantics (surrogate
keys, insert-new-only maintenance, audit columns, masking; the GoSales star
join is ``plans.gosales.fact_from``) plus large-scale training-data
operators (dedup, similarity search, text analysis, multimodal plumbing).
Production I/O is Spark's own: ``format(...)`` picks the data source and
the Hadoop FileSystem resolves ``gs://`` (docs/DEPLOY_GCP.md).

The package roots re-export nothing: import from the defining module,
e.g. ``from gcp_etl_pipeline_spark.session import get_session``.

Layers (reference: medallion raw/curated/semantic; SURVEY.md §1.1):
    raw      — typed ingestion of external sources
    curated  — star schema (helpings / lookups / dimensions / facts)
    semantic — denormalized aggregates ("thin layer")
"""

__version__ = "0.1.0"
