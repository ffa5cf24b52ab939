"""dataengineeringpipeline_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark re-expression of the query / data-processing
capabilities of the reference medallion pipeline (see SURVEY.md):

- layered Parquet data lake (bronze/silver/gold) with partitioned writes
- cleaning / standardization transforms (casts, normalization, bucketing,
  struct building)
- a declarative, config-driven data-quality rule engine (single-pass)
- gold-layer analytics aggregations (sales summaries, customer analytics,
  RFM, segmentation, pivots, window ranks, percent-of-total)
- ML feature engineering with deterministic seeded splits
- watermark-based incremental ingestion + structured-streaming wrapper
- large-scale training-data operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), ANN similarity search, text analysis,
  multimodal column plumbing

Everything is built on the public PySpark DataFrame / SQL API; execution
planning is delegated to Catalyst + AQE. No AWS or proprietary dependencies.
"""

from dataengineeringpipeline_spark.cache import release_caches
from dataengineeringpipeline_spark.session import get_spark
from dataengineeringpipeline_spark.datalake import Lake, load_tables, TESTDATA_TABLES

__all__ = ["get_spark", "Lake", "load_tables", "TESTDATA_TABLES", "release_caches"]

__version__ = "0.1.0"
