"""kg_etl_spark — a PySpark-native analytics engine.

A brand-new, idiomatic-Spark implementation of the query and
data-processing capabilities of the reference pandas/Neo4j ETL
(`chaayagirimon/kg-etl`, studied read-only): relational ETL, geospatial
operators, fuzzy-text entity resolution, graph-shaped multi-hop
analytics, per-group statistical scoring — plus the large-scale
training-data-pipeline operations (dedup families, similarity search,
text quality, multimodal plumbing) that a 100 TB corpus needs.

Design rules (see SURVEY.md §7):
- DataFrame/SQL first; Catalyst/AQE does the physical planning.
- Pandas UDFs only where no native expression exists (fuzzy ratio,
  wikitext parsing, per-group union-find).
- Every operator is a composable function `(DataFrame, ...) -> DataFrame`
  so Catalyst optimizes whole pipelines jointly.
"""

__version__ = "0.1.0"

from kg_etl_spark import cutpoint  # noqa: F401  (registers df.lineage_cut)
from kg_etl_spark.session import get_spark  # noqa: F401
