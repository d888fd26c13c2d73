"""Query registry package.

Importing this package populates the registry with every declared query
(spark callable + optional DuckDB oracle SQL).  The driver contract
(``__spark_entry__.py``) reads :data:`REGISTRY`.
"""

from compss_python_spark.plans.registry import REGISTRY, QuerySpec, query, table

# Populate the registry; REGISTRY keeps declaration order.
from compss_python_spark.plans import queries_etl  # noqa: F401
from compss_python_spark.plans import queries_agg  # noqa: F401
from compss_python_spark.plans import queries_stats  # noqa: F401
from compss_python_spark.plans import queries_llm  # noqa: F401
from compss_python_spark.plans import queries_ml  # noqa: F401
from compss_python_spark.plans import queries_geo  # noqa: F401
from compss_python_spark.plans import queries_feature  # noqa: F401
from compss_python_spark.plans import queries_io  # noqa: F401
from compss_python_spark.plans import queries_streaming  # noqa: F401

__all__ = ["REGISTRY", "QuerySpec", "query", "table"]
