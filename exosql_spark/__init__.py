"""exosql_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of serverboards/exosql.

Architecture (Spark-first, NOT a port):

- Catalyst replaces exosql's lexer/yecc-parser/planner/executor wholesale
  (reference: ``lib/exosql/parser.ex``, ``lib/exosql/planner.ex``,
  ``lib/exosql/executor.ex``). We express every operator declaratively via
  the DataFrame/SQL API and let Catalyst/Tungsten/AQE pick physical plans.
- exosql's *extractors* (``lib/exosql/csv.ex``, ``lib/exosql/env.ex``, …)
  become Spark data sources registered from a federation *context* map —
  see :mod:`exosql_spark.context`.
- exosql's builtin function library (``lib/exosql/builtins.ex``) maps to
  native ``pyspark.sql.functions`` plus a small compat layer
  (:mod:`exosql_spark.functions`) for dialect-specific mini-languages
  (strftime patterns, duration strings, JSON-pointer paths, printf).
- Beyond-reference extensions: window functions, Structured Streaming over
  event tables (:mod:`exosql_spark.streaming`), and LLM-data-pipeline
  operators — dedup, similarity search, text analysis, multimodal columns
  (:mod:`exosql_spark.operators`).
"""

# first: makes every later Python-worker call skip re-reading unchanged
# zip archives on sys.path (see the module docstring)
from exosql_spark import _zipimport_cache  # noqa: F401
from exosql_spark.session import get_spark
from exosql_spark.io import TABLES, load_table, register_views
from exosql_spark.context import Context, Result, query, explain, format_result, to_result

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "register_views",
    "Context",
    "query",
    "explain",
    "format_result",
    "Result",
    "to_result",
]

__version__ = "0.1.0"
