"""litebase_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of litebase/litebase (reference surveyed in
SURVEY.md), re-expressed Spark-first.

The reference delegates all relational processing to an embedded SQLite
3.49.1 (reference: pkg/sqlite3/sqlite3.h:149-151); we delegate to Spark
SQL / Catalyst and add the net-new operator families (streaming, dedup,
similarity search, text analysis) it lacks.

Layout:
  session    — tuned SparkSession builder (AQE, Arrow, UTC)
  engine     — Engine / QueryResult / query metrics (SURVEY §2.A A2/A3/A22)
  catalog    — registry of declared queries + DuckDB oracle SQL (t2 gate)
  functions  — SQLite -> Spark SQL dialect layer (SURVEY §2.B scalar functions)
  operators  — relational + dedup + similarity + text + multimodal
  plans      — fixpoint driver + recursive CTE (SQLite WITH RECURSIVE analog)
  streaming  — Structured Streaming operators over the events table
  sources    — parquet table registry / readers
"""

from litebase_spark.engine import Engine, QueryResult
from litebase_spark.session import get_spark

__all__ = ["Engine", "QueryResult", "get_spark"]
__version__ = "0.1.0"
