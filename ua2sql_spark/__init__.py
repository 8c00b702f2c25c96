"""ua2sql_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
``shinyshoe/ua2sql`` (a single-threaded Python ETL job landing Unity
Analytics event feeds into PostgreSQL) as an idiomatic Spark engine:

* **Ingestion parity** (``ua2sql_spark.sources``): Unity-format JSON-lines
  readers with the reference's fixed schemas, NULL/projection semantics and
  epoch-ms timestamp handling (reference ``ua2sql.py:209-246``), a JDBC
  append sink with the reference's batch-1000 behavior (``ua2sql.py:238``),
  and a checkpoint ("JobId") protocol (``ua2sql.py:165-176, 278``).
* **Streaming** (``ua2sql_spark.streaming``): the same pipeline as
  Structured Streaming — file source over a landing dir, foreachBatch JDBC
  sink, checkpointLocation replacing the JobId table.
* **Analytics surface** (``ua2sql_spark.queries``): the full relational
  query surface the reference exists to enable (joins, aggregations,
  windows, sorts, set ops, JSON payload querying) plus LLM-data-pipeline
  operators (dedup exact/MinHash/SimHash, similarity search, text
  analysis, multimodal columns) — every operator designed for 100 TB
  scale: declarative DataFrame plans, broadcast hints for dims, no
  driver-side loops, no row-at-a-time Python in the hot path.

Everything here derives from public knowledge only: the Apache Spark API
and the reference repo at /root/reference.
"""

__version__ = "0.1.0"

from ua2sql_spark.session import get_spark  # noqa: F401
from ua2sql_spark.catalog import load_tables, TABLES  # noqa: F401
