"""Reusable column-expression library (no UDFs — all JVM-side)."""

from ua2sql_spark.functions.arrays import dot, sq_norm  # noqa: F401
from ua2sql_spark.functions.text import word_set  # noqa: F401
