"""ex_aws_firehose_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference pipeline ``doi-t/ex-aws-firehose`` (a CloudWatch-Logs →
Kinesis-Firehose → Lambda-transform → S3 delivery pipeline), extended —
per the project blueprint (SURVEY.md §2) — with a full batch-relational
surface, a Structured-Streaming surface, and large-scale
training-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis).

Design principles (see SURVEY.md §4, §7):

- DataFrame/SQL first: every operator is declared via the PySpark
  DataFrame API so Catalyst performs pushdown/pruning/join-selection and
  Tungsten executes it with whole-stage codegen.
- UDFs only where built-ins genuinely can't express the semantics: the
  gzip codec is a compiled JVM UDF (functions/GzipCodec.java), and
  Python code runs only Arrow-batched (pandas UDFs, mapInPandas,
  applyInPandas).
- Every query in :mod:`ex_aws_firehose_spark.registry` carries a DuckDB
  oracle SQL string for differential testing.
"""

from ex_aws_firehose_spark.registry import REGISTRY, query
from ex_aws_firehose_spark.session import get_spark
from ex_aws_firehose_spark.tables import TABLE_NAMES, load_table

__all__ = ["REGISTRY", "query", "get_spark", "load_table", "TABLE_NAMES"]

__version__ = "0.1.0"
