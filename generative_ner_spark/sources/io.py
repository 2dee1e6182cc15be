"""Document table IO (S1).

Reference S1: load_dataset("json", data_files) at src/cli/run.py:40-43 —
here a schema'd JSON scan (schema declared, never inferred: at 10^12 docs
schema inference is a full extra pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from generative_ner_spark import schema


def load_documents_json(spark: SparkSession, path: str) -> DataFrame:
    """Interleaved documents from JSONL with the declared schema."""
    return spark.read.schema(schema.DOCUMENT_SCHEMA).json(path)
