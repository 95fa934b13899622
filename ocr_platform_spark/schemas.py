"""Spark StructTypes for every table and UDF boundary (SURVEY.md §7.1 step 1).

The reference declares its shapes twice — Pydantic
(``libs/ocr_core/ocr_core/domain/models.py``) and SQLAlchemy
(``apps/worker/app/db/models.py``) plus free-form JSON columns; here each
boundary is one explicit Spark schema, enforced by the engine on every
``mapInPandas`` return (the Pydantic-validation analog, SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input/output span struct — BASELINE.json input_hint
SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# documents(doc_id, spans) — the Iceberg-style primary table (FIXTURES.md §1)
DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN)),
    ]
)

# media payload side table (FIXTURES.md §2; MinIO-object analog)
MEDIA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("content_type", StringType()),
        StructField("filename", StringType()),
        StructField("data", BinaryType()),
        StructField("page_count", IntegerType()),
    ]
)

# heavy-stage output: one row per recognized block, boxes in original page
# coords (detect_result corner semantics, detect.py:119 / FIXTURES.md §3)
BLOCK = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("media_ref", StringType(), False),
        StructField("page_index", IntegerType(), False),
        StructField("block_index", IntegerType(), False),  # detector emission order
        StructField("x1", IntegerType(), False),
        StructField("y1", IntegerType(), False),
        StructField("x2", IntegerType(), False),
        StructField("y2", IntegerType(), False),
        StructField("text", StringType()),
        StructField("conf", DoubleType()),
        StructField("page_width", IntegerType(), False),
        StructField("page_height", IntegerType(), False),
    ]
)

# checkpoint/lineage table (FIXTURES.md §4; north_rule resumability)
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("doc_count", LongType(), False),
        StructField("span_checksum", StringType(), False),
        StructField("wall_time_s", DoubleType(), False),
        StructField("completed_at", TimestampType(), False),
    ]
)
