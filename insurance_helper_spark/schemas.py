"""Declared schemas: per-product-type parse guards, state/checkpoint
tables, the download result relation and the parsed-row relation.

The reference declares each table twice — column order in
``PAGE_CONFIGS[..].columns`` (config.py:49-125) and field types in the
Pydantic models (models.py:22-66). Here each is ONE StructType.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Minimum cell arity per product type (F1 guards — life.py:23-24 etc.)
MIN_CELLS = {"life": 13, "life_list": 5, "nonlife": 9, "health": 8}

# Key column whose emptiness drops the row (F2 guards — life.py:26-29 etc.)
KEY_COLUMN = {
    "life": "uin",
    "life_list": "short_description",
    "nonlife": "uin",
    "health": "uin",
}

# State tables (ref: models.py:92-117, storage/state.py:49-83). The
# reference's in-memory set/list state becomes plain tables — the only
# representation that survives 100 TB and executor failure.

SESSIONS_SCHEMA = T.StructType([
    T.StructField("product_type", T.StringType(), False),
    T.StructField("last_completed_page", T.IntegerType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("total_products", T.LongType(), True),
    T.StructField("started_at", T.TimestampType(), True),
    T.StructField("completed_at", T.TimestampType(), True),
])

COMPLETED_DOWNLOADS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
])

FAILED_DOWNLOADS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("retries", T.LongType(), True),
    T.StructField("last_attempt", T.TimestampType(), True),
])

# Download result relation (ref: models.py:69-89).


DOWNLOAD_RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("success", T.BooleanType(), False),
    T.StructField("file_path", T.StringType(), True),
    T.StructField("file_size", T.LongType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("attempts", T.IntegerType(), True),
])

# Parsed-row relation produced by the HTML parse stage (S5/S6): one row
# per <tr>, cells as array, plus link/class metadata for P2/P4.

PARSED_ROW_SCHEMA = T.StructType([
    T.StructField("page", T.LongType(), True),
    T.StructField("row_index", T.IntegerType(), True),
    T.StructField("row_class", T.StringType(), True),
    T.StructField("cells", T.ArrayType(T.StringType()), True),
    T.StructField("link_url", T.StringType(), True),
    T.StructField("link_text", T.StringType(), True),
    T.StructField("parse_error", T.StringType(), True),
])
