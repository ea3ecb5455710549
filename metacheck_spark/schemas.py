"""Explicit schemas — the engine is schema-first (contrast with the
reference's fully dynamic per-document dict access, see
/root/reference .../detect_pitfalls_main.py:296-297 which json.loads whole
documents and probes keys defensively).

Primary input table per BASELINE.json input_hint:
images(image_id string, bytes binary, w int, h int, fmt string,
       caption string, phash bigint)
"""

from __future__ import annotations

from pyspark.sql import types as T

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# Frozen URL-status dimension — replaces the reference's live HTTP GETs
# (p013.py:25-55, p025.py:17-48) for determinism; joined broadcast.
URL_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status_code", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)
