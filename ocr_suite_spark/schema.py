"""Schemas for the interleaved text+media documents table and its outputs.

Input shape is exactly BASELINE.json input_hint:
    (doc_id:string, spans:array<struct<kind:string,text:string,
                                       media_ref:string,offset:int32>>)

Reference correspondence (/root/reference):
- a document               <-> one video file / its SQLite DB
- a media span             <-> a decoded frame (ffmpeg decoder.h:48-54)
- span offset              <-> frame_number (monotone, decoder.cpp:298-299)
- extracted word rows      <-> ocr_result.entries (ocr_result.h:20-23)
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

OUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("order", T.IntegerType(), False),
    ]
)

EXTRACTED_MERGED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(OUT_SPAN), False),
    ]
)
