"""Multimodal-column queries over ``documents`` (binary payload plumbing,
SURVEY §7.4). The text bytes stand in for opaque media content; codec-free
metadata is DuckDB-checkable, the mapInPandas decode path is rows-only."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_sentiment_spark.plans.registry import load, register

FINGERPRINT_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       lower(sha256(text))                        AS sha256,
       'application/octet-stream'                 AS sniffed_mime
FROM documents
ORDER BY doc_id
"""


@register("multimodal_fingerprints", sql=FINGERPRINT_SQL,
          tags=("multimodal",))
def multimodal_fingerprints(spark, sf_dir):
    """Codec-free binary metadata (length, sha256, magic-byte mime sniff) —
    JVM-native over the binary column; text payloads sniff to octet-stream."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_binary_content, binary_fingerprints)

    docs = load(spark, sf_dir, "documents")
    mm = attach_binary_content(docs)
    return binary_fingerprints(mm).orderBy("doc_id")


# Exact twin of the fake-codec decode: the "decoded features" are pure
# byte arithmetic (histogram mean + Shannon entropy over the payload
# bytes, id-free fake geometry from the byte length), so DuckDB can
# replay them from hex(blob) pairs without any codec. Text payloads
# carry no container magic → container is NULL on both sides.
DECODE_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE text IS NOT NULL
), bytes AS (
  SELECT doc_id, n, ('0x' || substr(hx, 2 * i - 1, 2))::INTEGER AS v
  FROM b
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, n)) AS i) g
), hist AS (
  SELECT doc_id, n, v, count(*) AS c
  FROM bytes GROUP BY doc_id, n, v
), stats AS (
  SELECT doc_id, n,
         sum(v * c) / n AS mean_byte,
         -sum((c / CAST(n AS DOUBLE))
              * log2(c / CAST(n AS DOUBLE))) AS entropy_bits
  FROM hist GROUP BY doc_id, n
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(NULL AS VARCHAR) AS container,
       round(mean_byte, 4) AS mean_byte,
       round(entropy_bits, 4) AS entropy_bits,
       CAST(1 + n % 640 AS INTEGER) AS width,
       CAST(1 + (n * 7919) % 480 AS INTEGER) AS height
FROM stats
ORDER BY doc_id
"""


@register("multimodal_decode_features", sql=DECODE_FEATURES_SQL,
          tags=("multimodal",))
def multimodal_decode_features(spark, sf_dir):
    """Arrow-batched decode/feature-extract via mapInPandas. The decode is
    the deterministic fake codec (byte-histogram mean/entropy, length-
    derived fake geometry — `operators/multimodal.py::decode_features`),
    which makes every output column pure byte arithmetic: an exact
    DuckDB twin that replays it from hex(blob) pairs (the
    `multimodal_headers` strategy), upgrading this from a rows-only
    check. The mapInPandas plumbing (schema, batching, binary transport)
    is exactly what a real PIL/ffmpeg decode would ride."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_binary_content, decode_features)

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    mm = attach_binary_content(docs)
    return (decode_features(mm)
            .select("doc_id", "n_bytes", "container",
                    F.round("mean_byte", 4).alias("mean_byte"),
                    F.round("entropy_bits", 4).alias("entropy_bits"),
                    "width", "height")
            .orderBy("doc_id"))
