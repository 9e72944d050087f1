"""Multimodal wave 2: a REAL image transform, oracle-paired.

``multimodal_resize`` upgrades the multimodal tier from decode-only
evidence to a full TRANSFORM roundtrip: decode the BMP container,
nearest-neighbor-resample the pixel grid, re-encode a valid BMP,
re-decode the re-encoded output, and emit structural evidence (dims,
size, pixel checksum). Because the payloads are synthesized
deterministically from the document text (operators/multimodal
.synthesize_bmp: pixels cycle the UTF-8 seed), DuckDB can recompute
the checksum ANALYTICALLY — byte i of the pixel stream is
ascii(text[i mod len]) — so the whole decode→resize→encode→decode
chain is value-checked end-to-end by an engine that never sees a BMP.

Reference parity: the reference repo (Airflow DAG orchestration,
dags/*.py) has no media engine; this derives from the driver's
multimodal-pipeline mandate on public PySpark patterns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.operators import multimodal as mm
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: output thumbnail dims (the vision-preprocessing 8x8 probe shape)
_RS_W = 8
_RS_H = 8


def _resize_oracle() -> str:
    n_combo = _RS_W * _RS_H * 3
    return f"""
    WITH b AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS INT) AS L,
               ascii(substr(text, 1, 1)) AS b0
        FROM documents WHERE doc_id % 2 = 0),
    d AS (
        SELECT doc_id, text, L,
               4 + (L % 5) AS w,
               4 + (b0 % 5) AS h
        FROM b),
    px AS (
        SELECT doc_id, L, w, h,
               i // {_RS_W * 3} AS r,
               (i % {_RS_W * 3}) // 3 AS c,
               i % 3 AS ch,
               text
        FROM d, UNNEST(range(0, {n_combo})) AS t(i)),
    v AS (
        SELECT doc_id, w, h,
               ascii(substr(text,
                   CAST((((r * h) // {_RS_H}) * (w * 3)
                         + ((c * w) // {_RS_W}) * 3 + ch) % L AS INT) + 1,
                   1)) AS byte_val
        FROM px)
    SELECT doc_id,
           CAST(MIN(w) AS INT) AS in_width,
           CAST(MIN(h) AS INT) AS in_height,
           CAST({_RS_W} AS INT) AS out_width,
           CAST({_RS_H} AS INT) AS out_height,
           CAST(54 + {_RS_H} * ({_RS_W} * 3 + (4 - ({_RS_W} * 3) % 4) % 4)
                AS INT) AS out_n_bytes,
           CAST(SUM(byte_val) AS BIGINT) AS px_checksum
    FROM v GROUP BY doc_id
    """


@query("multimodal_resize", oracle=_resize_oracle())
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal tier — REAL IMAGE RESIZE, oracle-paired: every image
    payload (even doc_ids carry a valid 24-bit BMP synthesized from the
    text) is container-decoded, nearest-neighbor-resampled to
    {w}x{h} (src = (out_idx·in_dim) // out_dim per axis), RE-ENCODED as
    a valid BMP, and the re-encoded output is RE-DECODED to emit the
    evidence row — so a wrong header walk, a missed 4-byte row pad, a
    flipped axis or an off-by-one in the resample all break the
    hash match. The oracle never parses a BMP: it recomputes the
    checksum analytically from the seeding rule (pixel-stream byte i =
    text[i mod len]), which cross-verifies the ENTIRE
    decode→resize→encode→decode chain against an independent
    derivation. This is the vision-preprocessing stage (thumbnail /
    patch-grid prep) of a multimodal training pipeline with the exact
    production plumbing: Arrow-batched mapInPandas, payloads never
    leaving the executors.

    100 TB: one range sort of the image rows' ids and texts, then one
    map-side synth+resize pass that keeps their order; per-image cost
    is output-pixel bounded (constant {w}x{h}x3 work), so the stage
    scales with image COUNT, not image size; swap the codec functions
    for PIL/libvips UDFs and the plan is unchanged."""
    # sorted before the Arrow passes, which keep row order: a sort
    # after them would re-run both to sample its range boundaries
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .orderBy("doc_id")
    )
    media = mm.attach_media_payload(docs)
    return mm.resize_images(media, _RS_W, _RS_H)


multimodal_resize.__doc__ = multimodal_resize.__doc__.format(
    w=_RS_W, h=_RS_H
)
