"""Multimodal-column plumbing (north star M8).

Images/audio/video are opaque ``binary`` columns with typed metadata;
decode / feature-extraction runs as Arrow-batched pandas over
``mapInPandas``. The container has no image/audio libraries, so the
DECODE step is a deterministic fake (clearly marked) — but everything
Spark-side is real and tested: the binary column, the metadata struct,
the mapInPandas batch iteration, the output schema, and the
partition-parallel execution shape.

q32_multimodal_decode  binary payload → per-item metadata via
                       mapInPandas (oracle-checkable because the fake
                       decode derives only from byte length + md5,
                       both expressible in SQL)
q51_frame_sample       binary payload → N sampled "frames" per item
                       (1→many mapInPandas: the video frame-sampling /
                       audio windowing batch shape — each payload is
                       chunked into fixed-size frames and every
                       SAMPLE_STRIDE-th frame is emitted with its
                       checksum)
q87_image_resize       binary payload → aspect-preserving thumbnail dims
q88_feature_extract    binary payload → FEAT_DIMS fake features, long form

Each body derives only from the payload bytes, so every DuckDB oracle
replays it exactly; a real pipeline swaps in an image decoder or a
vision encoder with the same batch shape and output schema.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.readers import fanout, load_table

_OUT_SCHEMA = (
    "doc_id bigint, n_bytes bigint, checksum string, "
    "thumb_w bigint, thumb_h bigint"
)


def make_fake_decode_batch():
    """Deterministic FAKE decoder factory: real pipelines put
    PIL/ffmpeg here.

    Returns a CLOSURE (not a module-level function) on purpose:
    cloudpickle serializes closures by value, so Spark's Python workers
    need neither this package on their sys.path nor the driver's cwd —
    a module-level function would hit ModuleNotFoundError whenever the
    driver process runs outside the repo root. Every Python-UDF entry
    point in this engine follows this rule.

    The decoder consumes Arrow batches of (doc_id, payload<bytes>) and
    emits metadata; the 'thumbnail dims' are content-derived so the
    plumbing has data-dependent output to verify.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            payload = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len),
                    "checksum": payload.map(
                        lambda b: _hashlib.md5(b).hexdigest()
                    ),
                    "thumb_w": payload.map(lambda b: len(b) % 64 + 1),
                    # first CODE POINT, not first byte: the oracle's
                    # ascii(substring(text,1,1)) is code-point-based, so
                    # a non-ASCII leading char must agree too (ADVICE r3)
                    "thumb_h": payload.map(
                        lambda b: ord(b.decode("utf-8")[0]) % 32 + 1
                        if len(b)
                        else 0
                    ),
                }
            )

    return decode


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal framing: opaque bytes + typed metadata struct.

    (Synthesized from documents.text since the driver ships no real
    media; at ingest this would be the raw object bytes.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("content_len"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def q32_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → metadata through the Arrow/pandas decode path."""
    # fanout before the Python stage: one Arrow batch per core instead
    # of the whole (single-row-group) table through one worker.
    bt = fanout(binary_table(spark, sf_dir).select("doc_id", "payload"))
    return bt.mapInPandas(make_fake_decode_batch(), schema=_OUT_SCHEMA)


FRAME_BYTES = 64
SAMPLE_STRIDE = 2  # keep every 2nd frame

_FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_len bigint, frame_md5 string"


def make_frame_sampler():
    """FAKE frame extractor (a real pipeline decodes video/audio here):
    chunks the payload into FRAME_BYTES-sized frames, keeps every
    SAMPLE_STRIDE-th. Closure on purpose — see make_fake_decode_batch.
    The 1→many output shape is the part Spark cares about: one Arrow
    batch in, a variable-length batch out, schema fixed up front."""
    frame_bytes, stride = FRAME_BYTES, SAMPLE_STRIDE

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = [
                    payload[o : o + frame_bytes]
                    for o in range(0, len(payload), frame_bytes)
                ]
                for i, fr in enumerate(frames):
                    if i % stride:
                        continue
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(fr))
                    sums.append(_hashlib.md5(fr).hexdigest())
            yield _pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_len": lens,
                    "frame_md5": sums,
                }
            )

    return sample


def q51_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling batch shape: one input row → many output rows
    through the Arrow/pandas path."""
    bt = fanout(binary_table(spark, sf_dir).select("doc_id", "payload"))
    return bt.mapInPandas(make_frame_sampler(), schema=_FRAME_SCHEMA)


# The fake decode is SQL-expressible (ASCII text ⇒ md5(text) = md5(bytes);
# byte[0] = ascii code of first char).
RESIZE_BOX = 32  # thumbnail bounding box (px)
FEAT_DIMS = 8  # fake feature-vector width

_RESIZE_SCHEMA = (
    "doc_id bigint, src_w bigint, src_h bigint,"
    " out_w bigint, out_h bigint, checksum string"
)


def q87_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAKE resize: byte-derived source dims (the shared fake decode),
    aspect-preserving fit into a RESIZE_BOX square (scale capped at
    1.0, floors to ≥1 px — the exact float semantics the SQL oracle
    replays), passthrough md5 checksum. The body is a closure on
    purpose — see make_fake_decode_batch."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import math as _math

        import pandas as _pd

        for pdf in batches:
            payload = pdf["payload"]
            w = payload.map(lambda b: len(b) % 64 + 1)
            # first code point (== oracle's ascii()), not first byte
            h = payload.map(lambda b: ord(b.decode("utf-8")[0]) % 32 + 1)
            s = [
                min(1.0, RESIZE_BOX / float(wi), RESIZE_BOX / float(hi))
                for wi, hi in zip(w, h)
            ]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_w": w,
                    "src_h": h,
                    "out_w": [
                        max(1, int(_math.floor(wi * si)))
                        for wi, si in zip(w, s)
                    ],
                    "out_h": [
                        max(1, int(_math.floor(hi * si)))
                        for hi, si in zip(h, s)
                    ],
                    "checksum": payload.map(
                        lambda b: _hashlib.md5(b).hexdigest()
                    ),
                }
            )

    bt = binary_table(spark, sf_dir).select("doc_id", "payload")
    return fanout(bt.where(F.length("payload") > 0)).mapInPandas(
        resize, schema=_RESIZE_SCHEMA
    )


_FEAT_SCHEMA = "doc_id bigint, dim int, feat double"


def q88_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAKE encoder: feature f_i derives from md5(payload ‖ '|' ‖ i),
    emitted LONG FORM (doc_id, dim, feat in [0,1)) so every element is
    oracle-value-checked without array-type stringification hazards.
    Closure on purpose."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            out_doc, out_dim, out_feat = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                text = b.decode("utf-8")
                for i in range(FEAT_DIMS):
                    hx = _hashlib.md5(
                        f"{text}|{i}".encode("utf-8")
                    ).hexdigest()
                    out_doc.append(doc_id)
                    out_dim.append(i)
                    out_feat.append(
                        round(int(hx[:8], 16) / 4294967296.0, 9)
                    )
            yield _pd.DataFrame(
                {"doc_id": out_doc, "dim": out_dim, "feat": out_feat}
            )

    bt = binary_table(spark, sf_dir).select("doc_id", "payload")
    return fanout(bt).mapInPandas(extract, schema=_FEAT_SCHEMA)


QUERIES = {
    "q32_multimodal_decode": q32_multimodal_decode,
    "q51_frame_sample": q51_frame_sample,
    "q87_image_resize": q87_image_resize,
    "q88_feature_extract": q88_feature_extract,
}

# md5-hex prefix → bigint (strpos decode, the dedup._H32 idiom).
_H32_FEAT = " + ".join(
    f"(CAST(strpos('0123456789abcdef', substring(md5(text || '|' ||"
    f" CAST(i AS VARCHAR)), {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (7 - j)})"
    for j in range(8)
)

ORACLE = {
    "q87_image_resize": f"""
        WITH d AS (
          SELECT doc_id,
                 CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS src_w,
                 CAST(ascii(substring(text, 1, 1)) % 32 + 1 AS BIGINT)
                   AS src_h,
                 md5(text) AS checksum
          FROM documents WHERE length(text) > 0
        ), s AS (
          SELECT *, LEAST(1.0, {RESIZE_BOX}.0 / src_w,
                          {RESIZE_BOX}.0 / src_h) AS sc
          FROM d
        )
        SELECT doc_id, src_w, src_h,
               GREATEST(1, CAST(floor(src_w * sc) AS BIGINT)) AS out_w,
               GREATEST(1, CAST(floor(src_h * sc) AS BIGINT)) AS out_h,
               checksum
        FROM s
    """,
    "q88_feature_extract": f"""
        SELECT doc_id, CAST(i AS INT) AS dim,
               round(({_H32_FEAT}) / 4294967296.0, 9) AS feat
        FROM documents,
             LATERAL unnest(generate_series(0, {FEAT_DIMS - 1})) AS t(i)
    """,
    "q51_frame_sample": f"""
        WITH f AS (
          SELECT doc_id,
                 CAST(i - 1 AS BIGINT) AS frame_idx,
                 substring(text, (i - 1) * {FRAME_BYTES} + 1, {FRAME_BYTES})
                   AS fr
          FROM documents,
               LATERAL unnest(generate_series(
                 1, CAST(ceil(length(text) / {FRAME_BYTES}.0) AS INT)))
                 AS t(i)
        )
        SELECT doc_id, frame_idx,
               CAST(length(fr) AS BIGINT) AS frame_len,
               md5(fr) AS frame_md5
        FROM f
        WHERE frame_idx % {SAMPLE_STRIDE} = 0
    """,
    "q32_multimodal_decode": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS checksum,
               CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS thumb_w,
               CAST(CASE WHEN length(text) > 0
                         THEN ascii(substring(text, 1, 1)) % 32 + 1
                         ELSE 0 END AS BIGINT) AS thumb_h
        FROM documents
    """,
}
