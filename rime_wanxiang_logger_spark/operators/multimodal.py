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

``image_resize`` / ``feature_extract`` are the production operators:
capability-dispatched (``decoder/encoder="auto"`` → PIL when
importable, the deterministic fake otherwise) with one shared batch
shape, schema and checksum contract per operator, pinned by
tests/test_multimodal_contract.py (PIL halves skip where it is
absent). The REGISTERED q87/q88 pin the fake body because the
testdata payloads are UTF-8 text and their DuckDB oracles replay the
fake derivations — the dispatch is the seam, not the registered row.
"""

from __future__ import annotations

import importlib.util
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


def has_pil() -> bool:
    """Capability gate for the real decode bodies."""
    return importlib.util.find_spec("PIL") is not None


_RESIZE_SCHEMA = (
    "doc_id bigint, src_w bigint, src_h bigint,"
    " out_w bigint, out_h bigint, checksum string"
)


def make_pil_resize(box: int | None = None):
    """REAL resize body for the q87 seam (capability-gated, r3 VERDICT
    "Next round" #5): PIL decodes the payload as image bytes,
    ``Image.thumbnail`` fits it into the box. Identical batch shape,
    output schema (_RESIZE_SCHEMA) and checksum semantics as the fake
    closure in q87_image_resize — the contract test
    (tests/test_multimodal_contract.py) pins both bodies to the shared
    contract and skips where PIL is absent (this container). The out
    dims follow PIL's own aspect rounding (round-to-nearest per axis),
    not the fake's floor — dims parity is with the REAL decoder's
    semantics, which is the point of the seam.

    Closure, like every Python-UDF entry point here (pickled by
    value). The PIL import lives INSIDE the closure so shipping it to
    executors only requires PIL there, not at plan-build time.
    """

    if box is None:
        box = RESIZE_BOX  # defined below with the q87 fake

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io

        import pandas as _pd
        from PIL import Image as _Image

        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "src_w", "src_h", "out_w", "out_h", "checksum",
                )
            }
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                img = _Image.open(_io.BytesIO(b))
                w, h = img.size
                img.thumbnail((box, box))
                ow, oh = img.size
                rows["doc_id"].append(doc_id)
                rows["src_w"].append(w)
                rows["src_h"].append(h)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
                rows["checksum"].append(_hashlib.md5(b).hexdigest())
            yield _pd.DataFrame(rows)

    return resize


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


def make_fake_resize(box: int | None = None):
    """FAKE resize body: byte-derived source dims (the shared fake
    decode), aspect-preserving fit into a ``box`` square (scale capped
    at 1.0, floors to ≥1 px — the exact float semantics the SQL oracle
    replays), passthrough md5 checksum. Closure on purpose — see
    make_fake_decode_batch."""
    if box is None:
        box = RESIZE_BOX

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
                min(1.0, box / float(wi), box / float(hi))
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

    return resize


def image_resize(
    bt: DataFrame, box: int | None = None, decoder: str = "auto"
) -> DataFrame:
    """OPERATOR-level resize over a (doc_id, payload<binary>) table —
    the capability-dispatched seam (r4 VERDICT "next round" #6):

    - ``decoder="pil"``  — real decode + ``Image.thumbnail`` (PIL must
      be importable on the executors; payloads must be image bytes)
    - ``decoder="fake"`` — the deterministic byte-derived body (runs
      anywhere, SQL-replayable)
    - ``decoder="auto"`` — PIL when importable, fake otherwise

    Both bodies share the batch shape, output schema (_RESIZE_SCHEMA)
    and checksum semantics (contract-tested in
    tests/test_multimodal_contract.py), so the dispatch never changes
    the downstream plan or schema — only the decode bytes→dims step.
    """
    if decoder == "auto":
        decoder = "pil" if has_pil() else "fake"
    if decoder == "pil":
        body = make_pil_resize(box)
    elif decoder == "fake":
        body = make_fake_resize(box)
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown decoder {decoder!r}")
    return fanout(
        bt.select("doc_id", "payload").where(F.length("payload") > 0)
    ).mapInPandas(body, schema=_RESIZE_SCHEMA)


def q87_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing through the ``image_resize`` operator, pinned to
    ``decoder="fake"``: the registered corpus payloads are UTF-8 text
    (no real media ships with the testdata) and the DuckDB oracle
    replays the fake's byte-derived dims, so the registered row must
    stay decoder-stable even on hosts where PIL exists. Production
    callers on real image bytes use ``image_resize(bt)`` (auto) and get
    PIL wherever it is importable — same schema, same checksum
    passthrough, identical plan shape."""
    return image_resize(
        binary_table(spark, sf_dir), box=RESIZE_BOX, decoder="fake"
    )


_FEAT_SCHEMA = "doc_id bigint, dim int, feat double"


def make_fake_features(dims: int | None = None):
    """FAKE encoder body: feature f_i derives from
    md5(payload ‖ '|' ‖ i), emitted LONG FORM (doc_id, dim, feat in
    [0,1)) so every element is oracle-value-checked without array-type
    stringification hazards. Closure on purpose."""
    if dims is None:
        dims = FEAT_DIMS

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            out_doc, out_dim, out_feat = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                text = b.decode("utf-8")
                for i in range(dims):
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

    return extract


def make_pil_features(dims: int | None = None):
    """REAL encoder body for the q88 seam: PIL decodes the payload,
    features are the normalized ``dims``-bucket grayscale-intensity
    histogram — a deterministic, library-only stand-in for a vision
    encoder with the same LONG-FORM contract as the fake (dims rows
    per doc, feat ∈ [0,1], contract-tested where PIL exists). Closure;
    PIL imports inside it so only executors need the library."""
    if dims is None:
        dims = FEAT_DIMS

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import pandas as _pd
        from PIL import Image as _Image

        for pdf in batches:
            out_doc, out_dim, out_feat = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                px = list(_Image.open(_io.BytesIO(b)).convert("L").getdata())
                n = max(1, len(px))
                counts = [0] * dims
                for v in px:
                    counts[v * dims // 256] += 1
                for i in range(dims):
                    out_doc.append(doc_id)
                    out_dim.append(i)
                    out_feat.append(round(counts[i] / n, 9))
            yield _pd.DataFrame(
                {"doc_id": out_doc, "dim": out_dim, "feat": out_feat}
            )

    return extract


def feature_extract(
    bt: DataFrame, dims: int | None = None, encoder: str = "auto"
) -> DataFrame:
    """OPERATOR-level feature extraction over a (doc_id, payload)
    table — same capability dispatch as ``image_resize``: ``"pil"``
    runs the histogram encoder (real decode), ``"fake"`` the
    md5-derived body, ``"auto"`` picks PIL when importable. Both share
    _FEAT_SCHEMA and the dims-rows-per-doc shape."""
    if encoder == "auto":
        encoder = "pil" if has_pil() else "fake"
    if encoder == "pil":
        body = make_pil_features(dims)
    elif encoder == "fake":
        body = make_fake_features(dims)
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown encoder {encoder!r}")
    return fanout(bt.select("doc_id", "payload")).mapInPandas(
        body, schema=_FEAT_SCHEMA
    )


def q88_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing through the ``feature_extract``
    operator, pinned to ``encoder="fake"`` for the same reason as q87:
    the corpus payloads are text and the oracle replays the md5
    derivation. Production callers on real media use
    ``feature_extract(bt)`` (auto)."""
    return feature_extract(
        binary_table(spark, sf_dir), dims=FEAT_DIMS, encoder="fake"
    )


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
