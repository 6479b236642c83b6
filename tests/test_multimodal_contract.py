"""Contract tests for the multimodal operators (SURVEY §2 M8).

The registered q87 emits a fixed column contract that a real image
decoder must keep, and the byte-vs-codepoint oracles rely on the
corpus being ASCII (ADVICE r3): if the driver ever ships non-ASCII
documents, these fail loudly instead of surfacing as an opaque oracle
hash mismatch.
"""

from __future__ import annotations

from rime_wanxiang_logger_spark.operators.multimodal import q87_image_resize

RESIZE_COLS = ["doc_id", "src_w", "src_h", "out_w", "out_h", "checksum"]


def test_fake_resize_same_columns_as_real(spark, sf_dir):
    """q87 emits the resize column contract, in order, so swapping in
    a real decoder body never changes the downstream schema."""
    assert q87_image_resize(spark, sf_dir).columns == RESIZE_COLS


def test_documents_corpus_is_ascii(spark, sf_dir):
    """The q32/q51/q87 oracles mix byte-based (octet_length, byte
    chunking) and codepoint-based (ascii/substring) forms, equivalent
    only while the corpus is pure ASCII. Pin that invariant on the
    driver's testdata so a future non-ASCII corpus fails HERE with a
    clear message."""
    from pyspark.sql import functions as F

    from rime_wanxiang_logger_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_non_ascii = docs.where(
        F.length("text") != F.octet_length("text")
    ).count()
    assert n_non_ascii == 0, (
        f"{n_non_ascii} non-ASCII documents: byte-based oracle forms "
        "(q51 frame chunking, q32 n_bytes) no longer match their "
        "codepoint-based SQL twins — rework the oracles first"
    )
