"""Deduplication operators for LLM-data pipelines (north star M8).

q21_dedup_exact     exact dedup: hash-groupBy on normalized-content
                    fingerprint, min-id survivor election
q22_minhash_lsh     near-dup candidate generation: shingle → MinHash
                    signature → LSH band join
q23_simhash         16-bit SimHash per doc + band keys for hamming
                    bucketing
q24_ngram_jaccard   exact n-gram Jaccard verification of the LSH
                    candidates (the verify stage of the dedup pipeline)
q52_winnowing       winnowing fingerprints (Schleimer/Wilkerson/Aiken,
                    SIGMOD'03): char k-gram Rabin-Karp hashes, one
                    selected per sliding window by min — the
                    position-robust chunk keys for partial-overlap
                    detection (copied paragraphs inside otherwise
                    different docs, which whole-doc MinHash dilutes)

Design for 100 TB:
- q21 is one hash-aggregate on the fingerprint — map-side combine
  reduces each partition to its distinct fingerprints before shuffle.
- q22 never forms the quadratic pair space: docs are joined only
  within LSH band buckets, so the shuffle is O(docs × bands) and the
  join output is the candidate set itself (tunable precision/recall by
  bands × rows-per-band). This is the canonical MinHash-LSH layout.
- q24 computes exact Jaccard ONLY for band-collision candidates —
  verify-after-block, never all-pairs.

Determinism / oracle parity: the only cryptographic hash is ONE md5
per shingle (portable: identical hex in Spark and DuckDB); its first
8 hex chars decode to a 32-bit base integer, and the ``N_HASHES``
MinHash functions are affine universal hashes ``(Aᵢ·h + Bᵢ) mod P``
(P = 2³¹−1) over that base — exact BIGINT arithmetic that both
engines replay bit-identically, and ~8× cheaper than the naive
one-md5-per-seed-per-shingle family (hashing dominated the stage:
measured 0.61 s → 0.33 s for the signature pass at sf0.1).
xxhash64 would be cheaper still but DuckDB cannot replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.readers import fanout, load_table
from ._stage_cache import consume, provide

N_HASHES = 8
N_BANDS = 4  # rows per band = N_HASHES // N_BANDS = 2
SHINGLE_WORDS = 3

# 1-indexed shingle list over the word array; empty when < SHINGLE_WORDS
# words (guard: Spark's sequence(1, 0) would count DOWN, not empty).
_SHINGLES_SPARK = (
    "CASE WHEN size(split(text, ' ')) < {k} THEN array() "
    "ELSE transform(sequence(1, size(split(text, ' ')) - {k1}), "
    "i -> concat_ws(' ', slice(split(text, ' '), i, {k}))) END"
).format(k=SHINGLE_WORDS, k1=SHINGLE_WORDS - 1)

_SHINGLES_DUCK = (
    "CASE WHEN len(string_split(text, ' ')) < {k} THEN [] "
    "ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - {k1}), "
    "i -> array_to_string((string_split(text, ' '))[i:i+{k1}], ' ')) END"
).format(k=SHINGLE_WORDS, k1=SHINGLE_WORDS - 1)

# Affine universal-hash family over a 32-bit base hash (one md5 per
# shingle, first 8 hex chars), h_i = (A_i·(h mod P) + B_i) mod P with
# P = 2³¹−1 (Mersenne prime). A_i, B_i < P so the product genuinely
# wraps (a modulus larger than max(A·h+B) would leave every h_i
# monotone in h — all mins would pick the SAME shingle and the family
# degenerates to single-hash MinHash). A·h ≤ (P−1)² < 2⁶² — exact in
# BIGINT in both engines.
_P = (1 << 31) - 1
_A = [(999999937 + 123456791 * s) % _P for s in range(N_HASHES)]
_B = [(12345 + 67890 * s) % _P for s in range(N_HASHES)]
assert all(a != 0 for a in _A)

# 8-hex-char → bigint decode, engine-portable (no conv() in DuckDB).
_H32 = " + ".join(
    "(CAST({fn}('0123456789abcdef', substring(md5(sh), {i}, 1)) - 1"
    " AS BIGINT) * {m})".format(fn="{fn}", i=i + 1, m=16 ** (7 - i))
    for i in range(8)
)
_H32_SPARK = _H32.format(fn="instr")
_H32_DUCK = _H32.format(fn="strpos")


def q21_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups on the normalized fingerprint; the kept
    representative is the smallest doc_id (deterministic survivor)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingled(docs: DataFrame) -> DataFrame:
    # fanout: ~100 shingles/doc × N_HASHES md5 calls each — hash cost
    # dominates, parallelize before the explode (readers.fanout doc).
    return fanout(docs).select(
        "doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("sh")
    )


def _signatures(docs: DataFrame) -> DataFrame:
    """doc_id → MinHash signature columns h0..h{N_HASHES-1}.

    Pure PROJECTION — no explode, no shuffle: md5 folds once per
    shingle into a per-row ``hs`` array, then each of the N_HASHES
    affine transforms takes one ``array_min`` over it. The previous
    explode→groupBy formulation shuffled corpus × ~shingles-per-doc
    rows just to compute per-doc mins; this computes bit-identical
    values (same md5, same exact BIGINT affine arithmetic — the DuckDB
    oracle is untouched) with ZERO exchanges, which at 100 TB deletes
    the dedup pipeline's largest shuffle (plan-tested). Docs shorter
    than SHINGLE_WORDS words have no shingles and are excluded — the
    same rows the groupBy form never saw.
    """
    hs_expr = f"transform({_SHINGLES_SPARK}, sh -> ({_H32_SPARK}) % {_P})"
    return (
        fanout(docs)
        # cheap word-count guard — filtering on size(hs) would evaluate
        # the whole md5 array a second time in the Filter operator
        .where(F.size(F.split("text", " ")) >= SHINGLE_WORDS)
        .select("doc_id", F.expr(hs_expr).alias("hs"))
        .select(
            "doc_id",
            *[
                F.expr(
                    f"array_min(transform(hs,"
                    f" h -> ({_A[s]} * h + {_B[s]}) % {_P}))"
                ).alias(f"h{s}")
                for s in range(N_HASHES)
            ],
        )
    )


def _bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) — one row per LSH band."""
    r = N_HASHES // N_BANDS
    entries = [
        F.struct(
            F.lit(j).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{j * r + t}") for t in range(r)])
            ).alias("bsig"),
        )
        for j in range(N_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.bsig")


def _candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct band-collision pairs (doc_a < doc_b) from signatures."""
    bands = _bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _cand_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # eager=False defers the signature stage itself: its blocks are
    # written by the first action over the pair plan, not by every raw
    # q22_pairs consumer's plan construction. With AQE on, the call
    # still runs the stages upstream of the cut: fanout's round-robin
    # shuffle, 1 job, when the documents scan has fewer splits than the
    # shuffle width (the single-row-group test files).
    return _candidate_pairs(_signatures(docs).localCheckpoint(eager=False))


def cand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer handle on the shared ``q22_pairs`` stage (r14): the
    MinHash band-collision candidate pairs. q22 is the provider (its
    own bench row stays the honest detect cost and refreshes the pin);
    the verify/graph stages (q24/q53/q79/q93/q96/q97/q103) read the
    pin inside a sharing() scope instead of each re-running
    shingle→md5→minhash→band-join. A raw call builds the full
    documented plan. CORPUS-proportional (one row per candidate pair,
    bounded by the banding governor) — consumers joining it directly
    must pin the join strategy (_stage_cache STATS HAZARD)."""
    return consume(
        spark, "q22_pairs", sf_dir, lambda: _cand_pairs_build(spark, sf_dir)
    )


def _shingle_sets_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _shingled(docs)
        .withColumn("h", F.expr(_H32_SPARK).cast("bigint"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hs"))
    )


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer handle on the shared ``q24_shingle_sets`` stage (r14):
    the hashed-shingle SET per doc as one array row (collect_set —
    set semantics identical to the former per-row ``distinct()``, the
    array order is irrelevant to every consumer: intersections and
    cardinalities only). One aggregation pass replaces the three
    separate shingle→md5 subtrees q24/q97/q103 each planned (sha, shb
    and sizes branches), and the per-pair set intersection becomes a
    JVM ``array_intersect`` over two array cells instead of a
    shingle-row join — same values, no per-shingle shuffle. Array size
    is bounded by doc length (the same memory class as the doc's own
    ``text`` cell)."""
    return consume(
        spark,
        "q24_shingle_sets",
        sf_dir,
        lambda: _shingle_sets_build(spark, sf_dir),
    )


def q22_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs with signature-estimated Jaccard.

    The signature table is materialized once (localCheckpoint) and read
    by all three consumers (band join left/right + both signature
    re-joins): without it Spark recomputes the whole shingle→md5→minhash
    stage per branch (measured 1.2 s → 0.2 s at sf0.1). At cluster
    scale the signature table IS the artifact a dedup pipeline persists
    (docs × N_HASHES ints ≪ corpus size) — swap localCheckpoint for a
    parquet stage table."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _signatures(docs).localCheckpoint()
    # r14: q22 PROVIDES the shared q22_pairs stage (always rebuilds —
    # its own timing stays the honest detect cost — and refreshes the
    # pin the verify/graph consumers read; _stage_cache doc).
    pairs = provide(
        spark, "q22_pairs", sf_dir, lambda: _candidate_pairs(sig)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(N_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(N_HASHES)
    )
    # Join strategy pinned (STATS HAZARD): the pinned pair scan's
    # originStats lie, and both sides are corpus-proportional — never
    # a stats-driven broadcast. Shuffle-hash with the narrow
    # one-row-per-doc signature side as build (the q117 posture).
    return (
        pairs.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a", "doc_b", (agree / F.lit(N_HASHES)).alias("est_jaccard")
        )
    )


#: q86's deterministic "daily batch": docs with doc_id ≡ 9 (mod 10)
#: are the newly-arrived 10%; the rest are the standing corpus.
INCR_MOD = 10
INCR_REM = 9


def q86_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: admit-or-reject each NEW doc against
    the standing corpus WITHOUT recomputing old×old — the shape a
    100 TB dedup pipeline actually runs daily (the full-corpus q22
    pass happens once; afterwards every arriving batch band-joins its
    signatures against the persisted signature/band table).

    Per new doc: band-collision partner count anywhere in the corpus
    (old or new, itself excluded), the smallest partner id, and the
    admit verdict (no collisions → unique). Work is |new bands| ×
    bucket occupancy — linear in the batch, independent of old×old;
    the new side's modulo filter is pushed below the band join
    (plan-tested), so the standing side is only ever probed, never
    self-paired.
    """
    docs = load_table(spark, sf_dir, "documents")
    # At cluster scale `sig` is the persisted stage table (q22 doc);
    # pin it so the band build and both consumers share one compute.
    sig = _signatures(docs).localCheckpoint()
    bands = _bands(sig)
    new_pred = (F.col("doc_id") % INCR_MOD) == F.lit(INCR_REM)
    cand = (
        bands.where(new_pred)
        .alias("n")
        .join(bands.alias("c"), ["band", "bsig"])
        .where(F.col("n.doc_id") != F.col("c.doc_id"))
        .select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("partner"),
        )
        .distinct()
    )
    hits = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.min("partner").alias("first_partner"),
    )
    return (
        docs.where(new_pred)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_cand"),
            "first_partner",
            (F.coalesce("n_cand", F.lit(0)) == 0).alias("is_unique"),
        )
    )


def q23_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document + two 8-bit band keys (hamming-
    distance bucketing: near-identical docs collide on ≥1 half).

    Shuffle-free like `_signatures`: a document's bit-sums are sums
    over ITS OWN tokens, so each is one ``aggregate`` fold over the
    per-row token-hash array — md5 once per token, 16 integer folds,
    zero exchanges (integer addition is exact and commutative, so the
    fold order change vs the old explode→groupBy is value-identical;
    the DuckDB oracle is untouched)."""
    docs = load_table(spark, sf_dir, "documents")
    # 16-bit token hash from the first 4 hex chars of md5, via an
    # engine-portable hex decode (no conv() in DuckDB).
    hx = "instr('0123456789abcdef', substring(md5(t), {i}, 1)) - 1"
    h16 = " + ".join(
        f"(({hx.format(i=i + 1)}) * {16 ** (3 - i)})" for i in range(4)
    )
    hs = f"transform(split(text, ' '), t -> CAST({h16} AS INT))"
    bitsums = fanout(docs).select(
        "doc_id",
        F.expr(hs).alias("hs"),
    ).select(
        "doc_id",
        *[
            F.expr(
                f"aggregate(hs, 0, (acc, h) -> acc +"
                f" (CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END))"
            ).alias(f"s{i}")
            for i in range(16)
        ],
    )
    simhash = sum(
        F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(16)
    ).cast("int")
    return bitsums.select("doc_id", simhash.alias("simhash")).select(
        "doc_id",
        "simhash",
        (F.col("simhash") % 256).alias("band_lo"),
        F.expr("shiftright(simhash, 8) & 255").cast("int").alias("band_hi"),
    )


def q24_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard for the LSH candidate pairs (the
    verify stage over q22's blocked candidates).

    The intersection is computed on the 32-bit shingle hash, not the
    shingle string: both engines derive h from the same md5, so the
    hashed set intersection is deterministic and engine-identical (any
    32-bit collision collides identically on both sides).

    r14 shape: candidates from the shared ``q22_pairs`` pin, shingle
    sets from the shared ``q24_shingle_sets`` pin (one array row per
    doc), and the per-pair intersection is ``size(array_intersect)``
    in the JVM. The former shape planned the shingle→md5 subtree THREE
    times (sha, shb, sizes) and shuffled every surviving shingle ROW
    through a 3-way join; this one computes shingles once, shuffles
    one array row per doc, and does no per-shingle join at all — same
    values (set intersection over the identical hashed sets), measured
    2.32 → 0.78 s at sf0.1 with identical output. A pair always finds
    both set rows: membership in ``pairs`` requires a signature, which
    requires ≥1 shingle."""
    pairs = cand_pairs(spark, sf_dir)
    sets = shingle_sets(spark, sf_dir)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    n_i = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    # Both joins take a corpus pin scan directly — strategy pinned
    # (STATS HAZARD): shuffle-hash, never a stats-driven broadcast.
    return (
        pairs.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_i.alias("n_inter"),
            (n_i / (F.size("hs_a") + F.size("hs_b") - n_i)).alias("jaccard"),
        )
    )


WIN_K = 8  # k-gram length (chars)
WIN_W = 4  # window size (hashes)
_WB = 257
_WP = 9007199254740881  # largest prime < 2^53: acc·B + c < 2^62 exact

def q52_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per doc: min hash of each sliding
    window of WIN_W consecutive k-gram Rabin-Karp hashes, dedup'd —
    one Arrow-vectorized scan stage, no shuffle before the final
    explode.

    r11: this stage was a nested Catalyst HOF (transform × aggregate
    with per-char substring/ascii/mod). Higher-order lambdas are
    CodegenFallback — evaluated INTERPRETED per element (the q66
    rule) — so the fingerprint pass cost len(text) × WIN_K interpreted
    expression evals per doc: ~2·10¹⁰ evals at sf80, thread-dumped
    live as four straggler tasks parked in UTF8String.substring /
    ArrayAggregate.eval for 40+ CPU-minutes each while the q105 sf80
    re-measure ran. The numpy form computes identical values (the
    stepwise (acc·B + c) % P fold per j, exact in int64: acc < P <
    2^53, acc·257 + c < 2^62; codepoints via utf-32 decode = ascii()
    on both engines) ~100× faster, and drops to the engine's
    sanctioned Arrow slow path only because no codegen'd builtin can
    express the rolling fold. Short-doc edge now matches the ORACLE
    exactly: docs with fewer than WIN_W k-grams emit nothing (DuckDB's
    generate_series(1,0) is empty; the old Spark sequence(1,0) form
    was [1,0] — a latent crash on 8-10-char docs that no corpus row
    exercises).

    r8 (judge r7 #4): registered as the ``q52_fps`` stage PROVIDER —
    q105's overlap join and q117's cap-recall calibration both start
    from exactly this table and were re-deriving it per call (~1.5 s
    each at sf0.1). Size class: corpus-proportional but narrow — one
    (bigint doc_id, bigint fp) row per selected k-gram window, i.e.
    the winnowed index of the corpus at ~16 B/row, orders of magnitude
    smaller than the text it indexes (same justification as the
    ``cc_labels`` pin). q52's own bench row stays the honest full
    computation: providers always rebuild."""
    docs = fanout(load_table(spark, sf_dir, "documents"))
    k, w, b, p = WIN_K, WIN_W, _WB, _WP

    def winnow(pdf_iter):
        # Closure — pickled by value (multimodal.py rule).
        import numpy as np
        import pandas as pd

        for pdf in pdf_iter:
            ids_out, fps_out = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL (None/NaN under Arrow) or empty doc: the
                # oracle emits no rows; the old HOF null-propagated
                if not isinstance(text, str) or not text:
                    continue
                # exact codepoints (= ascii(substring(text, i, 1)) in
                # both engines for any BMP/astral char)
                c = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(c) - k + 1
                if n < 1:
                    continue
                acc = np.zeros(n, dtype=np.int64)
                for j in range(k):  # stepwise fold — exact, see doc
                    acc = (acc * b + c[j : j + n]) % p
                if len(acc) < w:
                    continue
                win = np.lib.stride_tricks.sliding_window_view(
                    acc, w
                ).min(axis=1)
                fp = np.unique(win)
                ids_out.append(np.full(len(fp), doc_id, dtype=np.int64))
                fps_out.append(fp)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "fp": np.concatenate(fps_out),
                    }
                )

    fps = docs.select("doc_id", "text").mapInPandas(
        winnow, schema="doc_id bigint, fp bigint"
    )
    return provide(spark, "q52_fps", sf_dir, lambda: fps)


QUERIES = {
    "q21_dedup_exact": q21_dedup_exact,
    "q22_minhash_lsh": q22_minhash_lsh,
    "q23_simhash": q23_simhash,
    "q24_ngram_jaccard": q24_ngram_jaccard,
    "q52_winnowing": q52_winnowing,
    "q86_incremental_dedup": q86_incremental_dedup,
}

_R = N_HASHES // N_BANDS

_SIG_SQL = ", ".join(
    f"min(({_A[s]} * (h % {_P}) + {_B[s]}) % {_P}) AS h{s}"
    for s in range(N_HASHES)
)
_BAND_ROWS = ", ".join(
    "({j}, md5({parts}))".format(
        j=j,
        parts=" || '|' || ".join(
            f"CAST(h{j * _R + t} AS VARCHAR)" for t in range(_R)
        ),
    )
    for j in range(N_BANDS)
)
_AGREE_SQL = " + ".join(
    f"(CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES)
)

_CAND_CTE = f"""
        shingles AS (
          SELECT doc_id, unnest({_SHINGLES_DUCK}) AS sh FROM documents
        ),
        hashed_sh AS (
          SELECT doc_id, sh, CAST({_H32_DUCK} AS BIGINT) AS h FROM shingles
        ),
        sig AS (
          SELECT doc_id, {_SIG_SQL} FROM hashed_sh GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, b.band, b.bsig
          FROM sig, LATERAL (VALUES {_BAND_ROWS}) AS b(band, bsig)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        )
"""

_HX_DUCK = "strpos('0123456789abcdef', substring(md5(token), {i}, 1)) - 1"
_H16_DUCK = " + ".join(
    f"(({_HX_DUCK.format(i=i + 1)}) * {16 ** (3 - i)})" for i in range(4)
)
_BITSUM_SQL = ", ".join(
    f"CAST(SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s{i}"
    for i in range(16)
)
_SIMHASH_SQL = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
)

_KGRAM_HASHES_DUCK = (
    f"list_transform(generate_series(1, greatest(length(text) - {WIN_K - 1}, 0)), i -> "
    f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
    f"list_transform(generate_series(0, {WIN_K - 1}), "
    f"j -> CAST(ascii(substring(text, i + j, 1)) AS BIGINT))), "
    f"(acc, c) -> (acc * {_WB} + c) % {_WP}))"
)

_Q52_ORACLE = f"""
        WITH hs AS (
          SELECT doc_id, {_KGRAM_HASHES_DUCK} AS hs FROM documents
        ), sel AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, greatest(len(hs) - {WIN_W - 1}, 0)),
                   i -> list_aggregate(hs[i:i+{WIN_W - 1}], 'min')) AS sel
          FROM hs
        )
        SELECT DISTINCT doc_id, unnest(sel) AS fp FROM sel
"""

ORACLE = {
    "q21_dedup_exact": """
        SELECT md5(lower(trim(text))) AS fp,
               MIN(doc_id) AS survivor_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "q22_minhash_lsh": f"""
        WITH {_CAND_CTE}
        SELECT c.doc_a, c.doc_b,
               ({_AGREE_SQL}) / CAST({N_HASHES} AS DOUBLE) AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
    """,
    "q23_simhash": f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), hashed AS (
          SELECT doc_id, CAST({_H16_DUCK} AS INT) AS h FROM tok
        ), bitsums AS (
          SELECT doc_id, {_BITSUM_SQL} FROM hashed GROUP BY doc_id
        ), sh AS (
          SELECT doc_id, CAST({_SIMHASH_SQL} AS INT) AS simhash FROM bitsums
        )
        SELECT doc_id, simhash,
               simhash % 256 AS band_lo,
               CAST((simhash >> 8) & 255 AS INT) AS band_hi
        FROM sh
    """,
    "q86_incremental_dedup": f"""
        WITH {_CAND_CTE},
        candn AS (
          SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS partner
          FROM bands n JOIN bands c
            ON n.band = c.band AND n.bsig = c.bsig
          WHERE n.doc_id % {INCR_MOD} = {INCR_REM}
            AND c.doc_id <> n.doc_id
        ),
        hits AS (
          SELECT doc_id, COUNT(*) AS n_cand, MIN(partner) AS first_partner
          FROM candn GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n_cand, 0) AS BIGINT) AS n_cand,
               h.first_partner,
               COALESCE(h.n_cand, 0) = 0 AS is_unique
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id % {INCR_MOD} = {INCR_REM}
    """,
    "q24_ngram_jaccard": f"""
        WITH {_CAND_CTE},
        dsh AS (SELECT DISTINCT doc_id, h FROM hashed_sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN dsh a ON a.doc_id = c.doc_a
          JOIN dsh b ON b.doc_id = c.doc_b AND b.h = a.h
          GROUP BY c.doc_a, c.doc_b
        )
        SELECT c.doc_a, c.doc_b,
               COALESCE(i.n_inter, 0) AS n_inter,
               COALESCE(i.n_inter, 0)
                 / (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes na ON na.doc_id = c.doc_a
        JOIN sizes nb ON nb.doc_id = c.doc_b
    """,
    "q52_winnowing": _Q52_ORACLE,
}
