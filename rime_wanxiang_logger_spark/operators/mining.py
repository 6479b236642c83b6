"""Graph & substring mining over the dedup candidate space (north-star
M8 cont.; no reference twin — the reference has no corpus surface,
SURVEY §2.11c scale extensions).

q79_pagerank          PageRank over the MinHash-LSH candidate graph —
                      the "which document is the canonical center of
                      its near-dup neighborhood" signal (a smarter
                      survivor-election key than min-id), and the
                      engine's iterative-graph-analytics showcase next
                      to q53's connected components
q80_dup_span_coverage exact-substring duplication coverage: fraction
                      of each document's tokens covered by an 8-gram
                      that also appears in ANOTHER document — the
                      token-granularity ExactSubstr signal
                      ("Deduplicating Training Data Makes Language
                      Models Better", Lee et al. 2022) that catches
                      partial overlap whole-doc dedup misses
q84_source_overlap    cross-source contamination matrix: for every
                      source pair, how many distinct 8-grams they
                      share — the train-vs-eval leakage audit run
                      before mixing sources into a training corpus

Design for 100 TB:
- q79 is power iteration in PURE INTEGER arithmetic: ranks are BIGINTs
  scaled by 10⁹, per-edge contribution is `rank DIV degree`, damping
  0.85 is the rational `(15·SCALE + 85·Σ) DIV 100`. Integer sums are
  order-independent, so every iteration is bit-exact across engines,
  partitionings, and retries — no float drift ever reaches the output
  (the emitted `pagerank` double is one IEEE division of exact ints,
  rounded at 9). Each round is one co-partitioned join on src + one
  hash aggregate on dst; the edge set and degree table are pinned once
  (localCheckpoint → a persisted stage table at cluster scale) so no
  round re-runs the shingle→MinHash candidate stage. Fixed
  PR_ITERS=5 rounds (deterministic, oracle-replayable); a production
  run would iterate until the L1 rank delta crosses ε — same loop,
  one extra scalar aggregate per round (the q53 convergence pattern).
  Overflow bound: a node's rank ≤ 0.15·SCALE + 0.85·deg_in·max_rank;
  with SCALE=10⁹ a hub must gather ~10⁹ rank-mass before BIGINT
  overflow — raise/lower SCALE with corpus size deliberately.
- q80 shuffles the (gram → doc) inverted relation once: the duplicated
  gram set comes from one hash aggregate (map-side combined), the
  coverage join is keyed on the 128-bit gram hash (uniform — no skew),
  and position coverage is a per-doc DISTINCT over exploded 8-spans
  (bounded: ≤ 8× tokens). Never all-pairs, never a window. At 100 TB
  the gram aggregate is the big stage; salting is unnecessary because
  md5 keys are uniform by construction.
- q84 NEVER joins gram-to-gram: the source list per gram is an
  aggregate bounded by the source vocabulary (tens, not documents),
  so pair expansion is a JVM higher-order-function explode of at most
  C(|sources|, 2) structs per gram. Three shuffles total — distinct
  (source, gram), groupBy gram, final pair rollup (≤ C(|sources|, 2)
  keys) — each map-side combined. The naive formulation (self-join of
  the gram posting list) would shuffle the posting list twice and
  explode quadratically in per-gram document frequency; this one is
  linear in distinct (source, gram) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.readers import fanout, load_table
from .dedup import _CAND_CTE, cand_pairs
from .pipeline import pin_frontier

#: q79 fixed-point scale (rank 1.0 == 10^9) and damping 85/100.
PR_SCALE = 10**9
PR_ITERS = 5

#: q80 gram width (tokens per shingle), per Lee et al.'s 50-token spans
#: scaled down to the synthetic corpus' ~60-token docs.
DUP_GRAM = 8

# Positioned 8-gram fingerprints: (pos, md5-of-8-token-window) per doc.
_POS_GRAMS_SPARK = (
    f"CASE WHEN size(split(text, ' ')) < {DUP_GRAM} THEN array() "
    f"ELSE transform(sequence(1, size(split(text, ' ')) - {DUP_GRAM - 1}), "
    f"i -> named_struct('pos', i, 'g', "
    f"md5(concat_ws(' ', slice(split(text, ' '), i, {DUP_GRAM}))))) END"
)


def q79_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 power iterations, integer-exact) over
    the symmetrized MinHash-LSH candidate graph of q22. Returns one row
    per node: (doc_id, degree, rank_scaled, pagerank).

    r14: the candidate graph comes from the shared ``q22_pairs`` pin
    (q22 provides; a raw call builds the documented detect plan). The
    pin feeds the symmetrizing union straight into a localCheckpoint —
    no pre-shuffle join on the pin scan, no strategy hint needed."""
    pairs = cand_pairs(spark, sf_dir)
    # Symmetrize and pin: every round re-reads edges and degrees.
    # r14: hash-partition by the join key BEFORE the pin (the CC round
    # shape) — Dataset.checkpoint carries the partitioning into the
    # LogicalRDD, so each power iteration's edge join exchanges only
    # the rank side; the O(E) side never re-shuffles.
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .repartition("src")
        .localCheckpoint()
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("node"), "deg")
        .localCheckpoint()
    )
    ranks = deg.select(
        "node", F.lit(PR_SCALE).cast("bigint").alias("r")
    )
    # Each round pins its frontier via pin_frontier: a bare per-round
    # localCheckpoint carries the iterated-join sizeInBytes estimate
    # forward, the same squaring failure mode the CC loop hit at sf5 —
    # latent here only because PR_ITERS is a fixed 5. The count() is
    # the caller-contract action: it computes the frontier once and
    # stores its checkpoint blocks and cache.
    prev = None
    for _ in range(PR_ITERS):
        contrib = ranks.join(deg, "node").select(
            F.col("node").alias("u"), F.expr("r DIV deg").alias("c")
        )
        gathered = (
            edges.join(contrib, edges.src == contrib.u)
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = pin_frontier(
            deg.join(gathered, deg.node == gathered.dst, "left").select(
                "node",
                F.expr(
                    f"CAST(({15 * PR_SCALE} + 85 * coalesce(s, 0)) DIV 100 "
                    "AS BIGINT)"
                ).alias("r"),
            )
        )
        ranks.count()
        if prev is not None:
            prev.unpersist(False)
        prev = ranks
    # Final-frontier cache drop (pin_frontier caller contract): the
    # count() above materialized it, and the returned
    # join re-reads the localCheckpoint blocks — unpersisting changes
    # no values, it stops leaking one cached O(V) ranks table per call.
    ranks.unpersist(False)
    return ranks.join(deg, "node").select(
        F.col("node").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(PR_SCALE)), 9).alias("pagerank"),
    )


def q80_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: total tokens, tokens covered by at least one
    8-gram that also occurs in another document, and the covered
    fraction. Docs shorter than 8 tokens have no grams → coverage 0."""
    docs = load_table(spark, sf_dir, "documents")
    # Pin the positioned grams: both the duplicated-gram aggregate and
    # the coverage join read them; without the pin the md5 stage runs
    # twice (the q22 signature-pinning pattern). DISK_ONLY (r14): this
    # is an EXPLODED-text-volume checkpoint — ~one 44-byte row per
    # token of the corpus — the same size class as the q52_fps pin
    # whose default-level wrapper objects caused the r13 sf80 memory
    # cliff (_stage_cache._ckpt_level); serialized UnsafeRows bound
    # the heap at any SF and small inputs stay in the OS page cache.
    from pyspark import StorageLevel

    grams = (
        fanout(docs)
        .select("doc_id", F.explode(F.expr(_POS_GRAMS_SPARK)).alias("e"))
        .select("doc_id", F.col("e.pos").alias("pos"), F.col("e.g").alias("g"))
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    dup_grams = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    covered = (
        grams.join(dup_grams, "g")
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(pos, pos + {DUP_GRAM - 1})")
            ).alias("cp"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("cp").alias("n_cov"))
    )
    ntok = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    return ntok.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_cov", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
        F.round(
            F.coalesce("n_cov", F.lit(0)) / F.col("n_tokens"), 9
        ).alias("dup_frac"),
    )


def q84_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 8-gram overlap matrix: (src_a, src_b,
    n_shared_grams) for every source pair sharing at least one gram,
    src_a < src_b. The pre-mixing leakage audit: a training source
    overlapping an eval source shows up as a hot cell.

    Shape (see module docstring): distinct (source, gram) → per-gram
    sorted source set (bounded by the source vocabulary) → HOF pair
    explode → tiny rollup. No gram self-join, no cartesian.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        fanout(docs)
        .select(
            "source", F.explode(F.expr(_POS_GRAMS_SPARK)).alias("e")
        )
        .select("source", F.col("e.g").alias("g"))
        .distinct()
    )
    by_gram = grams.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pairs = by_gram.where(F.size("ss") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (a, i) -> "
                "transform(slice(ss, i + 2, size(ss)), "
                "b -> struct(a AS src_a, b AS src_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def _pr_round_ctes(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
        s{i} AS (
          SELECT e.dst AS node,
                 CAST(SUM({prev}.r // d2.deg) AS BIGINT) AS s
          FROM edges e
          JOIN {prev} ON {prev}.node = e.src
          JOIN deg d2 ON d2.node = e.src
          GROUP BY e.dst
        ),
        r{i} AS (
          SELECT deg.node,
                 CAST(({15 * PR_SCALE} + 85 * COALESCE(s{i}.s, 0)) // 100
                      AS BIGINT) AS r
          FROM deg LEFT JOIN s{i} ON s{i}.node = deg.node
        )"""


QUERIES = {
    "q79_pagerank": q79_pagerank,
    "q80_dup_span_coverage": q80_dup_span_coverage,
    "q84_source_overlap": q84_source_overlap,
}

ORACLE = {
    "q79_pagerank": f"""
        WITH {_CAND_CTE},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION
          SELECT doc_b, doc_a FROM cand
        ),
        deg AS (
          SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
        ),
        r0 AS (
          SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg
        ),
        {",".join(_pr_round_ctes(i) for i in range(1, PR_ITERS + 1))}
        SELECT deg.node AS doc_id, deg.deg AS degree,
               r{PR_ITERS}.r AS rank_scaled,
               round(r{PR_ITERS}.r / {PR_SCALE}.0, 9) AS pagerank
        FROM r{PR_ITERS} JOIN deg USING (node)
    """,
    "q80_dup_span_coverage": f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        posn AS (
          SELECT doc_id, t,
                 unnest(generate_series(
                   1, greatest(len(t) - {DUP_GRAM - 1}, 0))) AS pos
          FROM toks
        ),
        grams AS (
          SELECT doc_id, pos,
                 md5(array_to_string(t[pos:pos + {DUP_GRAM - 1}], ' ')) AS g
          FROM posn
        ),
        dupg AS (
          SELECT g FROM grams GROUP BY g
          HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        cov AS (
          SELECT doc_id, COUNT(DISTINCT cp) AS n_cov
          FROM (
            SELECT doc_id,
                   unnest(generate_series(pos, pos + {DUP_GRAM - 1})) AS cp
            FROM grams JOIN dupg USING (g)
          ) GROUP BY doc_id
        ),
        nt AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
          FROM documents
        )
        SELECT nt.doc_id, n_tokens,
               CAST(COALESCE(n_cov, 0) AS BIGINT) AS n_dup_tokens,
               round(COALESCE(n_cov, 0) / n_tokens, 9) AS dup_frac
        FROM nt LEFT JOIN cov ON nt.doc_id = cov.doc_id
    """,
    # The oracle states the SPEC (distinct (source, gram) self-join);
    # the Spark side is the scale REWRITE (bounded per-gram source-set
    # explode) — value equality across the two formulations is exactly
    # what the driver hash-check proves (the q40 salted-agg pattern).
    "q84_source_overlap": f"""
        WITH toks AS (
          SELECT source, string_split(text, ' ') AS t FROM documents
        ),
        posn AS (
          SELECT source, t,
                 unnest(generate_series(
                   1, greatest(len(t) - {DUP_GRAM - 1}, 0))) AS pos
          FROM toks
        ),
        g AS (
          SELECT DISTINCT source,
                 md5(array_to_string(t[pos:pos + {DUP_GRAM - 1}], ' ')) AS g
          FROM posn
        )
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS n_shared_grams
        FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    """,
}
