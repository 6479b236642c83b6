"""Text-analysis operators for LLM-data pipelines (north star M8).

q28_lang_id        n-gram/stopword-heuristic language ID → confusion
                   matrix against the labeled ``lang`` column
q29_text_quality   quality scoring: token stats, stopword ratio,
                   composite score + keep/drop flag
q30_token_count    whitespace tokens, regex word tokens, BPE-ish
                   length/4 estimate
q31_fingerprint    document fingerprints: exact, normalized, bag-of-
                   words (order-insensitive), and a Rabin-Karp
                   polynomial rolling hash — the keys exact dedup
                   hangs off

All pure built-in expressions (split/filter/transform/regexp_count/
md5) inside whole-stage codegen; per-doc work is embarrassingly
parallel, the only shuffle is q28's tiny confusion-matrix aggregate.
At 100 TB these run as a single scan stage over the documents table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.readers import fanout, load_table
from ._stage_cache import provide

# Pseudo-stopword lists over the synthetic corpus vocabulary; the
# *pattern* (per-language marker lists, argmax score) is the real
# language-ID heuristic — swap lists for real ones in production.
LANG_MARKERS = {
    "en": ("the", "a", "fast", "slow", "value", "order"),
    "de": ("scan", "join", "merge", "hash"),
    "fr": ("query", "window", "filter", "sort"),
    "zh": ("spark", "stream", "batch", "row"),
}

STOPWORDS = LANG_MARKERS["en"]


def _in_list(words_expr: str, items: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in items)
    return f"size(filter({words_expr}, w -> w IN ({lst})))"


def q28_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each language's marker hits per doc, argmax with a
    deterministic tie-break (en > de > fr > zh), then cross-tab
    predicted vs labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    w = "split(text, ' ')"
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            F.expr(_in_list(w, items)).alias(f"score_{code}")
            for code, items in LANG_MARKERS.items()
        ],
    )
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_zh")),
            "en",
        )
        .when(
            (F.col("score_de") >= F.col("score_fr"))
            & (F.col("score_de") >= F.col("score_zh")),
            "de",
        )
        .when(F.col("score_fr") >= F.col("score_zh"), "fr")
        .otherwise("zh")
    )
    return (
        scored.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q29_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring. Stage PROVIDER of ``q29_quality`` —
    q116's funnel consumes the pinned per-doc verdict table (narrow,
    one row per doc — _stage_cache size classes) instead of re-scoring
    the corpus; a raw call returns the plain single-scan plan."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        w = "split(text, ' ')"
        n_tokens = F.expr(f"size({w})")
        stop_hits = F.expr(_in_list(w, STOPWORDS))
        return docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            (F.length(F.regexp_replace("text", " ", "")) / n_tokens).alias(
                "avg_token_len"
            ),
            (stop_hits / n_tokens).alias("stop_ratio"),
            (
                F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * F.lit(0.5)
                + (stop_hits / n_tokens) * F.lit(0.5)
            ).alias("quality_score"),
            (
                (
                    F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * F.lit(0.5)
                    + (stop_hits / n_tokens) * F.lit(0.5)
                )
                > 0.2
            ).alias("keep"),
        )

    return provide(spark, "q29_quality", sf_dir, build)


def q30_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("bigint").alias(
            "re_tokens"
        ),
        F.ceil(F.length("text") / 4).cast("bigint").alias("bpe_est"),
    )


# Rabin-Karp polynomial hash: fold acc = (acc·B + byte) mod P over the
# characters. B=257, P = largest prime < 2^53 so acc·B < 2^62 (exact in
# BIGINT in both engines). The incremental-window property of this hash
# family is what winnowing-style chunk fingerprinting builds on.
_RK_B = 257
_RK_P = 9007199254740881

_RK_SPARK = (
    "aggregate(transform(sequence(1, length(text)), "
    "i -> ascii(substring(text, i, 1))), CAST(0 AS BIGINT), "
    f"(acc, c) -> (acc * {_RK_B} + c) % {_RK_P})"
)


def q31_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout: the Rabin-Karp fold is an interpreted HOF lambda
    # (~length(text) steps/doc) — spread it across cores, don't let the
    # single-row-group test file pin it to one (readers.fanout doc).
    docs = fanout(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_exact"),
        F.md5(F.lower(F.trim("text"))).alias("fp_norm"),
        F.md5(F.concat_ws(" ", F.array_sort(F.split("text", " ")))).alias("fp_bag"),
        F.expr(_RK_SPARK).alias("fp_roll"),
    )


CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (8-token overlap — context carry for training)

# 1-indexed chunk starts: 1, 1+S, 1+2S, ... while start <= n (at least
# one chunk even for docs shorter than W).
_CHUNK_STARTS = (
    f"sequence(1, greatest(size(split(text, ' ')), 1), {CHUNK_S})"
)


def q64_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the doc→training-sample
    explosion every LLM pipeline runs. Native formulation: one
    ``sequence`` of chunk starts + ``explode`` + ``slice`` — pure JVM,
    no Python in the hot path."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.split("text", " ").alias("words"),
            F.explode(F.expr(_CHUNK_STARTS)).alias("start"),
        )
        # keep a chunk only if it adds ≥1 token beyond its predecessor's
        # coverage [start-S, start-S+W-1]; the first chunk always stays
        .where(
            (F.col("start") == 1)
            | (F.col("start") + F.lit(CHUNK_W - CHUNK_S) <= F.size("words"))
        )
        .select(
            "doc_id",
            F.expr(f"CAST((start - 1) DIV {CHUNK_S} AS INT)").alias("chunk_idx"),
            F.concat_ws(" ", F.slice("words", F.col("start"), F.lit(CHUNK_W))).alias(
                "chunk_text"
            ),
            F.least(
                F.lit(CHUNK_W), F.size("words") - F.col("start") + 1
            ).alias("n_chunk_tokens"),
        )
    )


def q68_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring per (doc, term) — the classic relevance /
    keyword-extraction pass of a text pipeline.

    Scale design: term frequencies are one explode + hash-aggregate
    (map-side combined); document frequencies are a count-over-window
    on the ALREADY per-doc-distinct tf rows (the q08 transform-count
    idiom — a separate groupBy + join would recompute the whole
    explode+tf subtree per branch, Catalyst can't reuse the exchanges
    because each branch prunes different columns). Net plan: ONE corpus
    scan, one Generate, two exchanges. The 1-row corpus count
    broadcasts. Scores round to 9 dp (`ln` may differ in the last ulp
    across engines)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 9
            ).alias("tfidf"),
        )
    )


MIN_PAIR_COUNT = 5  # collocation support threshold


def q69_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI collocation mining — the phrase-extraction pass that
    feeds tokenizer-vocabulary and stop-phrase decisions.

    Scale design: one corpus scan per token stream (unigram, bigram),
    each a map-side-combined hash-aggregate; the corpus totals derive
    from the ALREADY-aggregated count tables (sum over vocab rows, no
    rescans); unigram counts broadcast onto the bigram vocabulary.
    PMI rounds to 9 dp (`ln` last-ulp variance across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    uni = docs.select(F.explode(F.split("text", " ")).alias("term"))
    # Vocabulary counts feed three consumers (w1 join, w2 join, n_uni
    # total) — pin the tiny aggregate once or every branch re-explodes
    # the corpus (same localCheckpoint pattern as q53's signatures).
    cx = (
        uni.groupBy("term").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    )
    # words materialized as a column BEFORE the lambda: element_at on a
    # bound array is O(1), while split(text) inside the lambda body
    # would re-tokenize per element (O(len²)/doc — measured 4×).
    pairs = (
        docs.select(F.split("text", " ").alias("words"))
        .where(F.size("words") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1), "
                    "i -> struct(element_at(words, i) AS w1, "
                    "element_at(words, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    cxy = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= MIN_PAIR_COUNT)
    )
    # Every doc yields ≥1 token (split of "" is [""]), so the bigram
    # total is exactly n_uni - n_docs — derived from the aggregated
    # vocab + a count-only scan, never a second explode pass (the q68
    # per-branch-recompute trap).
    totals = (
        cx.agg(F.sum("c").alias("n_uni"))
        .crossJoin(load_table(spark, sf_dir, "documents").agg(
            F.count(F.lit(1)).alias("n_docs")
        ))
        .select("n_uni", (F.col("n_uni") - F.col("n_docs")).alias("n_bi"))
    )
    c1 = cx.select(F.col("term").alias("w1"), F.col("c").alias("c_w1"))
    c2 = cx.select(F.col("term").alias("w2"), F.col("c").alias("c_w2"))
    return (
        cxy.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_xy",
            "c_w1",
            "c_w2",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("n_bi"))
                    / ((F.col("c_w1") / F.col("n_uni")) * (F.col("c_w2") / F.col("n_uni")))
                ),
                9,
            ).alias("pmi"),
        )
    )


#: BM25 parameters (Okapi defaults) and the fixed query-term set the
#: registered ranking query scores against.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "vector", "stream")
BM25_TOPK = 20


def q71_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a fixed query-term set
    — the retrieval-scoring stage of a text pipeline (quality filtering
    by topicality, hard-negative mining, retrieval evals).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (Lucene's robust idf)

    Scale design: per-term tf via ``F.filter`` count on the token
    array — NO explode, the whole per-doc row stays in one codegen
    stage; corpus stats (N, Σdl, per-term df) are ONE tiny aggregate
    broadcast back; final ranking is TakeOrdered(k) (sort-free global
    top-k), never a global window. Two corpus scans total (stats,
    score). Term sum is written a+b+c left-to-right and rounded at 9
    so the DuckDB oracle hash-matches (ln agrees across engines at
    this precision — same contract as q68)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dl = F.size(toks)

    def tf(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        "doc_id",
        dl.alias("dl"),
        *[tf(t).alias(f"tf_{t}") for t in BM25_TERMS],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count_if(F.col(f"tf_{t}") > 0).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    norm = F.lit(BM25_K1) * (
        F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl
    )

    def part(t: str):
        tf_c = F.col(f"tf_{t}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5))
            / (F.col(f"df_{t}") + F.lit(0.5))
            + F.lit(1.0)
        )
        return idf * (tf_c * F.lit(BM25_K1 + 1) / (tf_c + norm))

    score = part(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + part(t)  # fixed left-to-right sum order
    return (
        base.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in BM25_TERMS],
            F.round(score, 9).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


QUERIES = {
    "q28_lang_id": q28_lang_id,
    "q29_text_quality": q29_text_quality,
    "q30_token_count": q30_token_count,
    "q31_fingerprint": q31_fingerprint,
    "q64_chunk_windows": q64_chunk_windows,
    "q68_tfidf": q68_tfidf,
    "q69_bigram_pmi": q69_bigram_pmi,
    "q71_bm25": q71_bm25,
}


def _sql_in_list(items: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in items)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({lst})))"


_SCORES = ", ".join(
    f"CAST({_sql_in_list(items)} AS INT) AS score_{code}"
    for code, items in LANG_MARKERS.items()
)

ORACLE = {
    "q28_lang_id": f"""
        WITH scored AS (
          SELECT doc_id, lang, {_SCORES} FROM documents
        )
        SELECT lang,
          CASE WHEN score_en >= score_de AND score_en >= score_fr
                    AND score_en >= score_zh THEN 'en'
               WHEN score_de >= score_fr AND score_de >= score_zh THEN 'de'
               WHEN score_fr >= score_zh THEN 'fr'
               ELSE 'zh' END AS lang_pred,
          COUNT(*) AS n_docs
        FROM scored GROUP BY 1, 2
    """,
    "q29_text_quality": f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                 CAST(length(replace(text, ' ', '')) AS INT) AS n_nonspace,
                 CAST({_sql_in_list(STOPWORDS)} AS INT) AS stop_hits
          FROM documents
        )
        SELECT doc_id, n_tokens,
               n_nonspace / n_tokens AS avg_token_len,
               stop_hits / n_tokens AS stop_ratio,
               LEAST(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
                 * CAST(0.5 AS DOUBLE)
                 + (stop_hits / n_tokens) * CAST(0.5 AS DOUBLE) AS quality_score,
               (LEAST(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
                 * CAST(0.5 AS DOUBLE)
                 + (stop_hits / n_tokens) * CAST(0.5 AS DOUBLE))
                 > CAST(0.2 AS DOUBLE) AS keep
        FROM t
    """,
    "q30_token_count": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
                 AS re_tokens,
               CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS bpe_est
        FROM documents
    """,
    "q31_fingerprint": f"""
        SELECT doc_id,
               md5(text) AS fp_exact,
               md5(lower(trim(text))) AS fp_norm,
               md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
                 AS fp_bag,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(text)),
                                  i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
                 (acc, c) -> (acc * {_RK_B} + c) % {_RK_P}) AS fp_roll
        FROM documents
    """,
    "q64_chunk_windows": f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ), s AS (
          SELECT doc_id, words, len(words) AS n,
                 unnest(generate_series(1, greatest(len(words), 1),
                                        {CHUNK_S})) AS start
          FROM t
        )
        SELECT doc_id,
               CAST((start - 1) // {CHUNK_S} AS INT) AS chunk_idx,
               array_to_string(list_slice(words, start, start + {CHUNK_W - 1}),
                               ' ') AS chunk_text,
               CAST(LEAST({CHUNK_W}, n - start + 1) AS INT) AS n_chunk_tokens
        FROM s
        WHERE start = 1 OR start + {CHUNK_W - CHUNK_S} <= n
    """,
    "q68_tfidf": """
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        ), n AS (
          SELECT COUNT(*) AS n_docs FROM documents
        )
        SELECT doc_id, term, tf, df,
               round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf
        FROM tf JOIN dfreq USING (term), n
    """,
    "q69_bigram_pmi": f"""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ), uni AS (
          SELECT unnest(words) AS term FROM w
        ), cx AS (
          SELECT term, COUNT(*) AS c FROM uni GROUP BY 1
        ), pairs AS (
          SELECT unnest(list_transform(generate_series(1, len(words) - 1),
                        i -> struct_pack(w1 := words[i], w2 := words[i + 1])))
                   AS p
          FROM w WHERE len(words) >= 2
        ), cxy AS (
          SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_xy
          FROM pairs GROUP BY 1, 2
          HAVING COUNT(*) >= {MIN_PAIR_COUNT}
        ), totals AS (
          SELECT CAST((SELECT SUM(c) FROM cx) AS BIGINT) AS n_uni,
                 CAST((SELECT SUM(c) FROM cx) AS BIGINT)
                   - (SELECT COUNT(*) FROM documents) AS n_bi
        )
        SELECT w1 || ' ' || w2 AS bigram, c_xy, a.c AS c_w1, b.c AS c_w2,
               round(ln((c_xy / n_bi)
                        / ((a.c / n_uni) * (b.c / n_uni))), 9) AS pmi
        FROM cxy
        JOIN cx a ON a.term = w1
        JOIN cx b ON b.term = w2
        CROSS JOIN totals
    """,
    # BM25: identical arithmetic shape and evaluation order as the
    # Spark expression (python-folded constants, a+b+c term order,
    # round 9 absorbing last-ulp ln differences).
    "q71_bm25": (lambda _tf, _part: f"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS INT) AS dl,
                 {", ".join(f"CAST({_tf(t)} AS INT) AS tf_{t}" for t in BM25_TERMS)}
          FROM documents
        ), stats AS (
          SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS sum_dl,
                 {", ".join(f"COUNT(*) FILTER (WHERE tf_{t} > 0) AS df_{t}" for t in BM25_TERMS)}
          FROM base
        )
        SELECT doc_id, dl,
               {", ".join(f"tf_{t}" for t in BM25_TERMS)},
               round({" + ".join(_part(t) for t in BM25_TERMS)}, 9) AS bm25
        FROM base, stats
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOPK}
    """)(
        lambda t: (
            f"len(list_filter(string_split(text, ' '), w -> w = '{t}'))"
        ),
        lambda t: (
            f"(ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"
            f" * (CAST(tf_{t} AS DOUBLE) * {BM25_K1 + 1}"
            f" / (CAST(tf_{t} AS DOUBLE)"
            f" + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * dl"
            f" / (CAST(sum_dl AS DOUBLE) / n_docs)))))"
        ),
    ),
}
