"""Aggregation queries (SURVEY §2.5, §2.11).

q07_accuracy_summary  A1–A5 fused: the reference's flagship ``analyze``
                      metrics (cli.py:283-309; analyzer.go:91-177) in ONE
                      wide aggregate — Spark's partial+final hash
                      aggregate is the automatic version of the Go
                      hand-fused single pass (analyzer.go:139-175).
q20_rollup            TPC-H-Q1-shaped rollup over lineitem (extension,
                      SURVEY §2.11) — same fused-agg shape, grouped +
                      hierarchical totals.

Scale: both are map-side-combined hash aggregates; the shuffle carries
only per-partition partials (a handful of rows each), so they scale
linearly with input and are insensitive to key skew.

Float determinism: every double aggregate goes through the DECIMAL
lattice (functions/stable.py) so results bit-match the oracle under any
partitioning/AQE plan (SURVEY §7.3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import davg_expr, dsum, dsum_expr
from ..sources.readers import load_table
from .events_model import COMMIT_TYPE, RANK_SQL, commits


def q07_accuracy_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10-metric accuracy summary (cli.py:283-309), one row out.

    - conditional counts via count_if (A2): first-choice ``rank == 0``
      (cli.py:291), top-3 strictly ``rank < 3`` (cli.py:292), direct
      input sentinel ``rank == -1`` (cli.py:305, lua:222);
    - reciprocal-rank score ``1/(rank+1)`` (P3/A4, cli.py:293-294);
    - ratio-of-aggregates rates computed from the aggregate columns in
      the same select (A5, cli.py:297-309) — sums/counts first, divide
      once; never avg-of-avg.
    """
    ev = load_table(spark, sf_dir, "events")
    c = commits(ev).where(F.col("value").isNotNull())  # F5 null guard
    valid = F.col("rank") >= 0
    agg = c.agg(
        F.count(F.lit(1)).alias("total_commits"),
        F.count_if(valid).alias("valid_selections"),
        F.count_if(F.col("rank") == 0).alias("first_choice_count"),
        F.count_if(valid & (F.col("rank") < 3)).alias("top3_count"),
        F.sum(F.when(valid, F.col("rank"))).alias("_rank_sum"),
        dsum(
            F.when(valid, F.lit(1.0) / (F.col("rank") + F.lit(1))), scale=12
        ).alias("_score_sum"),
        F.count_if(F.col("rank") == -1).alias("direct_count"),
    )
    # Empty-set guards (F6, cli.py:279-288) as NULLIF — also required
    # under Spark 4's default ANSI mode.
    valid_n = F.nullif(F.col("valid_selections"), F.lit(0))
    total_n = F.nullif(F.col("total_commits"), F.lit(0))
    return agg.select(
        "total_commits",
        "valid_selections",
        "first_choice_count",
        "top3_count",
        (F.col("first_choice_count") / valid_n).alias("first_choice_rate"),
        (F.col("top3_count") / valid_n).alias("top3_rate"),
        (F.col("_rank_sum") / valid_n).alias("avg_rank"),
        (F.col("_score_sum") / valid_n).alias("overall_score"),
        "direct_count",
        (F.col("direct_count") / total_n).alias("direct_rate"),
    )


def q20_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape with ROLLUP(l_returnflag, l_linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.rollup("l_returnflag", "l_linestatus").agg(
            dsum("l_quantity", scale=2).alias("sum_qty"),
            dsum("l_extendedprice", scale=2).alias("sum_base_price"),
            dsum(disc_price, scale=6).alias("sum_disc_price"),
            dsum(charge, scale=6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


QUERIES = {
    "q07_accuracy_summary": q07_accuracy_summary,
    "q20_rollup": q20_rollup,
}

ORACLE = {
    "q07_accuracy_summary": f"""
        WITH c AS (
          SELECT {RANK_SQL} AS rank FROM events
          WHERE event_type = '{COMMIT_TYPE}' AND value IS NOT NULL
        ), a AS (
          SELECT
            COUNT(*) AS total_commits,
            COUNT(*) FILTER (WHERE rank >= 0) AS valid_selections,
            COUNT(*) FILTER (WHERE rank = 0) AS first_choice_count,
            COUNT(*) FILTER (WHERE rank >= 0 AND rank < 3) AS top3_count,
            CAST(SUM(CASE WHEN rank >= 0 THEN rank END) AS BIGINT) AS _rank_sum,
            {dsum_expr("CASE WHEN rank >= 0 THEN CAST(1.0 AS DOUBLE)/(rank+1) END", scale=12)}
              AS _score_sum,
            COUNT(*) FILTER (WHERE rank = -1) AS direct_count
          FROM c
        )
        SELECT
          total_commits, valid_selections, first_choice_count, top3_count,
          first_choice_count / NULLIF(valid_selections, 0) AS first_choice_rate,
          top3_count / NULLIF(valid_selections, 0) AS top3_rate,
          _rank_sum / NULLIF(valid_selections, 0) AS avg_rank,
          _score_sum / NULLIF(valid_selections, 0) AS overall_score,
          direct_count,
          direct_count / NULLIF(total_commits, 0) AS direct_rate
        FROM a
    """,
    "q20_rollup": f"""
        SELECT l_returnflag, l_linestatus,
          {dsum_expr("l_quantity", scale=2)} AS sum_qty,
          {dsum_expr("l_extendedprice", scale=2)} AS sum_base_price,
          {dsum_expr("l_extendedprice * (1 - l_discount)", scale=6)} AS sum_disc_price,
          {dsum_expr("l_extendedprice * (1 - l_discount) * (1 + l_tax)", scale=6)} AS sum_charge,
          COUNT(*) AS count_order
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
}
