"""Reference-faithful queries over the rime event log itself.

These run on DataFrames of RIME_EVENT_SCHEMA (sources.read_rime_jsonl)
and reproduce the reference CLIs exactly:

accuracy_summary   ``rime-logger analyze``     (cli.py:268-312;
                   Go twin analyzer.go:91-177)
misses_report      ``rime-logger export-misses`` (cli.py:315-359;
                   Go twin analyzer.go:181-264)
session_ids        T1 session bracketing from session_start markers;
                   inside ``_stage_cache.sharing()`` it runs once per
                   input frame object and order column, so the report
                   chain's asof_replay and page_rank_replay share one
                   eager bracketing of the same cleaned log
asof_replay        W2/T2: reconstruct each commit's pre-commit input
                   state from the input_state_changed stream — the
                   engine-side replay of what the producer does at
                   write time (lua:356-380 → 215-277)
page_rank_replay   T3/T4: page-index reconstruction + selection-key
                   latch → rank = page*6 + local_index (lua:309-317,
                   359-380, consumed at 215-251); registered as
                   q70_page_rank_replay over the driver events table

Semantics preserved bit-for-bit from the reference:
- rank 0 = first-choice hit (cli.py:291); top-3 is strictly ``< 3``
  (cli.py:292); -1 = direct-commit sentinel distinct from NULL =
  preset-pruned (lua:222 vs analyzer.go:110-112);
- accuracy score = 1/(rank+1) (cli.py:293);
- misses are strictly ``rank > 0`` (cli.py:327);
- report sort = (freq DESC, user_input ASC) (cli.py:348);
- existence-tolerant projection (cli.py:341).
"""

from __future__ import annotations

import weakref

from pyspark.sql import (
    Column,
    DataFrame,
    SparkSession,
    Window as W,
    functions as F,
)

from ..sources.readers import load_table
from ._stage_cache import AUX_CLEARERS, is_sharing, record_aux
from .windows import global_cumsum

PAGE_SIZE = 6  # input_habit_logger.lua:223


def _commits(events: DataFrame) -> DataFrame:
    return events.where(F.col("event_type") == "text_committed")


def accuracy_summary(events: DataFrame) -> DataFrame:
    """The 10-metric analyze summary, one row (cli.py:283-309)."""
    c = _commits(events)
    rank = F.col("selected_candidate_rank")
    valid = rank.isNotNull() & (rank >= 0)
    agg = c.agg(
        F.count(F.lit(1)).alias("total_commits"),
        F.count_if(valid).alias("valid_selections"),
        F.count_if(rank == 0).alias("first_choice_count"),
        F.count_if(valid & (rank < 3)).alias("top3_count"),
        F.sum(F.when(valid, rank)).alias("_rank_sum"),
        F.sum(F.when(valid, F.lit(1.0) / (rank + 1))).alias("_score_sum"),
        F.count_if(rank == -1).alias("direct_count"),
    )
    # Empty-set guards (F6, cli.py:279-288): NULL rates instead of a
    # division error when there are no commits / no valid selections —
    # nullif also keeps ANSI mode (Spark 4 default) happy.
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


def misses_report(events: DataFrame) -> DataFrame:
    """Misprediction rows, frequency-annotated and ordered
    (cli.py:315-359). ASCII column names; the Chinese-header CSV is
    operators.misses.export_misses_csv."""
    c = _commits(events)
    rank = F.col("selected_candidate_rank")
    misses = c.where(rank.isNotNull() & (rank > 0))
    # Existence-tolerant projection (cli.py:341): optional columns may
    # be pruned by the producer preset.
    want = {
        "source_input_buffer": "user_input",
        "committed_text": "actual_choice",
        "source_first_candidate": "predicted",
        "selected_candidate_rank": "selected_rank",
    }
    cols = [
        F.col(src).alias(dst) for src, dst in want.items() if src in c.columns
    ]
    report = misses.select(*cols)
    if "actual_choice" in report.columns:
        report = report.withColumn(
            "err_freq",
            F.count(F.lit(1)).over(W.partitionBy("actual_choice")),
        )
        order = [F.desc("err_freq")]
        if "user_input" in report.columns:
            order.append(F.asc("user_input"))
        report = report.orderBy(*order)
    return report


#: Sharing-scope memo of T1 bracketings: input frame -> {order_col:
#: bracketed frame}. The frame is held weakly, so an entry dies with its
#: input, and a bracketed frame never references its input (its plan
#: starts at the global_cumsum pin), so the value cannot keep its key
#: alive. Keyed by object identity, not plan equality: a re-read of a
#: rewritten directory is a new frame and brackets again, while the two
#: session-keyed reports over one cleaned log share one pass.
_SESSIONS_MEMO: weakref.WeakKeyDictionary[DataFrame, dict[str, DataFrame]] = (
    weakref.WeakKeyDictionary()
)


def _clear_sessions_memo(sf_dir: str | None) -> None:
    # A frame carries no sf_dir, so every clear() drops every entry.
    _SESSIONS_MEMO.clear()


AUX_CLEARERS.append(_clear_sessions_memo)


def session_ids(events: DataFrame, order_col: str = "ingest_id") -> DataFrame:
    """T1: number sessions by cumulative count of session_start markers
    in ingest order (the reference relies on file order; callers must
    supply a total-order column, e.g. the JSONL source's ingest_id —
    SURVEY §7.3.1).

    Two-phase global prefix sum (windows.global_cumsum), never a
    single-task WindowExec: a raw log has no session key yet, so the
    running count runs over the whole log's total order, and only the
    two-phase form keeps that order-wide sum parallel at any log size.
    Building the result is eager: with AQE on, at most 5 Spark jobs
    (the global_cumsum docstring lists them).

    Inside ``_stage_cache.sharing()`` the bracketing is memoized per
    input frame object and ``order_col`` (see ``_SESSIONS_MEMO``): a
    second call on the same frame launches no Spark job and returns the
    same pinned frame, recorded as ``aux:rime_sessions``. A raw call
    outside a scope always brackets afresh."""
    if not is_sharing():
        return _session_ids(events, order_col)
    by_order = _SESSIONS_MEMO.setdefault(events, {})
    got = by_order.get(order_col)
    if got is None:
        by_order[order_col] = got = _session_ids(events, order_col)
    else:
        record_aux("aux:rime_sessions")
    return got


def _session_ids(events: DataFrame, order_col: str) -> DataFrame:
    return global_cumsum(
        events,
        [order_col],
        F.when(F.col("event_type") == "session_start", 1).otherwise(0),
        "session_id",
    )


#: Keys the producer latches as "this key selected the candidate"
#: (lua:375-379: space, or a single digit 1-9, only while menu open).
SELECT_KEYS = ("space", "1", "2", "3", "4", "5", "6", "7", "8", "9")


def page_rank_replay(
    events: DataFrame,
    order_col: str = "ingest_id",
    session_col: str = "session_id",
) -> DataFrame:
    """T3 + T4: reconstruct the producer's page index and selection-key
    latch from the logged key-event stream, and replay each commit's
    ``selected_rank = page*6 + local_index`` (lua:222-251).

    The Lua state machine (per key event, lua:309-317, 359-380):

    1. buffer change ⇒ ``page = 0`` (reset BEFORE the nav delta);
    2. Page_Down/Next ⇒ +1, Page_Up/Prev ⇒ -1, clamped at 0;
    3. snapshot stored for the next commit: ``(page, candidates)`` while
       the menu is open, ``(0, nil)`` when it closes (lua:362, 369);
    4. latch: cleared on EVERY key, re-set to space/digit only while the
       menu is open (lua:373-379) — and cleared again after each commit
       (lua:277), so a commit with no intervening key event reads nil.

    Batch formulation (all windows keyed by ``session_col`` — a
    grow-with-data key, never a global window):

    - reset boundaries ⇒ conditional cumsum of buffer-change markers
      (``_seg``);
    - the clamped ±1 walk inside a segment is the classic reflected
      prefix sum: ``page_i = S_i - least(0, min_{j<=i} S_j)`` where S is
      the plain running sum of deltas — exact for clamp-at-zero from 0;
    - the commit-visible snapshot/latch are ``last(struct, ignorenulls)``
      over strictly-prior rows; structs are non-null at every carrier
      event, so a menu-close or latch-clear OVERWRITES with null fields
      (a bare ``last(col, ignorenulls)`` could never write null).

    State dies with the session (asof_replay convention; the producer
    re-inits its snapshot per session at lua:412-418 — its two page
    globals technically outlive init, but sessions are independent
    IME processes in practice, and the sequential oracle in
    tests/test_rime_parity.py pins this contract).

    Cost: one exchange, ``hashpartitioning(session_col)``, with AQE on
    and off. The ``(session_col, _seg)`` windows are clustered by the
    session key already, so they add sorts, not shuffles (3 ``Sort``,
    6 ``Window`` in the executed plan; pinned in tests/test_plans.py).
    The exchange is fact-scale parallel; nothing is global.
    """
    is_key = F.col("event_type") == "input_state_changed"
    is_commit = F.col("event_type") == "text_committed"
    w_upto = (
        W.partitionBy(session_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_prior = (
        W.partitionBy(session_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )

    # -- T3: segment = run of key events sharing one input buffer -----
    buf = F.coalesce(F.col("input_buffer"), F.lit(""))
    prev_buf = F.last(F.when(is_key, buf), ignorenulls=True).over(w_prior)
    # lua:186 inits last_seen_input_buffer to "" — the coalesce makes
    # the first key event of a session compare against "" exactly.
    is_change = is_key & (F.coalesce(prev_buf, F.lit("")) != buf)
    df = events.withColumn("_seg", F.sum(is_change.cast("int")).over(w_upto))

    delta = F.when(
        is_key & F.col("key_action").isin("Page_Down", "Next"), F.lit(1)
    ).when(
        is_key & F.col("key_action").isin("Page_Up", "Prev"), F.lit(-1)
    ).otherwise(F.lit(0))
    w_seg = (
        W.partitionBy(session_col, "_seg")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    df = df.withColumn("_s", F.sum(delta).over(w_seg))
    df = df.withColumn(
        "_page",
        F.col("_s")
        - F.least(F.lit(0).cast("bigint"), F.min("_s").over(w_seg)),
    )

    # -- T2/T3 snapshot + T4 latch carried to the next commit ---------
    snap = F.when(
        is_key,
        F.struct(
            F.when(F.col("has_menu"), F.col("_page"))
            .otherwise(F.lit(0).cast("bigint"))
            .alias("pg"),
            F.when(F.col("has_menu"), F.col("candidates")).alias("cands"),
        ),
    )
    latch_val = F.when(
        F.col("has_menu") & F.col("key_action").isin(*SELECT_KEYS),
        F.col("key_action"),
    )
    latch_tok = F.when(is_key, F.struct(latch_val.alias("v"))).when(
        is_commit, F.struct(F.lit(None).cast("string").alias("v"))
    )
    df = df.withColumn("_snap", F.last(snap, ignorenulls=True).over(w_prior))
    df = df.withColumn(
        "_latch", F.last(latch_tok, ignorenulls=True).over(w_prior)["v"]
    )

    # -- commit-side rank (lua:227-251) -------------------------------
    page = F.coalesce(F.col("_snap")["pg"], F.lit(0).cast("bigint"))
    idx = F.array_position(F.col("_snap")["cands"], F.col("committed_text"))
    # lua:244-246: committed text not found in (or no) candidate list →
    # fall back to the page's first slot. idx is NULL (no list) or 0
    # (not found) in both cases → the otherwise branch.
    local_idx = F.when(idx >= 1, idx - 1).otherwise(F.lit(0).cast("bigint"))
    rank = (
        F.when(F.col("_latch").isNull(), F.lit(-1).cast("bigint"))
        .when(
            F.col("_latch") == "space", page * PAGE_SIZE + local_idx
        )
        .otherwise(page * PAGE_SIZE + F.col("_latch").cast("bigint") - 1)
    )
    return (
        df.where(is_commit)
        .withColumn("page_index", page)
        .withColumn("selection_key", F.col("_latch"))
        .withColumn("replayed_rank", rank)
        .drop("_seg", "_s", "_page", "_snap", "_latch")
    )


def asof_replay(events: DataFrame, order_col: str = "ingest_id") -> DataFrame:
    """W2/T2: attach to each commit the latest STRICTLY-PRIOR input
    state (buffer, candidates, first candidate) from the
    input_state_changed stream — the batch replay of the producer's
    last_input_state_for_commit carry (lua:184-186, 356-380, consumed
    at lua:215-277)."""
    w = (
        W.partitionBy("session_id")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_state = F.col("event_type") == "input_state_changed"

    def carry(col: str) -> Column:
        return F.last(F.when(is_state, F.col(col)), ignorenulls=True).over(w)

    with_sessions = session_ids(events, order_col)
    return (
        with_sessions.withColumn("replayed_buffer", carry("input_buffer"))
        .withColumn("replayed_candidates", carry("candidates"))
        .withColumn("replayed_first", carry("first_candidate"))
        .where(F.col("event_type") == "text_committed")
    )


def map_events_to_rime(ev: DataFrame) -> DataFrame:
    """Deterministically dress the driver's generic events table as a
    rime key-event stream (q70's contract; also staged to parquet by
    the streaming parity test). See :func:`q70_page_rank_replay` for
    the k-derived attribute table."""
    k = F.floor("value").cast("bigint")
    km = k % 6
    return ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        F.col("user_id").alias("session_id"),
        F.when(F.col("event_type") == "click", F.lit("input_state_changed"))
        .otherwise(F.lit("text_committed"))
        .alias("event_type"),
        F.when(km == 0, F.lit("Page_Down"))
        .when(km == 1, F.lit("Page_Up"))
        .when(km == 2, F.lit("space"))
        .when(km == 3, ((k % 9) + 1).cast("string"))
        .when(km == 4, F.lit("a"))
        .otherwise(F.lit("Next"))
        .alias("key_action"),
        F.concat(F.lit("b"), (k % 4).cast("string")).alias("input_buffer"),
        (k % 5 != 0).alias("has_menu"),
        F.array(
            F.concat(F.lit("w"), (k % 7).cast("string")),
            F.concat(F.lit("w"), ((k % 7) + 1).cast("string")),
            F.concat(F.lit("w"), ((k % 7) + 2).cast("string")),
        ).alias("candidates"),
        F.concat(F.lit("w"), (k % 9).cast("string")).alias("committed_text"),
    )


def q70_page_rank_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T4 as a hash-checked query over the driver events table.

    ``click`` rows play ``input_state_changed`` and ``purchase`` rows
    play ``text_committed`` (events_model convention); ``user_id`` is
    the session key; every key-event attribute derives deterministically
    from ``k = floor(value)`` so the DuckDB oracle reproduces the exact
    same event stream:

    ======================  ========================================
    key_action              k%6 → Page_Down | Page_Up | space |
                            digit (k%9+1) | 'a' (inert) | Next
    input_buffer            'b' || k%4   (changes ⇒ page resets)
    has_menu                k%5 != 0     (closes ⇒ snapshot clears)
    candidates              ['w'||k%7, 'w'||k%7+1, 'w'||k%7+2]
    committed_text          'w' || k%9   (hits the list ~⅓ of commits)
    ======================  ========================================

    The mix exercises every transition: resets, clamped walks, menu
    close, latch set/clear, space-with[out]-hit, digit ranks, and the
    no-key-since-last-commit → -1 sentinel (lua:222).
    """
    ev = load_table(spark, sf_dir, "events")
    out = page_rank_replay(
        map_events_to_rime(ev), order_col="event_id", session_col="session_id"
    )
    return out.select(
        "event_id",
        F.col("session_id").alias("user_id"),
        "committed_text",
        "page_index",
        "selection_key",
        "replayed_rank",
    )


QUERIES = {
    "q70_page_rank_replay": q70_page_rank_replay,
}

ORACLE = {
    # Same state machine in pure SQL: reflected prefix sum for the
    # clamped walk, IGNORE-NULLS struct carry for snapshot + latch.
    # DuckDB list_position matches Spark array_position exactly
    # (1-based; 0 = not found; NULL = null list). Window SUMs are cast
    # back to BIGINT (DuckDB widens to HUGEINT).
    "q70_page_rank_replay": """
        WITH ev AS (
          SELECT event_id,
                 user_id AS session_id,
                 CASE event_type WHEN 'click' THEN 'key' ELSE 'commit' END
                   AS kind,
                 CAST(FLOOR(value) AS BIGINT) AS k
          FROM events
          WHERE event_type IN ('click', 'purchase')
        ), m AS (
          SELECT event_id, session_id, kind,
                 CASE (k % 6)
                   WHEN 0 THEN 'Page_Down'
                   WHEN 1 THEN 'Page_Up'
                   WHEN 2 THEN 'space'
                   WHEN 3 THEN CAST((k % 9) + 1 AS VARCHAR)
                   WHEN 4 THEN 'a'
                   ELSE 'Next' END AS key_action,
                 'b' || CAST(k % 4 AS VARCHAR) AS input_buffer,
                 (k % 5) <> 0 AS has_menu,
                 ['w' || CAST(k % 7 AS VARCHAR),
                  'w' || CAST((k % 7) + 1 AS VARCHAR),
                  'w' || CAST((k % 7) + 2 AS VARCHAR)] AS candidates,
                 'w' || CAST(k % 9 AS VARCHAR) AS committed_text
          FROM ev
        ), seg0 AS (
          SELECT *,
                 last_value(CASE WHEN kind = 'key' THEN input_buffer END
                            IGNORE NULLS)
                   OVER (PARTITION BY session_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_buf
          FROM m
        ), seg AS (
          SELECT *,
                 CAST(SUM(CASE WHEN kind = 'key'
                               AND COALESCE(prev_buf, '') <> input_buffer
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY session_id ORDER BY event_id)
                   AS BIGINT) AS seg_id,
                 CASE WHEN kind = 'key'
                           AND key_action IN ('Page_Down', 'Next') THEN 1
                      WHEN kind = 'key'
                           AND key_action IN ('Page_Up', 'Prev') THEN -1
                      ELSE 0 END AS delta
          FROM seg0
        ), w1 AS (
          SELECT *,
                 CAST(SUM(delta)
                   OVER (PARTITION BY session_id, seg_id ORDER BY event_id)
                   AS BIGINT) AS s
          FROM seg
        ), w2 AS (
          SELECT *,
                 s - LEAST(CAST(0 AS BIGINT),
                           MIN(s) OVER (PARTITION BY session_id, seg_id
                                        ORDER BY event_id)) AS page
          FROM w1
        ), carried AS (
          SELECT *,
                 last_value(CASE WHEN kind = 'key' THEN
                     struct_pack(
                       pg := CASE WHEN has_menu THEN page
                                  ELSE CAST(0 AS BIGINT) END,
                       cands := CASE WHEN has_menu THEN candidates END)
                   END IGNORE NULLS)
                   OVER (PARTITION BY session_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS snap,
                 last_value(CASE
                     WHEN kind = 'key' THEN struct_pack(
                       v := CASE WHEN has_menu AND key_action IN
                                 ('space','1','2','3','4','5','6','7','8','9')
                                 THEN key_action END)
                     WHEN kind = 'commit' THEN
                       struct_pack(v := CAST(NULL AS VARCHAR))
                   END IGNORE NULLS)
                   OVER (PARTITION BY session_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS latchs
          FROM w2
        )
        SELECT event_id,
               session_id AS user_id,
               committed_text,
               COALESCE(snap.pg, 0) AS page_index,
               latchs.v AS selection_key,
               CASE WHEN latchs.v IS NULL THEN CAST(-1 AS BIGINT)
                    WHEN latchs.v = 'space' THEN COALESCE(snap.pg, 0) * 6 +
                      CASE WHEN COALESCE(
                               list_position(snap.cands, committed_text), 0)
                               >= 1
                           THEN CAST(list_position(snap.cands, committed_text)
                                     - 1 AS BIGINT)
                           ELSE CAST(0 AS BIGINT) END
                    ELSE COALESCE(snap.pg, 0) * 6
                         + CAST(latchs.v AS BIGINT) - 1
               END AS replayed_rank
        FROM carried
        WHERE kind = 'commit'
    """,
}
