"""Reference-parity tests for the rime-log API (operators/rime.py).

The oracle here is a straight pandas transcription of the reference's
own analyze/export logic (cli.py:268-312, 315-359) — the reference's
"two implementations, one spec" pattern (SURVEY §5.1.1) — plus a pure-
Python sequential replay of the producer state machine for the as-of
query (SURVEY §5.2.3).

Edge semantics pinned: rank 0 = hit, top-3 strictly < 3, -1 sentinel
vs NULL pruned, score 1/(rank+1), misses strictly > 0, (freq DESC,
input ASC) ordering.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from rime_wanxiang_logger_spark.operators.rime import (
    accuracy_summary,
    asof_replay,
    misses_report,
    session_ids,
)

COLS = [
    "event_type",
    "committed_text",
    "selected_candidate_rank",
    "source_input_buffer",
    "source_first_candidate",
    "input_buffer",
    "candidates",
    "first_candidate",
    "ingest_id",
]


def _mk_events(spark, rows):
    schema = (
        "event_type string, committed_text string,"
        " selected_candidate_rank int, source_input_buffer string,"
        " source_first_candidate string, input_buffer string,"
        " candidates array<string>, first_candidate string, ingest_id bigint"
    )
    return spark.createDataFrame(rows, schema)


def _commit(text, rank, buf=None, first=None, i=0):
    return ("text_committed", text, rank, buf, first, None, None, None, i)


def pandas_analyze(ranks):
    """Transcription of RimeManager.analyze (cli.py:283-309)."""
    s = pd.Series(ranks, dtype="Float64")
    total = len(s)
    valid = s[s.notna() & (s >= 0)]
    out = {
        "total_commits": total,
        "valid_selections": len(valid),
        "first_choice_count": int((valid == 0).sum()),
        "top3_count": int((valid < 3).sum()),
        "direct_count": int((s == -1).sum()),
    }
    if len(valid):
        out["first_choice_rate"] = out["first_choice_count"] / len(valid)
        out["top3_rate"] = out["top3_count"] / len(valid)
        out["avg_rank"] = float(valid.mean())
        out["overall_score"] = float((1.0 / (valid + 1)).mean())
    out["direct_rate"] = out["direct_count"] / total if total else None
    return out


def test_accuracy_summary_golden(spark):
    ranks = [0, 0, 1, 2, 3, -1, None]
    rows = [_commit(f"t{i}", r, i=i) for i, r in enumerate(ranks)]
    rows.append(("session_start", None, None, None, None, None, None, None, 99))
    got = accuracy_summary(_mk_events(spark, rows)).collect()[0].asDict()
    assert got["total_commits"] == 7
    assert got["valid_selections"] == 5
    assert got["first_choice_count"] == 2
    assert got["top3_count"] == 4  # rank < 3, strictly (cli.py:292)
    assert got["direct_count"] == 1  # -1 sentinel ≠ NULL (analyzer.go:110-122)
    assert got["first_choice_rate"] == 2 / 5
    assert got["top3_rate"] == 4 / 5
    assert got["avg_rank"] == 6 / 5
    assert math.isclose(
        got["overall_score"], (1 + 1 + 0.5 + 1 / 3 + 0.25) / 5, rel_tol=1e-12
    )
    assert got["direct_rate"] == 1 / 7


def test_misses_report_golden(spark):
    rows = [
        _commit("好", 1, buf="b_z", first="预1", i=0),
        _commit("好", 2, buf="b_a", first="预2", i=1),
        _commit("了", 3, buf="a_a", first="预3", i=2),
        _commit("hit", 0, buf="x", first="hit", i=3),  # not a miss
        _commit("直", -1, buf="y", first="y", i=4),  # direct, not a miss
    ]
    got = misses_report(_mk_events(spark, rows)).toPandas()
    assert list(got.columns) == [
        "user_input",
        "actual_choice",
        "predicted",
        "selected_rank",
        "err_freq",
    ]
    assert len(got) == 3  # strictly rank > 0 (cli.py:327)
    # freq desc, then user_input asc (cli.py:348)
    assert got["actual_choice"].tolist() == ["好", "好", "了"]
    assert got["user_input"].tolist() == ["b_a", "b_z", "a_a"]
    assert got["err_freq"].tolist() == [2, 2, 1]


def test_misses_report_schema_drift(spark):
    """Preset-pruned columns must not break the report (cli.py:341):
    the normal preset never writes source_input_buffer."""
    schema = (
        "event_type string, committed_text string,"
        " selected_candidate_rank int, ingest_id bigint"
    )
    rows = [("text_committed", "哈", 2, 0), ("text_committed", "哈", 1, 1)]
    got = misses_report(spark.createDataFrame(rows, schema)).toPandas()
    assert list(got.columns) == ["actual_choice", "selected_rank", "err_freq"]
    assert got["err_freq"].tolist() == [2, 2]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ranks=st.lists(
        st.one_of(
            st.none(), st.integers(min_value=-1, max_value=12)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_accuracy_summary_matches_pandas_reference(spark, ranks):
    rows = [_commit(f"t{i}", r, i=i) for i, r in enumerate(ranks)]
    got = accuracy_summary(_mk_events(spark, rows)).collect()[0].asDict()
    want = pandas_analyze(ranks)
    for k, v in want.items():
        g = got[k]
        if v is None:
            assert g is None, k
        elif isinstance(v, float):
            assert g is not None and math.isclose(g, v, rel_tol=1e-12), (k, g, v)
        else:
            assert g == v, (k, g, v)
    # invariants (SURVEY §5.2.3)
    if got["valid_selections"]:
        assert 0 <= got["first_choice_rate"] <= got["top3_rate"] <= 1
        assert 0 < got["overall_score"] <= 1


def python_replay(events):
    """Sequential replay of the producer state machine
    (input_habit_logger.lua:184-186, 356-380, consumed at 215-277)."""
    last_state = None
    session = 0
    out = {}
    for ev in events:
        kind = ev["event_type"]
        if kind == "session_start":
            session += 1
            last_state = None  # state dies with the session
        elif kind == "input_state_changed":
            last_state = (ev["input_buffer"], ev["first_candidate"])
        elif kind == "text_committed":
            out[ev["ingest_id"]] = last_state
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_asof_replay_matches_sequential_oracle(spark, data):
    n = data.draw(st.integers(min_value=3, max_value=30))
    kinds = data.draw(
        st.lists(
            st.sampled_from(
                ["session_start", "input_state_changed", "text_committed"]
            ),
            min_size=n,
            max_size=n,
        )
    )
    events, rows = [], []
    for i, kind in enumerate(kinds):
        ev = {"event_type": kind, "ingest_id": i}
        if kind == "input_state_changed":
            ev["input_buffer"] = f"buf{i}"
            ev["first_candidate"] = f"cand{i}"
        events.append(ev)
        rows.append(
            (
                kind,
                f"txt{i}" if kind == "text_committed" else None,
                None,
                None,
                None,
                ev.get("input_buffer"),
                None,
                ev.get("first_candidate"),
                i,
            )
        )
    # state must not leak across sessions: force one boundary
    want = python_replay(events)
    df = asof_replay(_mk_events(spark, rows))
    got = {
        r["ingest_id"]: (
            (r["replayed_buffer"], r["replayed_first"])
            if r["replayed_buffer"] is not None
            else None
        )
        for r in df.collect()
    }
    assert got == want


def test_session_ids(spark):
    rows = [
        ("session_start", None, None, None, None, None, None, None, 0),
        _commit("a", 0, i=1),
        ("session_end", None, None, None, None, None, None, None, 2),
        ("session_start", None, None, None, None, None, None, None, 3),
        _commit("b", 1, i=4),
    ]
    got = {
        r["ingest_id"]: r["session_id"]
        for r in session_ids(_mk_events(spark, rows)).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2}


# ---------------------------------------------------------------------------
# T3/T4: page-index + selection-key latch replay (lua:309-317, 359-380,
# consumed at 215-251; latch cleared after commit at lua:277)
# ---------------------------------------------------------------------------

NAV = {"Page_Down": 1, "Next": 1, "Page_Up": -1, "Prev": -1}
SELECT = {"space", "1", "2", "3", "4", "5", "6", "7", "8", "9"}


def lua_page_rank_replay(events):
    """Sequential transcription of the producer's page/latch machine.
    State dies with the session (the engine's contract; see
    page_rank_replay docstring)."""
    page, last_seen = 0, ""
    snap_pg, snap_cands, latch = None, None, None
    out = {}
    for ev in events:
        t = ev["event_type"]
        if t == "session_start":
            page, last_seen = 0, ""
            snap_pg, snap_cands, latch = None, None, None
        elif t == "input_state_changed":
            buf = ev.get("input_buffer") or ""
            if buf != last_seen:  # reset BEFORE nav (lua:309-312)
                page, last_seen = 0, buf
            page = max(0, page + NAV.get(ev.get("key_action"), 0))
            if ev.get("has_menu"):
                snap_pg, snap_cands = page, ev.get("candidates")
            else:  # menu closed (lua:366-369)
                snap_pg, snap_cands = 0, None
            ka = ev.get("key_action")
            latch = ka if ev.get("has_menu") and ka in SELECT else None
        elif t == "text_committed":
            pg = snap_pg if snap_pg is not None else 0
            if latch is None:
                rank = -1
            elif latch == "space":
                txt = ev.get("committed_text")
                li = snap_cands.index(txt) if snap_cands and txt in snap_cands else 0
                rank = pg * 6 + li
            else:
                rank = pg * 6 + int(latch) - 1
            out[ev["ingest_id"]] = (pg, latch, rank)
            latch = None  # cleared after commit (lua:277)
    return out


PAGE_SCHEMA = (
    "event_type string, committed_text string, key_action string,"
    " input_buffer string, has_menu boolean, candidates array<string>,"
    " ingest_id bigint"
)


def _page_rows(events):
    return [
        (
            ev["event_type"],
            ev.get("committed_text"),
            ev.get("key_action"),
            ev.get("input_buffer"),
            ev.get("has_menu"),
            ev.get("candidates"),
            ev["ingest_id"],
        )
        for ev in events
    ]


def _run_page_replay(spark, events):
    from rime_wanxiang_logger_spark.operators.rime import page_rank_replay

    df = session_ids(spark.createDataFrame(_page_rows(events), PAGE_SCHEMA))
    got = page_rank_replay(df)
    return {
        r["ingest_id"]: (
            r["page_index"],
            r["selection_key"],
            r["replayed_rank"],
        )
        for r in got.collect()
    }


def test_page_rank_replay_golden(spark):
    """Hand-crafted sequence pinning every Lua transition: clamp at 0,
    reset-before-nav, page accumulation, menu close, latch clear at
    commit, space hit vs fallback, digit rank."""
    CANDS = ["甲", "乙", "丙"]

    def key(i, ka, buf="abc", menu=True, cands=CANDS):
        return {
            "event_type": "input_state_changed", "ingest_id": i,
            "key_action": ka, "input_buffer": buf, "has_menu": menu,
            "candidates": cands,
        }

    def commit(i, txt):
        return {
            "event_type": "text_committed", "ingest_id": i,
            "committed_text": txt,
        }

    events = [
        {"event_type": "session_start", "ingest_id": 0},
        key(1, "Page_Up"),          # clamp: max(0, 0-1) = 0
        key(2, "Page_Down"),        # page 1
        key(3, "Next"),             # page 2
        key(4, "space"),            # latch space, page 2
        commit(5, "乙"),            # rank = 2*6 + 1 = 13
        commit(6, "乙"),            # latch cleared at commit → -1
        key(7, "3"),                # digit latch, page 2
        commit(8, "丙"),            # rank = 2*6 + (3-1) = 14
        key(9, "Page_Down", buf="xy"),  # buffer change: reset THEN +1 → 1
        key(10, "space", buf="xy"),  # same buffer: latch space, page stays 1
        commit(11, "外"),           # not in candidates → fallback 1*6+0=6
        key(12, "space", menu=False),  # menu closed: snap (0,nil), no latch
        commit(13, "甲"),           # latch None → -1, page 0
        {"event_type": "session_start", "ingest_id": 14},  # state dies
        key(15, "1"),               # fresh session, page 0 (buf change resets)
        commit(16, "甲"),           # rank = 0*6 + 0 = 0
    ]
    want = {
        5: (2, "space", 13),
        6: (2, None, -1),
        8: (2, "3", 14),
        11: (1, "space", 6),
        13: (0, None, -1),
        16: (0, "1", 0),
    }
    assert _run_page_replay(spark, events) == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_page_rank_replay_matches_sequential_oracle(spark, data):
    n = data.draw(st.integers(min_value=5, max_value=40))
    events = []
    for i in range(n):
        kind = data.draw(
            st.sampled_from(
                ["session_start"] + ["input_state_changed"] * 4
                + ["text_committed"] * 3
            )
        )
        ev = {"event_type": kind, "ingest_id": i}
        if kind == "input_state_changed":
            ev["key_action"] = data.draw(
                st.sampled_from(
                    ["Page_Down", "Page_Up", "Next", "Prev", "space",
                     "1", "3", "9", "a", "BackSpace"]
                )
            )
            # "" exercises the lua init value of last_seen_input_buffer
            ev["input_buffer"] = data.draw(st.sampled_from(["", "b1", "b2"]))
            ev["has_menu"] = data.draw(st.booleans())
            ev["candidates"] = data.draw(
                st.one_of(
                    st.none(),
                    st.lists(
                        st.sampled_from(["甲", "乙", "丙", "丁"]),
                        min_size=1, max_size=4, unique=True,
                    ),
                )
            )
        elif kind == "text_committed":
            ev["committed_text"] = data.draw(
                st.sampled_from(["甲", "乙", "丙", "外"])
            )
        events.append(ev)
    assert _run_page_replay(spark, events) == lua_page_rank_replay(events)


# ---------------------------------------------------------------------------
# T1 bracketing shared inside a sharing() scope (rime._SESSIONS_MEMO)
# ---------------------------------------------------------------------------

SHARED_KINDS = ["session_start", "input_state_changed", "text_committed",
                "input_state_changed", "session_end", "session_start",
                "text_committed", "input_state_changed", "text_committed"] * 3


def _shared_events():
    events, rows = [], []
    for i, kind in enumerate(SHARED_KINDS):
        ev = {"event_type": kind, "ingest_id": i}
        if kind == "input_state_changed":
            ev["input_buffer"] = f"buf{i}"
            ev["first_candidate"] = f"cand{i}"
        events.append(ev)
        rows.append((kind, f"txt{i}" if kind == "text_committed" else None,
                     None, None, None, ev.get("input_buffer"), None,
                     ev.get("first_candidate"), i))
    return events, rows


def python_session_ids(events):
    """Sequential T1: the running count of session_start markers."""
    n, out = 0, {}
    for ev in events:
        n += ev["event_type"] == "session_start"
        out[ev["ingest_id"]] = n
    return out


def _job_count(spark, fn):
    import uuid

    sc = spark.sparkContext
    group = f"t1-shared-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sessions(df):
    return {r["ingest_id"]: r["session_id"] for r in df.collect()}


def test_session_ids_shared_within_sharing_scope(spark):
    """Inside sharing(), asof_replay's bracketing serves the next
    session_ids call on the same frame: no Spark job, the same pinned
    frame, recorded as aux:rime_sessions, and the rows of a raw call
    and of the sequential oracle."""
    from rime_wanxiang_logger_spark.operators import _stage_cache as sc

    events, rows = _shared_events()
    clean = _mk_events(spark, rows)
    reads: list[str] = []
    sc.clear()
    try:
        with sc.sharing(), sc.recording(reads):
            replayed = asof_replay(clean, "ingest_id")
            shared, jobs = _job_count(
                spark, lambda: session_ids(clean, "ingest_id"))
        assert jobs == 0
        assert reads == ["aux:rime_sessions"]
        raw = session_ids(clean, "ingest_id")
        assert raw is not shared
        assert _sessions(shared) == _sessions(raw) == python_session_ids(events)
        got = {r["ingest_id"]: (r["replayed_buffer"], r["replayed_first"])
               if r["replayed_buffer"] is not None else None
               for r in replayed.collect()}
        assert got == python_replay(events)
    finally:
        sc.clear()


def test_session_ids_memo_keys_on_frame_object_and_order_col(spark):
    """A different order column, or a different frame object over the
    same rows (a re-read), brackets again; a raw call never reads the
    memo."""
    from pyspark.sql import functions as F

    from rime_wanxiang_logger_spark.operators import _stage_cache as sc

    events, rows = _shared_events()
    clean = _mk_events(spark, rows).withColumn("ord", F.col("ingest_id") * 2)
    sc.clear()
    try:
        with sc.sharing():
            first = session_ids(clean, "ingest_id")
            by_ord, jobs_ord = _job_count(
                spark, lambda: session_ids(clean, "ord"))
            reread = _mk_events(spark, rows).withColumn(
                "ord", F.col("ingest_id") * 2)
            again, jobs_frame = _job_count(
                spark, lambda: session_ids(reread, "ingest_id"))
            assert session_ids(clean, "ord") is by_ord
        assert jobs_ord >= 1 and jobs_frame >= 1
        assert by_ord is not first and again is not first
        assert session_ids(clean, "ingest_id") is not first
        want = python_session_ids(events)
        assert _sessions(first) == _sessions(by_ord) == _sessions(again) == want
    finally:
        sc.clear()


def test_session_ids_memo_cleared_and_weakly_keyed(spark):
    """_stage_cache.clear() empties the memo, for any sf_dir filter;
    and an entry dies with its input frame while the bracketed frame
    lives on, so the value holds no reference to its key."""
    import gc

    from rime_wanxiang_logger_spark.operators import _stage_cache as sc
    from rime_wanxiang_logger_spark.operators import rime

    events, rows = _shared_events()
    sc.clear()
    try:
        with sc.sharing():
            session_ids(_mk_events(spark, rows), "ingest_id")
            gc.collect()
            assert len(rime._SESSIONS_MEMO) == 0

            clean = _mk_events(spark, rows)
            bracketed = session_ids(clean, "ingest_id")
            assert len(rime._SESSIONS_MEMO) == 1
            sc.clear("/no/such/dir")
            assert len(rime._SESSIONS_MEMO) == 0

            session_ids(clean, "ingest_id")
            assert len(rime._SESSIONS_MEMO) == 1
            del clean
            gc.collect()
            assert len(rime._SESSIONS_MEMO) == 0
        assert _sessions(bracketed) == python_session_ids(events)
    finally:
        sc.clear()
