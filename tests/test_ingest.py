"""Malformed-input contracts for the JSONL ingest path (SURVEY §5.2.4).

The reference's tolerance spec: blank lines skipped (analyzer.go:64-66),
malformed JSON skipped with a warning (analyzer.go:70-74), missing
fields tolerated as absent/NULL (omitempty pointers, analyzer.go:15-25).
The engine must match those observable semantics — and keep the bad
rows queryable via the corrupt-record quarantine instead of losing them
to stderr.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from rime_wanxiang_logger_spark.sources.readers import (
    ingest_rime_jsonl,
    read_rime_jsonl,
    rime_events_clean,
)

GOOD = [
    {
        "event_type": "text_committed",
        "committed_text": "你好",
        "selected_candidate_rank": 0,
        "timestamp": "2026-08-13T01:00:01.250Z",
    },
    {
        "event_type": "text_committed",
        # missing rank + buffer fields — preset pruning (cli.py:341)
        "committed_text": "世界",
        "timestamp": "2026-08-13T01:00:02.000Z",
    },
    {"event_type": "session_end", "timestamp": "2026-08-13T01:01:00.000Z"},
]
BAD = [
    '{"event_type": "text_committed", "committed_text": ',  # truncated
    "not json at all",
]


def _write_log(path):
    with open(path, "w") as f:
        for r in GOOD[:2]:
            f.write(json.dumps(r) + "\n")
        f.write("\n")  # blank line — dropped by the source itself
        f.write(BAD[0] + "\n")
        f.write(json.dumps(GOOD[2]) + "\n")
        f.write(BAD[1] + "\n")


def test_malformed_lines_quarantined_not_lost(spark, tmp_path):
    log = tmp_path / "log.jsonl"
    _write_log(log)
    raw = read_rime_jsonl(spark, str(log))
    clean = rime_events_clean(raw)
    rows = clean.orderBy("timestamp").collect()
    # exactly the 3 good events survive, in timestamp order
    assert [r["event_type"] for r in rows] == [
        "text_committed",
        "text_committed",
        "session_end",
    ]
    # missing fields arrive as NULL, not as errors (omitempty parity)
    assert rows[0]["selected_candidate_rank"] == 0
    assert rows[1]["selected_candidate_rank"] is None
    # parsed event-time is populated for every clean row
    assert all(r["ts"] is not None for r in rows)


def test_corrupt_rows_queryable_after_bronze_hop(spark, tmp_path):
    log = tmp_path / "log.jsonl"
    _write_log(log)
    bronze = ingest_rime_jsonl(spark, str(log), str(tmp_path / "bronze"))
    n_bad = bronze.where(F.col("_corrupt_record").isNotNull()).count()
    n_good = bronze.where(F.col("event_type").isNotNull()).count()
    assert n_bad == len(BAD)
    assert n_good == len(GOOD)
    # the quarantined payloads are retrievable verbatim for ops triage
    kept = {
        r["_corrupt_record"]
        for r in bronze.where(F.col("_corrupt_record").isNotNull()).collect()
    }
    assert kept == set(BAD)


def test_wrong_typed_field_is_quarantined(spark, tmp_path):
    """A line whose rank is a string fails the declared schema and must
    land in quarantine — never silently coerce."""
    log = tmp_path / "log.jsonl"
    row = dict(GOOD[0])
    row["selected_candidate_rank"] = "zero"
    with open(log, "w") as f:
        f.write(json.dumps(row) + "\n")
        f.write(json.dumps(GOOD[2]) + "\n")
    bronze = ingest_rime_jsonl(spark, str(log), str(tmp_path / "bronze"))
    assert bronze.where(F.col("_corrupt_record").isNotNull()).count() == 1
    assert rime_events_clean(bronze).count() == 1


def test_ingest_observation_piggybacks_on_first_action(spark, tmp_path):
    """Quality counters must arrive with the caller's own action —
    no extra pass over the data."""
    from rime_wanxiang_logger_spark.sources.readers import (
        ingest_rime_jsonl_observed,
    )

    log = tmp_path / "log.jsonl"
    _write_log(log)
    bronze, obs = ingest_rime_jsonl_observed(
        spark, str(log), str(tmp_path / "bronze")
    )
    n = bronze.count()  # the caller's action; metrics ride along
    assert n == len(GOOD) + len(BAD)
    got = obs.get
    assert got["n_rows"] == len(GOOD) + len(BAD)
    assert got["n_corrupt"] == len(BAD)
    assert got["n_missing_ts"] == 0


def test_misses_csv_roundtrip(spark, sf_dir, tmp_path):
    """K2 closes the loop: the BOM'd Chinese-header CSV this engine
    exports (same layout as the reference CLI's export-misses file)
    must re-ingest into the exact rows that produced it — positional
    schema binding sidesteps the BOM-glued first header."""
    from rime_wanxiang_logger_spark.operators.misses import (
        export_misses_csv,
        q04_export_misses,
        read_misses_csv,
    )

    out = str(tmp_path / "misses.csv")
    src = q04_export_misses(spark, sf_dir)
    export_misses_csv(src, out)
    with open(out, "rb") as f:
        assert f.read(3) == b"\xef\xbb\xbf"  # BOM survived the sink
    # The exact header row, pinned against the reference's mapping
    # (cli.py:334-339 + the derived 错误频率, cli.py:345): one Chinese
    # header per mapped report column, unmapped engine columns
    # (event_id, report_pos) pass through under their ASCII names.
    with open(out, encoding="utf-8-sig") as f:
        header = f.readline().strip()
    assert header == (
        "event_id,用户输入,实际选择,程序预测,选择排名,错误频率,report_pos"
    ), header
    # cache() lifts Spark's corrupt-column-only query restriction
    back = read_misses_csv(spark, out).cache()
    assert back.where(F.col("_corrupt_record").isNotNull()).count() == 0
    cols = [c for c in back.columns if c != "_corrupt_record"]
    want = {tuple(str(v) for v in r) for r in src.select(*cols).collect()}
    got = {tuple(str(v) for v in r) for r in back.select(*cols).collect()}
    assert got == want and want


def test_misses_csv_quarantines_malformed(spark, sf_dir, tmp_path):
    """A torn/garbage line in a re-ingested report lands in
    _corrupt_record (the T5 contract), never fails the read, and
    leaves the good rows intact."""
    from rime_wanxiang_logger_spark.operators.misses import (
        export_misses_csv,
        q04_export_misses,
        read_misses_csv,
    )

    out = str(tmp_path / "misses.csv")
    src = q04_export_misses(spark, sf_dir)
    export_misses_csv(src, out)
    n_rows = src.count()
    with open(out, "a", encoding="utf-8") as f:
        f.write('not,a,valid,row,at,all,x,y,z,"unclosed\n')
    back = read_misses_csv(spark, out).cache()
    assert back.count() == n_rows + 1
    assert back.where(F.col("_corrupt_record").isNotNull()).count() == 1


def test_schema_evolution_merge_reads_both_generations(spark, sf_dir, tmp_path):
    """Lake reality: table schemas grow over time. Two parquet
    generations — the base events and a later one with an added
    column — must read back as ONE table under mergeSchema, with the
    union schema, nulls for the missing column in old files, and no
    rows lost. (Production pins this with an explicit schema registry;
    mergeSchema is the discovery path.)"""
    from pyspark.sql import functions as F

    from rime_wanxiang_logger_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "evolved")
    old_half = ev.where(F.col("event_id") % 2 == 0)
    new_half = ev.where(F.col("event_id") % 2 == 1).withColumn(
        "schema_ver", F.lit(2)
    )
    old_half.write.parquet(out + "/gen=1")
    new_half.write.parquet(out + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/gen=1", out + "/gen=2"
    )
    assert "schema_ver" in merged.columns
    assert merged.count() == ev.count()
    assert merged.where(F.col("schema_ver").isNull()).count() == old_half.count()
    assert merged.where(F.col("schema_ver") == 2).count() == new_half.count()


def test_bronze_read_back_matches_inferred_read(spark, tmp_path):
    """``ingest_rime_jsonl`` reads bronze back with the schema it wrote,
    not by inference: the schema and the rows must equal an inferred
    read of the same directory."""
    log = tmp_path / "log.jsonl"
    _write_log(log)
    bronze_dir = str(tmp_path / "bronze")
    bronze = ingest_rime_jsonl(spark, str(log), bronze_dir)
    inferred = spark.read.parquet(bronze_dir)
    assert bronze.schema == inferred.schema
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(bronze.collect(), key=key) == sorted(inferred.collect(), key=key)


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs ``fn`` launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_parquet(path, columns: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))


def test_schema_memo_second_read_launches_no_job(spark, tmp_path):
    """The first ``load_table`` of a path infers its schema (a Spark
    job); a second read of the unchanged path reuses it and launches
    no job at all."""
    import uuid

    from rime_wanxiang_logger_spark.sources.readers import load_table

    _write_parquet(tmp_path / "t.parquet", {"a": [1, 2, 3]})
    tag = uuid.uuid4().hex
    first, _ = _jobs_in(spark, f"memo-1-{tag}", lambda: load_table(spark, str(tmp_path), "t"))
    again, n_jobs = _jobs_in(spark, f"memo-2-{tag}", lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs == 0
    assert again.schema == first.schema
    assert sorted(r["a"] for r in again.collect()) == [1, 2, 3]


def test_schema_memo_reinfers_rewritten_path(spark, tmp_path):
    """A path rewritten with an added column is inferred again: the
    memo is validated by file status, so the new column shows."""
    from rime_wanxiang_logger_spark.sources.readers import load_table

    path = tmp_path / "t.parquet"
    _write_parquet(path, {"a": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write_parquet(path, {"a": [1, 2], "b": ["x", "y"]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_schema_memo_keeps_options_apart(spark, tmp_path):
    """One directory read under two ``pathGlobFilter`` options holds two
    memo entries: each read keeps its own schema, also when memoized."""
    import uuid

    from rime_wanxiang_logger_spark.sources.readers import read_parquet

    _write_parquet(tmp_path / "x.parquet", {"a": [1]})
    _write_parquet(tmp_path / "y.parquet", {"b": ["y"]})
    d = str(tmp_path)
    for _ in range(2):
        xs = read_parquet(spark, d, pathGlobFilter="x*.parquet")
        ys = read_parquet(spark, d, pathGlobFilter="y*.parquet")
        assert xs.columns == ["a"] and [tuple(r) for r in xs.collect()] == [(1,)]
        assert ys.columns == ["b"] and [tuple(r) for r in ys.collect()] == [("y",)]
    _, n_jobs = _jobs_in(
        spark,
        f"memo-opts-{uuid.uuid4().hex}",
        lambda: read_parquet(spark, d, pathGlobFilter="y*.parquet"),
    )
    assert n_jobs == 0


def test_schema_memo_keys_inference_confs(spark, tmp_path):
    """A session conf that changes what inference returns is part of the
    memo key: flipping ``inferTimestampNTZ`` between two reads of one
    unchanged file changes the inferred ``ts`` type."""
    import datetime as dt

    import pyarrow as pa

    from rime_wanxiang_logger_spark.sources.readers import load_table

    _write_parquet(
        tmp_path / "t.parquet", {"ts": pa.array([dt.datetime(2026, 1, 1)], pa.timestamp("us"))}
    )
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert dict(load_table(spark, str(tmp_path), "t").dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(conf, "false")
        assert dict(load_table(spark, str(tmp_path), "t").dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(conf, prev)


def test_schema_memo_passes_missing_and_glob_paths_to_spark(spark, tmp_path):
    """A missing table still fails with Spark's own ``PATH_NOT_FOUND``,
    on every read; a glob path reads like ``spark.read.parquet`` does
    and is memoized like a plain path."""
    import uuid

    from pyspark.errors import AnalysisException

    from rime_wanxiang_logger_spark.sources.readers import load_table, read_parquet

    for _ in range(2):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            load_table(spark, str(tmp_path), "missing")
    _write_parquet(tmp_path / "p1.parquet", {"a": [1]})
    _write_parquet(tmp_path / "p2.parquet", {"a": [2]})
    glob = f"{tmp_path}/p*.parquet"
    assert sorted(r["a"] for r in read_parquet(spark, glob).collect()) == [1, 2]
    again, n_jobs = _jobs_in(
        spark, f"memo-glob-{uuid.uuid4().hex}", lambda: read_parquet(spark, glob)
    )
    assert n_jobs == 0
    assert sorted(r["a"] for r in again.collect()) == [1, 2]


def test_nanos_events_take_micros_branch_through_memo(spark, tmp_path):
    """The ts-unit guard survives the memo: a ``timestamp[ns]`` events
    file is converted nanos→micros by both ``load_table`` and
    ``read_table_stream``, on first and memoized reads, and rewriting
    the same file in place as ``timestamp[us]`` flips both readers to
    the plain branch."""
    import datetime as dt

    import pyarrow as pa

    from rime_wanxiang_logger_spark.sources.readers import load_table
    from rime_wanxiang_logger_spark.streaming import twin

    base = dt.datetime(2026, 8, 13, 1, 0, 1, 250_000)
    # the ns digits below the microsecond must be truncated, not rounded
    ns = [int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9 + 250_000_999]
    expect = [base]

    def stage(unit, values):
        _write_parquet(
            tmp_path / "events.parquet",
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array(values, pa.timestamp(unit)),
                "user_id": pa.array([7], pa.int64()),
                "event_type": ["click"],
                "value": [1.5],
                "props": ["{}"],
            },
        )

    def batch_ts():
        return [r["ts"] for r in load_table(spark, str(tmp_path), "events").collect()]

    def stream_ts(name):
        ev = twin.read_table_stream(spark, str(tmp_path), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
        return [r["ts"] for r in twin.drain(ev.select("ts"), name, "append").collect()]

    stage("ns", ns)
    for i in range(2):
        assert batch_ts() == expect
        assert stream_ts(f"ns_events_{i}") == expect
    stage("us", [v // 1000 for v in ns])
    assert batch_ts() == expect
    assert stream_ts("us_events") == expect
