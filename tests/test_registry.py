"""Registry invariants: the static ``_MODULES`` list is the whole
operator inventory, and ``all_queries()`` is its concatenation."""

from __future__ import annotations

import re
from pathlib import Path

import rime_wanxiang_logger_spark.operators as ops


def test_every_query_module_is_registered():
    # a module left out of the static list would silently drop its
    # queries from queries()/oracle_sql() and from every parity check
    pkg = Path(ops.__file__).parent
    defining = {
        p.stem
        for p in pkg.glob("*.py")
        if re.search(r"^QUERIES\s*[:=]", p.read_text(), re.M)
    }
    assert defining == {Path(m.__file__).stem for m in ops._MODULES}


def test_every_query_has_an_owner_module():
    # all_queries() is the concatenation of the modules' QUERIES in
    # _MODULES order (shadowing: test_oracle_parity)
    names = [n for m in ops._MODULES for n in m.QUERIES]
    assert list(ops.all_queries()) == names


def test_bench_records_every_layer(spark, sf_dir):
    """bench.py's per-query record comes from perfbench's tracer: a
    rename there fails here, not in a full bench run."""
    import bench

    registry = ops.all_queries()
    tracer = bench.perfbench.Tracer(spark, bench.drains(registry))
    try:
        recs = {
            n: bench.record(tracer, "test", n, registry[n], sf_dir)
            for n in ("q01_scan_count", "q22_minhash_lsh", "q100_stream_sessions")
        }
    finally:
        spark.streams.removeListener(tracer.listener)
    layers = {"build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs",
              "exchanges", "python_nodes"}
    for rec in recs.values():
        assert layers <= rec.keys()
        assert rec["s"] == round(rec["build_s"] + rec["exec_s"], 4)
        assert rec["exec_jobs"] >= 1
    assert recs["q22_minhash_lsh"]["build_jobs"] >= 1
    assert recs["q100_stream_sessions"]["streaming.batches"] >= 1
    assert recs["q100_stream_sessions"]["stream_jobs"] >= 1
    assert "streaming.batches" not in recs["q01_scan_count"]
    assert bench.scale("/data/sf0.01") == 0.01
    assert bench.scale("/data/sf0.1-copy/") is None


def test_streams_start_only_in_twin_drain_paths():
    # one sink: every registered stream runs through twin.drain, which
    # writes through stream_to_parquet_foreachbatch — the package's only
    # stream start — and no driver-resident memory sink is left
    import ast

    pkg = Path(ops.__file__).parent.parent
    twin = pkg / "streaming" / "twin.py"
    srcs = {p: p.read_text() for p in sorted(pkg.rglob("*.py"))}
    rel = lambda ps: [str(p.relative_to(pkg)) for p in ps]  # noqa: E731
    assert rel(p for p, s in srcs.items() if p != twin and ".writeStream" in s) == []
    assert rel(p for p, s in srcs.items() if 'format("memory")' in s) == []
    src = srcs[twin]
    per_def = {
        node.name: ast.get_source_segment(src, node).count(".writeStream")
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
    }
    assert {k: n for k, n in per_def.items() if n} == {
        "stream_to_parquet_foreachbatch": 1,
    }
    assert src.count(".writeStream") == 1
