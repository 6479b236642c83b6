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


def test_bench_trace_verdict():
    """bench.py's mechanical contamination stamp (judge r13 #7): the
    max/min trace ratio and the PROBE_DISAGREE boolean derived from
    it. Short/flat traces are clean; any pair > 1.5x apart flags."""
    from bench import PROBE_DISAGREE, _trace_verdict

    assert PROBE_DISAGREE == 1.5
    assert _trace_verdict([]) == (1.0, False)
    assert _trace_verdict([0.4]) == (1.0, False)
    ratio, flag = _trace_verdict([0.4, 0.41, 0.39])
    assert not flag and ratio < 1.1
    ratio, flag = _trace_verdict([0.4, 0.41, 0.62])
    assert flag and ratio > 1.5


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
