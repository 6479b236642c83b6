#!/usr/bin/env python
"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"queries": {...}, "metric": "...", "value": N, "unit": "sec", "sf": ...}

Each query runs through perfbench's tracer (``perfbench/run.py``
``Tracer.run_step``) after a session warm-up: build (``fn(spark,
sf_dir)``), plan (``tracing.plan_stats``), then a noop write (full
compute of every output column, no driver collect). Its time is
``build_s + exec_s``, so the planning call made for the record stays
outside it; ``bench_full.json`` keeps every layer, and the drains' stream
totals from ``tracing.DrainListener`` and their micro-batch job counts.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run as perfbench  # noqa: E402

from rime_wanxiang_logger_spark.operators import all_queries  # noqa: E402
from rime_wanxiang_logger_spark.operators._stage_cache import (  # noqa: E402
    clear as clear_stage_pins,
    recording,
    sharing,
)
from rime_wanxiang_logger_spark.session import get_spark  # noqa: E402


def scale(sf_dir: str) -> float | None:
    """The scale factor an ``sf<number>`` directory names, else None."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        return None


def drains(registry: dict) -> set[str]:
    """The queries that run a stream: each calls ``twin.drain`` once."""
    return {n for n, fn in registry.items()
            if re.search(r"\bdrain\(", inspect.getsource(fn))}


def record(tracer, label: str, name: str, fn, sf_dir: str) -> dict:
    """One timed run of query ``name`` through ``tracer.run_step``: its
    time ``s`` (build + exec), layers, and the Spark jobs launched under
    the step's build and exec job groups. A drain also carries the
    ``streaming.*`` totals of its micro-batches, and ``stream_jobs``:
    micro-batch jobs run under the stream's ``runId`` job group, not the
    step's, so its build_jobs leave them out."""
    drain = name in tracer.drains
    if drain:
        tracer.listener.progress.clear()
    rec: dict[str, float] = defaultdict(float)
    tracer.run_step(label, name, lambda spark: fn(spark, sf_dir), rec)
    jobs = tracer.spark.sparkContext.statusTracker().getJobIdsForGroup
    build_group, exec_group = (group for group, _, _ in tracer.spans[-2:])
    out = {
        **{k: round(rec[k], 4) for k in ("build_s", "plan_s", "exec_s")},
        "build_jobs": len(jobs(build_group)),
        "exec_jobs": len(jobs(exec_group)),
        "exchanges": int(rec["exchanges"]),
        "python_nodes": int(rec["python_nodes"]),
    }
    out["s"] = round(out["build_s"] + out["exec_s"], 4)
    if drain:
        tracer.listener.settle()
        runs = {p["runId"] for p in tracer.listener.progress}
        out["stream_jobs"] = sum(len(jobs(run)) for run in runs)
        out.update({k: round(v, 4) for k, v in tracer.listener.totals().items()})
    return out


def best_of_2(tracer, label: str, registry: dict, names, sf_dir: str):
    """({name: record of its faster pass}, names whose runs read a stage
    pin), over two passes of ``names`` in order. A pass's pin reads
    (aux: model-memo reads aside) sit in its record as consumed_stages."""
    best: dict[str, dict] = {}
    consumers: set[str] = set()
    for pass_no in (1, 2):
        for name in names:
            reads: list[str] = []
            with recording(reads):
                rec = record(tracer, f"{label}{pass_no}", name, registry[name], sf_dir)
            pins = sorted({r for r in reads if not r.startswith("aux:")})
            if pins:
                consumers.add(name)
                rec["consumed_stages"] = pins
            if name not in best or rec["s"] < best[name]["s"]:
                best[name] = rec
    return best, consumers


def _write(name: str, record: dict) -> None:
    with open(os.path.join(ROOT, name), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    loadavg_before = list(os.getloadavg())
    spark = get_spark("rime-wanxiang-bench")

    # Warm up the JVM / parquet footer caches with an untimed scan of
    # every table, so per-query timings measure plan execution rather
    # than whichever query alphabetically touches a file first.
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        spark.read.parquet(p).count()

    # Warm the Python worker pool too: workers fork lazily on the first
    # Arrow/pandas stage, one per core, and would otherwise be billed to
    # whichever query hits mapInPandas first.
    width = spark.sparkContext.defaultParallelism
    spark.range(0, 2 * width, 1, width).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    registry = all_queries()
    tracer = perfbench.Tracer(spark, drains(registry))
    # Stage sharing ON (operators/_stage_cache.py), as the driver runs:
    # providers rebuild every pass, so their timings stay the plan cost,
    # while consumers read the session's pinned stage outputs. The
    # consumers are then re-timed with sharing OFF for their standalone
    # cost (bench_nosharing.json), so a stage-cache regression cannot
    # hide inside the total. The reference job (perfbench's host-speed
    # reading) runs after each half; times are not scaled by it.
    with sharing():
        timings, consumers = best_of_2(tracer, "", registry, registry, sf_dir)
        reference = [round(perfbench.reference_s(spark), 4)]
    clear_stage_pins()
    nosharing, _ = best_of_2(tracer, "nosharing", registry, sorted(consumers), sf_dir)
    reference.append(round(perfbench.reference_s(spark), 4))
    spark.stop()

    sf = scale(sf_dir)
    total = round(sum(r["s"] for r in timings.values()), 4)
    _write("bench_nosharing.json", {
        "stage_sharing": False,
        "note": "standalone cost of stage-consuming queries; "
                "bench_full.json is the band metric",
        "queries": nosharing,
        "sf": sf,
    })
    _write("bench_full.json", {
        "metric": "sum_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "stage_sharing": True,
        # per query, its faster pass: s = build_s + exec_s
        "queries": timings,
        "sf": sf,
        # perfbench.reference_s after the timed passes and after the
        # nosharing passes: a host-speed stamp, not a scale factor
        "reference_s": reference,
        "loadavg_before": [round(x, 2) for x in loadavg_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    })
    # The driver keeps only a ~2 KB tail of stdout, so the line uses
    # short keys ("q25"; the full name only on a prefix collision) at
    # 2 dp, with the summary fields last; bench_full.json has the rest.
    prefixes = [name.split("_", 1)[0] for name in timings]
    short = {
        key if prefixes.count(key) == 1 else name: round(rec["s"], 2)
        for (name, rec), key in zip(timings.items(), prefixes)
    }
    print(
        json.dumps(
            {
                "queries": short,
                "metric": "sum_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf,
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
