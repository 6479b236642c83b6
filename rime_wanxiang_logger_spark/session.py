"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N], one JVM);
every setting is also the right *shape* for a real cluster. Each conf
set here changes a Spark default (tests/test_plans.py checks it), so
Spark's own defaults carry the rest:

- AQE is on by default: runtime shuffle-partition coalescing,
  skew-join splitting and join-strategy switching — the knobs that
  keep a 1000-executor plan healthy without hand-tuning per query.
- ``spark.sql.shuffle.partitions`` ≈ cores locally; on a cluster AQE
  coalesces from a high initial value, so the static number matters less.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive/UTC) and are deployment-independent.
- ``spark.sql.legacy.parquet.nanosAsLong``: the driver's ``events``
  table stores TIMESTAMP(NANOS) which Spark's vectorized parquet reader
  rejects; we read nanos as long and convert in the source layer
  (sources/readers.py) — a reader shim, not a data rewrite.
- ``spark.sql.codegen.cache.maxEntries=4096``: Spark keeps compiled
  Janino classes in one JVM-wide cache, sized once, when the JVM first
  generates code. Its default of 100 entries (4 Guava segments of 25)
  is smaller than one pass of the report chain or the curation chain
  (~115 classes each), so every recurring pass evicted in a cycle and
  recompiled ~100 classes, each then running as fresh, un-JITted code. The full 122-query
  registry generates ~1730 distinct classes at sf0.01; 4096 (1024 per
  segment) holds that with room for larger plans. Bound: the classes
  live in metaspace, ~217 MB with the whole registry cached against
  ~204 MB at 100 entries. It is a static conf: only ``get_spark`` can
  set it, and only if no session in the JVM has generated code yet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


#: Runtime confs that both ``get_spark`` and ``ensure_session_conf``
#: set. Each also sets ``spark.sql.shuffle.partitions`` to its own width.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Align whole-stage-codegen demotion with HotSpot's JIT ceiling.
    # Spark's default (65535) only guards Janino's hard limit; HotSpot
    # refuses to JIT any method over 8000 bytecode bytes
    # (-XX:DontCompileHugeMethods, on by default), so a WSCG subtree
    # whose processNext() lands in 8–64 KB compiles fine and then runs
    # INTERPRETED forever. The engine's unrolled EMBED_DIM=64 vector
    # expressions (q66 rule — _dot/_norm, quantization, centroid
    # means) produce exactly such methods: q44's sf20 candidate
    # scoring burned 11,229 CPU-s interpreted (~100 µs/row) and
    # dropped ~20× once compiled. At 8000 Spark demotes those subtrees
    # to per-operator codegen, where single-expression projections
    # stay under the limit and JIT normally — measured 2.6× on q44 at
    # sf5 (80.5 s → 31.1 s). Cluster note: the same ceiling applies to
    # every executor JVM, so this is a conf fix, not a local-mode hack.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def _builder_conf(n: int) -> dict[str, str]:
    """Every conf ``get_spark`` sets on a ``local[n]`` builder."""
    return {
        **_RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        # saveAsTable target for bucketed-layout tests (sources/layout.py);
        # keep it out of the repo tree.
        "spark.sql.warehouse.dir": "/tmp/rime_spark_warehouse",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # JVM-wide generated-class cache (static, fixed at the first
        # codegen): ~1730 distinct classes for the 122-query registry at
        # sf0.01, so Spark's 100 entries recompile every recurring query
        "spark.sql.codegen.cache.maxEntries": "4096",
    }


def get_spark(
    app_name: str = "rime_wanxiang_logger_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    n = cores or default_parallelism()
    builder = SparkSession.builder.master(f"local[{n}]").appName(app_name)
    for k, v in {**_builder_conf(n), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine conf to an externally created
    session (the driver harness builds its own SparkSession).

    Static confs cannot follow: Spark rejects a runtime set of them. So
    a session that ``get_spark`` did not build keeps Spark's 100-entry
    generated-class cache (``spark.sql.codegen.cache.maxEntries``, see
    the module docstring), and recurring queries there recompile their
    classes. That cache is JVM-wide and sized at the JVM's first codegen,
    so no later call can resize it; the builder is the only place."""
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    # Stateful streaming disables AQE, so the static setting matters:
    # default 200 over-parallelizes local mode badly.
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    return spark
