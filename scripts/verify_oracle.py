#!/usr/bin/env python
"""Drive __spark_entry__.py end-to-end against the DuckDB oracle — the
repo's verify recipe as a committed script.

Always runs from a FRESH process with a vanilla session (no engine
confs pre-applied; the engine must self-configure via
ensure_session_conf) and chdirs to /tmp first: Python workers don't
inherit the repo on sys.path, so running from inside /root/repo would
mask the closure-pickling rule every mapInPandas entry point follows.

    python scripts/verify_oracle.py [query ...]    # subset by name
    DRIVE_SF_DIR=/tmp/sf1 \
    DRIVE_SKIP_ORACLE=q53_dedup_clusters,... \
      python scripts/verify_oracle.py              # other scales;
                                                   # rows-only names

Each result is compared with ``tests/oracle_utils.assert_frames_match``,
the comparator Tier-1's oracle-parity suite uses: same columns, same
row count, exactly equal values after sorting.

Exit 0 iff every compared query matches exactly."""
import os
import sys
import time

os.chdir("/tmp")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import duckdb
from pyspark.sql import SparkSession

from oracle_utils import assert_frames_match

SF_DIR = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.driver.memory", "8g")
    .appName("drive-driver")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

rows = e.entry(spark).collect()
assert len(rows) == 1 and rows[0]["total_commits"] > 0, rows
print("entry() OK:", rows[0].asDict())

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
    )

queries = e.queries()
oracles = e.oracle_sql()
only = sys.argv[1:]  # optional subset of query names
# names whose DuckDB oracle is intractable at large SF (recursive
# transitive-closure CTEs are O(V*component) — an oracle-formulation
# limit, not an engine one): run the Spark side, report rows-only.
skip_oracle = set(os.environ.get("DRIVE_SKIP_ORACLE", "").split(","))
fail = []
t0 = time.time()
for i, (name, fn) in enumerate(queries.items()):
    if only and name not in only:
        continue
    try:
        if name in skip_oracle:
            n = fn(spark, SF_DIR).count()
            print(f"[{i:3d}] {name}: rows-only {n} (oracle skipped)")
            continue
        sdf = fn(spark, SF_DIR).toPandas()
        if name not in oracles:
            print(f"[{i:3d}] {name}: rows-only {len(sdf)} (no oracle)")
            continue
        assert_frames_match(sdf, con.execute(oracles[name]).fetchdf(), name)
        print(f"[{i:3d}] {name}: OK ({len(sdf)} rows)")
    except Exception as ex:  # noqa: BLE001 - a mismatch is an AssertionError
        fail.append((name, repr(ex)[:300]))
        print(f"[{i:3d}] {name}: ERROR {repr(ex)[:200]}")
print(f"\n{time.time()-t0:.1f}s; failures: {len(fail)}")
for name, why in fail:
    print(" FAIL", name, why)
sys.exit(1 if fail else 0)
