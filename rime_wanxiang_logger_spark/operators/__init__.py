"""Operator registry: the full SURVEY §2 inventory + LLM-pipeline
extensions, as (query, oracle-SQL) pairs keyed by query name.

Each module in ``_MODULES`` defines a ``QUERIES`` dict of
``(spark, sf_dir) -> DataFrame`` functions and an ``ORACLE`` dict of
DuckDB SQL. Invariants (tests/test_oracle_parity.py, tests/test_registry.py):
query names are unique across modules, every query has an oracle, and
both dicts iterate in ``_MODULES`` order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    advanced, aggregates, curation, dedup, extensions, fuzzy, joins,
    maintenance, mining, misses, mixture, multimodal, pipeline, policy,
    quality, rime, scalars, scans, similarity, textstats, timeseries,
    tpch_extra, windows,
)

_MODULES = [
    scans, misses, aggregates, windows, scalars, joins, extensions, rime,
    dedup, similarity, textstats, multimodal, advanced, pipeline, curation,
    timeseries, quality, mining, maintenance, fuzzy, mixture, policy,
    tpch_extra,
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v for m in _MODULES for k, v in m.QUERIES.items()}


def all_oracles() -> dict[str, str]:
    return {
        k: " ".join(v.split()) for m in _MODULES for k, v in m.ORACLE.items()
    }
