"""Query registry: every implemented operator exposed as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
a DuckDB oracle SQL string (or None for genuinely non-SQL-expressible
ops, which the driver checks rows-only). ``__spark_entry__.py`` is a
thin adapter over this module. ``queries()`` and ``oracle_sql()`` return
the entries in registration order; ``tools/selfcheck.py`` checks every
one, so no consumer depends on that order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    if name in _QUERIES:
        raise ValueError(f"duplicate query name: {name}")
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order (a copy)."""
    _load_all()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """Every registered oracle, in registration order (a copy)."""
    _load_all()
    return dict(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Listed in registration order, which queries() and oracle_sql() keep.
    from .plans import (  # noqa: F401
        queries_core,
        queries_relational,
        queries_stats,
        queries_report,
        queries_llm,
        queries_forecast,
        queries_streaming,
        queries_extra,
        queries_curation,
        queries_datacleaning,
        queries_sql,
        queries_scale,
        queries_trend,
        queries_modern,
        queries_layout,
        queries_warehouse,
        queries_corpus,
        queries_dq,
        queries_eval,
        queries_mining,
    )

    _LOADED = True
