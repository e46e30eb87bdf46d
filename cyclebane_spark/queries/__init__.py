"""Named query registry — the engine's operator coverage surface.

Every operator from SURVEY.md §2 (and the north-star extensions) registers a
named query here: a ``(spark, sf_dir) -> DataFrame`` callable plus, when the
semantics are SQL-expressible, an equivalent ANSI-SQL oracle that DuckDB runs
on the same parquet tables. ``__spark_entry__.py`` re-exports this registry to
the driver's correctness gate.

Determinism rules for oracle parity (driver hash-compares values):

- alias every computed column identically in Spark and SQL;
- aggregate doubles through ``decimal`` (exact, order-independent) and cast
  the result back to double — see :func:`dsum` — so shuffle/summation order
  can never flip a low bit;
- any top-k / window rank orders by a unique tiebreaker key.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, 'Query'] = {}


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for the DuckDB oracle; None = rows-only check
    headline: bool = False  # include in bench.py


def register(
    name: str, oracle: str | None = None, headline: bool = False
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f'duplicate query name {name!r}')
        _REGISTRY[name] = Query(name, fn, oracle, headline)
        return fn

    return deco


_MODULES = (
    'relational',
    'relational2',
    'relational3',
    'graph_algebra',
    'text',
    'dedup',
    'similarity',
    'events',
    'streaming_live',
    'multimodal_q',
)


def _load() -> None:
    for mod in _MODULES:
        importlib.import_module(f'{__name__}.{mod}')


def registry() -> dict[str, Query]:
    """Every registered query, in registration order."""
    _load()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in registry().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in registry().values() if q.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in registry().values() if q.headline}
