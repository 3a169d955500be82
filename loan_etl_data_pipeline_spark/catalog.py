"""The query catalog: one registry for every query and its DuckDB oracle.

A query module registers each query function with ``@query``, under the
function's ``__name__``, and each oracle with ``oracle(name, sql)`` next
to it. Registering a name twice raises at import, so a new query or
oracle can never shadow an existing one. This module does no Spark work;
the ordered public views are ``queries.all_queries()`` and
``queries.all_oracles()``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from collections.abc import Callable

    from pyspark.sql import DataFrame, SparkSession

    QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _claim(table: dict, kind: str, name: str, value) -> None:
    if name in table:
        raise ValueError(f"{kind} {name!r} is already registered")
    table[name] = value


def query(fn: QueryFn) -> QueryFn:
    """Register ``fn`` as the query named ``fn.__name__``."""
    _claim(_QUERIES, "query", fn.__name__, fn)
    return fn


def oracle(name: str, sql: str) -> None:
    """Register the DuckDB SQL that certifies the query ``name``."""
    _claim(_ORACLES, "oracle", name, sql)


def oracle_sql(name: str) -> str:
    """The registered oracle of ``name``, for oracles built from another's."""
    return _ORACLES[name]


def registered_queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def registered_oracles() -> dict[str, str]:
    return dict(_ORACLES)
