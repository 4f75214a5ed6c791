"""Query registry — the executable form of SURVEY.md §2.

Every operator in the inventory registers a `QuerySpec`: a Spark
callable `(spark, sf_dir) -> DataFrame` plus (when SQL-expressible)
the ANSI-SQL oracle string DuckDB runs on the same parquet tables.
`__spark_entry__.py` exposes the registry to the verify driver.

The reference's "query suite" (SURVEY.md §3.1 EP3) is a notebook of
SQLite/Mongo queries; here each suite entry is a lazily-built Catalyst
logical plan, so the optimizer — not hand-ordering — picks the
physical strategy.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL twin; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}

# operator modules that register queries on import
_OPERATOR_MODULES = (
    "relational",
    "joins",
    "cleaning",
    "windows",
    "scalar_fns",
    "streaming_batch",
    "dedup",
    "similarity",
    "text",
    "multimodal",
    "frontdoors",
    "stats",
    "tpch",
    "pipeline_ops",
    "scale",
    "semantic",
    "cdc",
    "layout",
    "pq",
    "curation",
    "sketches",
    "graph",
    "bpe",
    "geo",
)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a Spark query + its DuckDB oracle twin."""

    def deco(fn: SparkQuery) -> SparkQuery:
        prev = QUERIES.get(name)
        if prev is not None and prev.spark.__module__ != fn.__module__:
            # a silent overwrite once hid a new query behind an old
            # name (round 6: two q_funnel registrations — the verify
            # "pass" tested the wrong one); same-module re-registration
            # stays allowed for importlib.reload in tests
            raise ValueError(
                f"duplicate query name {name!r}: already registered by "
                f"{prev.spark.__module__}, re-registered by {fn.__module__}"
            )
        QUERIES[name] = QuerySpec(
            name=name, spark=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registration)."""
    root = __name__.rsplit(".", 2)[0]  # top-level package
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"{root}.operators.{mod}")
    return QUERIES
