"""Query registry: the single source of truth behind ``__spark_entry__.py``.

Each QuerySpec pairs a Spark DataFrame builder with its DuckDB oracle SQL
(None for ops not expressible in plain SQL → driver's rows-only check).

Cross-engine hash-stability rules (the driver sorts columns by name and
hash-compares values, so BOTH sides must produce identical values AND
column names):
- alias every computed column identically in Spark and SQL;
- arrays → string-join them (``array_join`` ⇔ ``array_to_string``);
- round floating aggregates (sum→2dp, avg/ratios→4dp) on both sides;
- match integer widths explicitly (Spark ``length``/``size``/rank are INT,
  DuckDB's are BIGINT → cast one side);
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all default.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mapreduce_paradigm_spark import lifetime

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    description: str = ""
    bench: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        _REGISTRY[name] = QuerySpec(
            name=name,
            # every builder runs in its own cache scope: the caches it and
            # the operators it calls make live as long as the plan it returns
            builder=lifetime.scoped(fn),
            oracle=oracle.strip() if oracle else None,
            description=description,
            bench=bench,
            tags=tags,
        )
        return fn

    return wrap


def all_specs() -> dict[str, QuerySpec]:
    """Import all query modules (side-effect registration) and return the map."""
    import mapreduce_paradigm_spark.queries  # noqa: F401

    return dict(_REGISTRY)
