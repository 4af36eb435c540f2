"""Central query registry: merges every operator module's QUERIES/ORACLES.

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract) and by the local parity tests / bench.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = []


def _load_modules():
    global _MODULES
    if _MODULES:
        return _MODULES
    from .operators import relational

    mods = [relational]
    for name in (
        "dedup",
        "similarity",
        "text",
        "multimodal",
        "timeseries",
        "sqlsurface",
        "sampling",
        "udfs",
        "pipeline",
        "acid",
        "quality",
        "retrieval",
        "dml",
        "interop",
        "mmexport",
    ):
        try:
            mods.append(
                __import__(
                    f"lakehouse_homeserver_spark.operators.{name}",
                    fromlist=[name],
                )
            )
        except ModuleNotFoundError as e:
            # Only tolerate the module itself being absent (optional
            # extension); an import bug INSIDE a present module must
            # raise, not silently drop its queries from the registry.
            if e.name != f"lakehouse_homeserver_spark.operators.{name}":
                raise
    _MODULES = mods
    return mods


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _load_modules():
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _load_modules():
        out.update(m.ORACLES)
    return out
