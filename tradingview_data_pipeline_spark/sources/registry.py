"""Named-source registry (SURVEY S11; reference: pyc:SCREENER_URLS,
pyc:add_screener, pyc:list_available_screeners).

The reference keeps a dict of named screener URLs with add/list helpers.
The engine equivalent is a catalog of named datasets: each entry binds a
name to a loader (path + format + options, or an arbitrary builder
function) and can be materialized as a DataFrame or registered as a temp
view for SQL access. The serving layer resolves `/screeners/{name}`
through this registry.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class SourceSpec:
    name: str
    path: str | None = None
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    builder: Callable[[SparkSession], DataFrame] | None = None
    description: str = ""

    def load(self, spark: SparkSession) -> DataFrame:
        if self.builder is not None:
            return self.builder(spark)
        if self.path is None:
            raise ValueError(f"source {self.name!r} has neither path nor builder")
        reader = spark.read.format(self.format)
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.load(self.path)


class SourceRegistry:
    """add/list/load named sources; mirrors add_screener /
    list_available_screeners / fetch_screener_data."""

    def __init__(self) -> None:
        self._sources: dict[str, SourceSpec] = {}

    def add(self, spec: SourceSpec) -> None:
        if spec.name in self._sources:
            raise ValueError(f"source {spec.name!r} already registered")
        self._sources[spec.name] = spec

    def add_path(self, name: str, path: str, format: str = "parquet",
                 description: str = "", **options: str) -> None:
        self.add(SourceSpec(name=name, path=path, format=format,
                            options=dict(options), description=description))

    def list(self) -> list[dict[str, str]]:
        return [{"name": s.name, "format": s.format,
                 "description": s.description} for s in self._sources.values()]

    def load(self, spark: SparkSession, name: str) -> DataFrame:
        if name not in self._sources:
            raise KeyError(f"unknown source {name!r}; available: {sorted(self._sources)}")
        return self._sources[name].load(spark)

    def register_views(self, spark: SparkSession) -> None:
        """Expose every source as a temp view for spark.sql access."""
        for name in self._sources:
            self.load(spark, name).createOrReplaceTempView(name)

