"""Model registry: dbt's ref/materialization semantics on Spark.

The reference's transform layer is dbt: models are SQL files, ``{{ ref(x) }}``
wires a dependency DAG, ``materialized: view`` recomputes and
``materialized: table`` persists (README.md:411-417; dbt_project.yml:1-5;
mart_financial_summary.sql:2). Here a model is a Python function
``(ctx) -> DataFrame``; ``ctx.ref(name)`` resolves an upstream model (or a
raw source table), the registry topo-sorts on the refs actually taken, and
materialization maps to:

- ``view``  -> ``createOrReplaceTempView`` (recompute-on-read; Catalyst
  inlines the view plan so pushdown/pruning cross the boundary)
- ``table`` -> Parquet write + re-register (``spark.sql`` over marts =
  the Metabase read path, SURVEY §3 entry point 3)

dbt's ``threads: 4`` (README.md:389) needs no analog: Spark's scheduler
parallelizes within each job, and view models cost nothing until read.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from finance_reporting_etl_spark.tables import _read_parquet


@dataclass
class Model:
    name: str
    fn: Callable[["ModelContext"], DataFrame]
    materialized: str = "view"  # 'view' | 'table'
    description: str = ""
    # hypertable-style layout for persisted marts: partitionBy these
    # columns on write so date/key-filtered reads prune whole partitions
    # (at 100 TB an unpartitioned mart forfeits partition pruning)
    partition_cols: tuple[str, ...] = ()


@dataclass
class ModelContext:
    """Execution context handed to each model function."""

    spark: SparkSession
    sources: dict[str, DataFrame]
    built: dict[str, DataFrame] = field(default_factory=dict)
    _registry: "ModelRegistry | None" = None
    _stack: tuple[str, ...] = ()

    def ref(self, name: str) -> DataFrame:
        """dbt ``{{ ref(...) }}``: resolve an upstream model or raw source."""
        if name in self.built:
            return self.built[name]
        if self._registry is not None and name in self._registry.models:
            if name in self._stack:
                cycle = " -> ".join((*self._stack, name))
                raise ValueError(f"model cycle: {cycle}")
            return self._registry._build(name, self)
        if name in self.sources:
            return self.sources[name]
        raise KeyError(f"unknown ref {name!r}: not a model or source table")

    # dbt also exposes source(); same resolution rules for raw tables.
    source = ref


class ModelRegistry:
    """Holds models; runs them in dependency order with materialization."""

    def __init__(self) -> None:
        self.models: dict[str, Model] = {}

    def model(
        self,
        name: str,
        materialized: str = "view",
        description: str = "",
        partition_cols: tuple[str, ...] = (),
    ) -> Callable[[Callable[[ModelContext], DataFrame]], Callable[[ModelContext], DataFrame]]:
        if materialized not in ("view", "table"):
            raise ValueError(f"materialized must be view|table, got {materialized!r}")

        def deco(fn: Callable[[ModelContext], DataFrame]) -> Callable[[ModelContext], DataFrame]:
            self.models[name] = Model(name, fn, materialized, description, tuple(partition_cols))
            return fn

        return deco

    def _build(self, name: str, ctx: ModelContext) -> DataFrame:
        model = self.models[name]
        child = ModelContext(
            spark=ctx.spark,
            sources=ctx.sources,
            built=ctx.built,
            _registry=self,
            _stack=(*ctx._stack, name),
        )
        df = model.fn(child)
        ctx.built[name] = df
        return df

    def run(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        warehouse_dir: str | None = None,
        select: list[str] | None = None,
    ) -> dict[str, DataFrame]:
        """``dbt run``: build every model (or ``select``), materialize each.

        Views register as temp views; tables write Parquet under
        ``warehouse_dir`` (when given) and re-register from storage, so
        downstream reads scan the persisted, column-pruned files exactly
        like Metabase querying the Postgres mart.
        """
        ctx = ModelContext(spark=spark, sources=sources, _registry=self)
        results: dict[str, DataFrame] = {}
        for name in select or list(self.models):
            df = ctx.ref(name)
            model = self.models[name]
            if model.materialized == "table" and warehouse_dir:
                path = os.path.join(warehouse_dir, name)
                writer = df.write.mode("overwrite")
                if model.partition_cols:
                    writer = writer.partitionBy(*model.partition_cols)
                writer.parquet(path)
                df = _read_parquet(spark, path)
                if model.partition_cols:
                    # partitionBy moves partition cols to the end of the
                    # read-back schema; restore the declared column order
                    # so persisted and in-memory marts are shape-identical
                    df = df.select(*ctx.built[name].columns)
                ctx.built[name] = df
            df.createOrReplaceTempView(name)
            results[name] = df
        return results
