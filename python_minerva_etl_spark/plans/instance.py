"""Instance definitions — Minerva's YAML model as dataclasses, and the
aggregation compiler that replaces its SQL-generation.

Reference semantics (minerva/instance/__init__.py + commands/
aggregation.py [U]): an instance directory declares trend stores
(parts → trends with ``data_type``, ``time_aggregation``,
``entity_aggregation``), relations, and materializations;
``minerva aggregation create`` generates the SQL that rolls a store up
a granularity chain or an entity hierarchy.

Here the same declarations compile to ``Column`` expressions —
table-driven, no string codegen, Catalyst-optimizable.  Every
aggregate store automatically carries ``samples`` so AVG re-aggregates
exactly (the reference's core invariant).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..granularity import trunc_col

# time/entity aggregation function table (reference: SUM/AVG/MIN/MAX/
# COUNT; AVG re-aggregates as SUM(sum)/SUM(samples))
_AGG_FNS = {
    "sum": lambda c: F.sum(c),
    "max": lambda c: F.max(c),
    "min": lambda c: F.min(c),
    "count": lambda c: F.count(c),
    "avg_sum": lambda c: F.sum(c),  # AVG partial: keep the sum + samples
}


@dataclass(frozen=True)
class Trend:
    name: str
    data_type: str = "double"
    time_aggregation: str = "sum"
    entity_aggregation: str = "sum"


@dataclass(frozen=True)
class TrendStorePart:
    name: str
    trends: tuple[Trend, ...]


@dataclass(frozen=True)
class TrendStore:
    data_source: str
    entity_type: str
    granularity: str
    parts: tuple[TrendStorePart, ...]
    partition_size: str = "1d"  # storage partition granularity


@dataclass(frozen=True)
class Relation:
    """Directed entity mapping (source→target) for hierarchy rollups."""

    name: str
    source_col: str
    target_col: str


def _agg_col(fn_name: str, trend: Trend) -> Column:
    fn = _AGG_FNS[fn_name.lower().replace("avg", "avg_sum")]
    c = F.col(trend.name)
    if fn_name.lower() in ("sum", "avg"):
        # exact, re-aggregatable partials (determinism.py rationale)
        c = c.cast("decimal(28,6)")
    return fn(c).alias(trend.name)


def aggregate_time(df: DataFrame, part: TrendStorePart,
                   entity_col: str, ts_col: str,
                   target_granularity: str) -> DataFrame:
    """OP-AGG-TIME compiled from the part declaration: one hash-agg
    shuffle on (entity, bucket); ``samples`` always added."""
    aggs = [_agg_col(t.time_aggregation, t) for t in part.trends]
    aggs.append(F.count("*").alias("samples"))
    return (df.groupBy(F.col(entity_col),
                       trunc_col(F.col(ts_col), target_granularity)
                       .alias(ts_col))
            .agg(*aggs))


def aggregate_entity(df: DataFrame, part: TrendStorePart,
                     relation_df: DataFrame, relation: Relation,
                     entity_col: str, ts_col: str) -> DataFrame:
    """OP-AGG-ENTITY compiled from the declaration: broadcast the
    relation (entity dims are small), re-key to the target, one
    hash-agg shuffle on (target, bucket).

    ``samples`` follows the re-aggregation invariant: when the input
    already carries a ``samples`` column (it is a time-aggregated
    partial), samples SUM — so AVG trends stored as (sum, samples)
    stay exact through the entity stage; over raw rows it counts."""
    aggs = [_agg_col(t.entity_aggregation, t) for t in part.trends]
    if "samples" in df.columns:
        aggs.append(F.sum("samples").cast("bigint").alias("samples"))
    else:
        aggs.append(F.count("*").alias("samples"))
    joined = df.join(
        F.broadcast(relation_df),
        df[entity_col] == relation_df[relation.source_col])
    return (joined.groupBy(F.col(relation.target_col).alias(entity_col),
                           F.col(ts_col))
            .agg(*aggs))


def reaggregate_avg(partials: DataFrame, value_col: str,
                    entity_col: str, ts_col: str,
                    target_granularity: str) -> DataFrame:
    """AVG over a coarser bucket from (sum, samples) partials —
    SUM(sum)/SUM(samples), exact because partials are decimal."""
    return (
        partials.groupBy(F.col(entity_col),
                         trunc_col(F.col(ts_col), target_granularity)
                         .alias(ts_col))
        .agg((F.sum(value_col).cast("double")
              / F.sum("samples").cast("double")).alias(f"avg_{value_col}"),
             F.sum("samples").cast("bigint").alias("samples"))
    )
