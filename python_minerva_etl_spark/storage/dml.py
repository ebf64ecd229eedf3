"""Row-level DML planning shared by the Delta and Iceberg writers.

Both formats apply UPDATE and MERGE merge-on-read: the rows a
statement changes are masked by position in their old data files, and
their new images land in new files.  This module decides what
changes, once for both formats: the UPDATE ``SET`` projection, the
MERGE clauses, the ambiguity check and the SQL truth of a condition.
How positions are masked, files staged and commits made stays with
each format (``delta.py``, ``iceberg_write.py``).

Every clause is checked before the planner's first Spark job, so a
refused statement leaves no file behind.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def is_true(cond: Column) -> Column:
    """TRUE where ``cond`` is TRUE, FALSE where it is FALSE or NULL: a
    MERGE clause condition, a replaceWhere predicate and a CHECK
    constraint all count NULL as not satisfied (plain ``filter(c)``
    and ``filter(~c)`` would both drop a NULL row)."""
    return cond.eqNullSafe(F.lit(True))


def _column(e) -> Column:
    return F.expr(e) if isinstance(e, str) else e


def set_projection(schema: T.StructType, assignments: dict, what: str,
                   qualifier: str = "") -> list[Column]:
    """The UPDATE ``SET`` projection: one column per table field, in
    table order.  ``assignments`` maps a column to a SQL string or
    Column evaluated against the old row, cast to the column's type;
    an unlisted column keeps its old value (``qualifier`` + name).
    Refuses an assignment to a column the table lacks."""
    unknown = sorted(set(assignments) - {f.name for f in schema.fields})
    if unknown:
        raise ValueError(f"{what} references unknown columns {unknown}")
    exprs = {c: _column(e) for c, e in assignments.items()}
    return [(exprs[f.name].cast(f.dataType) if f.name in exprs
             else F.col(f"{qualifier}`{f.name}`")).alias(f.name)
            for f in schema.fields]


def table_projection(df: DataFrame, schema: T.StructType,
                     what: str) -> DataFrame:
    """``df``'s rows as table rows: every table column by name, cast
    to its type, in table order.  Refuses a frame that lacks one."""
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"{what} lacks table columns {missing}")
    return df.select(*[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
                       for f in schema.fields])


@dataclass(frozen=True)
class MergePlan:
    """What a MERGE changes, as lazy frames over one persisted join.
    A frame is None when no clause produces it.

    - ``positions``: the target rows to mask, as the format's two
      position columns;
    - ``updated``: the update clause's new row images;
    - ``preimage``: the target rows the update rewrites;
    - ``deleted``: the target rows the delete clause removes;
    - ``inserted``: the insert clause's new rows.

    All but ``positions`` are in the table schema."""
    positions: DataFrame | None
    updated: DataFrame | None
    preimage: DataFrame | None
    deleted: DataFrame | None
    inserted: DataFrame | None

    @property
    def new_rows(self) -> DataFrame | None:
        """The rows to write as new data files."""
        rows = [df for df in (self.updated, self.inserted) if df is not None]
        return functools.reduce(DataFrame.unionByName, rows) if rows else None


@contextmanager
def plan_merge(target: DataFrame, source: DataFrame, on,
               schema: T.StructType, pos_cols: tuple[str, str],
               when_matched_update: dict | None,
               when_matched_delete,
               when_not_matched_insert) -> Iterator[MergePlan]:
    """MERGE INTO ``target`` USING ``source`` ON ``on`` (a SQL string
    or Column over the aliases ``t`` = target, ``s`` = source —
    qualify ambiguous names).  ``target`` is the table's live rows in
    ``schema`` plus the format's position columns ``pos_cols``.

    Clauses:

    - ``when_matched_update``: {target column: expression over t/s}
      rewrites every matched target row.
    - ``when_matched_delete``: a condition over t/s (or True for
      unconditional); matched rows where it is TRUE are deleted, and
      rows where it is FALSE or NULL stay for the update clause.  An
      unconditional delete together with an update is refused.
    - ``when_not_matched_insert``: True inserts source rows as they
      are (the source must carry every table column), a dict maps
      {target column: expression over s} with unlisted columns null,
      False/None disables inserts.

    Multiple source rows matching one target row make the matched
    clauses ambiguous and raise, found with one aggregation over the
    match pairs.  The clauses are checked before that first Spark
    job.  The join stays persisted while the ``with`` block runs."""
    if when_matched_delete is True and when_matched_update is not None:
        raise ValueError(
            "unconditional WHEN MATCHED DELETE together with an update "
            "clause leaves no rows to update — give the delete a "
            "condition")
    update = (None if when_matched_update is None
              else set_projection(schema, when_matched_update,
                                  "MERGE update", "t."))
    cond = _column(on)
    tgt, src = target.alias("t"), source.alias("s")
    inserted = None
    if when_not_matched_insert:
        not_matched = src.join(tgt, cond, "left_anti")
        if when_not_matched_insert is True:
            inserted = table_projection(not_matched, schema,
                                        "MERGE insert: source")
        else:
            nulls = dict.fromkeys((f.name for f in schema.fields),
                                  F.lit(None))
            inserted = not_matched.select(*set_projection(
                schema, {**nulls, **when_not_matched_insert},
                "MERGE insert"))
    if when_matched_update is None and when_matched_delete is None:
        yield MergePlan(None, None, None, None, inserted)
        return

    def t_image(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(f"t.`{f.name}`").alias(f.name)
                           for f in schema.fields])

    matched = tgt.join(src, cond, "inner").persist()
    try:
        dcond = is_true(F.lit(False) if when_matched_delete is None
                        else F.lit(True) if when_matched_delete is True
                        else _column(when_matched_delete))
        kept = matched.filter(~dcond)
        plan = MergePlan(
            positions=(matched if update is not None
                       else matched.filter(dcond)).select(
                *[F.col(f"t.`{c}`").alias(c) for c in pos_cols]),
            updated=None if update is None else kept.select(*update),
            preimage=None if update is None else t_image(kept),
            deleted=(None if when_matched_delete is None
                     else t_image(matched.filter(dcond))),
            inserted=inserted)
        if (matched.groupBy(*[F.col(f"t.`{c}`") for c in pos_cols])
                .count().filter(F.col("count") > 1).limit(1).count()):
            raise ValueError(
                "MERGE: multiple source rows match the same target row "
                "— the matched clauses are ambiguous (dedupe the source "
                "on the join key)")
        yield plan
    finally:
        matched.unpersist()
