"""Declarative data-quality expectations — the validation pass a
migration/ingestion platform runs before promoting a table (the
reference validates only operationally: existence probes + row counts,
SURVEY.md §5; this is the deequ-style generalization).

Each expectation compiles to a violation-count expression; the engine
groups them by evaluation strategy so a whole suite costs at most:

- ONE aggregate pass over the table for every row-level predicate
  (not_null / in_range / in_set / matches — conditional sums share the
  same scan and partial-aggregate),
- ONE count-distinct aggregate per `unique` constraint (its own shuffle
  by necessity),
- ONE left-anti probe per `foreign_key` (broadcast when the parent is a
  dimension).

That cost model is the point at 100 TB: N row-level expectations are
free beyond the first, and nothing materializes violating rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    kind: str
    column: str
    # kind-specific payload
    lo: float | None = None
    hi: float | None = None
    allowed: tuple = ()
    pattern: str | None = None
    parent: object = None          # DataFrame for foreign_key
    parent_key: str | None = None
    columns: tuple = ()            # composite key for unique_together

    def row_violation(self) -> Column | None:
        """Violation predicate for row-level kinds; None for the
        aggregate-strategy kinds (unique / foreign_key)."""
        c = F.col(self.column)
        if self.kind == "not_null":
            return c.isNull()
        if self.kind == "in_range":
            return c.isNull() | (c < F.lit(self.lo)) | (c > F.lit(self.hi))
        if self.kind == "in_set":
            return c.isNull() | ~c.isin(list(self.allowed))
        if self.kind == "matches":
            return c.isNull() | ~c.rlike(self.pattern)
        return None


def not_null(column: str) -> Expectation:
    return Expectation(f"not_null({column})", "not_null", column)


def in_range(column: str, lo: float, hi: float) -> Expectation:
    return Expectation(f"in_range({column},{lo},{hi})", "in_range", column, lo=lo, hi=hi)


def in_set(column: str, allowed) -> Expectation:
    return Expectation(
        f"in_set({column})", "in_set", column, allowed=tuple(allowed)
    )


def matches(column: str, pattern: str) -> Expectation:
    return Expectation(f"matches({column})", "matches", column, pattern=pattern)


def unique(column: str) -> Expectation:
    return Expectation(f"unique({column})", "unique", column)


def unique_together(columns) -> Expectation:
    """Composite-key uniqueness: no two rows share the same tuple of
    ``columns`` (NULL fields compare as values, like a struct DISTINCT).
    r15 — added to spell operator input contracts that plan rewrites
    rely on (e.g. the as-of single-scan form needs (user_id, ts)
    duplicate-free for its window order to be total)."""
    cols = tuple(columns)
    return Expectation(
        f"unique_together({','.join(cols)})",
        "unique_together",
        cols[0],
        columns=cols,
    )


def foreign_key(column: str, parent: DataFrame, parent_key: str) -> Expectation:
    return Expectation(
        f"foreign_key({column}->{parent_key})", "foreign_key", column,
        parent=parent, parent_key=parent_key,
    )


def evaluate(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Run the suite; returns one row per expectation:
    (constraint_name, kind, violations, total, passed) — deterministic order
    by constraint name is the caller's ORDER BY."""
    row_level = [e for e in expectations if e.row_violation() is not None]
    results: list[DataFrame] = []
    if row_level:
        aggs = [F.count(F.lit(1)).cast("bigint").alias("__total")]
        for i, e in enumerate(row_level):
            aggs.append(
                F.sum(F.when(e.row_violation(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"__v{i}")
            )
        one = df.agg(*aggs)
        stack = ", ".join(
            "'{}', '{}', __v{}".format(e.name.replace("'", ""), e.kind, i)
            for i, e in enumerate(row_level)
        )
        results.append(
            one.selectExpr(
                f"stack({len(row_level)}, {stack}) AS (constraint_name, kind, violations)",
                "__total AS total",
            )
        )
    for e in expectations:
        if e.kind == "unique_together":
            s = F.struct(*[F.col(c) for c in e.columns])
            results.append(
                df.agg(
                    F.count(F.lit(1)).cast("bigint").alias("total"),
                    F.countDistinct(s).cast("bigint").alias("__d"),
                ).select(
                    F.lit(e.name).alias("constraint_name"),
                    F.lit(e.kind).alias("kind"),
                    (F.col("total") - F.col("__d")).alias("violations"),
                    "total",
                )
            )
        elif e.kind == "unique":
            results.append(
                df.agg(
                    F.count(e.column).cast("bigint").alias("__n"),
                    F.countDistinct(e.column).cast("bigint").alias("__d"),
                    F.count(F.lit(1)).cast("bigint").alias("total"),
                ).select(
                    F.lit(e.name).alias("constraint_name"),
                    F.lit(e.kind).alias("kind"),
                    (F.col("__n") - F.col("__d")).alias("violations"),
                    "total",
                )
            )
        elif e.kind == "foreign_key":
            parent_keys = e.parent.select(
                F.col(e.parent_key).alias(e.column)
            ).distinct()
            orphans = (
                df.select(e.column)
                .filter(F.col(e.column).isNotNull())
                .join(F.broadcast(parent_keys), e.column, "left_anti")
            )
            # total stays lazy: a 1-row count aggregate cross-joined onto
            # the 1-row orphans aggregate — evaluate() triggers no action
            total_one = df.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
            results.append(
                orphans.agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
                .crossJoin(F.broadcast(total_one))
                .select(
                    F.lit(e.name).alias("constraint_name"),
                    F.lit(e.kind).alias("kind"),
                    "violations",
                    "total",
                )
            )
    if not results:
        # empty suite: an empty frame with the result schema, not a crash
        return df.sparkSession.createDataFrame(
            [],
            "constraint_name string, kind string, violations bigint, "
            "total bigint, passed boolean",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.select(
        "constraint_name", "kind", "violations", "total",
        (F.col("violations") == 0).alias("passed"),
    )
