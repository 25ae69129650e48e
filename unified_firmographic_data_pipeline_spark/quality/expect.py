"""``expect(df)`` — the dbt-test analogue as chainable DataFrame assertions.

Reference test taxonomy (SURVEY.md §5): ``not_null``, ``unique``,
``relationships`` (FK), ``accepted_values``, ``accepted_range``
(dbt_utils), plus singular violation-SELECT tests. Semantics preserved: each
check is a SELECT of violating rows; pass = 0 violations; ``run()`` raises
(gating downstream models, like dbt test gates the DAG — ``DAG:201``).

All checks of a suite count their violations in ONE plan (``_counts``): the
expression checks fold into a single aggregate over the frame, each
``unique``/``fk`` adds its own count, and the counts are unioned. So a suite
of N checks costs one action, not N — in ``run()``/``passes()`` and in
``report()`` alike, which is what makes the suite usable on 100 TB tables.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class QualityError(AssertionError):
    """One or more expectations failed; message lists each violation."""


@dataclass
class _Check:
    name: str
    # violation count: an expression over the base frame, OR (unique/fk) a
    # 1-row frame with BIGINT column `n` from a plan of its own
    agg: Column | None = None
    frame: DataFrame | None = None


def _n(violations: DataFrame) -> DataFrame:
    """The row count of ``violations`` as a 1-row frame with BIGINT ``n``."""
    return violations.agg(F.count("*").cast("long").alias("n"))


@dataclass
class Expectation:
    df: DataFrame
    checks: list[_Check] = field(default_factory=list)

    # -- generic tests ------------------------------------------------------
    def not_null(self, cols: Sequence[str]) -> "Expectation":
        for c in cols:
            self.checks.append(
                _Check(f"not_null({c})", agg=F.count(F.when(F.col(c).isNull(), 1)))
            )
        return self

    def unique(self, cols: Sequence[str]) -> "Expectation":
        """dbt ``unique``: GROUP BY col HAVING count(*) > 1 (SURVEY §2.H H2)."""
        for c in cols:
            dup = self.df.groupBy(c).count().filter(F.col("count") > 1)
            self.checks.append(_Check(f"unique({c})", frame=_n(dup)))
        return self

    def fk(self, key: str, dim: DataFrame, dim_key: str | None = None) -> "Expectation":
        """dbt ``relationships``: every fact key exists in the dimension
        (left-anti join count — SURVEY §2.C C2)."""
        orphans = (
            self.df.select(F.col(key)).where(F.col(key).isNotNull())
            .join(dim.select(F.col(dim_key or key).alias(key)), key, "left_anti")
        )
        self.checks.append(_Check(f"fk({key})", frame=_n(orphans)))
        return self

    def accepted(self, col: str, values: Sequence) -> "Expectation":
        cond = F.col(col).isNotNull() & ~F.col(col).isin(list(values))
        self.checks.append(_Check(f"accepted({col})", agg=F.count(F.when(cond, 1))))
        return self

    def in_range(self, col: str, lo=None, hi=None) -> "Expectation":
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(col) < lo)
        if hi is not None:
            cond = cond | (F.col(col) > hi)
        self.checks.append(_Check(f"in_range({col})", agg=F.count(F.when(cond, 1))))
        return self

    def custom(self, name: str, violation: Column) -> "Expectation":
        """Singular test: rows where ``violation`` holds are failures
        (e.g. ``profits_m > revenues_m`` —
        ``tests/test_fortune_profit_not_exceed_revenue.sql``)."""
        self.checks.append(_Check(name, agg=F.count(F.when(violation, 1))))
        return self

    # -- execution ----------------------------------------------------------
    def _counts(self) -> DataFrame | None:
        """ONE lazy plan with a row ``(i, n)`` per check: ``i`` is the check's
        index, ``n`` its violation count. The expression checks fold into a
        single aggregate pass over the base frame (melted via stack); each
        unique/fk count is unioned in (a cross join would add a broadcast
        job per 1-row side). None when no check is registered."""
        frames = []
        aggs = [(i, c.agg) for i, c in enumerate(self.checks) if c.agg is not None]
        if aggs:
            one = self.df.agg(*[a.cast("long").alias(f"c{i}") for i, a in aggs])
            pairs = ", ".join(f"{i}, c{i}" for i, _ in aggs)
            frames.append(one.select(F.expr(f"stack({len(aggs)}, {pairs}) AS (i, n)")))
        frames += [
            c.frame.select(F.lit(i).alias("i"), "n")
            for i, c in enumerate(self.checks)
            if c.frame is not None
        ]
        return functools.reduce(DataFrame.unionByName, frames) if frames else None

    def collect_failures(self) -> dict[str, int]:
        counts = self._counts()
        rows = sorted(counts.collect()) if counts is not None else []
        return {self.checks[i].name: n for i, n in rows if n}

    def run(self) -> None:
        failures = self.collect_failures()
        if failures:
            msg = "; ".join(f"{k}: {v} violation(s)" for k, v in failures.items())
            raise QualityError(msg)

    def passes(self) -> bool:
        return not self.collect_failures()

    def report(self, table: str) -> DataFrame:
        """The dbt-`test`-run artifact as ONE lazy DataFrame: (table,
        test, n_violations, passed) with a row per registered check, read
        from the same plan as ``collect_failures()``."""
        counts = self._counts()
        if counts is None:
            # no registered checks: an empty report with the contract schema
            return self.df.sparkSession.createDataFrame(
                [], "table string, test string, n_violations long, passed boolean"
            )
        names = F.array(*[F.lit(c.name) for c in self.checks])
        return counts.select(
            F.lit(table).alias("table"),
            F.element_at(names, F.col("i") + 1).alias("test"),
            F.col("n").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )


def expect(df: DataFrame) -> Expectation:
    return Expectation(df)
