"""Declarative data-contract engine (mini expectations suite).

The reference validates METADATA against JSON schemas
(reference/scrapers/base.py validate -> pydatajson schema checks,
SURVEY V1-V3); production tables additionally need DATA-level
contracts — "this key is unique", "this rate lives in [0,1]", "this
enum only takes these values" — checked continuously, not assumed.
This module compiles a declarative expectation list into Spark
aggregates with ONE SCAN PER TABLE: every expectation on a table
becomes a conditional sum inside a single aggregate row, which then
unpivots into the long (table, column, check, n_violations) report.
At 100 TB the scan is the cost; N contracts must never mean N scans.

Checks:
- ``not_null``                 violations = rows with NULL
- ``unique``                   violations = n_rows - n_distinct
  (NULLs count toward non-uniqueness: a unique key column admits none)
- ``min_ge`` / ``max_le``      violations = non-NULL rows beyond the bound
- ``accepted_values``          violations = non-NULL rows outside the set
  (NULL acceptance is ``not_null``'s contract, stated separately)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    table: str
    column: str
    check: str  # not_null | unique | min_ge | max_le | accepted_values
    param: object = None

    @property
    def key(self) -> str:
        return f"{self.table}.{self.column}.{self.check}"


def _violation_expr(e: Expectation) -> F.Column:
    # Every conditional sum coalesces to 0: over an EMPTY table SUM is
    # NULL, which would surface as a NULL violation count — an empty
    # frame (e.g. a catalog whose distributions all failed) violates
    # nothing, it doesn't void the contract report.
    c = F.col(e.column)
    if e.check == "not_null":
        expr = F.sum(F.when(c.isNull(), 1).otherwise(0))
    elif e.check == "unique":
        expr = F.count("*") - F.countDistinct(c)
    elif e.check == "min_ge":
        expr = F.sum(F.when(c < F.lit(e.param), 1).otherwise(0))
    elif e.check == "max_le":
        expr = F.sum(F.when(c > F.lit(e.param), 1).otherwise(0))
    elif e.check == "accepted_values":
        expr = F.sum(
            F.when(c.isNotNull() & ~c.isin(*e.param), 1).otherwise(0)
        )
    else:
        raise ValueError(f"unknown expectation check: {e.check}")
    return F.coalesce(expr, F.lit(0))


def run_expectations(
    tables: dict[str, DataFrame],
    specs: list[Expectation],
    by: list[str] | None = None,
) -> DataFrame:
    """Evaluate ``specs`` with one aggregate scan per distinct table;
    returns the long report (table, column, check, n_rows,
    n_violations, passed).

    With ``by`` every table reports once per group of those columns,
    led by them; a group with no rows in a table reports nothing for
    it."""
    by_table: dict[str, list[Expectation]] = {}
    for e in specs:
        by_table.setdefault(e.table, []).append(e)
    keys = by or []
    out = None
    for tname, es in by_table.items():
        agg = tables[tname].groupBy(*keys).agg(
            F.count("*").cast("long").alias("n_rows"),
            *[
                _violation_expr(e).cast("long").alias(f"v{i}")
                for i, e in enumerate(es)
            ],
        )
        # each aggregate row fans out into |expectations| report rows
        # via a generator — the table was scanned exactly once
        rows = agg.select(
            *keys,
            "n_rows",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(e.table).alias("table_name"),
                            F.lit(e.column).alias("column_name"),
                            F.lit(e.check).alias("check"),
                            F.col(f"v{i}").alias("n_violations"),
                        )
                        for i, e in enumerate(es)
                    ]
                )
            ).alias("r"),
        ).select(
            *keys,
            F.col("r.table_name").alias("table_name"),
            F.col("r.column_name").alias("column_name"),
            F.col("r.check").alias("check"),
            "n_rows",
            F.col("r.n_violations").alias("n_violations"),
            F.when(F.col("r.n_violations") == 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("passed"),
        )
        out = rows if out is None else out.unionByName(rows)
    return out

