"""Declarative data-quality constraint checking (dbt-test /
Great-Expectations shape) over DataFrames.

A 100 TB ingest needs its invariants checked IN the engine, in one
pass, not by eyeballing samples: null-ness, ranges, set membership,
key uniqueness, referential integrity.  Each rule compiles to a
Column predicate or a small aggregate; the report is one row per rule
with violation counts, so the output is bounded by the rule list no
matter the input size.

Scale shape: all row-level rules evaluate in a SINGLE scan (one
aggregate of conditional sums — map-side partial, no shuffle of
violating rows); ``unique`` adds one partial-merged count per key set;
``foreign_key`` adds one broadcast anti-join per referenced dim.
Violating-row *extraction* (for quarantine) is a separate filter the
caller composes, so the audit itself never materialises bad rows.

No reference analogue (dask-ms validates shapes/dtypes at the array
layer only, SURVEY §1.2).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["not_null", "in_range", "accepted_values", "unique",
           "foreign_key", "expression", "constraint_audit"]


def not_null(col: str) -> dict:
    return {"rule": f"not_null({col})", "kind": "row",
            "pred": F.col(col).isNotNull()}


def in_range(col: str, lo, hi) -> dict:
    """Inclusive bounds; NULL passes (pair with not_null to forbid)."""
    c = F.col(col)
    return {"rule": f"in_range({col},{lo},{hi})", "kind": "row",
            "pred": c.isNull() | ((c >= lo) & (c <= hi))}


def accepted_values(col: str, values: Sequence) -> dict:
    c = F.col(col)
    vals = ",".join(str(v) for v in values)
    return {"rule": f"accepted_values({col},[{vals}])", "kind": "row",
            "pred": c.isNull() | c.isin(list(values))}


def expression(name: str, pred) -> dict:
    """Arbitrary row predicate (a Column) under a report name."""
    return {"rule": name, "kind": "row", "pred": pred}


def unique(cols: str | Sequence[str]) -> dict:
    cols = [cols] if isinstance(cols, str) else list(cols)
    return {"rule": f"unique({','.join(cols)})", "kind": "unique",
            "cols": cols}


def foreign_key(col: str, dim: DataFrame, dim_col: str) -> dict:
    return {"rule": f"foreign_key({col}->{dim_col})", "kind": "fk",
            "col": col, "dim": dim, "dim_col": dim_col}


def constraint_audit(df: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Evaluate ``rules`` and return one row per rule:
    ``(rule, n_checked, n_violations, passed)``.

    Row rules AND foreign keys share ONE scan of the fact table —
    each FK attaches as a broadcast existence flag (distinct dim
    keys, so the left join is 1:1) and its misses are counted in the
    same aggregate as the row predicates; ``unique`` needs its own
    key-grouped pass.
    Deterministic: counts only.
    """
    spark = df.sparkSession
    reports = []

    row_rules = [r for r in rules if r["kind"] == "row"]
    fk_rules = [r for r in rules if r["kind"] == "fk"]
    uniq_rules = [r for r in rules if r["kind"] == "unique"]

    # r12 optimization: ONE driver action for the whole audit — the
    # row/fk scan-aggregate and every unique-rule aggregate are all
    # 1-row frames, so they cross-join into a single collected row
    # instead of one eager .first() per pass (one job, one
    # scheduling round; the subplans are unchanged).
    legs: list[DataFrame] = []
    if row_rules or fk_rules:
        base = df
        for i, r in enumerate(fk_rules):
            dim = F.broadcast(
                r["dim"].select(F.col(r["dim_col"]).alias(f"__k{i}"))
                .distinct().withColumn(f"__fk{i}", F.lit(True)))
            base = base.join(dim,
                             F.col(r["col"]) == F.col(f"__k{i}"),
                             "left")
        aggs = [F.sum(F.when(~r["pred"], 1).otherwise(0))
                .cast("long").alias(f"v{i}")
                for i, r in enumerate(row_rules)]
        aggs += [F.sum(F.when(F.col(r["col"]).isNotNull()
                              & F.col(f"__fk{i}").isNull(), 1)
                       .otherwise(0)).cast("long").alias(f"f{i}")
                 for i, r in enumerate(fk_rules)]
        legs.append(base.agg(F.count(F.lit(1)).cast("long").alias("n"),
                             *aggs))
    for u, r in enumerate(uniq_rules):
        grp = (df.groupBy(*r["cols"])
               .agg(F.count(F.lit(1)).alias("c")))
        legs.append(grp.agg(
            F.sum("c").cast("long").alias(f"u{u}_n"),
            F.sum(F.when(F.col("c") > 1, F.col("c"))
                  .otherwise(0)).cast("long").alias(f"u{u}_v")))

    counted = None
    if legs:
        joined = legs[0]
        for leg in legs[1:]:
            joined = joined.crossJoin(leg)
        counted = joined.first()

    if row_rules or fk_rules:
        for i, r in enumerate(row_rules):
            reports.append((r["rule"], counted["n"],
                            counted[f"v{i}"] or 0))
        for i, r in enumerate(fk_rules):
            reports.append((r["rule"], counted["n"],
                            counted[f"f{i}"] or 0))
    for u, r in enumerate(uniq_rules):
        reports.append((r["rule"], counted[f"u{u}_n"] or 0,
                        counted[f"u{u}_v"] or 0))

    out = spark.createDataFrame(
        [(rule, n, v, v == 0) for rule, n, v in reports],
        "rule string, n_checked long, n_violations long, passed boolean")
    return out
