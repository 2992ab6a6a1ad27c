"""Declarative data-quality constraint audit (Deequ-style pre-flight).

The reference pipeline trusts its inputs (limpieza_de_datos.py only
coerces/filters); a 100 TB ingest can't — it needs a cheap, explicit
contract check BEFORE the expensive joins: primary-key uniqueness,
referential integrity, value ranges/sets, cross-field ordering. This
module expresses each constraint as a tiny DataFrame plan producing
one audit row ``(constraint, n_checked, n_violations, ok)`` and unions
them into one report.

Scale shape: every row-predicate constraint on the same table folds
into ONE conditional-aggregate scan (a single pass over the fact
emits all its audit rows); uniqueness adds one count-distinct shuffle
on the key; each foreign key is a LEFT ANTI join that broadcasts when
the parent side is dimension-sized. Nothing collects more than the
k-row audit table itself. At 1000 executors the audit costs ~one
fact scan + one shuffle per keyed constraint — the standard shape a
contract gate must have to run on every ingest batch.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

def _finish(df: DataFrame) -> DataFrame:
    return df.select(
        "constraint",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("ok"),
    )


def predicate_audit(
    df: DataFrame, checks: Sequence[tuple[str, Column]]
) -> DataFrame:
    """All row-level predicates over one table in ONE scan.

    ``checks`` is (name, violation_predicate) — the predicate marks a
    BAD row. NULL predicate results count as violations (a rule that
    cannot be evaluated did not pass). One aggregate row per check,
    unpivoted via an inline stack — the scan cost is paid once no
    matter how many rules ride on it.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, bad in checks:
        aggs.append(
            F.sum(F.coalesce(bad.cast("boolean"), F.lit(True)).cast("long")).alias(
                f"_v_{name}"
            )
        )
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("constraint"),
                        F.col("_n").alias("n_checked"),
                        F.col(f"_v_{name}").alias("n_violations"),
                    )
                    for name, _ in checks
                ]
            )
        ).alias("r")
    ).select("r.*")
    return _finish(stacked)


def table_audit(
    df: DataFrame,
    checks: Sequence[tuple[str, Column]] = (),
    unique: Sequence[tuple[str, Sequence[str]]] = (),
) -> DataFrame:
    """Every same-table constraint — row predicates AND key-uniqueness
    rules — fused into ONE aggregate over ONE scan. At 100 TB the fact
    scan is the dominant cost; predicate_audit + unique_audit as
    separate calls would each pay it. count_distinct composes with the
    conditional sums in a single agg (Catalyst plans the distinct as a
    two-phase expand without an extra scan)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, bad in checks:
        aggs.append(
            F.sum(F.coalesce(bad.cast("boolean"), F.lit(True)).cast("long")).alias(
                f"_v_{name}"
            )
        )
    for name, keys in unique:
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(F.struct(*keys))).alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    names = [n for n, _ in checks] + [n for n, _ in unique]
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("constraint"),
                        F.col("_n").alias("n_checked"),
                        F.col(f"_v_{n}").alias("n_violations"),
                    )
                    for n in names
                ]
            )
        ).alias("r")
    ).select("r.*")
    return _finish(stacked)


def unique_audit(df: DataFrame, name: str, keys: Sequence[str]) -> DataFrame:
    """Composite-key uniqueness: violations = rows beyond the first
    per key. count_distinct on the key struct is one hash shuffle with
    map-side partials — no row-level self-join."""
    wide = df.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (
            F.count(F.lit(1)) - F.count_distinct(F.struct(*keys))
        ).alias("n_violations"),
    )
    return _finish(wide.select(F.lit(name).alias("constraint"), "*"))


def foreign_key_audit(
    child: DataFrame,
    name: str,
    key: str,
    parent: DataFrame,
    parent_key: str,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Referential integrity: child rows whose key has no parent
    (NULL keys are orphans too — an unresolvable reference). LEFT ANTI
    join; the parent side projects to its key column only, so a
    dimension parent broadcasts and the check is shuffle-free."""
    pk = parent.select(F.col(parent_key).alias(key)).distinct()
    if broadcast_parent:
        pk = F.broadcast(pk)
    orphans = child.select(key).join(pk, key, "left_anti")
    wide = child.agg(F.count(F.lit(1)).alias("n_checked")).crossJoin(
        orphans.agg(F.count(F.lit(1)).alias("n_violations"))
    )
    return _finish(wide.select(F.lit(name).alias("constraint"), "*"))


def union_audits(*audits: DataFrame) -> DataFrame:
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out
