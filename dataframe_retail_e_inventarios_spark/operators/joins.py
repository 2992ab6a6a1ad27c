"""The reference's forecast-to-actuals alignment join [SURVEY §2.3 J1].

The reference's only joins are implicit index alignments
(limpieza_de_datos.py:42-43, generador.py:67-69). The rest of the
equi-join family over the driver's star schema lives in the query
modules (e.g. ``queries_relational.q_star_join_revenue``, broadcast
dimensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def align_forecast_to_actuals(
    preds: DataFrame, actuals: DataFrame, on: list[str]
) -> DataFrame:
    """The reference's index-alignment join [J1: limpieza_de_datos.py:42-43]:
    predictions aligned to test dates -> inner equi-join on the time key."""
    return actuals.join(preds, on=on, how="inner")


def cogroup_align_pandas(
    preds: DataFrame,
    actuals: DataFrame,
    group_keys: list[str],
    align_keys: list[str],
) -> DataFrame:
    """The same alignment as a COGROUPED pandas UDF [§2.9 surface:
    ``cogroup().applyInPandas`` — two tables shuffled on the group
    keys, each group's pair of pandas frames handed to Python
    together]. The escape hatch for per-group two-table logic a join
    can't express (per-series model calibration against its own
    actuals, custom reconciliation). For PLAIN alignment the native
    join wins (codegen, no Python) — differential-tested equal in
    tests/test_cogroup; this exists to pin the API shape and its
    semantics."""
    import pandas as pd

    out_fields = []
    seen = set()
    for df in (actuals, preds):
        for f in df.schema.fields:
            if f.name not in seen:
                seen.add(f.name)
                out_fields.append(f)
    from pyspark.sql.types import StructType

    schema = StructType(out_fields)
    on = list(dict.fromkeys([*group_keys, *align_keys]))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # One-sided groups arrive as EMPTY frames with correct dtypes;
        # merging them (rather than hand-building an empty result)
        # keeps dtypes Arrow-convertible (an []-column defaults to
        # float64 and fails the cast back to e.g. date32).
        merged = left.merge(right, on=on, how="inner")
        return merged[[f.name for f in out_fields]]

    return (
        actuals.groupBy(*group_keys)
        .cogroup(preds.groupBy(*group_keys))
        .applyInPandas(merge, schema)
    )
