"""Writers [SURVEY §2.1 S4, S6].

Parquet is the primary sink (keeps ArrayType columns native); CSV is
the reference-compatible sink — arrays are stringified to the exact
``"[1.0, 2.0]"`` form pandas ``to_csv`` emits (``PRACTICA3.py:209``) so
a downstream consumer of the reference's CSV can read ours unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType


def stringify_arrays(df: DataFrame) -> DataFrame:
    """Render array<numeric> columns as "[a, b, c]" strings.

    Matches pandas ``to_csv`` of a list cell (PRACTICA3.py:209), which
    ``generador.py:48-64`` then re-parses.
    """
    for f in df.schema.fields:
        if isinstance(f.dataType, ArrayType):
            df = df.withColumn(
                f.name,
                F.concat(
                    F.lit("["),
                    F.array_join(f.name, ", "),
                    F.lit("]"),
                ),
            )
    return df


def write_csv(df: DataFrame, path: str) -> None:
    """Reference-compatible CSV sink [S4: PRACTICA3.py:208-209]."""
    stringify_arrays(df).write.mode("overwrite").option("header", True).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — second columnar interchange format (Hive/Trino
    estates are ORC-native). Arrays/structs stay typed like parquet;
    predicate pushdown and column pruning work the same way."""
    df.write.mode("overwrite").orc(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink (one object per line, arrays stay native JSON arrays
    — no stringify round-trip). The standard handoff format between a
    curation pipeline and a trainer's data loader."""
    df.write.mode("overwrite").json(path)
