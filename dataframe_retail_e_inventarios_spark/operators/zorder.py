"""Z-order (Morton-curve) multi-column clustering for data skipping.

``compact_files(sort_col=...)`` gives 1-D range layout: parquet footer
min/max stats skip files on ONE column's predicates. A second
predicate column sees the full value range in every file and skips
nothing. Z-ordering interleaves the bits of k quantized columns into
one Morton key and range-partitions + sorts on THAT — every output
file then covers a small hyper-rectangle-ish region of the k-D value
space, so min/max stats stay narrow on ALL k columns and a
conjunctive box predicate skips files in every dimension at once.
This is the raw-parquet form of Delta/Iceberg ``ZORDER BY``
(public docs; no table format needed — the key is only the
``compact_files`` sort expression, never a written column; only the
row ORDER persists).

Caveat (inherent to Morton order): a box that straddles a high-bit
boundary (e.g. centered on the 0.5/0.5 corner of the normalized
space) scatters across distant z-ranges and skips little — the
guarantee is strong for predicates on any SINGLE clustered column
and for boxes that stay inside a high-bit cell, which is why the
test asserts the second-dimension claim, not a corner box.

Everything is native integer expressions (shiftleft / bitwise OR
inside codegen); the only driver-side step is one min/max aggregate
over the z columns — metadata-scale, exactly like any range-layout
boundary sampling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .partitioning import compact_files


def morton_key(scaled: list[Column], bits: int) -> Column:
    """Interleave ``bits`` low bits of each (already quantized,
    non-negative) column: bit b of column c lands at position
    b * n_cols + c. Pure codegen — no UDF."""
    z = F.lit(0).cast("long")
    n = len(scaled)
    for b in range(bits):
        for c, col in enumerate(scaled):
            bit = F.shiftright(col, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + c))
    return z


def zvalue(df: DataFrame, cols: list[str], bits: int = 12) -> Column:
    """The Morton key over ``cols`` (numeric) of ``df``. Column ranges
    are measured with one aggregate (metadata-scale collect: 2 numbers
    per column) and each value is quantized to ``bits`` bits of its
    range."""
    if not 1 <= len(cols) * bits <= 63:
        raise ValueError("zorder: need 1 <= n_cols * bits <= 63")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        q = F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(top))
        scaled.append(F.least(F.lit(top), F.greatest(F.lit(0), q)).cast("long"))
    return morton_key(scaled, bits)


def zorder_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
) -> None:
    """Rewrite ``df`` at ``path`` clustered along the Morton curve of
    ``cols``: ``compact_files`` range-partitions on the z-key (disjoint
    z-ranges per file) and sorts within each file; the key is not
    written. Conjunctive range predicates over any subset of ``cols``
    then skip files/row-groups via footer min/max — measured in
    tests/test_zorder.py."""
    compact_files(df, path, sort_col=zvalue(df, cols), n_files=n_files)
