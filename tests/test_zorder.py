"""Z-order layout: Morton key correctness and the 2-D skipping claim
— a band predicate on the second clustered column must read fewer rows
from the z-ordered layout than from a 1-D-sorted layout of the same
file count, and every file's footer span narrows on both columns."""

import glob

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from dataframe_retail_e_inventarios_spark.operators.partitioning import compact_files
from dataframe_retail_e_inventarios_spark.operators.zorder import (
    morton_key,
    zorder_layout,
    zvalue,
)
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _interleave(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_morton_key_matches_reference_interleave(spark):
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.withColumn(
        "z", morton_key([F.col("x"), F.col("y")], bits=4)
    ).collect()
    for r in got:
        assert r.z == _interleave(r.x, r.y, 4), (r.x, r.y)


def test_zvalue_preserves_rows_and_is_native(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    z = li.withColumn("_z", zvalue(li, ["l_orderkey", "l_partkey"], bits=8))
    assert z.count() == li.count()
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _rows_read(spark, path, pred):
    df = spark.read.parquet(path).filter(pred)
    df.collect()
    node = df._jdf.queryExecution().executedPlan()
    while node.children().nonEmpty():
        node = node.children().head()
    return node.metrics().apply("numOutputRows").value()


def test_zorder_skips_on_the_second_dimension(spark, tmp_path):
    """The claim z-order adds over a 1-D sort: a predicate on the
    SECOND clustering column skips files too. Under an
    l_orderkey-sorted layout every file spans the full l_partkey range
    (zero skipping on a partkey band); under the z-layout a partkey
    band touches only the cell-rows that intersect it. (A box centered
    on the 0.5/0.5 corner is deliberately NOT the test: Morton order
    scatters boxes that straddle the top-bit boundary — the known
    z-curve caveat, documented in the operator.)"""
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    linear = str(tmp_path / "linear")
    zpath = str(tmp_path / "zorder")
    n_files = 64
    compact_files(li, linear, sort_col="l_orderkey", n_files=n_files)
    zorder_layout(li, zpath, ["l_orderkey", "l_partkey"], n_files=n_files)

    mx_p = li.agg(F.max("l_partkey")).collect()[0][0]
    # ~10% l_partkey band, off the power-of-two boundaries
    pred = (F.col("l_partkey") >= int(mx_p * 0.30)) & (
        F.col("l_partkey") <= int(mx_p * 0.40)
    )

    read_linear = _rows_read(spark, linear, pred)
    read_z = _rows_read(spark, zpath, pred)
    # identical answers from both layouts
    assert (
        spark.read.parquet(linear).filter(pred).count()
        == spark.read.parquet(zpath).filter(pred).count()
    )
    # the 1-D layout reads every file (no partkey clustering); the
    # z-layout skips the cell-rows outside the band
    assert read_z < read_linear / 2, (read_z, read_linear)


def _file_spans(path, col):
    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    return spans


def test_zorder_narrows_both_dimensions(spark, tmp_path):
    """Per-file footer ranges must be materially narrower than the
    global range on BOTH clustered columns (a 1-D range layout narrows
    only its own column — that contrast is the point of interleaving)."""
    ev = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "zorder")
    zorder_layout(ev, out, ["user_id", "value"], n_files=16)
    assert spark.read.parquet(out).count() == ev.count()

    lo_u, hi_u, lo_v, hi_v = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    for col, glo, ghi in (("user_id", lo_u, hi_u), ("value", lo_v, hi_v)):
        spans = _file_spans(out, col)
        assert len(spans) >= 8
        gspan = float(ghi - glo) or 1.0
        avg_frac = sum((hi - lo) / gspan for lo, hi in spans) / len(spans)
        assert avg_frac < 0.7, (col, avg_frac)
