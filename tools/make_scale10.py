"""Materialize a synthetic 10x copy of an sf directory for the scale
curve (``python bench.py --scale-curve``, BENCH_scale.json). Usage:

    python tools/make_scale10.py [src_sf_dir] [replicas]

Writes parquet tables to spark-warehouse/<src>x<replicas>/ with
FK-PRESERVING replication: each replica offsets the order keys on BOTH
sides (lineitem.l_orderkey / orders.o_orderkey) and the unique ids of
events / documents / embeddings, so

- order-grain joins stay valid (10x more orders, same selectivity),
- part/supplier/customer keys are untouched: the dimension tables are
  copied as-is and every series/group gets 10x the rows — the VOLUME
  axis (SCALE.md's 8x cardinality stress covers the other axis),
- corpus tables grow by new ids — for documents/embeddings that IS the
  cardinality axis, matching how a bigger crawl actually looks.

This is a timing fixture, not a correctness fixture: no oracle runs
against it (replicated text makes dedup workloads heavier, which is
the point, but their outputs are fixture-specific).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyspark.sql.functions as F

from dataframe_retail_e_inventarios_spark.session import get_spark
from dataframe_retail_e_inventarios_spark.sources.readers import TESTDATA_TABLES

OFFSET = 1_000_000_000  # per-replica id offset, far above any real key

# table -> columns that get the per-replica offset
_OFFSET_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def scale_dir(src_sf_dir: str, replicas: int) -> str:
    tag = os.path.basename(os.path.normpath(src_sf_dir))
    root = Path(__file__).resolve().parents[1] / "spark-warehouse"
    return str(root / f"{tag}x{replicas}")


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    out = scale_dir(src, replicas)
    spark = get_spark("make_scale10")
    for t in TESTDATA_TABLES:
        src_path = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(src_path):
            continue
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        df = spark.read.parquet(src_path)
        cols = _OFFSET_COLS.get(t)
        if cols:
            rep = df.crossJoin(
                spark.range(replicas).select(F.col("id").alias("_r"))
            )
            for c in cols:
                if t == "embeddings":
                    # Replica vec_ids get a mod-25 RESIDUE HOLE
                    # (r*OFFSET + vec_id*25 + 1 == 1 mod 25): OFFSET is
                    # = 0 mod 25, so a plain offset would keep every
                    # replica copy of a `vec_id % 25 == 0` anchor an
                    # anchor too — the anchor batch multiplying WITH
                    # the corpus (100x pairs at 10x volume, the r5
                    # slope-14 artifact). Hard-negative mining's
                    # production contract is a BOUNDED anchor batch
                    # against a growing corpus; this id map makes the
                    # fixture measure exactly that. r=0 keeps original
                    # ids so the base anchors/queries survive.
                    rep = rep.withColumn(
                        c,
                        F.when(F.col("_r") == 0, F.col(c)).otherwise(
                            F.col("_r") * F.lit(OFFSET)
                            + F.col(c) * F.lit(25)
                            + F.lit(1)
                        ),
                    )
                else:
                    rep = rep.withColumn(c, F.col(c) + F.col("_r") * F.lit(OFFSET))
            df = rep.drop("_r")
        df.write.mode("overwrite").parquet(dst)
        print(f"wrote {dst}")
    print(out)


if __name__ == "__main__":
    main()
