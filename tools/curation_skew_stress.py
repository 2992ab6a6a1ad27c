"""Curation-pipeline dedup-skew stress (r8 verdict #9, stretch): one
MEGA-DUPLICATE fingerprint family at 8x corpus scale.

The pipeline's exact-dedup keeper is a row_number window partitioned
by the normalized-text fingerprint; pathological dedup skew means one
fp family holding a third of the corpus — a single hot window
partition. This harness builds two 8x fixtures from sf0.1 documents:

- uniform: 8 key-shifted copies with per-copy distinct text (the
  scale_stress shape — fingerprints stay ~unique),
- skewed: same, except every third doc in EVERY copy is replaced by
  one shared English boilerplate text -> ONE fp family with ~13k
  members (a 33% hot key).

and reports wall time for both plus a full driver-faithful oracle
compare on the skewed fixture (DuckDB runs the identical chain on the
same parquet), so the skew run is hash-gated, not just "it finished".

    python tools/curation_skew_stress.py [K] [base_sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from dataframe_retail_e_inventarios_spark.registry import oracle_sql, queries
from dataframe_retail_e_inventarios_spark.session import get_spark
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from dataframe_retail_e_inventarios_spark.testing import compare_query
from tools.harness import best_of

MEGA_TEXT = (
    "this boilerplate disclaimer text is repeated verbatim across the "
    "crawl and must collapse to a single keeper under exact dedup"
)


# Recipe fingerprint baked into the fixture path (r9 ADVICE): the
# cache key was only K, so changing MEGA_TEXT, the %3 skew rule, or
# the replication recipe silently reused a stale fixture and mislabeled
# old measurements as current. Bump with any recipe change.
_RECIPE_V = "v2_mega3pct_variant_suffix"


def build(spark, base_dir: str, k: int, out_dir: str, skewed: bool) -> str:
    out_dir = f"{out_dir}_{_RECIPE_V}"
    dst = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(dst):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    base = load_table(spark, base_dir, "documents")
    copies = None
    for i in range(k):
        c = base.withColumn("doc_id", F.col("doc_id") + 1_000_000 * i)
        if i > 0:
            c = c.withColumn("text", F.concat("text", F.lit(f" variant{i}")))
        copies = c if copies is None else copies.unionByName(c)
    if skewed:
        copies = copies.withColumn(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(MEGA_TEXT)).otherwise(
                F.col("text")
            ),
        ).withColumn(
            "lang",
            F.when(F.col("doc_id") % 3 == 0, F.lit("en")).otherwise(F.col("lang")),
        )
    copies.write.mode("overwrite").parquet(dst)
    return out_dir


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    tmp = tempfile.gettempdir()
    spark = get_spark("curation-skew-stress")
    uniform = build(spark, base, k, os.path.join(tmp, f"sg_cur_uniform_{k}"), False)
    skewed = build(spark, base, k, os.path.join(tmp, f"sg_cur_skew_{k}"), True)

    fn = queries()["llm_curation_pipeline"]
    out = {"metric": "curation_skew_stress", "k": k}
    for label, d in (("uniform", uniform), ("skewed", skewed)):
        best, rows = best_of(lambda: fn(spark, d).count(), 2)
        out[label] = {"wall_sec": round(best, 2), "rows": rows}
        print(f"[{label}] {rows} rows in {out[label]['wall_sec']}s")

    res = compare_query(
        spark, "llm_curation_pipeline[skew]", fn,
        oracle_sql()["llm_curation_pipeline"], skewed,
    )
    print(res)
    out["skewed_oracle_ok"] = res.ok
    print(json.dumps(out))
    return 0 if res.ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
