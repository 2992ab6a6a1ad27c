"""Model-UDF and multimodal queries [SURVEY §2.9 U1-U6, §2.11 N5].

``forecast_udf_ensemble`` is the mapInPandas port of the reference's
process_sku. The model-fit floats are non-SQL-expressible once
Prophet/Holt-Winters are present, so the registered projection hash-
gates the pipeline's DETERMINISTIC sub-outputs instead (r10 verdict
#1a): the admitted (SKU, Store) key set, Safety_Stock (train-only — no
model in its formula, PRACTICA3.py:68-72), the MA member's value and
the winsorized test actuals (both flagship-CTE-provable), plus the
property booleans the reference guarantees for ANY model output
(forecast >= 0 per PRACTICA3.py:125,138,154; qty/ss >= 0 and
rop >= ss per :68-81; 4-week horizon per :35). Model-dependent floats
(MAPE, the ensemble itself) stay out of the hash; they remain covered
by the native MA-only twin below and the differential tests.

``multimodal_features`` computes the stub media features with built-ins,
so it IS oracle-checked. The same features through the Arrow mapInPandas
decoder contract (``operators/multimodal.extract_media_features``) are
differential-tested against it in tests/test_multimodal.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.cleaning import clean_sales
from ..operators.forecast_udf import forecast_with_models
from ..operators.multimodal import documents_as_media, media_features_native
from ..operators.resample import weekly_dense_resample
from ..registry import register
from ..sources.readers import load_table
from .flagship import KEYS, MIN_TOTAL_SALES, MIN_WEEKS


def q_forecast_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-ensemble UDF run under a deterministic-sub-output hash
    gate. test_sum folds the 4 winsorized test actuals as scaled
    BIGINTs (1e4) so the 4-term sum is order-free across engines; the
    booleans are computed from the ACTUAL model outputs Spark-side and
    compared against the constants the reference guarantees — a model
    member emitting a negative / wrong-length forecast, or inventory
    math violating rop >= ss >= 0, flips a bit and fails the hash."""
    dense = weekly_dense_resample(
        clean_sales(load_table(spark, sf_dir, "lineitem")), KEYS, "invoice_date", "units_sold",
        min_span_weeks=MIN_WEEKS, min_total=MIN_TOTAL_SALES,
    )
    res = forecast_with_models(dense)
    fc = F.col("Forecast")
    test_sum = (
        F.aggregate(
            "Test",
            F.lit(0).cast("long"),
            lambda a, v: a + F.bround(v * 10000, 0).cast("long"),
        )
        / 10000.0
    )
    return res.select(
        "SKU",
        "Store",
        "Safety_Stock",
        F.round("MA_Member", 4).alias("ma_wk1"),
        test_sum.alias("test_sum"),
        (F.array_min(fc) >= 0).alias("forecast_nonneg"),
        ((F.size(fc) == 4) & (F.size("Test") == 4)).alias("horizon_ok"),
        (
            (F.col("Qty_to_Order") >= 0)
            & (F.col("Safety_Stock") >= 0)
            & (F.col("Reorder_Point") >= F.col("Safety_Stock"))
            & (F.col("MAPE") >= 0)
        ).alias("inv_sane"),
    )


def _ensemble_certificate_oracle() -> str:
    from .flagship import flagship_stats_ctes

    # Safety_Stock / ens / the test actuals are model-free, so the
    # flagship CTE chain (driver-green since r1) proves them; the
    # booleans are reference-guaranteed invariants, TRUE by contract.
    return f"""
WITH {flagship_stats_ctes()},
tsum AS (
  SELECT product_id, store_id,
         sum(CASE WHEN rn <= 4
                  THEN CAST(round_even(units_w * 10000, 0) AS BIGINT) END) / 10000.0
           AS test_sum
  FROM ens_t
  GROUP BY 1, 2
)
SELECT CAST(i.product_id AS VARCHAR) AS SKU,
       CAST(i.store_id AS VARCHAR) AS Store,
       CAST(round_even(greatest(0.0, i.ss), 0) AS BIGINT) AS Safety_Stock,
       round(i.ens, 4) AS ma_wk1,
       t.test_sum AS test_sum,
       TRUE AS forecast_nonneg,
       TRUE AS horizon_ok,
       TRUE AS inv_sane
FROM inv i
JOIN tsum t ON i.product_id = t.product_id AND i.store_id = t.store_id
"""


register("forecast_udf_ensemble", q_forecast_udf, _ensemble_certificate_oracle())


def q_forecast_udf_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME model-fit pipeline restricted to its deterministic
    MA member (``ma_only=True``): with one member the median ensemble
    equals the MA forecast, making every output SQL-expressible — so
    the full pandas-side path (gating, winsorize clip, train/test
    split, safe-MAPE, SS/ROP/Q int rounding, Arrow transport) runs
    under the driver's hash gate, not just rows-only. The model-fit
    members stay covered by the differential tests."""
    dense = weekly_dense_resample(
        clean_sales(load_table(spark, sf_dir, "lineitem")), KEYS, "invoice_date", "units_sold",
        min_span_weeks=MIN_WEEKS, min_total=MIN_TOTAL_SALES,
    )
    res = forecast_with_models(dense, ma_only=True)
    return res.select(
        "SKU",
        "Store",
        "MAPE",
        "Safety_Stock",
        "Reorder_Point",
        "Qty_to_Order",
        F.round(F.element_at("Forecast", 1), 4).alias("forecast_wk1"),
    )


def _ensemble_ma_oracle() -> str:
    from .flagship import flagship_stats_ctes

    # Identical math to the flagship oracle (driver-green since r1);
    # only the projection matches process_series' output contract:
    # string keys, Python-round half-even (= round_even) MAPE/ints.
    return f"""
WITH {flagship_stats_ctes()}
SELECT CAST(product_id AS VARCHAR) AS SKU,
       CAST(store_id AS VARCHAR) AS Store,
       round_even(mape_raw, 3) AS MAPE,
       CAST(round_even(greatest(0.0, ss), 0) AS BIGINT) AS Safety_Stock,
       CAST(round_even(greatest(0.0, rop), 0) AS BIGINT) AS Reorder_Point,
       CAST(round_even(greatest(0.0, rop - last_stock), 0) AS BIGINT) AS Qty_to_Order,
       round(ens, 4) AS forecast_wk1
FROM inv
"""


register("forecast_udf_ensemble_native", q_forecast_udf_ma, _ensemble_ma_oracle())


_MULTIMODAL_ORACLE = """
SELECT doc_id,
       'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
       lower(hex(encode(substr(text, 1, 8)))) AS header_hex,
       md5(text) AS content_md5
FROM documents
"""


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path: the stub features are all SQL-expressible, so
    the registered query is pure built-ins (JVM-side, codegen) — no
    Python round trip for features a real pipeline computes natively."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return media_features_native(media)


register("multimodal_features", q_multimodal, _MULTIMODAL_ORACLE)


# -- Rolling-origin cross-validation (forecast backtesting) ----------------
_CV_FOLDS = 3
_CV_H = 7  # horizon days; also the trailing-mean lookback


def q_rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast cross-validation: for each fold f in
    1..3 the origin moves back f*7 days from the series end; the model
    (trailing-7-day mean at the origin) is fit on data up to the
    origin and scored on the next 7 days. This is the evaluation
    protocol behind every 'which model wins' table — backtest_metrics
    scores ONE split, this scores a fold family in a single plan.

    No driver-side loop: the fold dimension is a 3-row frame
    cross-joined against the dense daily series, so Catalyst sees one
    dataflow (dense join folds -> two filtered aggregates) and fold
    parallelism is free. Exactness: daily demand is an exact cent sum,
    the fold mean divides an exact cent total, and the MAE sums
    per-day absolute errors rounded at 1e-6 into BIGINTs — every
    cross-engine / cross-partitioning drift channel is closed.

    Scale: dense is calendar-bounded per series (one row per day); the
    fold cross join triples that, still calendar-bounded. Both
    aggregates group on (series, fold) — map-side partial, tiny
    exchange."""
    from ..functions.exact import exact_decimal_sum

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.col("ts").cast("date").alias("ds"), "value")
        .groupBy("event_type", "ds")
        .agg(exact_decimal_sum(F.col("value"), 2).alias("y"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("ds").alias("mn"), F.max("ds").alias("mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("ds"), "mx"
    )
    dense = (
        spine.join(daily, ["event_type", "ds"], "left")
        .fillna({"y": 0.0})
        .localCheckpoint(eager=True)
    )
    folds = spark.range(1, _CV_FOLDS + 1).select(F.col("id").cast("int").alias("fold"))
    df = dense.crossJoin(F.broadcast(folds))
    cutoff = F.date_sub(F.col("mx"), F.col("fold") * _CV_H)
    train_tail = df.filter(
        (F.col("ds") > F.date_sub(F.col("mx"), F.col("fold") * _CV_H + _CV_H))
        & (F.col("ds") <= cutoff)
    )
    pred = train_tail.groupBy("event_type", "fold").agg(
        (
            F.sum(F.bround(F.col("y") * 100, 0).cast("long"))
            / (F.lit(100.0) * F.count("*"))
        ).alias("pred")
    )
    test = df.filter(
        (F.col("ds") > cutoff)
        & (F.col("ds") <= F.date_add(cutoff, _CV_H))
    )
    scored = test.join(pred, ["event_type", "fold"])
    err6 = F.round(F.abs(F.col("y") - F.col("pred")) * 1e6, 0).cast("long")
    return (
        scored.groupBy("event_type", "fold")
        .agg(
            F.count("*").alias("n_test"),
            F.round(F.first("pred"), 4).alias("pred"),
            F.round(F.sum(err6) / F.count("*") / 1e6, 4).alias("mae"),
        )
        .orderBy("event_type", "fold")
    )


register(
    "rolling_origin_backtest",
    q_rolling_origin_backtest,
    f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS ds,
         sum(CAST(round_even(value * 100, 0) AS BIGINT)) / 100.0 AS y
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(ds) AS mn, max(ds) AS mx FROM daily GROUP BY 1),
spine AS (
  SELECT event_type, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS ds, mx
  FROM bounds
),
dense AS (
  SELECT s.event_type, s.ds, s.mx, coalesce(d.y, 0.0) AS y
  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.ds = d.ds
),
folds AS (SELECT unnest([1, 2, 3]) AS fold),
df AS (SELECT * FROM dense CROSS JOIN folds),
pred AS (
  SELECT event_type, fold,
         sum(CAST(round_even(y * 100, 0) AS BIGINT)) / (100.0 * count(*)) AS pred
  FROM df
  WHERE ds > mx - (fold * {_CV_H} + {_CV_H}) * INTERVAL 1 DAY
    AND ds <= mx - fold * {_CV_H} * INTERVAL 1 DAY
  GROUP BY 1, 2
),
test AS (
  SELECT * FROM df
  WHERE ds > mx - fold * {_CV_H} * INTERVAL 1 DAY
    AND ds <= mx - fold * {_CV_H} * INTERVAL 1 DAY + {_CV_H} * INTERVAL 1 DAY
)
SELECT t.event_type, CAST(t.fold AS INT) AS fold,
       CAST(count(*) AS BIGINT) AS n_test,
       round(any_value(p.pred), 4) AS pred,
       round(sum(CAST(round(abs(t.y - p.pred) * 1e6, 0) AS BIGINT)) / CAST(count(*) AS DOUBLE) / 1e6, 4) AS mae
FROM test t JOIN pred p ON t.event_type = p.event_type AND t.fold = p.fold
GROUP BY t.event_type, t.fold
ORDER BY t.event_type, t.fold
""",
)


# -- N5: video frame-sampling schedule (pre-decode planning) ---------------
def q_video_frame_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling schedule for a synthetic video corpus: each
    document stands in for an asset with deterministic metadata
    (duration from n_chars, fps by id parity), and the operator emits
    the <=16 uniformly-strided frame indices + timestamps a decode
    stage would pull. The schedule is the REAL operator (pure
    metadata arithmetic — decode only what you sample); the codec
    stays behind the documented stub. Generator-only plan, zero
    shuffles."""
    from ..operators.multimodal import frame_sample_schedule

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        ((F.col("n_chars") * 37) % 600000 + 1000).cast("long").alias("duration_ms"),
        F.when(F.col("doc_id") % 2 == 0, 24).otherwise(30).alias("fps"),
    )
    return frame_sample_schedule(media)


register(
    "video_frame_schedule",
    q_video_frame_schedule,
    """
WITH media AS (
  SELECT doc_id,
         CAST((n_chars * 37) % 600000 + 1000 AS BIGINT) AS duration_ms,
         CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 30 END AS fps
  FROM documents
),
m AS (
  SELECT *,
    greatest(CAST(floor(duration_ms * fps / 1000) AS BIGINT), 1) AS n_frames_total
  FROM media
),
s AS (
  SELECT *,
    greatest(CAST(ceil(n_frames_total / 16) AS BIGINT), 1) AS stride
  FROM m
),
ex AS (
  SELECT doc_id, duration_ms, fps, n_frames_total,
         unnest(list_slice(generate_series(0, n_frames_total - 1, stride), 1, 16))
           AS frame_idx,
         generate_subscripts(list_slice(generate_series(0, n_frames_total - 1, stride), 1, 16), 1) - 1
           AS sample_no
  FROM s
)
SELECT doc_id, duration_ms, fps, n_frames_total,
       CAST(sample_no AS BIGINT) AS sample_no,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(floor(frame_idx * 1000 / fps) AS BIGINT) AS ts_ms
FROM ex
""",
)
